"""Mixed-filter planner tests: the cover/interval AND-OR algebra, the
exact-refine column, end-to-end plan_query vs a brute-force oracle, and
plan-shape proof that a (bbox AND time AND attribute) filter prunes BOTH
partition levels of the spatio-temporal layout (the reference's
FilterSplitter primary/secondary split, FilterHelper extraction)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.cells import PARTITION_RES
from geomesa_spark.plans.filters import (And, Attr, Not, Or, Spatial, Time,
                                         and_, bbox, extract_cover,
                                         extract_weeks, not_, or_,
                                         plan_query, to_refine_column)


class TestCoverAlgebra:
    def test_and_intersects_covers(self):
        a = bbox(-10, -10, 10, 10)
        b = bbox(0, 0, 20, 20)
        ca = extract_cover(a)
        cb = extract_cover(b)
        cab = extract_cover(and_(a, b))
        assert set(cab) == set(np.intersect1d(ca, cb))

    def test_or_unions_covers(self):
        a = bbox(-10, -10, 10, 10)
        b = bbox(100, 40, 120, 60)
        cab = extract_cover(or_(a, b))
        assert set(cab) == set(np.union1d(extract_cover(a),
                                          extract_cover(b)))

    def test_attr_and_time_unconstrained_spatially(self):
        assert extract_cover(Attr("event_type", "=", "click")) is None
        assert extract_cover(Time("2024-01-01", "2024-01-02")) is None

    def test_or_with_unconstrained_branch_is_whole_world(self):
        f = or_(bbox(-10, -10, 10, 10), Attr("event_type", "=", "click"))
        assert extract_cover(f) is None

    def test_and_with_unconstrained_branch_keeps_bound(self):
        f = and_(bbox(-10, -10, 10, 10), Attr("event_type", "=", "click"))
        assert set(extract_cover(f)) == set(
            extract_cover(bbox(-10, -10, 10, 10)))

    def test_disjoint_query_is_empty(self):
        a = bbox(-10, -10, -5, -5)
        b = bbox(5, 5, 10, 10)
        assert len(extract_cover(and_(a, b))) == 0

    def test_negated_spatial_is_conservative(self):
        assert extract_cover(not_(bbox(-10, -10, 10, 10))) is None

    def test_whole_world_is_none(self):
        assert extract_cover(bbox(-180, -90, 180, 90)) is None

    def test_weeks_and_or(self):
        t1 = Time("2024-01-08T00:00:00", "2024-01-15T00:00:00")
        t2 = Time("2024-01-11T00:00:00", "2024-01-22T00:00:00")
        w1, w2 = extract_weeks(t1), extract_weeks(t2)
        assert extract_weeks(and_(t1, t2)) == (w1 & w2)
        assert extract_weeks(or_(t1, t2)) == (w1 | w2)
        assert extract_weeks(Attr("x", "=", 1)) is None
        assert extract_weeks(and_(t1, Attr("x", "=", 1))) == w1


class TestRefine:
    @pytest.fixture(scope="class")
    def pts(self, spark):
        rng = np.random.default_rng(7)
        rows = [(int(i), float(x), float(y), f"t{i % 3}")
                for i, (x, y) in enumerate(
                    zip(rng.uniform(-40, 40, 500),
                        rng.uniform(-40, 40, 500)))]
        rows += [(1000, 0.0, 0.0, "t0"), (1001, 10.0, 10.0, "t1"),
                 (1002, 10.0, 0.0, "t2")]  # corner/edge cases
        return spark.createDataFrame(
            rows, "id long, lon double, lat double, tag string")

    def test_rect_refine_matches_udf_path(self, pts):
        """Rect native comparisons == vectorized ray-cast on a triangle
        covering the same area split (boundary semantics identical)."""
        from geomesa_spark.geo.model import Polygon
        rect = bbox(0.0, 0.0, 10.0, 10.0, "intersects")
        # same rectangle but with a redundant mid-edge vertex -> NOT
        # detected as rect -> goes through the pandas-UDF locate path
        poly = Spatial(Polygon([[0, 0], [5, 0], [10, 0], [10, 10],
                                [0, 10], [0, 0]]), "intersects")
        a = {r["id"] for r in pts.where(
            to_refine_column(rect)).collect()}
        b = {r["id"] for r in pts.where(
            to_refine_column(poly)).collect()}
        assert a == b

    def test_bowtie_ring_does_not_take_rect_fast_path(self, pts):
        """A self-intersecting 4-corner "bowtie" ring shares the
        envelope's vertex SET but its interior is two triangles — it must
        refine through the exact kernel, not the envelope comparisons
        (same defect class as the join's `_is_axis_rect` bowtie fix)."""
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.geo.predicates import _is_axis_rect
        bow = Polygon([[0.0, 0.0], [10.0, 10.0], [10.0, 0.0],
                       [0.0, 10.0], [0.0, 0.0]])
        assert not _is_axis_rect(bow)
        got = {r["id"] for r in pts.where(
            to_refine_column(Spatial(bow, "intersects"))).collect()}
        env = {r["id"] for r in pts.where(
            to_refine_column(bbox(0.0, 0.0, 10.0, 10.0,
                                  "intersects"))).collect()}
        # the bowtie result must be a strict subset of the envelope's:
        # envelope-interior points off the two triangles are excluded
        assert got < env

    @pytest.mark.parametrize("op", ["contains", "covers", "intersects",
                                    "disjoint", "touches", "within"])
    def test_rect_ops_vs_scalar(self, pts, op):
        from geomesa_spark.geo import io as gio, predicates as gp
        rect = bbox(0.0, 0.0, 10.0, 10.0, op)
        got = {r["id"] for r in pts.where(to_refine_column(rect)).collect()}
        poly = rect.geom
        scalar = {"contains": lambda p: gp.contains(poly, p),
                  "covers": lambda p: gp.covers(poly, p),
                  "intersects": lambda p: gp.intersects(poly, p),
                  "disjoint": lambda p: gp.disjoint(poly, p),
                  "touches": lambda p: gp.touches(poly, p),
                  "within": lambda p: gp.within(p, poly)}[op]
        want = {r["id"] for r in pts.collect()
                if scalar(gio.from_wkt(f"POINT({r['lon']} {r['lat']})"))}
        assert got == want, op


class TestPlanQuery:
    def test_mixed_filter_matches_bruteforce(self, spark, tmp_path):
        from geomesa_spark.cells.native import cell_expr
        rng = np.random.default_rng(8)
        n = 2000
        base = 1704067200.0  # 2024-01-01T00:00:00Z
        rows = [(int(i), float(x), float(y), base + float(s),
                 ["a", "b", "c"][i % 3], float(v))
                for i, (x, y, s, v) in enumerate(zip(
                    rng.uniform(-60, 60, n), rng.uniform(-50, 50, n),
                    rng.uniform(0, 28 * 24 * 3600, n),
                    rng.uniform(0, 100, n)))]
        df = (spark.createDataFrame(
            rows, "id long, lon double, lat double, sec double, "
                  "tag string, value double")
            .withColumn("ts", F.timestamp_seconds("sec"))
            .withColumn("cell_prefix",
                        cell_expr("lon", "lat", PARTITION_RES)))
        f = or_(
            and_(bbox(-30.0, -20.0, 30.0, 25.0),
                 Time(base + 7 * 24 * 3600, base + 14 * 24 * 3600),
                 Attr("tag", "=", "a")),
            and_(bbox(40.0, 10.0, 60.0, 50.0, "contains"),
                 Attr("value", ">", 80.0)))
        prev = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            got = {r["id"] for r in plan_query(df, f).collect()}
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev)
        want = set()
        for (i, x, y, s, tag, v) in rows:
            in1 = (-30.0 <= x <= 30.0 and -20.0 <= y <= 25.0
                   and base + 7 * 24 * 3600 <= s <= base + 14 * 24 * 3600
                   and tag == "a")
            in2 = (40.0 < x < 60.0 and 10.0 < y < 50.0 and v > 80.0)
            if in1 or in2:
                want.add(i)
        assert got == want

    def test_loose_bbox_supersets_strict(self, spark):
        """Loose-bbox (useFullFilter parity): skipping the rect refine
        yields a superset of the strict result; negated rects never
        loosen (that would under-select)."""
        from geomesa_spark.cells.native import cell_expr
        rng = np.random.default_rng(10)
        df = (spark.createDataFrame(
            [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
                zip(rng.uniform(-60, 60, 1500),
                    rng.uniform(-50, 50, 1500)))],
            "id long, lon double, lat double")
            .withColumn("cell_prefix",
                        cell_expr("lon", "lat", PARTITION_RES)))
        f = bbox(-13.0, -7.0, 19.0, 11.0)  # not cell-aligned
        strict = {r["id"] for r in plan_query(df, f).collect()}
        loose = {r["id"] for r in
                 plan_query(df, f, loose_bbox=True).collect()}
        assert strict <= loose
        assert len(loose) > len(strict)  # cover over-selects off-aligned
        # negated rect must stay exact under loose mode
        neg = and_(bbox(-60.0, -50.0, 60.0, 50.0),
                   not_(bbox(-13.0, -7.0, 19.0, 11.0)))
        sneg = {r["id"] for r in
                plan_query(df, neg, allow_full_scan=True).collect()}
        lneg = {r["id"] for r in
                plan_query(df, neg, allow_full_scan=True,
                           loose_bbox=True).collect()}
        assert sneg <= lneg  # outer rect loosened, inner NOT stays exact
        inner_strict = {r["id"] for r in df.collect()
                        if not (-13.0 <= r["lon"] <= 19.0
                                and -7.0 <= r["lat"] <= 11.0)}
        assert lneg <= inner_strict  # no row inside the negated box leaks

    def test_guard_refuses_unconstrained(self, spark):
        df = spark.range(1).select(
            F.lit(0.0).alias("lon"), F.lit(0.0).alias("lat"),
            F.lit(0).alias("cell_prefix"))
        with pytest.raises(ValueError):
            plan_query(df, not_(bbox(-10, -10, 10, 10)))
        # attr-bounded is allowed (parquet stats pruning path)
        plan_query(df, Attr("lon", ">", 0.0))
        # explicit opt-in works
        plan_query(df, not_(bbox(-10, -10, 10, 10)), allow_full_scan=True)

    def test_combined_partition_pruning_plan(self, spark, tmp_path):
        """A (bbox AND time AND attr) filter must prune BOTH partition
        levels of the (epoch_week, cell_prefix) layout — assert on the
        scan's PartitionFilters (inputFiles ignores pruning)."""
        from geomesa_spark.sources.table import write_spatiotemporal
        rng = np.random.default_rng(9)
        n = 800
        base = 1704067200.0
        df = (spark.createDataFrame(
            [(int(i), float(x), float(y), base + float(s))
             for i, (x, y, s) in enumerate(zip(
                 rng.uniform(-170, 170, n), rng.uniform(-80, 80, n),
                 rng.uniform(0, 28 * 24 * 3600, n)))],
            "id long, lon double, lat double, sec double")
            .withColumn("ts", F.timestamp_seconds("sec")))
        path = str(tmp_path / "st_table")
        write_spatiotemporal(df, path)
        t = spark.read.parquet(path)
        f = and_(bbox(-30.0, -20.0, 30.0, 25.0),
                 Time(base + 7 * 24 * 3600, base + 14 * 24 * 3600),
                 Attr("id", ">=", 0))
        out = plan_query(t, f, week_col="epoch_week")
        prev_len = spark.conf.get("spark.sql.maxMetadataStringLength")
        spark.conf.set("spark.sql.maxMetadataStringLength", "8192")
        try:
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.maxMetadataStringLength", prev_len)
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters")[1].split("PushedFilters")[0]
        assert "cell_prefix" in pf and "epoch_week" in pf
        # and the result matches brute force
        got = {r["id"] for r in out.collect()}
        want = {r["id"] for r in t.collect()
                if -30 <= r["lon"] <= 30 and -20 <= r["lat"] <= 25
                and base + 7 * 24 * 3600
                <= r["ts"].timestamp() <= base + 14 * 24 * 3600}
        assert got == want
