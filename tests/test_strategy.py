"""Strategy decider + attribute index tests (StrategyDecider /
attribute-index semantics): cost ordering picks the most selective
primary, the secondary index's sorted layout prunes via row-group stats,
and the join-back returns exactly the predicate's rows."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geomesa_spark.plans.filters import And, Attr, Time, and_, bbox, not_
from geomesa_spark.plans.strategy import (Strategy, attribute_index_lookup,
                                          build_attribute_index,
                                          compute_stats, decide,
                                          read_stats, write_stats)

STATS = {"rows": 1_000_000, "weeks": 50,
         "cardinality": {"user_id": 100_000, "event_type": 5}}


class TestDecider:
    def test_equality_on_high_cardinality_beats_spatial(self):
        f = and_(bbox(-30.0, -20.0, 40.0, 35.0),
                 Attr("user_id", "=", 42))
        s = decide(f, STATS)
        assert s.kind == "attribute" and s.attribute == "user_id"

    def test_small_bbox_beats_low_cardinality_attr(self):
        f = and_(bbox(-1.0, -1.0, 1.0, 1.0),
                 Attr("event_type", "=", "click"))
        s = decide(f, STATS)
        assert s.kind == "spatial"

    def test_temporal_when_time_is_tightest(self):
        f = and_(Time("2024-01-08T00:00:00", "2024-01-09T00:00:00"),
                 Attr("event_type", "=", "click"))
        s = decide(f, STATS)
        assert s.kind == "temporal"  # 1/50 week < 1/5 attr

    def test_or_attribute_does_not_bound(self):
        from geomesa_spark.plans.filters import or_
        f = and_(bbox(-170.0, -80.0, 170.0, 80.0),
                 or_(Attr("user_id", "=", 1), Attr("user_id", "=", 2)))
        s = decide(f, STATS)
        assert s.kind == "spatial"  # the OR'd attr branches can't prune

    def test_or_with_unconstrained_branch_needs_full_scan(self):
        from geomesa_spark.plans.filters import or_
        f = or_(Attr("user_id", "=", 1), bbox(-170, -80, 170, 80))
        # the attr-only branch makes the union unbounded spatially and
        # un-prunable by a single attribute -> full scan (guarded)
        with pytest.raises(ValueError):
            decide(f, STATS)

    def test_negated_attr_does_not_bound(self):
        f = and_(bbox(-30.0, -20.0, 40.0, 35.0),
                 not_(Attr("user_id", "=", 42)))
        s = decide(f, STATS)
        assert s.kind == "spatial"

    def test_unbounded_guard(self):
        with pytest.raises(ValueError):
            decide(not_(bbox(-10, -10, 10, 10)), STATS)
        s = decide(not_(bbox(-10, -10, 10, 10)), STATS,
                   allow_full_scan=True)
        assert s.kind == "full"


class TestAttributeIndex:
    def test_index_lookup_matches_filter(self, spark, tmp_path):
        rng = np.random.default_rng(13)
        df = spark.createDataFrame(
            [(int(i), int(rng.integers(0, 500)), float(i))
             for i in range(5000)],
            "id long, user long, value double").cache()
        path = str(tmp_path / "attr_idx")
        build_attribute_index(df, path, column="user", id_col="id")
        got = {r["id"] for r in attribute_index_lookup(
            spark, path, df, id_col="id", op="=", value=77).collect()}
        want = {r["id"] for r in df.where(F.col("user") == 77).collect()}
        assert got == want and got
        got_r = {r["id"] for r in attribute_index_lookup(
            spark, path, df, id_col="id", op="<", value=10).collect()}
        want_r = {r["id"] for r in df.where(F.col("user") < 10).collect()}
        assert got_r == want_r

    def test_index_scan_is_sargable(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(int(i), int(i % 100)) for i in range(2000)],
            "id long, user long")
        path = str(tmp_path / "attr_idx2")
        build_attribute_index(df, path, column="user", id_col="id")
        idx = spark.read.parquet(path).where(F.col("value") == 5)
        plan = idx._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "EqualTo(value,5)" in plan

    def test_stats_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(int(i), "t" + str(i % 3)) for i in range(1000)],
            "id long, tag string")
        stats = compute_stats(df, attrs=["tag"])
        assert stats["rows"] == 1000
        assert 2 <= stats["cardinality"]["tag"] <= 4
        write_stats(stats, str(tmp_path))
        assert read_stats(str(tmp_path)) == stats


class TestPlanWithStrategy:
    def test_attribute_route_matches_planner_route(self, spark, tmp_path):
        """decide->execute integration: the attribute-index route and the
        cell-planner route return the SAME rows for the same filter."""
        from geomesa_spark.cells import PARTITION_RES
        from geomesa_spark.cells.native import cell_expr
        from geomesa_spark.plans.strategy import plan_with_strategy
        rng = np.random.default_rng(19)
        df = (spark.createDataFrame(
            [(int(i), int(rng.integers(0, 2000)), float(x), float(y))
             for i, (x, y) in enumerate(zip(
                 rng.uniform(-60, 60, 4000), rng.uniform(-50, 50, 4000)))],
            "id long, user long, lon double, lat double")
            .withColumn("cell_prefix",
                        cell_expr("lon", "lat", PARTITION_RES))).cache()
        idx_path = str(tmp_path / "user_idx")
        build_attribute_index(df, idx_path, column="user", id_col="id")
        stats = {"rows": 4000, "cardinality": {"user": 2000}}
        f = and_(bbox(-60.0, -50.0, 60.0, 50.0), Attr("user", "=", 77))
        # high-cardinality equality -> attribute index route
        got = {r["id"] for r in plan_with_strategy(
            spark, df, f, stats=stats,
            attr_indexes={"user": idx_path}).collect()}
        from geomesa_spark.plans.filters import plan_query
        want = {r["id"] for r in plan_query(df, f).collect()}
        assert got == want
        # spatially tight filter -> planner route, same answer
        f2 = and_(bbox(-2.0, -2.0, 2.0, 2.0), Attr("user", ">", 0))
        got2 = {r["id"] for r in plan_with_strategy(
            spark, df, f2, stats=stats,
            attr_indexes={"user": idx_path}).collect()}
        want2 = {r["id"] for r in plan_query(df, f2).collect()}
        assert got2 == want2

    def test_unreadable_attr_index_raises(self, spark, tmp_path):
        """The attribute-index schema read fails loudly: a missing index
        must not plan as "no time tier", even when the decider picks
        the spatial route and never touches the index."""
        from pyspark.errors import AnalysisException

        from geomesa_spark.cells import PARTITION_RES
        from geomesa_spark.cells.native import cell_expr
        from geomesa_spark.plans.strategy import plan_with_strategy
        df = spark.createDataFrame(
            [(1, 7, 0.5, 0.5)], "id long, user long, lon double, lat double") \
            .withColumn("cell_prefix", cell_expr("lon", "lat", PARTITION_RES))
        f = and_(bbox(-1.0, -1.0, 1.0, 1.0), Attr("user", ">", 0))
        stats = {"rows": 1000, "cardinality": {"user": 2}}
        assert decide(f, stats).kind == "spatial"
        with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
            plan_with_strategy(spark, df, f, stats=stats,
                               attr_indexes={"user": str(tmp_path / "nope")})


class TestTieredAttributeIndex:
    def test_attr_plus_time_beats_single_dimensions(self):
        stats = {"rows": 1_000_000, "weeks": 10,
                 "cardinality": {"user_id": 50}}
        f = and_(Attr("user_id", "=", 7),
                 Time("2024-01-08T00:00:00", "2024-01-15T00:00:00"))
        s = decide(f, stats, tiered_attrs={"user_id"})
        assert s.kind == "attribute+time" and s.attribute == "user_id"
        # without a tiered index the intersected strategy is off the menu
        assert decide(f, stats).kind != "attribute+time"
        # and its cost is the intersection of the two selectivities
        attr_only = 1_000_000 / 50
        time_only = 1_000_000 / 10
        assert s.cost < attr_only and s.cost < time_only

    def test_tiered_route_identical_rows(self, spark, tmp_path):
        """'this device, last week': the tiered (value, epoch_week, id)
        route returns exactly the fallback planner's rows."""
        from geomesa_spark.cells import PARTITION_RES
        from geomesa_spark.cells.native import cell_expr
        from geomesa_spark.cells.z3 import epoch_week_expr
        from geomesa_spark.plans.filters import plan_query
        from geomesa_spark.plans.strategy import plan_with_strategy
        rng = np.random.default_rng(23)
        base = spark.createDataFrame(
            [(int(i), int(rng.integers(0, 40)),
              float(x), float(y),
              f"2024-01-{1 + int(i) % 28:02d}T12:00:00")
             for i, (x, y) in enumerate(zip(
                 rng.uniform(-60, 60, 3000), rng.uniform(-50, 50, 3000)))],
            "id long, user long, lon double, lat double, ts_s string")
        df = (base.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
              .withColumn("cell_prefix",
                          cell_expr("lon", "lat", PARTITION_RES))
              .withColumn("epoch_week", epoch_week_expr("ts"))).cache()
        idx_path = str(tmp_path / "tiered_idx")
        build_attribute_index(df, idx_path, column="user", id_col="id",
                              ts_col="ts")
        idx = spark.read.parquet(idx_path)
        assert "epoch_week" in idx.columns
        stats = {"rows": 3000, "weeks": 5, "cardinality": {"user": 40}}
        f = and_(Attr("user", "=", 7),
                 Time("2024-01-08T00:00:00", "2024-01-15T00:00:00"))
        assert decide(f, stats,
                      tiered_attrs={"user"}).kind == "attribute+time"
        got = {r["id"] for r in plan_with_strategy(
            spark, df, f, stats=stats, attr_indexes={"user": idx_path},
            week_col="epoch_week").collect()}
        want = {r["id"] for r in plan_query(
            df, f, week_col="epoch_week").collect()}
        assert got == want and got

    def test_untiered_index_ignores_weeks_soundly(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(int(i), int(i % 10)) for i in range(200)],
            "id long, user long")
        path = str(tmp_path / "flat_idx")
        build_attribute_index(df, path, column="user", id_col="id")
        got = {r["id"] for r in attribute_index_lookup(
            spark, path, df, id_col="id", op="=", value=3,
            weeks={2810, 2811}).collect()}
        want = {r["id"] for r in df.where(F.col("user") == 3).collect()}
        assert got == want  # weeks ignored on a flat index, not wrong


class TestDeciderFallbacks:
    def test_attr_without_cardinality_stats_is_a_candidate(self):
        """ADVICE regression: decide() must not error where plan_query
        accepts the identical filter."""
        f = Attr("unknown_col", "=", 5)
        s = decide(f, {"rows": 1000, "cardinality": {}})
        assert s.kind == "attribute" and s.attribute == "unknown_col"

    def test_negated_attr_fails_scan_guard(self):
        """ADVICE regression: a purely negated attribute cannot narrow
        the scan — both the decider and the planner must refuse it."""
        from geomesa_spark.plans.filters import _has_attr
        f = not_(Attr("c", "=", 1))
        assert not _has_attr(f)
        with pytest.raises(ValueError):
            decide(f, STATS)

    def test_plan_query_guard_rejects_negated_attr(self, spark):
        from geomesa_spark.plans.filters import plan_query
        df = spark.createDataFrame([(1, 0.0, 0.0, 2)],
                                   "c long, lon double, lat double, "
                                   "cell_prefix long")
        with pytest.raises(ValueError):
            plan_query(df, not_(Attr("c", "=", 1)))
        # explicit opt-in still runs it
        assert plan_query(df, not_(Attr("c", "=", 1)),
                          allow_full_scan=True).count() == 0


class TestIdIndex:
    def test_id_strategy_wins_and_reads_pruned(self, spark, tmp_path):
        """'fetch these feature ids': the decider proposes the id
        strategy at exact |ids| cost (IdFilterStrategy parity), the scan
        pushes the IN predicate to the key-ordered id index, and the
        rows equal the brute-force filter."""
        from geomesa_spark.cells import PARTITION_RES
        from geomesa_spark.cells.native import cell_expr
        from geomesa_spark.plans.strategy import (build_id_index,
                                                  plan_with_strategy)
        rng = np.random.default_rng(29)
        df = (spark.createDataFrame(
            [(int(i), int(rng.integers(0, 100)), float(x), float(y))
             for i, (x, y) in enumerate(zip(
                 rng.uniform(-60, 60, 5000), rng.uniform(-50, 50, 5000)))],
            "id long, user long, lon double, lat double")
            .withColumn("cell_prefix",
                        cell_expr("lon", "lat", PARTITION_RES))).cache()
        idx_path = str(tmp_path / "id_idx")
        build_id_index(df, idx_path, id_col="id")
        stats = {"rows": 5000, "cardinality": {"user": 100}}
        ids = [3, 999, 1500, 4242]
        f = and_(bbox(-60.0, -50.0, 60.0, 50.0),
                 Attr("id", "in", ids))
        # decider: id beats spatial and attribute no matter the stats
        s = decide(f, stats, id_col="id")
        assert s.kind == "id" and s.cost == float(len(ids))
        out = plan_with_strategy(spark, df, f, stats=stats,
                                 id_col="id", id_index=idx_path)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the IN predicate reaches the id-index parquet scan (sargable:
        # row-group min/max prune on the sorted id layout)
        assert "PushedFilters" in plan and "In(id" in plan
        files = out.inputFiles()
        assert files and all("id_idx" in p for p in files)  # index, not df
        got = {r["id"] for r in out.collect()}
        want = {r["id"] for r in df.where(F.col("id").isin(ids)).collect()}
        assert got == want == set(ids)

    def test_id_wins_without_stats(self):
        """IdFilterStrategy parity even with NO stats: the rows=1 floor
        must not price a blind attribute scan (rows * default fraction)
        below an exact |ids|-row point read (regression: the query job
        passes stats={'rows': 1} for tables without a stats sidecar and
        silently ignored --id-index)."""
        f = and_(Attr("fmt", "=", "rawz"),
                 Attr("image_id", "in", ["a", "b"]))
        s = decide(f, {"rows": 1}, id_col="image_id",
                   allow_full_scan=True)
        assert s.kind == "id" and s.cost == 2.0

    def test_id_equality_without_index_pushes_on_primary(self, spark):
        from geomesa_spark.plans.strategy import plan_with_strategy
        df = spark.createDataFrame(
            [(int(i), float(i % 360 - 180), float(i % 180 - 90))
             for i in range(1000)], "id long, lon double, lat double")
        f = Attr("id", "=", 77)
        s = decide(f, {"rows": 1000}, id_col="id")
        assert s.kind == "id" and s.cost == 1.0
        out = plan_with_strategy(spark, df, f, stats={"rows": 1000},
                                 id_col="id", allow_full_scan=True)
        assert [r["id"] for r in out.collect()] == [77]
