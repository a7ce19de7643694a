"""Plan-shape assertions (the reference's pushdown test pattern,
SparkSQLDataTest.scala:161-243): prove the physical plans are the ones a
100 TB deployment needs — broadcasts actually broadcast, cell math stays
in codegen, scans prune partitions and columns, aggregates have map-side
partial phases."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry(spark):
    import __spark_entry__ as e
    return e


class TestJoinPlans:
    def test_spatial_join_broadcasts_regions(self, spark, entry):
        df = entry.q_spatial_join_contains(spark, SF)
        plan = _plan(df)
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        # the big point side must NOT be exchanged before the join
        join_part = plan.split("BroadcastExchange")[0]
        assert "Exchange hashpartitioning" not in join_part

    def test_attribute_join_is_broadcast_or_smj(self, spark, entry):
        plan = _plan(entry.q_join_pushdown(spark, SF))
        assert "Join" in plan

    def test_knn_candidates_use_native_cells(self, spark, entry):
        # q_knn's rounds materialize eagerly (localCheckpoint per ring
        # scan), so assert on the per-round candidate plan directly: the
        # cell column must be native bit math and the query frame must
        # broadcast against the unshuffled point side
        from geomesa_spark.cells import PARTITION_RES
        from geomesa_spark.operators.knn import _ring_candidates
        pts = entry._events_points(spark, SF)
        qdf = spark.createDataFrame(
            [("q", 0.0, 0.0, 0)],
            "query_id string, qlon double, qlat double, __cell__ long")
        plan = _plan(_ring_candidates(pts, qdf, lon="lon", lat="lat",
                                      res=PARTITION_RES, metric="haversine"))
        assert "shiftleft" in plan or "shiftright" in plan
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        join_part = plan.split("BroadcastExchange")[0]
        assert "Exchange hashpartitioning" not in join_part


class TestCodegen:
    def test_cell_assignment_tiles_no_python(self, spark):
        from geomesa_spark.operators.tiles import tile_counts
        from geomesa_spark.raster.fixtures import images_df
        plan = _plan(tile_counts(images_df(spark, 100)))
        # tile assignment + count: only the fixture synth is Python
        after_synth = plan.split("MapInPandas")[0]
        assert "ArrowEvalPython" not in after_synth
        assert "BatchEvalPython" not in plan

    def test_density_is_pure_jvm(self, spark, entry):
        plan = _plan(entry.q_density_grid(spark, SF))
        assert "EvalPython" not in plan
        # partial/final hash aggregate = the AggregatingScan shape
        assert plan.count("HashAggregate") >= 2

    def test_z3_heatmap_is_pure_jvm(self, spark, entry):
        plan = _plan(entry.q_z3_heatmap(spark, SF))
        assert "EvalPython" not in plan

    def test_cell_assignment_is_pure_jvm(self, spark, entry):
        assert "EvalPython" not in _plan(entry.q_cell_assignment(spark, SF))

    # ring searches share knn._ring_candidates; with the default metric
    # its cell id and distance are Catalyst expressions, so no candidate
    # plan crosses into a Python worker
    def test_knn_rounds_are_pure_jvm(self, spark, entry, monkeypatch):
        from geomesa_spark.operators import knn
        real, seen = knn._ring_candidates, []

        def record(*args, **kwargs):
            seen.append(real(*args, **kwargs))
            return seen[-1]

        monkeypatch.setattr(knn, "_ring_candidates", record)
        knn.knn_join(entry._events_points(spark, SF), entry.KNN_QUERIES[:2],
                     entry.KNN_K).collect()
        assert seen and all("EvalPython" not in _plan(df) for df in seen)

    def test_proximity_is_pure_jvm(self, spark, entry):
        from geomesa_spark.operators.proximity import proximity_join
        df = proximity_join(entry._events_points(spark, SF),
                            entry.PROX_QUERIES, entry.PROX_RADIUS)
        assert "EvalPython" not in _plan(df)

    def test_tube_select_is_pure_jvm(self, spark, entry):
        from geomesa_spark.operators.proximity import tube_select
        df = tube_select(entry._events_points_ts(spark, SF), entry.TUBE_TRACK,
                         radius_m=entry.TUBE_RADIUS, dt_seconds=entry.TUBE_DT)
        assert "EvalPython" not in _plan(df)


class TestAggregates:
    def test_partial_final_hash_aggregate(self, spark, entry):
        plan = _plan(entry.q_unique_values(spark, SF))
        # map-side partial agg before the exchange (AggregatingScan shape)
        assert plan.count("HashAggregate") >= 2

    def test_topk_single_shuffle(self, spark, entry):
        plan = _plan(entry.q_topk_per_key(spark, SF))
        assert "Window" in plan


class TestScanPushdown:
    def test_column_pruning_reaches_scan(self, spark):
        ev = spark.read.parquet(f"{SF}/events.parquet")
        plan = _plan(ev.select("event_id"))
        assert "ReadSchema: struct<event_id:bigint>" in plan

    def test_filter_pushdown_reaches_scan(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        plan = _plan(li.where(F.col("l_quantity") > 40.0)
                     .select("l_orderkey"))
        assert "PushedFilters: [IsNotNull(l_quantity), " \
               "GreaterThan(l_quantity,40.0)]" in plan

    def test_bytes_column_not_scanned_for_tiles(self, spark, tmp_path):
        """The heavy image payload must not be read for tile counting."""
        from geomesa_spark.operators.tiles import tile_counts
        from geomesa_spark.sources.table import ingest_images, read_images
        path = str(tmp_path / "t")
        ingest_images(spark, path, n=50, chunk_rows=50,
                      partitions_per_chunk=2)
        imgs = read_images(spark, path)
        plan = _plan(tile_counts(imgs.select("lon", "lat", "image_id")))
        read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
        assert "bytes" not in read_schema


class TestClassifiedCover:
    """cell_cover_classified: interior cells are PROVABLY all-'I' (the
    contained-range shortcut), boundary cells carry the geometry edge."""

    def test_interior_cells_are_strictly_inside(self, spark):
        import numpy as np

        from geomesa_spark.cells.z2 import cell_bounds
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.geo.predicates import locate_points_in_geometry
        from geomesa_spark.plans.planner import cell_cover_classified

        # concave polygon with a diagonal edge crossing many res-6 cells
        poly = Polygon([[-60.0, -30.0], [60.0, -30.0], [60.0, 40.0],
                        [0.0, 5.0], [-60.0, 40.0], [-60.0, -30.0]])
        cells, interior = cell_cover_classified(poly, res=6)
        assert interior.any() and (~interior).any()
        x0, y0, x1, y1 = cell_bounds(cells, 6)
        rng = np.random.default_rng(7)
        for i in np.flatnonzero(interior):
            xs = rng.uniform(x0[i], x1[i], 50)
            ys = rng.uniform(y0[i], y1[i], 50)
            # corners included: closed-rect claim
            xs = np.concatenate([xs, [x0[i], x1[i], x0[i], x1[i]]])
            ys = np.concatenate([ys, [y0[i], y0[i], y1[i], y1[i]]])
            assert (locate_points_in_geometry(xs, ys, poly) == 1).all()

    def test_boundary_point_via_interior_shortcut_join(self, spark):
        from geomesa_spark.geo.io import to_wkb
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.operators.join import spatial_join

        # region aligned to res-4 cell edges: its boundary lies ON cell
        # borders; boundary points must NOT be accepted by st_contains
        poly = Polygon([[-45.0, -22.5], [45.0, -22.5], [45.0, 22.5],
                        [-45.0, 22.5], [-45.0, -22.5]])
        regions = spark.createDataFrame(
            [("r", bytearray(to_wkb(poly)))], "region_id string, geom binary")
        pts = spark.createDataFrame(
            [(1, 0.0, 0.0),        # interior
             (2, -45.0, 0.0),      # on boundary
             (3, 0.0, 22.5),       # on boundary
             (4, 100.0, 0.0)],     # outside
            "id long, lon double, lat double")
        got = spatial_join(pts, regions, predicate="st_contains",
                           broadcast_regions=True)
        assert sorted(r.id for r in got.collect()) == [1]
        cov = spatial_join(pts, regions, predicate="st_covers",
                          broadcast_regions=True)
        assert sorted(r.id for r in cov.collect()) == [1, 2, 3]


def _star(cx, cy, rx, ry, k=5):
    ring = [(cx + (rx if i % 2 == 0 else rx / 2.5)
             * math.cos(math.pi / 2 + i * math.pi / k),
             cy + (ry if i % 2 == 0 else ry / 2.5)
             * math.sin(math.pi / 2 + i * math.pi / k)) for i in range(2 * k)]
    return ring + [ring[0]]


def _cover_geometries():
    from geomesa_spark.geo.model import (GeometryCollection, LineString,
                                         MultiPoint, MultiPolygon, Point,
                                         Polygon)
    box = [[-80.0, -50.0], [80.0, -50.0], [80.0, 50.0], [-80.0, 50.0]]
    return {
        "concave": Polygon([[-60.0, -30.0], [60.0, -30.0], [60.0, 40.0],
                            [0.0, 5.0], [-60.0, 40.0]]),
        "holed": Polygon(box, [[[-50.0, -10.0], [0.0, -35.0], [55.0, 0.0],
                                [10.0, 30.0]]]),
        "multipolygon": MultiPolygon([
            Polygon([[-100.0, -40.0], [-60.0, -40.0], [-80.0, -5.0]]),
            Polygon(_star(60.0, 20.0, 25.0, 18.0))]),
        "linestring": LineString([[-120.0, -60.0], [-30.0, 10.0],
                                  [45.0, 11.25], [100.0, 70.0]]),
        # corners and edges of res-4 and res-6 cells, and cell interiors
        "multipoint": MultiPoint([Point(0.0, 0.0), Point(22.5, 11.25),
                                  Point(5.625, 3.0), Point(-100.3, 40.1),
                                  Point(-45.0, -2.8125)]),
        "polygon+line": GeometryCollection([
            Polygon(_star(-20.0, 0.0, 40.0, 30.0)),
            LineString([[-90.0, -20.0], [50.0, 15.0]])]),
        "cell_aligned": Polygon([[-45.0, -22.5], [45.0, -22.5],
                                 [45.0, 22.5], [-45.0, 22.5]]),
        "inside_one_cell": Polygon([[1.0, 0.5], [2.0, 0.5], [1.5, 1.5]]),
        # the hole holds whole res-4 and res-6 cells
        "cell_in_hole": Polygon(box, [[[-40.0, -20.0], [40.0, -20.0],
                                       [40.0, 20.0], [-40.0, 20.0]]]),
        "coarsened": Polygon(_star(30.0, 10.0, 14.0, 9.0)),
    }


def _de9im_cells(geom, res):
    """The bbox-cover cells at ``res`` whose closed rectangle DE-9IM
    ``intersects`` ``geom`` (the reference the kernel must match)."""
    from geomesa_spark.cells import bbox_cover
    from geomesa_spark.cells.z2 import cell_bounds
    from geomesa_spark.geo.model import Polygon
    from geomesa_spark.geo.predicates import intersects

    bbox = bbox_cover(*geom.bounds(), res=res, max_cells=1 << 20)
    x0, y0, x1, y1 = cell_bounds(bbox, res)
    return bbox, [int(c) for c, a, b, cc, d in zip(bbox, x0, y0, x1, y1)
                  if intersects(Polygon([[a, b], [cc, b], [cc, d], [a, d]]),
                                geom)]


class TestCoverKernel:
    """``cell_cover_classified``'s one cell-vs-geometry kernel keeps
    exactly the bbox-cover cells whose closed rectangle DE-9IM
    ``intersects`` the geometry, for every geometry type; its interior
    cells hold the closed-rect claim."""

    @pytest.mark.parametrize("res", [4, 6])
    @pytest.mark.parametrize("name", sorted(_cover_geometries()))
    def test_cells_match_de9im(self, name, res):
        from geomesa_spark.cells.z2 import cell_bounds
        from geomesa_spark.geo.predicates import locate_points_in_geometry
        from geomesa_spark.plans.planner import (DEFAULT_MAX_COVER,
                                                 cell_cover_classified)

        geom = _cover_geometries()[name]
        bbox, want = _de9im_cells(geom, res)
        max_cells = DEFAULT_MAX_COVER
        if name == "coarsened":
            max_cells = {4: 2, 6: 16}[res]
            assert len(bbox) > max_cells  # the budget coarsens this cover
        cells, interior = cell_cover_classified(geom, res=res,
                                                max_cells=max_cells)
        assert cells.tolist() == want
        if name == "cell_in_hole":
            assert len(want) < len(bbox)
        if res == 6 and name in ("concave", "holed", "polygon+line",
                                 "cell_in_hole"):
            assert interior.any()
        if name in ("linestring", "multipoint", "inside_one_cell"):
            assert not interior.any()
        # closed-rect claim: corners and random points of every interior
        # cell locate 'I'
        x0, y0, x1, y1 = cell_bounds(cells[interior], res)
        rng = np.random.default_rng(7)
        u, v = rng.uniform(size=(2, 20, 1))
        u = np.concatenate([u, [[0.0], [1.0], [0.0], [1.0]]])
        v = np.concatenate([v, [[0.0], [0.0], [1.0], [1.0]]])
        xs, ys = (x0 + u * (x1 - x0)).ravel(), (y0 + v * (y1 - y0)).ravel()
        assert (locate_points_in_geometry(xs, ys, geom) == 1).all()

    def test_edges_past_one_segment_chunk(self):
        """A 1100-gon spans three 512-segment chunks of the kernel."""
        from geomesa_spark.geo.model import Polygon
        from geomesa_spark.plans.planner import cell_cover_classified

        t = np.linspace(0.0, 2 * math.pi, 1100, endpoint=False)
        geom = Polygon(np.c_[20.0 + 30.0 * np.cos(t), -5.0 + 20.0 * np.sin(t)])
        cells, interior = cell_cover_classified(geom, res=4)
        assert cells.tolist() == _de9im_cells(geom, 4)[1]
        assert interior.any()
