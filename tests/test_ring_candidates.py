"""Ring searches (knn_join, proximity_join, tube_select) share one
candidate join: a (query, ring cell) frame broadcast-joined to the points
on the cell column, refined by the codegen haversine. These tests pin the
cell-resolution contract of that join and kNN's row-count estimate; the
plan-shape checks live in tests/test_plan_shapes.py."""

import numpy as np
import pytest

from geomesa_spark.cells import PARTITION_RES
from geomesa_spark.cells.native import cell_expr
from geomesa_spark.geo.measures import haversine_m


def test_knn_res_finer_than_stored_cell_prefix(spark):
    """Ring cells at ``res`` must meet point cells at ``res``, whatever
    partition column the frame carries. Here the res-6 window of q holds
    the res-6 id 2, which is also the res-4 id of the cluster 350 km
    away, so joining res-6 rings to the res-4 ``cell_prefix`` finds k
    cluster points inside the window and misses the nearest point, 7 km
    away across the antimeridian."""
    from geomesa_spark.operators.knn import knn_join
    q = ("q", -179.8, -80.0)
    rows = [(0, 179.8, -80.0)] + [(i, -175.0 + 0.1 * i, -77.0)
                                  for i in range(1, 11)]
    pts = spark.createDataFrame(rows, "point_id int, lon double, lat double")
    pts = pts.withColumn("cell_prefix",
                         cell_expr("lon", "lat", PARTITION_RES))
    got = knn_join(pts, [q], 3, res=6, initial_radius_m=600_000.0).collect()
    lon = np.array([r[1] for r in rows])
    lat = np.array([r[2] for r in rows])
    d = haversine_m(lon, lat, np.full(len(rows), q[1]),
                    np.full(len(rows), q[2]))
    want = [rows[i][0] for i in np.argsort(d, kind="stable")[:3]]
    assert [r.point_id for r in sorted(got, key=lambda r: r.rank)] == want
    assert want[0] == 0


def test_estimate_rows_reads_footers_and_raises_on_bad_one(spark, tmp_path):
    """kNN's initial-radius row estimate sums parquet footers; it falls
    back to count() only for frames with no local parquet files, so an
    unreadable footer must raise instead of silently counting."""
    from geomesa_spark.operators.knn import _estimate_rows
    n = 3000
    rng = np.random.default_rng(2024)
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in
         enumerate(zip(rng.uniform(-180, 180, n), rng.uniform(-90, 90, n)))],
        "point_id int, lon double, lat double")
    assert _estimate_rows(pts) == n
    path = tmp_path / "pts"
    pts.repartition(3).write.parquet(str(path))
    df = spark.read.parquet(str(path))
    assert _estimate_rows(df) == n
    next(path.glob("*.parquet")).write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        _estimate_rows(df)
