"""Proximity search (within-distance join) and tube select
(spatio-temporal corridor search).

Reference semantics:
- ProximitySearchProcess: features within a buffer distance (meters) of
  any input feature (/root/reference/geomesa-process/geomesa-process-
  vector/src/main/scala/org/locationtech/geomesa/process/query/
  ProximitySearchProcess.scala:29).
- TubeSelectProcess: features inside a distance tube around a track,
  correlated in BOTH space and time (/root/reference/geomesa-process/
  geomesa-process-vector/src/main/scala/org/locationtech/geomesa/process/
  tube/TubeSelectProcess.scala:37-133, TubeBuilder.scala).

Spark shape: query geometries expand to cell windows (cover may
over-select, never under-select), and ``knn._ring_candidates`` — the one
candidate join of every ring search — broadcast-joins them to the points
on the cell id and adds the geodesic distance; the distance (+ time delta
for tubes) then refines — the same cover -> prune -> refine contract as
the rest of the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from geomesa_spark.cells import PARTITION_RES
# _window_cells is the ONE radius-window cover implementation
# (poleward-cos over-cover, antimeridian wrap via bbox_cover's split —
# Envelope.toWorld semantics, KNearestNeighborSearchProcess.scala:524-544);
# a second local copy here once diverged from it, so share it instead
from geomesa_spark.operators.knn import (_ring_candidates, _window_cells,
                                         _window_slack)


def proximity_join(points: DataFrame,
                   queries: list[tuple[str, float, float]],
                   radius_m: float, *, lon: str = "lon", lat: str = "lat",
                   res: int = PARTITION_RES,
                   metric: str = "haversine") -> DataFrame:
    """Rows of ``points`` within ``radius_m`` meters of each query point
    under ``metric`` ("haversine" sphere, default, or "spheroid" WGS84
    Vincenty — the reference's ellipsoidal GeodeticCalculator meters).
    Output: (query_id, <point columns>, dist_m), deduped per (query,
    point). Spheroid windows inflate by the documented slack before the
    cell cover so the candidate set still provably over-selects."""
    w = radius_m * _window_slack(metric)
    rings = points.sparkSession.createDataFrame(
        [(qid, qlon, qlat, c)
         for (qid, qlon, qlat) in queries
         for c in _window_cells(qlon, qlat, w, res)],
        "query_id string, qlon double, qlat double, __cell__ long")
    return (_ring_candidates(points, rings, lon=lon, lat=lat, res=res,
                             metric=metric)
            .where(F.col("dist_m") <= radius_m)
            .drop("qlon", "qlat"))


def tube_select(events: DataFrame,
                track: list[tuple[str, float, float]],
                *, radius_m: float, dt_seconds: float,
                lon: str = "lon", lat: str = "lat", ts: str = "ts",
                res: int = PARTITION_RES) -> DataFrame:
    """Events within ``radius_m`` meters AND ``dt_seconds`` of any track
    vertex (ts ISO string, lon, lat) — the tube as a sequence of
    space-time balls (TubeBuilder's buffered track points). Output: one
    row per matching event (deduped across overlapping vertices) with the
    nearest-vertex distance.
    """
    rings = events.sparkSession.createDataFrame(
        [(i, t, qlon, qlat, c)
         for i, (t, qlon, qlat) in enumerate(track)
         for c in _window_cells(qlon, qlat, radius_m, res)],
        "vertex int, qts string, qlon double, qlat double, __cell__ long") \
        .withColumn("qts", F.to_timestamp("qts"))
    # NTZ timestamps cannot cast straight to double; route via timestamp
    dt = F.abs(F.col(ts).cast("timestamp").cast("double")
               - F.col("qts").cast("timestamp").cast("double"))
    hits = (_ring_candidates(events, rings, lon=lon, lat=lat, res=res,
                             metric="haversine")
            .where((F.col("dist_m") <= radius_m) & (dt <= dt_seconds)))
    return (hits.groupBy(*events.columns)
            .agg(F.min("dist_m").alias("dist_m")))
