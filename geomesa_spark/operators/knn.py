"""k-nearest-neighbors via expanding cell-window search.

Re-expresses the reference's kNN process (/root/reference/geomesa-process/
geomesa-process-vector/src/main/scala/org/locationtech/geomesa/process/query/
KNearestNeighborSearchProcess.scala): per query point an expanding search
window — initial radius from the Liu/Lim/Ng density estimate
``sqrt(k / (pi * density))`` (:278-300), doubled when a round comes back
empty — with exact geodesic meters and a per-query top-k.

Spark shape: the (small) query set explodes to its window's cover cells and
broadcast-joins the (huge) point table on the cell column — the big side is
never shuffled. Each round still reads every file of the point table; no
partition pruning reaches the scan. Ranking is a window function
(row_number over dist), the idiom the reference anticipates for host
engines (SpatialRelationFunctions.scala:51).
``_ring_candidates`` is that join plus the distance refine, shared with
proximity_join and tube_select; only the spheroid metric (Vincenty) runs
a Python kernel, haversine is a codegen Catalyst expression.

Exactness: a round's candidates provably include every point within w
meters of the query (conservative deg-per-meter bounds); a query finishes
when >= k candidates lie within w. Driver-side state is O(|queries| * k)
— the reference's client-side KnnWindow, not a data-scale collect.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType

from geomesa_spark.cells import PARTITION_RES, bbox_cover
from geomesa_spark.cells.native import cell_expr
from geomesa_spark.geo.measures import EARTH_MEAN_RADIUS_M, haversine_expr

_M_PER_DEG = math.pi / 180.0 * EARTH_MEAN_RADIUS_M  # ~111194.93


@F.pandas_udf(DoubleType())
def udf_spheroid(lon1: pd.Series, lat1: pd.Series,
                 lon2: pd.Series, lat2: pd.Series) -> pd.Series:
    from geomesa_spark.geo.measures import vincenty_m
    return pd.Series(vincenty_m(lon1.to_numpy(np.float64), lat1.to_numpy(np.float64),
                                lon2.to_numpy(np.float64), lat2.to_numpy(np.float64)))


# WGS84 exact-geodesic option (GeodeticCalculator semantics — the
# reference kNN measures ellipsoidal meters,
# KNearestNeighborSearchProcess.scala:312-393). Window bounds stay
# conservative under the spheroid: a path of w spheroid-meters spans at
# most w / (min meridional curvature radius b^2/a = 6335.4 km) degrees of
# latitude — up to R_mean/(b^2/a) ~= 1.0056x the sphere estimate — so
# spheroid windows inflate by this slack before the cell cover (the
# longitude bound already over-covers: it divides by R_mean < min nu).
_METRIC_WINDOW_SLACK = {"haversine": 1.0, "spheroid": 1.006}


def _window_slack(metric: str) -> float:
    if metric not in _METRIC_WINDOW_SLACK:
        raise ValueError(f"unknown metric {metric!r}; "
                         f"use one of {sorted(_METRIC_WINDOW_SLACK)}")
    return _METRIC_WINDOW_SLACK[metric]


def _ring_candidates(points: DataFrame, rings: DataFrame, *, lon: str,
                     lat: str, res: int, metric: str) -> DataFrame:
    """Candidate pairs of a ring search: broadcast the (query, ring cell)
    frame ``rings`` — columns ``__cell__``, ``qlon``, ``qlat`` plus any
    query columns the caller carries — against the point side on the
    cell of (``lon``, ``lat``) at ``res``, a native Catalyst expression,
    and add ``dist_m``. The big point side never shuffles."""
    points = points.withColumn("__pc__", cell_expr(lon, lat, res))
    dist = haversine_expr if metric == "haversine" else udf_spheroid
    return (points.join(F.broadcast(rings),
                        points["__pc__"] == rings["__cell__"])
            .drop("__cell__", "__pc__")
            .withColumn("dist_m", dist(F.col(lon), F.col(lat),
                                       F.col("qlon"), F.col("qlat"))))


def _window_cells(qlon: float, qlat: float, w_m: float, res: int) -> list[int]:
    dlat = w_m / _M_PER_DEG
    phi_m = min(89.999, abs(qlat) + dlat)
    dlon = min(180.0, w_m / (_M_PER_DEG * math.cos(math.radians(phi_m))))
    y0 = max(-90.0, qlat - dlat)
    y1 = min(90.0, qlat + dlat)
    x0 = qlon - dlon
    x1 = qlon + dlon
    if x1 - x0 >= 360.0:
        x0, x1 = -180.0, 180.0
    else:  # wrap across the antimeridian (bbox_cover splits on x0 > x1)
        if x0 < -180.0:
            x0 += 360.0
        if x1 > 180.0:
            x1 -= 360.0
    return [int(c) for c in bbox_cover(x0, y0, x1, y1, res=res, max_cells=1 << 22)]


def _estimate_rows(df: DataFrame) -> int:
    """Cheap row-count estimate: sum parquet footer counts (driver-side
    metadata reads, sampled at 64 files) instead of a full table scan.
    Falls back to ``df.count()`` only when the frame reads no local
    parquet files (in-memory or non-parquet sources); a footer that
    cannot be read raises."""
    from urllib.parse import unquote, urlparse
    paths = [unquote(u.path) for u in map(urlparse, df.inputFiles())
             if u.path.endswith(".parquet") and u.scheme in ("", "file")]
    if not paths:
        return df.count()
    import pyarrow.parquet as pq
    sample = paths[:64]
    n = sum(pq.ParquetFile(p).metadata.num_rows for p in sample)
    return max(1, int(n * len(paths) / len(sample)))


def knn_join(points: DataFrame, queries: list[tuple[str, float, float]],
             k: int, *,
             lon: str = "lon", lat: str = "lat",
             res: int = PARTITION_RES,
             estimated_count: int | None = None,
             tiebreak: list[str] | None = None,
             initial_radius_m: float | None = None,
             max_radius_m: float = 2.1e7,
             max_rounds: int = 12,
             metric: str = "haversine") -> DataFrame:
    """Exact k nearest points for each (query_id, lon, lat) query.

    Returns a DataFrame (query_id, rank, dist_m, <point columns>). The
    result is exact under the chosen ``metric`` — ``"haversine"``
    (sphere, default) or ``"spheroid"`` (WGS84 Vincenty, the reference's
    ellipsoidal GeodeticCalculator meters) — ties broken by point order.

    Execution: each round scans ONLY the ring of cover cells not yet
    scanned for that query (the reference's "hole" exclusion on window
    expansion, KNearestNeighborSearchProcess.scala:222-301) and appends
    them to a lazily localCheckpoint'ed candidate frame; the round's
    single collect materializes it, so the per-round counts, the finished
    rows, and the next round's union all read the checkpoint instead of
    re-executing earlier rounds' joins — ONE distributed job per round.
    Driver-side state stays O(|queries| * cover cells).
    """
    slack = _window_slack(metric)
    spark = points.sparkSession
    if initial_radius_m is None:
        n = estimated_count if estimated_count is not None \
            else _estimate_rows(points)
        world_area_deg2 = 360.0 * 180.0
        density = max(n, 1) / world_area_deg2  # points per deg^2
        r_deg = math.sqrt(k / (math.pi * density))  # Liu/Lim/Ng estimate
        # 2x overshoot: expected candidates/query grow 4x (still ~4k rows,
        # trivial) while queries in locally sparse areas finish in one
        # round instead of paying a whole extra scan round
        initial_radius_m = max(1000.0, 2.0 * r_deg * _M_PER_DEG)

    live = {qid: initial_radius_m for (qid, _, _) in queries}
    qpos = {qid: (qlon, qlat) for (qid, qlon, qlat) in queries}
    scanned: dict[str, set[int]] = {qid: set() for qid in live}
    cand_acc: DataFrame | None = None  # checkpointed candidates (no w cut)
    done_rows: list = []  # finished rows: driver-bounded, <= |queries| * k
    out_schema = None
    order = [F.col("dist_m")] + [F.col(c) for c in (tiebreak or [])]

    last_live_rows: list = []  # belt-and-braces flush (see loop exit)
    for round_i in range(max_rounds):
        if not live:
            break
        rows = []
        for qid, w in live.items():
            qlon, qlat = qpos[qid]
            ring = [c for c in _window_cells(qlon, qlat, w * slack, res)
                    if c not in scanned[qid]]
            scanned[qid].update(ring)
            rows += [(qid, qlon, qlat, c) for c in ring]
        if rows:
            qdf = spark.createDataFrame(
                rows,
                "query_id string, qlon double, qlat double, __cell__ long")
            new_cand = _ring_candidates(points, qdf, lon=lon, lat=lat,
                                        res=res, metric=metric)
            cand_acc = new_cand if cand_acc is None \
                else cand_acc.unionByName(new_cand)
        if cand_acc is None:
            break
        # lazy checkpoint: the round's single collect below materializes
        # it, so ranking and the next round's union hit the cache, never
        # the join — one distributed job per round instead of two
        cand_acc = cand_acc.where(
            F.col("query_id").isin(list(live))).localCheckpoint(eager=False)
        wdf = spark.createDataFrame(list(live.items()),
                                    "query_id string, w double")
        ranked = (cand_acc.join(F.broadcast(wdf), "query_id")
                  .where(F.col("dist_m") <= F.col("w"))
                  .withColumn("rank", F.row_number().over(
                      Window.partitionBy("query_id").orderBy(*order)))
                  .where(F.col("rank") <= k).drop("w"))
        # job 2: ONE collect serves as both the per-query count probe and
        # the finished-row sink (<= |queries| * k rows by construction —
        # the reference's client-side KnnWindow state, not a data collect)
        ranked_rows = ranked.collect()
        out_schema = out_schema or ranked.schema
        counts: dict[str, int] = {}
        for r in ranked_rows:
            counts[r.query_id] = counts.get(r.query_id, 0) + 1
        finished = {qid for qid in live if counts.get(qid, 0) >= k}
        # at max radius with < k in range: fewer than k points exist; emit
        exhausted = {qid for qid in live if counts.get(qid, 0) < k
                     and live[qid] >= max_radius_m}
        emit = finished | exhausted
        if emit:
            done_rows += [r for r in ranked_rows if r.query_id in emit]
            for qid in emit:
                del live[qid]
        last_live_rows = [r for r in ranked_rows if r.query_id in live]
        # growth must reach max_radius_m with one scan round to spare, or
        # the exhausted check above can never fire and a query that keeps
        # finding k-1 neighbors would fall out of the loop UNANSWERED;
        # force the remaining rounds to close the gap geometrically
        steps_left = max(1, max_rounds - 1 - round_i)
        for qid in live:
            # reference growth policy (KnnWindow): jump on an empty
            # window, otherwise re-estimate from the OBSERVED local
            # density — w*sqrt(k/m) reaches k at uniform density; the
            # 1.4 safety factor keeps expected rounds ~1 after the first
            m = counts.get(qid, 0)
            grow = 4.0 if m == 0 \
                else max(1.6, math.sqrt(k / m) * 1.4)
            grow = max(grow, (max_radius_m / live[qid]) ** (1.0 / steps_left))
            live[qid] = min(max_radius_m, live[qid] * grow)
    if live and last_live_rows:
        # unreachable with the forced growth above unless max_rounds == 1;
        # emit the confirmed neighbors found so far (every candidate with
        # dist <= the query's window is a true nearest neighbor) rather
        # than silently omitting the query
        done_rows += last_live_rows
    if out_schema is None:
        return spark.createDataFrame([], "query_id string, rank int, dist_m double")
    return spark.createDataFrame(done_rows, out_schema)

