"""Spatial joins: broadcast point-in-polygon and cell-partitioned equi-join.

Re-expresses the reference's sweepline spatial join (GeoMesaJoinRelation.
sweeplineJoin, /root/reference/geomesa-spark/geomesa-spark-sql/src/main/
scala/org/locationtech/geomesa/spark/GeoMesaJoinRelation.scala:41-91) as an
idiomatic Spark plan:

    regions --(region_cover + explode)------> (cell, interior, envelope,
                                               region)
               one cached kernel, run on the driver for a broadcast
               region side, as a pandas UDF on executors otherwise
    points  --(cell_expr, native)-----------> (cell, point)
    equi-join on cell  (broadcast-hash if regions are small: zero shuffle
                        of the big point side; sort-merge + AQE skew-join
                        otherwise)
    envelope filter    (codegen; exact for all-rectangle broadcast sides)
    exact refine       (vectorized point location over Arrow batches,
                        ``geo.predicates.locate_points_in_geometry``)
    dedupe             (only when both sides can span multiple cells --
                        duplication semantics of RelationUtils.gridIdMapper
                        :35-53 and its acknowledged duplicate TODO :38)

Correctness contract (SURVEY §2.4): covers over-select and never
under-select; every candidate passes the exact DE-9IM predicate; result
row-set equals the brute-force cartesian join (the reference's own oracle,
SparkSQLDataTest.scala:344-351).
"""

from __future__ import annotations

import functools
import weakref

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType, LongType,
                               StructField, StructType)

from geomesa_spark.cells import PARTITION_RES, bbox_cover
from geomesa_spark.geo import io as gio
from geomesa_spark.geo import predicates as gp
from geomesa_spark.geo.model import flatten
from geomesa_spark.plans.planner import cell_cover_classified

_ENV = ("xmin", "ymin", "xmax", "ymax")


# ------------------------------------------------------------------ covers

@functools.lru_cache(maxsize=65536)
def region_cover(wkb: bytes | None, res: int) -> tuple:
    """The join cover of one region WKB at ``res``: ``(cells, envelope,
    rect)``. ``cells`` is a non-empty tuple of ``(cell, interior)``
    from ``cell_cover_classified``, the planner's one Z2 cover: a point
    joined through an INTERIOR cell is provably in the region's interior
    (``geo.predicates.locate_rects_in_geometry``), so the exact refine
    is skipped for it — the reference's contained-range shortcut applied
    to the join. ``envelope`` is ``(xmin, ymin, xmax, ymax)`` and ``rect`` says
    whether the region is an axis-aligned rectangle (``_is_axis_rect``).

    Regions whose scan cover is None — world-spanning, or past the
    range budget, which bounds a partition IN-list rather than a join
    explode — take the envelope's full bbox cover at ``res``, all
    boundary cells. Null and empty regions get the reserved cell -1.
    Cached per (WKB, res): region frames are static across queries, so
    the per-geometry cover (~1 ms) is computed once per process."""
    if wkb is None:  # matches nothing either way: keeps the rect path
        return ((-1, False),), (None,) * 4, True
    g = gio.from_wkb(wkb)
    env = tuple(float(b) for b in g.bounds())
    cells, interior = cell_cover_classified(g, res=res)
    if cells is None:
        cells = bbox_cover(*env, res=res, max_cells=4 ** res)
        interior = np.zeros(len(cells), dtype=bool)
    cover = tuple(zip(cells.tolist(), interior.tolist())) or ((-1, False),)
    return cover, env, gp._is_axis_rect(g)


_COVER_TYPE = StructType(
    [StructField("cells", ArrayType(StructType([
        StructField("cell", LongType()),
        StructField("interior", BooleanType())])))]
    + [StructField(b, DoubleType()) for b in _ENV])


def udf_region_cover(res: int):
    """``region_cover`` as a pandas UDF: struct of the ``cells`` array
    (``cell``, ``interior``) and the envelope ``xmin .. ymax``."""
    @F.pandas_udf(_COVER_TYPE)
    def cover(wkb: pd.Series) -> pd.DataFrame:
        rows = []
        for v in wkb:
            cells, env, _ = region_cover(None if v is None else bytes(v), res)
            rows.append((list(cells), *env))
        return pd.DataFrame(rows, columns=["cells", *_ENV])
    return cover


def _explode_cover(df: DataFrame, geom: str, res: int,
                   tag: str = "") -> DataFrame:
    """``df`` exploded to one row per cover cell of ``geom``, with
    ``__<tag>cell__``, ``__<tag>int__`` and the envelope
    ``__<tag>xmin__ .. __<tag>ymax__``. ``explode_outer`` equals
    ``explode`` here (a cover is never empty) but keeps Catalyst from
    inferring a ``size(cells) > 0`` filter that evaluates the UDF twice."""
    out = df.withColumn("__cov__", udf_region_cover(res)(F.col(geom))) \
        .withColumn("__c__", F.explode_outer("__cov__.cells")) \
        .withColumn(f"__{tag}cell__", F.col("__c__.cell")) \
        .withColumn(f"__{tag}int__", F.col("__c__.interior"))
    for b in _ENV:
        out = out.withColumn(f"__{tag}{b}__", F.col(f"__cov__.{b}"))
    return out.drop("__cov__", "__c__")


# ------------------------------------------------------------------ UDFs

def udf_refine_point(op: str):
    """Exact point-vs-region refine: the point locations ``op`` accepts
    (``geo.predicates.POINT_LOCATIONS``)."""
    @F.pandas_udf(BooleanType())
    def refine(lon: pd.Series, lat: pd.Series, wkb: pd.Series) -> pd.Series:
        x = lon.to_numpy(dtype=np.float64)
        y = lat.to_numpy(dtype=np.float64)
        out = np.zeros(len(x), dtype=bool)
        # group rows by identical region blob -> one vectorized pass each
        codes, uniques = pd.factorize(wkb.map(lambda b: bytes(b) if b is not None
                                              else b), use_na_sentinel=True)
        for gi, blob in enumerate(uniques):
            sel = codes == gi
            loc = gp.locate_points_in_geometry(x[sel], y[sel],
                                               gio.from_wkb(blob))
            out[sel] = gp.accepts_locations(op, loc)
        return pd.Series(out)
    return refine


def _geom_vertices(geom) -> np.ndarray:
    """All vertices of ``geom`` as an (n, 2) array (polygon ring closing
    duplicates dropped). Used by the vectorized pair screens — only
    set-membership of the vertices matters, not their order."""
    from geomesa_spark.geo.model import LineString, Point, Polygon

    chunks = []
    for part in flatten(geom):
        if isinstance(part, Polygon) and not part.is_empty():
            for ring in part.rings():
                chunks.append(ring[:-1])
        elif isinstance(part, LineString):
            chunks.append(part.coords)
        elif isinstance(part, Point) and not part.is_empty():
            chunks.append(np.array([[part.x, part.y]]))
    if not chunks:
        return np.zeros((0, 2))
    return np.concatenate(chunks, axis=0)


def _screen_vertex_locations(pair_idx: list[int], containers: list,
                             partners: list) -> list[np.ndarray]:
    """For each (container, partner) pair, the location codes of the
    partner's vertices in the container (1 interior / 0 boundary /
    -1 exterior) — computed with ONE vectorized ray-cast per DISTINCT
    container over all its partners' vertices stacked, instead of a
    Python call per pair."""
    by_container: dict[int, list[int]] = {}
    for i in pair_idx:
        by_container.setdefault(id(containers[i]), []).append(i)
    out: dict[int, np.ndarray] = {}
    for idxs in by_container.values():
        geom = containers[idxs[0]]
        verts = [_geom_vertices(partners[i]) for i in idxs]
        lens = [len(v) for v in verts]
        if sum(lens) == 0:
            for i in idxs:
                out[i] = np.zeros(0, dtype=np.int8)
            continue
        stacked = np.concatenate([v for v in verts if len(v)], axis=0)
        loc = gp.locate_points_in_geometry(stacked[:, 0], stacked[:, 1],
                                           geom)
        offs = np.cumsum([0] + lens)
        for j, i in enumerate(idxs):
            out[i] = loc[offs[j]:offs[j + 1]]
    return [out[i] for i in pair_idx]


def udf_refine_pairs(predicate: str):
    """General geometry-pair refinement (polygon-polygon etc.).

    Vectorized over the Arrow batch: pairs are deduplicated with
    ``pd.factorize`` on the concatenated WKB key, so exact work runs
    ONCE per distinct geometry pair (the cell equi-join duplicates a
    pair once per shared cover cell) with memoized geometry parses.
    Three screening tiers, each sound (they only decide what they can
    prove; DE-9IM remains the decider for the rest):

    1. numpy envelope pre-reject across ALL distinct pairs at once
       (callers going through ``spatial_join_pairs`` arrive pre-screened
       by the JVM join condition; the re-check costs one vectorized
       compare and keeps the UDF safe standalone);
    2. vertex-location screen, one vectorized ray-cast per distinct
       container geometry over all its partners' vertices stacked
       (``_screen_vertex_locations``): for the intersects predicate a
       non-exterior vertex in either direction PROVES intersection; for
       containment predicates an exterior vertex of the contained side
       DISPROVES it. This decides the bulk of candidate pairs without
       entering the interpreted DE-9IM machinery — the vectorized
       equivalent of the per-pair exact-call bound of the reference's
       sweepline OverlapAction (GeoMesaJoinRelation.scala:41-55,
       OverlapAction:25-41);
    3. the exact DE-9IM predicate for the undecided remainder (pairs
       intersecting only through edge crossings, containment with all
       vertices inside, and the rarer predicates).
    """
    fn = {
        "st_contains": gp.contains, "st_within": gp.within,
        "st_covers": gp.covers, "st_coveredBy": gp.covered_by,
        "st_intersects": gp.intersects, "st_overlaps": gp.overlaps,
        "st_touches": gp.touches, "st_crosses": gp.crosses,
        "st_equals": gp.equals,
    }[predicate]

    @F.pandas_udf(BooleanType())
    def refine(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        # pair key = 4-byte length prefix + left WKB + right WKB (WKB is
        # binary — a separator byte would collide)
        ab = pd.Series(
            [len(x).to_bytes(4, "big") + bytes(x) + bytes(y)
             if x is not None and y is not None else None
             for x, y in zip(a, b)], dtype=object)
        codes, uniques = pd.factorize(ab, use_na_sentinel=True)
        gmemo: dict[bytes, object] = {}

        def parse(k: bytes):
            g = gmemo.get(k)
            if g is None:
                g = gmemo[k] = gio.from_wkb(k)
            return g

        nu = len(uniques)
        left, right = [], []
        for key in uniques:
            la = int.from_bytes(key[:4], "big")
            left.append(parse(key[4:4 + la]))
            right.append(parse(key[4 + la:]))
        # tier 1: vectorized envelope necessary-condition
        lb = np.array([g.bounds() for g in left], dtype=np.float64) \
            if nu else np.zeros((0, 4))
        rb = np.array([g.bounds() for g in right], dtype=np.float64) \
            if nu else np.zeros((0, 4))
        if predicate in ("st_contains", "st_covers"):
            env = ((lb[:, 0] <= rb[:, 0]) & (lb[:, 1] <= rb[:, 1])
                   & (lb[:, 2] >= rb[:, 2]) & (lb[:, 3] >= rb[:, 3]))
        elif predicate in ("st_within", "st_coveredBy"):
            env = ((rb[:, 0] <= lb[:, 0]) & (rb[:, 1] <= lb[:, 1])
                   & (rb[:, 2] >= lb[:, 2]) & (rb[:, 3] >= lb[:, 3]))
        elif predicate == "st_equals":
            env = (lb == rb).all(axis=1)
        else:
            env = ((lb[:, 0] <= rb[:, 2]) & (rb[:, 0] <= lb[:, 2])
                   & (lb[:, 1] <= rb[:, 3]) & (rb[:, 1] <= lb[:, 3]))
        verdicts = np.zeros(nu, dtype=bool)
        undecided = np.flatnonzero(env).tolist()
        # tier 2: vertex-location screens (sound accept/reject only)
        if predicate == "st_intersects" and undecided:
            locs = _screen_vertex_locations(undecided, left, right)
            still = []
            for i, loc in zip(undecided, locs):
                if len(loc) and loc.max() >= 0:  # a vertex of b in/on a
                    verdicts[i] = True
                else:
                    still.append(i)
            if still:  # reverse direction: vertices of a in/on b
                locs = _screen_vertex_locations(still, right, left)
                undecided = []
                for i, loc in zip(still, locs):
                    if len(loc) and loc.max() >= 0:
                        verdicts[i] = True
                    else:
                        undecided.append(i)
            else:
                undecided = []
        elif predicate in ("st_contains", "st_covers",
                           "st_within", "st_coveredBy") and undecided:
            flip = predicate in ("st_within", "st_coveredBy")
            cont, part = (right, left) if flip else (left, right)
            locs = _screen_vertex_locations(undecided, cont, part)
            undecided = [
                i for i, loc in zip(undecided, locs)
                if not (len(loc) and loc.min() == -1)]  # exterior vertex
        # tier 3: exact DE-9IM for the undecided remainder
        for i in undecided:
            verdicts[i] = bool(fn(left[i], right[i]))
        out = np.zeros(n, dtype=bool)
        ok = codes >= 0
        out[ok] = verdicts[codes[ok]]
        return pd.Series(out)
    return refine


# ------------------------------------------------------------- public API

# frame-level memo: when the SAME region DataFrame object is joined
# repeatedly (dim tables held by an application, bench rounds), the
# collect + local-relation build (two driver round-trips, ~0.5 s of
# fixed job overhead on a busy session) is skipped entirely. WeakKey so
# dropped frames release their covers.
_DRIVER_COVER_FRAMES: "weakref.WeakKeyDictionary[DataFrame, dict]" = \
    weakref.WeakKeyDictionary()


def _driver_cover_explode(regions: DataFrame, region_geom: str,
                          res: int) -> tuple[DataFrame, bool]:
    """``_explode_cover`` of a TO-BE-BROADCAST region side, computed on
    the driver. Returns ``(frame, all_rect)``.

    Scale contract: callers reach this only with ``broadcast_regions=
    True``, i.e. they have already asserted the frame fits in driver/
    executor memory — Spark's BroadcastExchange performs exactly this
    collect itself to build the broadcast relation, so no new memory or
    distribution assumption is introduced. The result is a local
    relation with the same columns as the distributed explode.
    ``all_rect`` is True when every non-null geometry is an axis-aligned
    rectangle, in which case the envelope columns are not merely
    necessary but EXACT and the caller may skip the Python refine stage
    altogether."""
    frame_memo = _DRIVER_COVER_FRAMES.setdefault(regions, {})
    cached = frame_memo.get((region_geom, res))
    if cached is not None:
        return cached
    all_rect = True
    out_rows = []
    for row in regions.collect():
        d = row.asDict()
        v = d[region_geom]
        cells, env, rect = region_cover(None if v is None else bytes(v), res)
        all_rect = all_rect and rect
        envd = {f"__{b}__": e for b, e in zip(_ENV, env)}
        for cell, interior in cells:
            out_rows.append({**d, "__cell__": cell, "__int__": interior,
                             **envd})
    schema = StructType(list(regions.schema.fields)
                        + [StructField("__cell__", LongType()),
                           StructField("__int__", BooleanType())]
                        + [StructField(f"__{b}__", DoubleType())
                           for b in _ENV])
    out = regions.sparkSession.createDataFrame(out_rows, schema)
    frame_memo[(region_geom, res)] = (out, all_rect)
    return out, all_rect


def spatial_join(points: DataFrame, regions: DataFrame, *,
                 predicate: str = "st_contains",
                 point_lon: str = "lon", point_lat: str = "lat",
                 region_geom: str = "geom",
                 res: int = PARTITION_RES,
                 broadcast_regions: bool | None = None,
                 salt: int | None = None) -> DataFrame:
    """Point-in-region spatial join.

    ``predicate(region, point)`` for st_contains/st_covers/st_intersects;
    st_within is interpreted as within(point, region). The point side keeps
    its partitioning when regions broadcast (zero shuffle of the big side).

    ``salt``: duplicate each region row into ``salt`` copies and scatter
    points across them before the equi-join — explicit skew spreading, the
    reference's shard strategy (ShardStrategy.scala:42-80). Prefer AQE
    skew-join; use salt for pathological hot cells.
    """
    op = predicate.removeprefix("st_")
    if "I" not in gp.POINT_LOCATIONS.get(op, ""):
        raise ValueError(f"unsupported point-join predicate {predicate}")
    from geomesa_spark.cells.native import cell_expr
    pts = points.withColumn("__cell__",
                            cell_expr(point_lon, point_lat, res))
    if broadcast_regions:
        # Explicit-broadcast build side: BroadcastExchange collects this
        # frame to the driver regardless, so computing the cover cells
        # DURING that collect costs the same memory while deleting an
        # entire Python-worker stage (pandas-UDF explode) that otherwise
        # re-executes inside every query's broadcast build — measured
        # ~0.9 s of the 1.4 s sf0.1 point-join wall. The distributed
        # explode below remains the path for large (shuffled) region sides.
        reg, all_rect = _driver_cover_explode(regions, region_geom, res)
    else:
        reg, all_rect = _explode_cover(regions, region_geom, res), False
    aux = ["__cell__", "__int__", *(f"__{b}__" for b in _ENV)]
    if salt and salt > 1:
        reg = reg.withColumn("__salt__", F.explode(F.array(
            *[F.lit(i) for i in range(salt)])))
        pts = pts.withColumn("__salt__", F.pmod(F.xxhash64(point_lon, point_lat),
                                                F.lit(salt)).cast("int"))
        join_keys = ["__cell__", "__salt__"]
        aux.append("__salt__")
    else:
        join_keys = ["__cell__"]
    if broadcast_regions:
        reg = F.broadcast(reg)
    joined = pts.join(reg, on=join_keys, how="inner")
    lon, lat = F.col(point_lon), F.col(point_lat)
    env = [F.col(f"__{b}__") for b in _ENV]
    if all_rect:
        # every broadcast geometry is an axis-aligned rectangle: the
        # exact predicate IS a coordinate comparison against the stored
        # envelope — the whole join evaluates in whole-stage codegen with
        # NO Python refine stage in the plan
        return joined.where(gp.rect_column(op, *env, lon, lat)).drop(*aux)
    # closed-interval envelope containment is NECESSARY for every
    # accepted point location (I and B are both inside the closed
    # envelope), so this whole-stage-codegen filter rejects the bulk of
    # the cell-join candidates before they reach the Arrow/Python refine
    # stage — same discipline as the pair-join's _pair_bbox_condition.
    # The isNull arm only keeps Catalyst from inferring not-null filters
    # on the envelope, which it would push below the explode as a second
    # cover-UDF evaluation; null regions still fail the refine.
    joined = joined.where(env[0].isNull()
                          | gp.rect_column("intersects", *env, lon, lat))
    # a point joined through an INTERIOR cover cell is provably at
    # location 'I', which every join predicate accepts: accept without
    # the exact refine, and null the WKB argument so those rows cross the
    # Arrow boundary payload-free and skip the ray casting
    interior = F.col("__int__")
    refine = udf_refine_point(op)(
        lon, lat, F.when(interior, F.lit(None)).otherwise(F.col(region_geom)))
    return joined.where(F.when(interior, F.lit(True)).otherwise(refine)) \
        .drop(*aux)


def _pair_bbox_condition(predicate: str):
    """JVM-side envelope necessary-condition for a geometry-pair
    predicate, over the exploded cover's envelope columns."""
    lx0, ly0, lx1, ly1 = (F.col(f"__l{b}__") for b in _ENV)
    rx0, ry0, rx1, ry1 = (F.col(f"__r{b}__") for b in _ENV)
    if predicate in ("st_contains", "st_covers"):
        return (lx0 <= rx0) & (ly0 <= ry0) & (lx1 >= rx1) & (ly1 >= ry1)
    if predicate in ("st_within", "st_coveredBy"):
        return (rx0 <= lx0) & (ry0 <= ly0) & (rx1 >= lx1) & (ry1 >= ly1)
    if predicate == "st_equals":
        return (lx0 == rx0) & (ly0 == ry0) & (lx1 == rx1) & (ly1 == ry1)
    # intersects-family (touches included: <=/>= admits shared boundaries)
    return (lx0 <= rx1) & (rx0 <= lx1) & (ly0 <= ry1) & (ry0 <= ly1)


def _pair_candidates(left: DataFrame, right: DataFrame, *,
                     predicate: str, left_geom: str, right_geom: str,
                     res: int,
                     broadcast_right: bool | None = None) -> DataFrame:
    """Candidate pairs of the cell equi-join AFTER the JVM envelope
    pre-reject but BEFORE the exact Python refine — exposed so tests can
    assert the exact-predicate workload is ≪ n² on dense cells."""
    lf = _explode_cover(left, left_geom, res, tag="l")
    rf = _explode_cover(right, right_geom, res, tag="r")
    if broadcast_right:
        rf = F.broadcast(rf)
    # the isNull arms keep Catalyst from inferring not-null filters on
    # the envelopes, which it would push below each explode as a second
    # cover-UDF evaluation (as in spatial_join); null geometries still
    # fail the refine
    cond = (F.col("__lcell__") == F.col("__rcell__")) \
        & (F.col("__lxmin__").isNull() | F.col("__rxmin__").isNull()
           | _pair_bbox_condition(predicate))
    return lf.join(rf, on=cond, how="inner")


_PAIR_AUX_COLS = [f"__{side}{c}__" for side in "lr"
                  for c in ("cell", "int", *_ENV)]


def spatial_join_pairs(left: DataFrame, right: DataFrame, *,
                       predicate: str = "st_intersects",
                       left_geom: str = "geom", right_geom: str = "geom_r",
                       left_id: str = "left_id", right_id: str = "right_id",
                       res: int = PARTITION_RES,
                       broadcast_right: bool | None = None) -> DataFrame:
    """General geometry-geometry join: both sides explode to cover cells,
    equi-join on cell WITH an envelope pre-reject folded into the JVM
    join condition (whole-stage codegen — rejected pairs never reach
    Python), exact refine once per distinct surviving pair, dedupe by
    (left_id, right_id) — duplicates arise exactly when both geometries
    span multiple shared cells (gridIdMapper duplication semantics,
    RelationUtils.scala:35-53). On a dense cell with n geometries the
    exact-predicate workload is O(envelope-overlapping pairs), the same
    bound the reference's in-cell sweepline achieves
    (GeoMesaJoinRelation.sweeplineJoin:41-55, OverlapAction:25-41)."""
    joined = _pair_candidates(left, right, predicate=predicate,
                              left_geom=left_geom, right_geom=right_geom,
                              res=res, broadcast_right=broadcast_right)
    refine = udf_refine_pairs(predicate)
    out = joined.where(refine(F.col(left_geom), F.col(right_geom))) \
                .drop(*_PAIR_AUX_COLS) \
                .dropDuplicates([left_id, right_id])
    return out
