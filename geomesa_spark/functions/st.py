"""The st_* Spark SQL function surface as Arrow-vectorized pandas UDFs.

One UDF per function in the reference's geomesa-spark-jts registration
(/root/reference/geomesa-spark/geomesa-spark-jts/src/main/scala/org/
locationtech/geomesa/spark/jts/udf/{GeometricConstructorFunctions,
GeometricAccessorFunctions,GeometricCastFunctions,GeometricOutputFunctions,
GeometricProcessingFunctions,SpatialRelationFunctions}.scala and
geomesa-spark-sql GeometricDistanceFunctions.scala), same names, same
semantics quirks:

- geometries travel as WKB BinaryType columns (the reference's UDTs are
  WKB structs, AbstractGeometryUDT.scala:29-42);
- null propagation on any null input (SQLFunctionHelper.nullableUDF);
- st_x / st_y return FloatType, null for non-points
  (GeometricAccessorFunctions.scala:75-82);
- st_geometryN is 1-based, st_pointN wraps negative indices;
- st_isClosed returns true for non-lines;
- st_aggregateDistanceSphere([a, b]) = sphere distance of first two
  (SpatialRelationFunctions.scala:52).

Batches memoize WKB parsing per distinct value, so literal arguments
(constant folded by Catalyst into a repeated column) parse once per batch —
the analog of the reference's GeometryLiteral folding rule
(rules/GeometryLiteralRules.scala:22-42).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
)

from geomesa_spark.geo import io as gio
from geomesa_spark.geo import geohash as gh
from geomesa_spark.geo import measures as gm
from geomesa_spark.geo import predicates as gp
from geomesa_spark.geo import process as gproc
from geomesa_spark.geo.model import (
    GeometryCollection,
    LineString,
    MultiLineString,
    MultiPoint,
    MultiPolygon,
    Point,
    Polygon,
    geometry_n,
    num_geometries,
)


# --------------------------------------------------------------- plumbing

def _parse_batch(series: pd.Series) -> list:
    """WKB series -> geometry list, memoized per distinct blob (literals
    repeat per row; parse once)."""
    memo: dict[bytes, object] = {}
    out = []
    for v in series:
        if v is None:
            out.append(None)
            continue
        key = bytes(v)
        g = memo.get(key)
        if g is None:
            g = gio.from_wkb(key)
            memo[key] = g
        out.append(g)
    return out


_DECODERS = {
    "g": _parse_batch,                       # WKB -> Geometry
    "v": lambda s: list(s),                  # raw passthrough
}


def _udf(sig: str, ret, fn, *, skip_null: bool = True):
    """Build a pandas UDF. ``sig``: one char per arg ('g' geometry, 'v' raw).
    ``ret``: Spark type, or 'g' for WKB-encoded geometry output."""
    ret_type = BinaryType() if ret == "g" else ret

    def kernel(*cols: pd.Series) -> pd.Series:
        decoded = [_DECODERS[k](c) for k, c in zip(sig, cols)]
        n = len(decoded[0]) if decoded else 0
        out = []
        for i in range(n):
            args = [d[i] for d in decoded]
            if skip_null and any(a is None for a in args):
                out.append(None)
                continue
            try:
                r = fn(*args)
            except (ValueError, ZeroDivisionError):
                # expected parse/degenerate-input cases null out (the
                # reference's nullableUDF contract); anything else is a
                # kernel bug and must SURFACE, not masquerade as null
                r = None
            if ret == "g":
                r = gio.to_wkb(r) if r is not None else None
            out.append(r)
        if isinstance(ret_type, (DoubleType, FloatType)):
            # nullable extension dtype: a None result must reach Spark as
            # NULL, not NaN (plain float64 ndarrays erase the distinction
            # — the reference's nullableUDF contract returns null,
            # SQLFunctionHelper.scala:22-53)
            return pd.Series(pd.array(
                out, dtype="Float64" if isinstance(ret_type, DoubleType)
                else "Float32"))
        return pd.Series(out, dtype=object)

    k = pandas_udf(ret_type)(kernel)
    k._st_sig = sig  # arity/arg-kind metadata for the null-audit test
    return k


# ------------------------------------------------- vectorized fast paths

def _const_wkb(series: pd.Series):
    """The single distinct non-null WKB blob of a batch, or None."""
    vals = {bytes(v) for v in series if v is not None}
    return vals.pop() if len(vals) == 1 else None


def _fast_predicate(name: str, a: pd.Series, b: pd.Series):
    """Vectorized evaluation when one side is batch-constant (a folded
    literal region — the common ``WHERE st_contains(<wkt literal>, geom)``
    shape) and the other side decodes as plain points; returns None when
    inapplicable (caller falls back to the per-row kernel). Exactness: the
    point-location kernel and accepted-location table of
    ``geo.predicates``, shared with the join refine, which the
    join-vs-cartesian oracles already pin down."""
    op = name.removeprefix("st_")
    if op not in gp.POINT_LOCATIONS:
        return None
    # the literal is the region: op(region, point) for contains/covers,
    # within(point, region), either side for the symmetric predicates
    sides = "a" if op in ("contains", "covers") else \
        "b" if op == "within" else "ab"
    for lit_side, col in (("a", b), ("b", a)):
        if lit_side not in sides:
            continue
        blob = _const_wkb(a if lit_side == "a" else b)
        if blob is None:
            continue
        vals = list(col)
        x, y = gio.points_from_wkb(vals)
        null = np.array([v is None for v in vals])
        if np.any(np.isnan(x) & ~null):  # non-point rows: fall back
            continue
        loc = gp.locate_points_in_geometry(x, y, gio.from_wkb(blob))
        out = pd.Series(gp.accepts_locations(op, loc), dtype=object)
        out[null | a.isna().to_numpy() | b.isna().to_numpy()] = None
        return out
    return None


def _predicate_udf(name: str, scalar_fn):
    def kernel(a: pd.Series, b: pd.Series) -> pd.Series:
        fast = _fast_predicate(name, a, b)
        if fast is not None:
            return fast
        ga, gb = _parse_batch(a), _parse_batch(b)
        out = []
        for x, y in zip(ga, gb):
            if x is None or y is None:
                out.append(None)
                continue
            try:
                out.append(scalar_fn(x, y))
            except (ValueError, ZeroDivisionError):
                out.append(None)
        return pd.Series(out, dtype=object)
    k = pandas_udf(BooleanType())(kernel)
    k._st_sig = "gg"
    return k


def _st_makepoint_udf():
    @pandas_udf(BinaryType())
    def st_makepoint(x: pd.Series, y: pd.Series) -> pd.Series:
        out = pd.Series(gio.points_to_wkb(x.to_numpy(dtype=np.float64),
                                          y.to_numpy(dtype=np.float64)),
                        dtype=object)
        # null-in -> null-out: the float64 conversion turns None into
        # NaN, which would otherwise encode as POINT(nan nan)
        null = (x.isna() | y.isna()).to_numpy()
        if null.any():
            out[null] = None
        return out
    st_makepoint._st_sig = "vv"
    return st_makepoint


def _st_distancesphere_udf():
    @pandas_udf(DoubleType())
    def st_distancesphere(a: pd.Series, b: pd.Series) -> pd.Series:
        x1, y1 = gio.points_from_wkb(list(a))
        x2, y2 = gio.points_from_wkb(list(b))
        bad = np.isnan(x1) | np.isnan(x2)
        # non-point fallback: first coordinate, like JTS getCoordinate
        if np.any(bad):
            ga = _parse_batch(a)
            gb = _parse_batch(b)
            for i in np.nonzero(bad)[0]:
                ca = _first_coord(ga[i])
                cb = _first_coord(gb[i])
                if ca is None or cb is None:
                    continue
                x1[i], y1[i] = ca
                x2[i], y2[i] = cb
        d = gm.haversine_m(x1, y1, x2, y2)
        # nullable dtype: unresolvable inputs (nulls, empties) must reach
        # Spark as NULL, not NaN
        return pd.Series(pd.array(
            np.where(np.isnan(x1) | np.isnan(x2), np.nan, d),
            dtype="Float64"))
    st_distancesphere._st_sig = "gg"
    return st_distancesphere


def _first_coord(g):
    if g is None:
        return None
    from geomesa_spark.geo.measures import _all_points
    pts = _all_points(g)
    return (float(pts[0, 0]), float(pts[0, 1])) if len(pts) else None


# ------------------------------------------------------ scalar semantics

def _boundary(g):
    if isinstance(g, Point) or isinstance(g, MultiPoint):
        return GeometryCollection([])
    if isinstance(g, LineString):
        pts = [Point(x, y) for x, y in gp._line_boundary_points(g)]
        return MultiPoint(pts)
    if isinstance(g, MultiLineString):
        pts = [Point(x, y) for x, y in gp._line_boundary_points(g)]
        return MultiPoint(pts)
    if isinstance(g, Polygon):
        rings = g.rings()
        if len(rings) == 1:
            return LineString(rings[0])
        return MultiLineString([LineString(r) for r in rings])
    if isinstance(g, MultiPolygon):
        rings = [r for p in g.parts for r in p.rings()]
        return MultiLineString([LineString(r) for r in rings])
    return GeometryCollection([])


def _is_simple(g) -> bool:
    if isinstance(g, (Point, Polygon, MultiPolygon)):
        return True
    if isinstance(g, MultiPoint):
        pts = [(p.x, p.y) for p in g.parts]
        return len(pts) == len(set(pts))
    chains = gp._linework(g)
    # self-intersection scan (interior crossings disallowed)
    segs = [s for c in chains for s in gp._segments(c)]
    for i in range(len(segs)):
        for j in range(i + 1, len(segs)):
            kind, data = gp._seg_intersection(*segs[i], *segs[j])
            if kind == "overlap":
                return False
            if kind == "point":
                ends = {segs[i][0], segs[i][1], segs[j][0], segs[j][1]}
                if tuple(data) not in ends:
                    return False
    return True


def _is_valid(g) -> bool:
    if isinstance(g, (Polygon, MultiPolygon)):
        for p in ([g] if isinstance(g, Polygon) else g.parts):
            for r in p.rings():
                if len(r) < 4:
                    return False
        return _is_simple_rings(g)
    return True


def _is_simple_rings(g) -> bool:
    for p in ([g] if isinstance(g, Polygon) else g.parts):
        for r in p.rings():
            if not _is_simple(LineString(r[:-1])):
                return False
    return True


def _num_points(g) -> int:
    if isinstance(g, Point):
        return 0 if g.is_empty() else 1
    if isinstance(g, LineString):
        return len(g.coords)
    if isinstance(g, Polygon):
        return sum(len(r) for r in g.rings())
    return sum(_num_points(p) for p in g.parts)


def _point_n(g, n):
    if not isinstance(g, LineString):
        return None
    m = len(g.coords)
    if n > 0 and n <= m:
        i = n - 1
    elif n < 0 and n + m >= 0:
        i = n + m
    else:
        return None
    return Point(g.coords[i, 0], g.coords[i, 1])


def _cast(g, cls, name: str):
    if isinstance(g, cls):
        return g
    raise ValueError(f"cannot cast {g.typ} to {name}")


def _make_line(parts) -> LineString:
    pts = [gio.from_wkb(bytes(p)) for p in parts]
    return LineString([[p.x, p.y] for p in pts])


def _agg_distance_sphere(arr) -> float:
    a = gio.from_wkb(bytes(arr[0]))
    b = gio.from_wkb(bytes(arr[1]))
    return float(gm.haversine_m(a.x, a.y, b.x, b.y))


def _agg_distance_spheroid(arr) -> float:
    a = gio.from_wkb(bytes(arr[0]))
    b = gio.from_wkb(bytes(arr[1]))
    return float(gm.vincenty_m(a.x, a.y, b.x, b.y)[0])


def _geom_from_geohash(h, prec):
    x0, y0, x1, y1 = gh.decode_bbox(h)
    return Polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])


def _box2d(ll: Point, ur: Point) -> Polygon:
    return Polygon([[ll.x, ll.y], [ur.x, ll.y], [ur.x, ur.y], [ll.x, ur.y],
                    [ll.x, ll.y]])


def _bbox(x0, y0, x1, y1) -> Polygon:
    # st_makeBBOX adds waypoints along edges (GeometryUtils.addWayPointsToBBOX)
    # so geodesic ops behave; we subdivide each edge once per 2 degrees, capped.
    def edge(ax, ay, bx, by):
        n = min(30, max(1, int(max(abs(bx - ax), abs(by - ay)) / 2)))
        return [[ax + (bx - ax) * i / n, ay + (by - ay) * i / n] for i in range(n)]
    ring = (edge(x0, y0, x1, y0) + edge(x1, y0, x1, y1)
            + edge(x1, y1, x0, y1) + edge(x0, y1, x0, y0) + [[x0, y0]])
    return Polygon(ring)


def _coord_dim(g) -> int:
    return 3 if (isinstance(g, Point) and g.m is not None) else 2


# ------------------------------------------------------------ registration

def build_udfs() -> dict:
    """Construct all st_* UDFs (name -> callable usable in DataFrame DSL)."""
    B, S, D, I, BO, FL = (BinaryType(), StringType(), DoubleType(),
                          IntegerType(), BooleanType(), FloatType())
    u: dict = {}

    # constructors (GeometricConstructorFunctions.scala:26-81)
    u["st_geomFromGeoHash"] = _udf("vv", "g", _geom_from_geohash)
    u["st_box2DFromGeoHash"] = u["st_geomFromGeoHash"]
    u["st_geomFromGeoJSON"] = _udf("v", "g", gio.from_geojson)
    u["st_geomFromWKT"] = _udf("v", "g", gio.from_wkt)
    u["st_geomFromText"] = u["st_geomFromWKT"]
    u["st_geometryFromText"] = u["st_geomFromWKT"]
    u["st_geomFromWKB"] = _udf("v", "g", lambda b: gio.from_wkb(bytes(b)))
    u["st_lineFromText"] = _udf("v", "g",
                                lambda t: _cast(gio.from_wkt(t), LineString, "LineString"))
    u["st_makeBox2D"] = _udf("gg", "g", _box2d)
    u["st_makeBBOX"] = _udf("vvvv", "g", _bbox)
    u["st_makePolygon"] = _udf("g", "g", lambda l: Polygon(l.coords))
    u["st_makePoint"] = _st_makepoint_udf()
    u["st_point"] = u["st_makePoint"]
    u["st_makeLine"] = _udf("v", "g", _make_line)
    u["st_makePointM"] = _udf("vvv", "g", lambda x, y, m: Point(x, y, m))
    u["st_mLineFromText"] = _udf("v", "g",
                                 lambda t: _cast(gio.from_wkt(t), MultiLineString, "MultiLineString"))
    u["st_mPointFromText"] = _udf("v", "g",
                                  lambda t: _cast(gio.from_wkt(t), MultiPoint, "MultiPoint"))
    u["st_mPolyFromText"] = _udf("v", "g",
                                 lambda t: _cast(gio.from_wkt(t), MultiPolygon, "MultiPolygon"))
    u["st_pointFromGeoHash"] = _udf("vv", "g",
                                    lambda h, p: Point(*gh.decode_point(h)))
    u["st_pointFromText"] = _udf("v", "g",
                                 lambda t: _cast(gio.from_wkt(t), Point, "Point"))
    u["st_pointFromWKB"] = _udf("v", "g",
                                lambda b: _cast(gio.from_wkb(bytes(b)), Point, "Point"))
    u["st_polygon"] = u["st_makePolygon"]
    u["st_polygonFromText"] = _udf("v", "g",
                                   lambda t: _cast(gio.from_wkt(t), Polygon, "Polygon"))

    # accessors (GeometricAccessorFunctions.scala:20-82)
    u["st_boundary"] = _udf("g", "g", _boundary)
    u["st_coordDim"] = _udf("g", I, _coord_dim)
    u["st_dimension"] = _udf("g", I, lambda g: g.dimension())
    u["st_envelope"] = _udf("g", "g", gm.envelope)
    u["st_convexHull"] = _udf("g", "g", gm.convex_hull)
    u["st_exteriorRing"] = _udf("g", "g",
                                lambda g: g.exterior() if isinstance(g, Polygon) else None,
                                skip_null=True)
    u["st_geometryN"] = _udf("gv", "g",
                             lambda g, n: geometry_n(g, n)
                             if 0 < n <= num_geometries(g) else None)
    u["st_geometryType"] = _udf("g", S, lambda g: g.typ)
    u["st_interiorRingN"] = _udf(
        "gv", "g",
        lambda g, n: LineString(g.holes[n - 1])
        if isinstance(g, Polygon) and 0 < n <= len(g.holes) else None)
    u["st_isClosed"] = _udf("g", BO,
                            lambda g: g.is_closed()
                            if isinstance(g, (LineString, MultiLineString))
                            else True)
    u["st_isCollection"] = _udf("g", BO,
                                lambda g: isinstance(g, GeometryCollection))
    u["st_isEmpty"] = _udf("g", BO, lambda g: g.is_empty())
    u["st_isRing"] = _udf("g", BO,
                          lambda g: (g.is_closed() and _is_simple(g))
                          if isinstance(g, (LineString, MultiLineString))
                          else _is_simple(g))
    u["st_isSimple"] = _udf("g", BO, _is_simple)
    u["st_isValid"] = _udf("g", BO, _is_valid)
    u["st_numGeometries"] = _udf("g", I, num_geometries)
    u["st_numPoints"] = _udf("g", I, _num_points)
    u["st_pointN"] = _udf("gv", "g", _point_n)
    u["st_x"] = _udf("g", FL, lambda g: g.x if isinstance(g, Point) else None)
    u["st_y"] = _udf("g", FL, lambda g: g.y if isinstance(g, Point) else None)

    # casts (GeometricCastFunctions.scala:18-23)
    u["st_castToPoint"] = _udf("g", "g", lambda g: _cast(g, Point, "Point"))
    u["st_castToPolygon"] = _udf("g", "g", lambda g: _cast(g, Polygon, "Polygon"))
    u["st_castToLineString"] = _udf("g", "g",
                                    lambda g: _cast(g, LineString, "LineString"))
    u["st_castToGeometry"] = _udf("g", "g", lambda g: g)
    u["st_byteArray"] = _udf("v", B, lambda s: s.encode("utf-8"))

    # outputs (GeometricOutputFunctions.scala:28-64)
    u["st_asBinary"] = _udf("g", B, gio.to_wkb)
    u["st_asGeoJSON"] = _udf("g", S, gio.to_geojson)
    u["st_asLatLonText"] = _udf("g", S,
                                lambda g: gproc.to_lat_lon_text(g)
                                if isinstance(g, Point) else None)
    u["st_asText"] = _udf("g", S, gio.to_wkt)
    u["st_geoHash"] = _udf("gv", S,
                           lambda g, prec: gh.encode(g.x, g.y, prec)
                           if isinstance(g, Point)
                           else gh.encode(*_centroid_xy(g), prec))

    # processing (GeometricProcessingFunctions.scala:41-72)
    u["st_antimeridianSafeGeom"] = _udf("g", "g", gproc.antimeridian_safe)
    u["st_idlSafeGeom"] = u["st_antimeridianSafeGeom"]
    u["st_bufferPoint"] = _udf("gv", "g",
                               lambda g, d: gproc.buffer_point(g, float(d)))

    # spatial relations (SpatialRelationFunctions.scala:24-59)
    u["st_translate"] = _udf("gvv", "g",
                             lambda g, dx, dy: gm.translate(g, float(dx), float(dy)))
    for name, fn in [("st_contains", gp.contains), ("st_covers", gp.covers),
                     ("st_crosses", gp.crosses), ("st_disjoint", gp.disjoint),
                     ("st_equals", gp.equals), ("st_intersects", gp.intersects),
                     ("st_overlaps", gp.overlaps), ("st_touches", gp.touches),
                     ("st_within", gp.within)]:
        u[name] = _predicate_udf(name, fn)
    u["st_relate"] = _udf("gg", S, gp.relate)
    u["st_relateBool"] = _udf("ggv", BO, gp.relate_bool)
    u["st_area"] = _udf("g", D, gm.area)
    u["st_centroid"] = _udf("g", "g", gm.centroid)
    u["st_closestPoint"] = _udf("gg", "g", gm.closest_point)
    u["st_distance"] = _udf("gg", D, gm.distance)
    u["st_distanceSphere"] = _st_distancesphere_udf()
    u["st_length"] = _udf("g", D, gm.length)
    u["st_aggregateDistanceSphere"] = _udf("v", D, _agg_distance_sphere)
    u["st_lengthSphere"] = _udf("g", D, gm.length_sphere)
    u["st_intersection"] = _udf("gg", "g", gproc.intersection)
    u["st_difference"] = _udf("gg", "g", gproc.difference)

    # spark-sql module extras (GeometricDistanceFunctions.scala:21-43)
    u["st_distanceSpheroid"] = _udf(
        "gg", D, lambda a, b: float(gm.vincenty_m(*_centroid_like(a, b))[0]))
    u["st_aggregateDistanceSpheroid"] = _udf("v", D, _agg_distance_spheroid)
    u["st_lengthSpheroid"] = _udf("g", D, gm.length_spheroid)
    u["st_transform"] = _udf("gvv", "g", gproc.transform)

    return u


def _centroid_xy(g):
    c = gm.centroid(g)
    return c.x, c.y


def _centroid_like(a, b):
    ca = _first_coord(a)
    cb = _first_coord(b)
    return ca[0], ca[1], cb[0], cb[1]


_UDFS_CACHE: dict | None = None


def get_udfs() -> dict:
    global _UDFS_CACHE
    if _UDFS_CACHE is None:
        _UDFS_CACHE = build_udfs()
    return _UDFS_CACHE


def register_all(spark: SparkSession) -> dict:
    """Register every st_* function for SQL use; returns the UDF dict for
    DataFrame-DSL use (mirror of the reference's dual SQL/DSL surface,
    jts/package.scala:23-27 + DataFrameFunctions.scala)."""
    udfs = get_udfs()
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return udfs
