"""Driver-side planning: spatial predicate -> cell-cover partition filter.

The reference's planning pipeline (ECQL -> FilterStrategy -> SFC ranges ->
backend scans; /root/reference/geomesa-index-api/.../planning/
QueryPlanner.scala, FilterSplitter.scala, Z2IndexKeySpace.scala:75-124)
collapses, in Spark, to: extract the query geometry on the driver, compute
its cell cover, and prepend a partition-column IN-filter that Catalyst/
parquet partition pruning handles natively. The exact predicate then refines
the over-selecting cover downstream (strict-bbox semantics,
Z2IndexKeySpace.useFullFilter:126-138).

One function computes every Z2 cover, ``cell_cover_classified``: the bbox
cover's cell rectangles go through one vectorized cell-vs-geometry kernel
(``geo.predicates.locate_rects_in_geometry``), which yields the
reference's two range classes at once (Z2IndexKeySpace.getRangeBytes:
89-104) — interior cells, contained ranges whose rows skip the exact
filter, and boundary cells, intersecting ranges that keep it. Exterior
cells are dropped.

Short-circuits mirrored from the reference (Z2IndexKeySpace.scala:84-87,
FilterHelper.isFilterWholeWorld:44-51):
- query disjoint from the world -> empty scan,
- whole-world query -> no partition filter at all,
- cover exceeding the range budget -> coarsen, never fail the query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from geomesa_spark.cells import PARTITION_RES, bbox_cover, cell_bounds
from geomesa_spark.geo.model import Geometry
from geomesa_spark.geo.predicates import locate_rects_in_geometry

_WORLD_BOUNDS = (-180.0, -90.0, 180.0, 90.0)
DEFAULT_MAX_COVER = 4096  # range budget, analog of ScanRangesTarget


def cell_cover_classified(geom: Geometry, res: int = PARTITION_RES,
                          max_cells: int = DEFAULT_MAX_COVER
                          ) -> tuple[np.ndarray | None, np.ndarray | None]:
    """Cells at ``res`` whose closed rectangle intersects ``geom``, split
    into INTERIOR cells (every point of the rectangle locates 'I': no
    exact refine needed) and boundary cells — the reference's contained
    vs intersecting ranges (Z2IndexKeySpace.getRangeBytes). Tighter than
    the bbox cover for polygons and lines (GeometryUtils.bounds +
    Z2IndexKeySpace:89-95); over-selects, never under-selects.

    Returns (cells, interior_mask); (None, None) means "whole world, do
    not filter", empty cells mean disjoint."""
    if geom is None or geom.is_empty():
        return np.empty(0, dtype=np.int64), np.zeros(0, dtype=bool)
    x0, y0, x1, y1 = geom.bounds()
    if not np.isfinite(x0):
        return np.empty(0, dtype=np.int64), np.zeros(0, dtype=bool)
    if (x0 <= _WORLD_BOUNDS[0] and y0 <= _WORLD_BOUNDS[1]
            and x1 >= _WORLD_BOUNDS[2] and y1 >= _WORLD_BOUNDS[3]):
        return None, None  # whole-world: scan everything
    use_res = res
    while True:
        try:
            cover = bbox_cover(x0, y0, x1, y1, res=use_res, max_cells=max_cells)
            break
        except ValueError:
            use_res -= 1  # coarsen instead of failing (budget semantics)
            if use_res < 0:
                return None, None
    if use_res != res:
        # caller's partition column is at ``res``; recompute at res from
        # the coarse cells' bounds (still a valid over-selection). The
        # re-expansion is by construction >= the cover the budget just
        # rejected, so it must honor the budget too: past one coarsening
        # step of slack (4x), a six-figure isin literal list costs more
        # than scanning + exact refine — return None (no prune) instead
        # of defeating the ScanRangesTarget budget the ValueError enforces.
        if len(cover) << (2 * (res - use_res)) > 4 * max_cells:
            return None, None
        lo0, la0, lo1, la1 = cell_bounds(cover, use_res)
        cover = np.unique(np.concatenate([
            bbox_cover(a, b, c, d, res=res, max_cells=1 << 31)
            for a, b, c, d in zip(lo0, la0, lo1, la1)]))
    loc = locate_rects_in_geometry(*cell_bounds(cover, res), geom)
    return cover[loc >= 0], loc[loc >= 0] == 1


def cell_cover_of_geometry(geom: Geometry, res: int = PARTITION_RES,
                           max_cells: int = DEFAULT_MAX_COVER
                           ) -> np.ndarray | None:
    """The cells of ``cell_cover_classified``; None means "whole world,
    do not filter"."""
    return cell_cover_classified(geom, res=res, max_cells=max_cells)[0]


def partition_filter(df: DataFrame, col: str, values) -> DataFrame:
    """``df`` restricted to the partition values ``values`` of ``col``
    (a cell cover or an epoch-week set): None adds no filter, an empty
    set matches nothing, else an IN-list Catalyst turns into partition
    pruning."""
    if values is None:
        return df
    if len(values) == 0:
        return df.where(F.lit(False))
    return df.where(F.col(col).isin(sorted(int(v) for v in values)))


def prune_by_geometry(df: DataFrame, geom: Geometry, cell_col: str = "cell_prefix",
                      res: int = PARTITION_RES,
                      max_cells: int = DEFAULT_MAX_COVER) -> DataFrame:
    """Prepend the partition filter for a query geometry.

    With a parquet/Iceberg table partitioned by ``cell_col``, Catalyst turns
    the IN-list into partition pruning (the FS datastore's
    getIntersectingPartitions, SpatialScheme.scala:43-59).
    """
    return partition_filter(
        df, cell_col, cell_cover_of_geometry(geom, res=res, max_cells=max_cells))


def query_guard(geom: Geometry | None, *, allow_full_scan: bool = False) -> None:
    """Refuse planless full scans unless explicitly allowed (semantics of
    planning/guard/FullTableScanQueryGuard.scala)."""
    if geom is None and not allow_full_scan:
        raise ValueError(
            "query has no spatial bounds; pass allow_full_scan=True to permit "
            "a full-table scan")
