"""Cost-based strategy selection + attribute index.

Reference semantics re-derived (not ported):
- StrategyDecider: each index proposes a FilterStrategy with a primary
  (prunable) part and a cost = estimated rows x strategy multiplier from
  cached stats; the cheapest wins (/root/reference/geomesa-index-api/src/
  main/scala/org/locationtech/geomesa/index/planning/
  StrategyDecider.scala:79-191; multipliers in strategies/*.scala:
  spatial 1.2, attribute 1.0, full scan infinite unless allowed).
- Attribute index: a secondary key-ordered table (attribute value ->
  feature id) scanned by range, joined back to the record
  (/root/reference/geomesa-index-api/.../index/attribute/*).
- Cached stats: per-table row count + per-attribute cardinality
  (GeoMesaStats / StatsBasedEstimator).

Spark mapping: stats persist as one tiny JSON next to the table; the
attribute index is a parquet table of (value, id) SORTED by value, so an
equality/range predicate reaches the scan as row-group min/max skipping
(sargable), and the id set semi-joins back to the primary table. The
decider estimates selectivity of each candidate primary:

- spatial: |cover| / total cells at partition resolution,
- temporal: |weeks| / distinct weeks in the table,
- attribute equality/IN: 1 / cardinality (x len(values)),
- attribute range: the reference's default range fraction (conservative),

then cost = rows x fraction x multiplier; cheapest strategy prunes
first, the FULL original filter refines (so a wrong estimate can only
cost time, never correctness)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from geomesa_spark.cells import PARTITION_RES
from geomesa_spark.plans import filters as FL

SPATIAL_MULTIPLIER = 1.2   # spatial scans over-select cover cells
ATTRIBUTE_MULTIPLIER = 1.0
TEMPORAL_MULTIPLIER = 1.0
RANGE_FRACTION = 0.25      # conservative default for attr range filters
DEFAULT_ATTR_FRACTION = 0.5  # attr predicate without cardinality stats

STATS_FILE = "_stats.json"


# ------------------------------------------------------------------ stats

def compute_stats(df: DataFrame, *, attrs: list[str] = (),
                  week_col: str | None = None) -> dict:
    """Row count + approx per-attribute cardinality (the reference's
    cached GeoMesaStats). One pass, all aggregates partial/map-side."""
    aggs = [F.count("*").alias("__n__")]
    for a in attrs:
        aggs.append(F.approx_count_distinct(a).alias(f"card_{a}"))
    if week_col:
        aggs.append(F.approx_count_distinct(week_col).alias("__weeks__"))
    row = df.agg(*aggs).collect()[0]
    out = {"rows": row["__n__"],
           "cardinality": {a: row[f"card_{a}"] for a in attrs}}
    if week_col:
        out["weeks"] = row["__weeks__"]
    return out


def write_stats(stats: dict, table_path: str) -> None:
    with open(os.path.join(table_path, STATS_FILE), "w") as f:
        json.dump(stats, f)


def read_stats(table_path: str) -> dict | None:
    p = os.path.join(table_path, STATS_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


# -------------------------------------------------------- attribute index

def build_attribute_index(df: DataFrame, index_path: str, *,
                          column: str, id_col: str,
                          ts_col: str | None = None,
                          n_files: int = 8) -> None:
    """Secondary key-ordered table: (value, id) globally SORTED by value
    (repartitionByRange -> one sorted parquet file per range), so a
    value predicate prunes via row-group min/max statistics — the
    attribute index's key-ordered scan, Spark-native.

    With ``ts_col``, the index is TIERED (value, epoch_week, id) sorted
    by (value, epoch_week) — the reference's attribute key space with
    its z-time secondary tier (AttributeIndexKeySpace), so
    ``attr = x AND dtg DURING ...`` prunes on BOTH dimensions."""
    from geomesa_spark.cells.z3 import epoch_week_expr

    cols = [F.col(column).alias("value")]
    sort_cols = ["value"]
    if ts_col is not None:
        cols.append(epoch_week_expr(ts_col).alias("epoch_week"))
        sort_cols.append("epoch_week")
    cols.append(F.col(id_col).alias("id"))
    (df.select(*cols)
     .repartitionByRange(n_files, "value")
     .sortWithinPartitions(*sort_cols)
     .write.mode("overwrite").parquet(index_path))


def attribute_index_lookup(spark: SparkSession, index_path: str,
                           primary: DataFrame, *, id_col: str,
                           op: str, value,
                           weeks: set[int] | None = None) -> DataFrame:
    """Scan the secondary index with the pushed predicate, semi-join the
    id set back to the primary table (the reference's join-back).
    ``weeks`` intersects the time tier when the index carries one (built
    with ``ts_col``); on an untiered index it is ignored — sound, the
    full filter always refines."""
    idx = spark.read.parquet(index_path)
    c = F.col("value")
    preds = {"=": c == value, "<": c < value, "<=": c <= value,
             ">": c > value, ">=": c >= value}
    if op == "in":
        pred = c.isin(list(value))
    else:
        pred = preds[op]
    if weeks is not None and "epoch_week" in idx.columns:
        pred = pred & F.col("epoch_week").isin(sorted(weeks))
    ids = idx.where(pred).select(F.col("id").alias(id_col)).distinct()
    return primary.join(ids, id_col, "left_semi")


# --------------------------------------------------------------- id index

def build_id_index(df: DataFrame, index_path: str, *, id_col: str,
                   n_files: int = 8) -> None:
    """Key-ordered copy of the PRIMARY table sorted by feature id — the
    reference's IdIndex (full record keyed by id,
    /root/reference/geomesa-index-api/src/main/scala/org/locationtech/
    geomesa/index/index/id/IdIndex.scala), Spark-native: global range
    partitioning + in-file sort by id means an ``id =``/``id IN``
    predicate prunes parquet row groups via min/max stats and reads
    ~|ids| rows, not the table."""
    (df.repartitionByRange(n_files, id_col)
       .sortWithinPartitions(id_col)
       .write.mode("overwrite").parquet(index_path))


# ----------------------------------------------------------- the decider

@dataclass
class Strategy:
    kind: str            # spatial | temporal | attribute | full
    cost: float          # estimated rows scanned x multiplier
    attribute: str | None = None


def _positive_attrs(f):
    """The positive ``Attr`` leaves of ``f`` reachable through ``And``,
    in order. After ``_push_not`` a ``Not`` wraps only a leaf, which
    never bounds the scan; nor does an ``Or`` branch on its own."""
    def visit(node):
        if isinstance(node, FL.Attr):
            yield node
        elif isinstance(node, FL.And):
            for p in node.parts:
                yield from visit(p)
    return visit(FL._push_not(f))


def _attr_fraction(f, cardinality: dict) -> dict[str, float]:
    """Per-attribute selectivity fraction of the AND-reachable attribute
    predicates (OR branches don't bound the scan)."""
    out: dict[str, float] = {}
    for node in _positive_attrs(f):
        card = cardinality.get(node.column)
        if not card:
            continue
        if node.op == "=":
            frac = 1.0 / card
        elif node.op == "in":
            frac = min(1.0, len(node.value) / card)
        elif node.op in ("<", "<=", ">", ">="):
            frac = RANGE_FRACTION
        else:
            continue
        out[node.column] = min(out.get(node.column, 1.0), frac)
    return out


def _first_attr_pred(f, column: str):
    """The AND-reachable predicate on ``column`` usable against the
    secondary index (equality/IN/range), or None."""
    return next((node for node in _positive_attrs(f)
                 if node.column == column
                 and node.op in ("=", "in", "<", "<=", ">", ">=")), None)


def plan_with_strategy(spark: SparkSession, df: DataFrame, f, *,
                       stats: dict,
                       attr_indexes: dict[str, str] | None = None,
                       id_col: str = "id",
                       id_index: str | None = None,
                       cell_col: str = "cell_prefix",
                       week_col: str | None = None,
                       lon: str = "lon", lat: str = "lat",
                       ts: str = "ts",
                       res: int = PARTITION_RES,
                       allow_full_scan: bool = False) -> DataFrame:
    """Decide AND execute: when the decider picks the id strategy, scan
    the key-ordered id index (or push the id predicate on the primary)
    and refine; when it picks an attribute strategy with a built
    secondary index, prune by index lookup (semi-join-back) and refine
    with the FULL filter; otherwise fall through to the cell/week
    planner. A wrong cost estimate can only cost time — the exact refine
    always re-applies the whole filter."""
    # schema-only read (parquet footer); an unreadable index raises
    tiered = {col for col, p in (attr_indexes or {}).items()
              if "epoch_week" in spark.read.parquet(p).columns}
    s = decide(f, stats, res=res, allow_full_scan=allow_full_scan,
               tiered_attrs=tiered, id_col=id_col)
    if s.kind == "id":
        pred = _first_attr_pred(f, id_col)
        base = spark.read.parquet(id_index) if id_index else df
        c = F.col(id_col)
        pushed = c.isin(list(pred.value)) if pred.op == "in" \
            else c == pred.value
        # the id predicate reaches the parquet scan (sargable); on the
        # key-ordered id index that's a row-group-pruned point read
        return base.where(pushed).where(FL.to_refine_column(
            f, lon=lon, lat=lat, ts=ts))
    if s.kind in ("attribute", "attribute+time") and attr_indexes \
            and s.attribute in attr_indexes:
        pred = _first_attr_pred(f, s.attribute)
        if pred is not None:
            weeks = FL.extract_weeks(f) if s.kind == "attribute+time" \
                else None
            pruned = attribute_index_lookup(
                spark, attr_indexes[s.attribute], df, id_col=id_col,
                op=pred.op, value=pred.value, weeks=weeks)
            return pruned.where(FL.to_refine_column(
                f, lon=lon, lat=lat, ts=ts))
    return FL.plan_query(df, f, cell_col=cell_col, week_col=week_col,
                         lon=lon, lat=lat, ts=ts, res=res,
                         allow_full_scan=allow_full_scan or
                         s.kind == "full")


def decide(f, stats: dict, *, res: int = PARTITION_RES,
           allow_full_scan: bool = False,
           tiered_attrs: set[str] | None = None,
           id_col: str | None = None) -> Strategy:
    """Pick the cheapest primary strategy for ``f`` (StrategyDecider
    semantics: cost = estimated rows x multiplier; ties prefer the
    attribute index, matching the reference's equality-first behavior).
    ``tiered_attrs``: columns whose secondary index carries the
    epoch_week tier — only those can propose the intersected
    attribute+time strategy. ``id_col``: a positive ``id =``/``id IN``
    predicate proposes the id strategy at cost = |ids| — an exact count,
    not an estimate, so it wins whenever present (IdFilterStrategy
    parity: FilterSplitter treats id filters as the cheapest index,
    /root/reference/geomesa-index-api/.../planning/FilterSplitter.scala)."""
    rows = max(1, stats.get("rows", 1))
    candidates: list[Strategy] = []

    if id_col is not None:
        id_pred = _first_attr_pred(f, id_col)
        if id_pred is not None and id_pred.op in ("=", "in"):
            # short-circuit, not a cost candidate: |ids| is an exact
            # count while every other cost is an estimate, and with
            # missing stats the rows=1 floor would price a blind
            # attribute scan (rows * 0.5) below a 2-id point read
            n_ids = len(id_pred.value) if id_pred.op == "in" else 1
            return Strategy("id", float(n_ids), attribute=id_col)

    cover = FL.extract_cover(f, res=res)
    if cover is not None:
        frac = len(cover) / float(4 ** res)
        candidates.append(Strategy("spatial",
                                   rows * frac * SPATIAL_MULTIPLIER))
    weeks = FL.extract_weeks(f)
    time_frac = None
    if weeks is not None and stats.get("weeks"):
        time_frac = min(1.0, len(weeks) / stats["weeks"])
        candidates.append(Strategy("temporal",
                                   rows * time_frac * TEMPORAL_MULTIPLIER))
    attr_fracs = _attr_fraction(f, stats.get("cardinality", {}))
    for col, frac in attr_fracs.items():
        candidates.append(Strategy("attribute",
                                   rows * frac * ATTRIBUTE_MULTIPLIER,
                                   attribute=col))
        if time_frac is not None and tiered_attrs and col in tiered_attrs:
            # tiered (value, epoch_week) key space: selectivities
            # intersect (AttributeIndexKeySpace's z-time secondary tier)
            candidates.append(Strategy(
                "attribute+time",
                rows * frac * time_frac * ATTRIBUTE_MULTIPLIER,
                attribute=col))
    if not attr_fracs and FL._has_attr(f):
        # attribute predicates exist but no cardinality stats: propose a
        # conservative attribute scan rather than erroring where the
        # fallback planner would happily run the same filter
        for col in _attr_columns(f):
            candidates.append(Strategy(
                "attribute", rows * DEFAULT_ATTR_FRACTION
                * ATTRIBUTE_MULTIPLIER, attribute=col))
    if not candidates:
        if not allow_full_scan:
            raise ValueError(
                "no index strategy applies; pass allow_full_scan=True")
        return Strategy("full", float(rows))
    return min(candidates, key=lambda s: (s.cost,
                                          not s.kind.startswith(
                                              "attribute")))


def _attr_columns(f) -> list[str]:
    """Columns of positive, AND-reachable attribute predicates."""
    return list(dict.fromkeys(node.column for node in _positive_attrs(f)))
