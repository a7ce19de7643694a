"""indexed_lookup: many small, selective queries over persisted event
indexes: a cell-partitioned point table that also stores each point's
S2 cell, and XZ2 and id indexes.
Query parameters come from a seeded pool in which a fixed share of draws
repeats an earlier parameter, so a plan or cover cache gains in
proportion to that share. Dominated by driver-side build: table opening,
partition discovery, covers, kNN rounds."""

from __future__ import annotations

import os

import numpy as np

from perfbench import inputs, reference
from perfbench.harness import Op

SIZES = {"full": {"events": 3000}, "smoke": {"events": 1000}}
REPEAT_SHARE = 0.5
KNN_K = 10
T0_S = inputs.T0_US / 1e6


# Parameters vary in position only, so every draw of a query kind costs
# about the same and a run's time does not hinge on which sizes it drew.
BOX_W, BOX_H = 20.0, 12.0
WINDOW_S = 3 * 86400


def _box(rng) -> tuple[float, float, float, float]:
    x0, y0 = rng.uniform(-180, 180 - BOX_W), rng.uniform(-60, 60 - BOX_H)
    return (round(x0, 3), round(y0, 3), round(x0 + BOX_W, 3),
            round(y0 + BOX_H, 3))


def _point(rng) -> tuple[float, float]:
    return (rng.uniform(-179, 179), rng.uniform(-60, 60))


def _window(rng) -> tuple[float, float]:
    t0 = round(T0_S + rng.uniform(0, 24) * 86400)
    return (t0, t0 + WINDOW_S)


class Workload:
    name = "indexed_lookup"

    def __init__(self, mode: str) -> None:
        self.size = SIZES[mode]
        self._ref: dict = {}

    # ---------------------------------------------------------- inputs
    def stage(self, rng: np.random.Generator, data_dir: str) -> int:
        ev = inputs.events_frame(rng, self.size["events"])
        self.staged = os.path.join(data_dir, "events.parquet")
        nbytes = inputs.write_parquet(ev, self.staged)
        self.n = len(ev)
        self.headline_rows = self.n
        self.param_rng = np.random.default_rng(rng.integers(1 << 62))
        self._pools: dict[str, list] = {}
        self._drawn: dict[tuple[int, str], object] = {}
        return nbytes

    # ----------------------------------------------------------- set-up
    def setup(self, spark, tracer, rep_dir: str) -> dict[str, str]:
        from pyspark.sql import functions as F
        from geomesa_spark.cells.native import cell_expr
        from geomesa_spark.cells.s2 import udf_s2_cell
        from geomesa_spark.operators.xz2_query import with_xz2
        from geomesa_spark.plans.strategy import build_id_index
        from geomesa_spark.sources.table import write_partitioned

        paths = {k: os.path.join(rep_dir, k)
                 for k in ("points", "xz2", "id")}
        ev = spark.read.parquet(self.staged)
        boxes = ev.select(
            "event_id",
            (F.col("lon") - 0.5).alias("xmin"),
            (F.col("lat") - 0.25).alias("ymin"),
            (F.col("lon") + 0.5).alias("xmax"),
            (F.col("lat") + 0.25).alias("ymax"))
        with tracer.span("write", table="points"):
            write_partitioned(
                ev.withColumn("s2", udf_s2_cell(6)("lon", "lat"))
                .withColumn("cell_prefix", cell_expr("lon", "lat"))
                .repartition("cell_prefix").sortWithinPartitions("s2"),
                paths["points"], mode="overwrite")
        with tracer.span("write", table="xz2"):
            (with_xz2(boxes).repartitionByRange(8, "xz2")
             .sortWithinPartitions("xz2")
             .write.mode("overwrite").parquet(paths["xz2"]))
        with tracer.span("write", table="id"):
            build_id_index(ev, paths["id"], id_col="event_id", n_files=8)
        return paths

    def prepare(self, spark) -> None:
        import duckdb
        self.db = duckdb.connect()
        self.db.execute("SET TimeZone='UTC'")
        self.db.execute(f"CREATE VIEW ev AS SELECT *, epoch(ts) AS t "
                        f"FROM read_parquet('{self.staged}')")

    # ------------------------------------------------------ parameters
    _GEN = {
        "z2_bbox": lambda r: _box(r),
        "xz2_bbox": lambda r: _box(r),
        "s2_bbox": lambda r: _box(r),
        "id_lookup": lambda r: tuple(int(v) for v in r.integers(0, 1 << 62, 5)),
        "knn": lambda r: _point(r),
        "mixed_filter": lambda r: (_box(r), _window(r),
                                   str(r.choice(inputs.EVENT_TYPES)),
                                   _box(r), round(float(r.uniform(0, 1000)), 2)),
    }

    def params(self, pass_no: int, op: Op):
        """Deterministic per (seed, pass, op): the draw repeats an earlier
        parameter with probability REPEAT_SHARE, else makes a new one."""
        kind = op.name
        if kind not in self._GEN:
            return None
        for p in range(pass_no + 1):
            if (p, kind) in self._drawn:
                continue
            pool = self._pools.setdefault(kind, [])
            r = self.param_rng
            if pool and r.random() < REPEAT_SHARE:
                v = pool[int(r.integers(0, len(pool)))]
            else:
                v = self._GEN[kind](r)
                if kind == "id_lookup":
                    v = tuple(x % self.n for x in v)
                pool.append(v)
            self._drawn[(p, kind)] = v
        return self._drawn[(pass_no, kind)]

    # ------------------------------------------------------ operations
    def ops(self) -> list[Op]:
        return [Op("open_tables", self._open_tables, self._check_open)] + [
            Op(kind, getattr(self, "_" + kind), self._check(kind),
               headline=True) for kind in self._GEN]

    def _open_tables(self, ctx, _):
        """Each pass opens every stored table once; its queries share the
        handles, as a client holding table handles across a batch."""
        with ctx.layer("open"):
            self.h = {k: ctx.spark.read.parquet(p)
                      for k, p in self.paths.items()}
        return {k: len(df.inputFiles()) for k, df in self.h.items()}

    def _check_open(self, got, _):
        from perfbench.runner import disk_bytes
        return reference.compare(got, {k: disk_bytes([p])[1]
                                       for k, p in self.paths.items()})

    def _sink_ids(self, ctx, df):
        from pyspark.sql import functions as F
        return ctx.sink(df, n=F.count(F.lit(1)), s=F.sum("event_id"))

    @staticmethod
    def _poly(b):
        from geomesa_spark.geo import Polygon
        x0, y0, x1, y1 = b
        return Polygon([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])

    def _z2_bbox(self, ctx, b):
        from pyspark.sql import functions as F
        from geomesa_spark.plans.planner import prune_by_geometry
        pts = self.h["points"]
        with ctx.layer("plan"):
            pruned = prune_by_geometry(pts, self._poly(b))
        with ctx.layer("build"):
            out = pruned.where(
                (F.col("lon") >= b[0]) & (F.col("lon") <= b[2])
                & (F.col("lat") >= b[1]) & (F.col("lat") <= b[3])
            ).select("event_id")
        return self._sink_ids(ctx, out)

    def _xz2_bbox(self, ctx, b):
        from geomesa_spark.operators.xz2_query import xz2_bbox_query
        idx = self.h["xz2"]
        with ctx.layer("build"):
            out = xz2_bbox_query(idx, b).select("event_id")
        return self._sink_ids(ctx, out)

    def _s2_bbox(self, ctx, b):
        from pyspark.sql import functions as F
        from geomesa_spark.cells.s2 import s2_cover_bbox
        from geomesa_spark.plans.planner import prune_by_geometry
        pts = self.h["points"]
        with ctx.layer("cover") as sp:
            cover = [int(c) for c in s2_cover_bbox(*b, 6).tolist()]
            sp["cells"] = len(cover)
        with ctx.layer("plan"):
            pruned = prune_by_geometry(pts, self._poly(b))
        with ctx.layer("build"):
            out = (pruned.where(F.col("s2").isin(cover))
                   .where((F.col("lon") >= b[0]) & (F.col("lon") <= b[2])
                          & (F.col("lat") >= b[1]) & (F.col("lat") <= b[3]))
                   .select("event_id"))
        return self._sink_ids(ctx, out)

    def _id_lookup(self, ctx, ids):
        from geomesa_spark.plans.filters import Attr
        from geomesa_spark.plans.strategy import plan_with_strategy
        pts = self.h["points"]
        with ctx.layer("plan"):
            out = plan_with_strategy(
                ctx.spark, pts, Attr("event_id", "in", list(ids)),
                stats={"rows": 1}, id_col="event_id",
                id_index=self.paths["id"])
        with ctx.layer("build"):
            out = out.select("event_id", "event_type", "value", "lon", "lat")
        return self._sink_ids(ctx, out)

    def _knn(self, ctx, q):
        from pyspark.sql import functions as F
        from geomesa_spark.operators.knn import knn_join
        pts = self.h["points"]
        with ctx.layer("build"):
            out = knn_join(pts.select("event_id", "lon", "lat"),
                           [("q", q[0], q[1])], KNN_K, tiebreak=["event_id"])
        return ctx.sink(out, n=F.count(F.lit(1)), s=F.sum("event_id"),
                        rs=F.sum(F.col("rank") * F.col("event_id")))

    def _mixed_filter(self, ctx, p):
        from geomesa_spark.plans.filters import (Attr, Time, and_, bbox,
                                                 or_, plan_query)
        b1, (t0, t1), etype, b2, vmin = p
        f = or_(and_(bbox(*b1), Time(float(t0), float(t1)),
                     Attr("event_type", "=", etype)),
                and_(bbox(*b2, "contains"), Attr("value", ">", vmin)))
        pts = self.h["points"]
        with ctx.layer("plan"):
            out = plan_query(pts, f).select("event_id")
        return self._sink_ids(ctx, out)

    # ------------------------------------------------------- reference
    def _sql(self, name: str, p) -> str:
        def within(b):
            return (f"lon >= {b[0]} AND lon <= {b[2]} AND "
                    f"lat >= {b[1]} AND lat <= {b[3]}")

        def boxes(b):
            return (f"lon - 0.5 <= {b[2]} AND lon + 0.5 >= {b[0]} AND "
                    f"lat - 0.25 <= {b[3]} AND lat + 0.25 >= {b[1]}")
        if name in ("z2_bbox", "s2_bbox"):
            return f"SELECT event_id FROM ev WHERE {within(p)}"
        if name == "xz2_bbox":
            return f"SELECT event_id FROM ev WHERE {boxes(p)}"
        if name == "id_lookup":
            return (f"SELECT event_id FROM ev WHERE event_id IN "
                    f"({', '.join(map(str, p))})")
        if name == "knn":
            d = ("2 * 6371008.7714 * asin(sqrt(pow(sin(radians(lat - "
                 f"{p[1]}) / 2), 2) + cos(radians({p[1]})) * cos(radians("
                 f"lat)) * pow(sin(radians(lon - {p[0]}) / 2), 2)))")
            return (f"SELECT event_id, row_number() OVER (ORDER BY {d}, "
                    f"event_id) AS rank FROM ev ORDER BY {d}, event_id "
                    f"LIMIT {KNN_K}")
        b1, (t0, t1), etype, b2, vmin = p
        return (f"SELECT event_id FROM ev WHERE ({within(b1)} AND t >= {t0}"
                f" AND t <= {t1} AND event_type = '{etype}') OR (lon > "
                f"{b2[0]} AND lon < {b2[2]} AND lat > {b2[1]} AND lat < "
                f"{b2[3]} AND value > {vmin})")

    def _check(self, name: str):
        def check(got, p):
            key = (name, p)
            if key not in self._ref:
                rows = self.db.execute(self._sql(name, p)).fetchall()
                want = {"n": len(rows), "s": sum(r[0] for r in rows)}
                if name == "knn":
                    want["rs"] = sum(r[0] * r[1] for r in rows)
                self._ref[key] = want
            want = self._ref[key]
            if want["n"] == 0:
                want = {"n": 0}  # a Spark sum over no rows is null
            return reference.compare(got, want)
        return check
