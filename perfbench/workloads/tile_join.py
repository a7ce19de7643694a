"""tile_join: the flagship pipeline over a stored, salted,
cell-partitioned image table — Z2 tile counts, a broadcast
point-in-polygon join against regions that mix rectangles with
non-rectangular polygons (so the Python refine kernel runs), and image
decode."""

from __future__ import annotations

import os

import numpy as np

from perfbench import inputs, reference
from perfbench.harness import Op

SIZES = {"full": {"images": 1500, "regions": 32},
         "smoke": {"images": 300, "regions": 12}}
SALT = 2
TILE_RES = 4


class Workload:
    name = "tile_join"

    def __init__(self, mode: str) -> None:
        self.size = SIZES[mode]

    # ---------------------------------------------------------- inputs
    def stage(self, rng: np.random.Generator, data_dir: str) -> int:
        table, truth = inputs.image_table(rng, self.size["images"])
        self.staged = os.path.join(data_dir, "images.parquet")
        nbytes = inputs.write_parquet(table, self.staged)
        self.lon = table.column("lon").to_numpy()
        self.lat = table.column("lat").to_numpy()
        self.truth = truth
        self.regions = inputs.regions(rng, self.size["regions"])
        self.rows = self.headline_rows = len(self.lon)
        return nbytes

    # ----------------------------------------------------------- set-up
    def setup(self, spark, tracer, rep_dir: str) -> dict[str, str]:
        from geomesa_spark.sources.table import write_images
        table = os.path.join(rep_dir, "images")
        with tracer.span("write", table="images"):
            write_images(spark.read.parquet(self.staged), table, salt=SALT)
        return {"images": table}

    def prepare(self, spark) -> None:
        """Region frames are the client's static input: built once, the
        way a caller holds its region set across queries."""
        rows = [(rid, bytearray(inputs.polygon_wkb(ring)))
                for rid, ring in self.regions]
        self.regions_df = spark.createDataFrame(
            rows, "region_id string, geom binary")

    # ------------------------------------------------------ operations
    def ops(self) -> list[Op]:
        return [
            Op("open_tables", self._open_tables, self._check_open),
            Op("tile_counts", self._tile_counts, self._check_tiles,
               headline=True),
            Op("spatial_join", self._join, self._check_join, headline=True),
            Op("image_decode", self._decode, self._check_decode),
        ]

    def params(self, pass_no: int, op: Op):
        return None

    def _open_tables(self, ctx, _):
        """Each pass opens the table once, full-width for decode and
        through the width-aware scan for the coordinate operations; the
        pass's operations share these handles."""
        from geomesa_spark.sources.table import projected_scan
        with ctx.layer("open"):
            self.imgs = ctx.spark.read.parquet(self.paths["images"])
            self.coords = projected_scan(ctx.spark, self.paths["images"],
                                         ["image_id", "lon", "lat"])
        return {"files": len(self.imgs.inputFiles()),
                "coord_files": len(self.coords.inputFiles())}

    def _check_open(self, got, _):
        return reference.compare(got, {"files": self.stored_files,
                                       "coord_files": self.stored_files})

    def _tile_counts(self, ctx, _):
        from pyspark.sql import functions as F
        from geomesa_spark.operators.tiles import tile_counts
        coords = self.coords
        with ctx.layer("build"):
            out = tile_counts(coords, res=TILE_RES)
        return ctx.sink(out, tiles=F.count(F.lit(1)),
                        n=F.sum("n_images"),
                        tile_n=F.sum(F.col("tile") * F.col("n_images")))

    def _check_tiles(self, got, _):
        cells = reference.z2_cell(self.lon, self.lat, TILE_RES)
        uniq, cnt = np.unique(cells, return_counts=True)
        return reference.compare(got, {
            "tiles": len(uniq), "n": self.rows,
            "tile_n": int((uniq * cnt).sum())})

    def _join(self, ctx, _):
        from pyspark.sql import functions as F
        from geomesa_spark.operators.join import spatial_join
        with ctx.layer("build"):
            out = spatial_join(self.coords, self.regions_df,
                               predicate="st_contains", broadcast_regions=True)
        idx = F.substring("image_id", 5, 8).cast("long")
        rid = F.col("region_id").cast("long")
        return ctx.sink(out, pairs=F.count(F.lit(1)), s_img=F.sum(idx),
                        s_reg=F.sum(rid), s_prod=F.sum(idx * rid))

    def _check_join(self, got, _):
        pairs = s_img = s_reg = s_prod = 0
        for rid, ring in self.regions:
            xs, ys = zip(*ring)
            near = np.flatnonzero(
                (self.lon > min(xs)) & (self.lon < max(xs))
                & (self.lat > min(ys)) & (self.lat < max(ys)))
            hit = near[reference.points_in_ring(
                self.lon[near], self.lat[near], ring)]
            r = int(rid)
            pairs += len(hit)
            s_img += int(hit.sum())
            s_reg += r * len(hit)
            s_prod += r * int(hit.sum())
        return reference.compare(got, {"pairs": pairs, "s_img": s_img,
                                       "s_reg": s_reg, "s_prod": s_prod})

    def _decode(self, ctx, _):
        from pyspark.sql import functions as F
        from geomesa_spark.operators.tiles import image_features
        with ctx.layer("build"):
            out = image_features(self.imgs)
        return ctx.sink(out, images=F.count(F.lit(1)), px=F.sum("px_sum"),
                        n_px=F.sum("n_px"))

    def _check_decode(self, got, _):
        return reference.compare(got, {
            "images": self.rows, "px": int(self.truth["px_sum"].sum()),
            "n_px": int(self.truth["n_px"].sum())})
