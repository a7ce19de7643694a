"""Cell-partitioned image table: layout, lineage, checkpointed ingest.

Layout = hive-style parquet partitioned by ``cell_prefix`` — the FS
datastore's directory scheme reborn (partition name = SFC cell of the
geometry, /root/reference/geomesa-fs/geomesa-fs-storage/
geomesa-fs-storage-common/src/main/scala/org/locationtech/geomesa/fs/
storage/common/partitions/Z2Scheme.scala:31-55). Rows whose cell cannot be
computed go to the reserved partition ``cell_prefix=-1`` instead of being
dropped (IndexPartitioner's catch-all, /root/reference/geomesa-spark/
geomesa-spark-sql/src/main/scala/org/apache/spark/sql/IndexPartitioner.scala:18-29).

On a real deployment this is an Iceberg table with
``PARTITIONED BY (cell_prefix)`` — identical pruning semantics; the
container has no Iceberg runtime, and Spark's native partition discovery
gives the same partition-filter behavior (verified in tests via
``df.inputFiles()``).

Resumability: ingest proceeds in deterministic index-range chunks; each
committed chunk appends (a) its rows, partitioned by (cell, chunk), and
(b) one lineage row per (chunk, cell_prefix) with row counts + payload
byte totals to ``_lineage/``. Resume = anti-set of committed chunk ids —
cheap because the fixture is a pure function of the row index
(fixtures.py). The lineage row is the commit marker, written last; a
chunk whose marker is absent is re-ingested EXACTLY-ONCE because the
second directory level ``ingest_chunk=c`` lets the resume path first
delete any orphaned files a crash left between the data write and the
marker write (the Iceberg discipline: uncommitted data files are
unreachable and cleaned, never double-counted).

Compatibility: tables written before the two-level layout (ingest_chunk
as a data column only) read and resume fine when COMPLETE; extending a
partially-ingested old-layout table with this code would mix directory
depths, which Spark's partition discovery rejects — re-ingest those."""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

RESERVED_CELL = -1
LINEAGE_DIR = "_lineage"


def write_partitioned(df: DataFrame, path: str, *,
                      partition_col: str = "cell_prefix",
                      mode: str = "append",
                      extra_partition_cols: tuple[str, ...] = ()) -> None:
    """Write partitioned by cell (plus optional sub-levels, e.g. the
    ingest chunk), nulls routed to the reserved partition."""
    out = df.withColumn(
        partition_col,
        F.coalesce(F.col(partition_col), F.lit(RESERVED_CELL)))
    out.write.partitionBy(partition_col, *extra_partition_cols) \
        .mode(mode).parquet(path)


def write_images(df: DataFrame, path: str, *, res: int | None = None,
                 salt: int | None = None, id_col: str = "image_id",
                 lon: str = "lon", lat: str = "lat",
                 mode: str = "overwrite") -> None:
    """Cell-partition and write an arbitrary image frame.

    ``salt`` spreads each cell's rows over up to that many writer tasks
    (repartition key = (cell, hash(id) % salt)) — the ShardStrategy
    discipline (/root/reference/geomesa-index-api/src/main/scala/org/
    locationtech/geomesa/index/api/ShardStrategy.scala:42-80): without it
    a hot urban cell serializes 80% of the write into one task. Readers
    are unaffected (same hive partition dir, more files); scan-side
    balance comes from parquet file splitting either way."""
    from geomesa_spark.cells import PARTITION_RES
    from geomesa_spark.cells.native import cell_expr

    res = res if res is not None else PARTITION_RES
    out = df.withColumn("cell_prefix", cell_expr(lon, lat, res))
    if salt:
        keys = [F.col("cell_prefix"),
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt))]
    else:
        keys = [F.col("cell_prefix")]
    write_partitioned(out.repartition(*keys), path, mode=mode)


def read_images(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_balanced(spark: SparkSession, path: str, *,
                  target: int | None = None) -> DataFrame:
    """Parquet read for FULL-SCAN pipelines, rebalanced when the scan
    yields fewer splits than the session's parallelism.

    Parquet splits at row-group boundaries, so a table written as few
    fat row groups (the small-fixture layout; also a real hazard for
    compacted tables) scans at the row-group count no matter how many
    cores the cluster has — every pre-shuffle stage (tokenization,
    signature kernels, pandas UDFs) then runs on 1-2 cores. A measured
    case at SF=1.0: the 50k-row single-row-group documents table ran
    simhash signatures on 2 of 32 cores, 10 s for ~0.6 core-s of work.

    On a production table with thousands of row groups the partition
    count already exceeds ``target`` and this is a NO-OP (no shuffle,
    pushdown untouched). Use it ONLY for full-scan pipelines whose
    pre-shuffle stage runs a PYTHON kernel (pandas UDF / mapInPandas):
    interleaved A/Bs showed pure JVM-codegen pipelines are FASTER on
    the narrow scan than behind the repartition shuffle, ops that
    repartition themselves or rely on the scan's size statistics
    regress under the hidden stats, and a repartition between read and
    filter blocks predicate pushdown."""
    df = spark.read.parquet(path)
    want = target or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        df = df.repartition(want)
    return df


def _projected_fraction(path: str, columns: list[str],
                        sample_files: int = 3) -> float:
    """Estimated share of on-disk bytes the projection actually reads,
    from the per-column compressed sizes in a few parquet footers —
    O(sample_files) footer reads regardless of table size (the same
    column statistics an Iceberg/Trino split planner consults)."""
    import os as _os

    import pyarrow.parquet as pq

    files = []
    for base, dirs, names in _os.walk(path):
        # prune hidden subtrees (_lineage, _SUCCESS side dirs) like Spark
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        files.extend(_os.path.join(base, f) for f in names
                     if f.endswith(".parquet") and not f.startswith((
                         "_", ".")))
        if len(files) >= sample_files:
            break
    if not files:
        return 1.0
    want = set(columns)
    sel_bytes = tot_bytes = 0
    for f in files[:sample_files]:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                sz = c.total_compressed_size
                tot_bytes += sz
                # path_in_schema is dotted for nested cols; match root
                if c.path_in_schema.split(".")[0] in want:
                    sel_bytes += sz
    if tot_bytes <= 0:
        return 1.0
    return max(sel_bytes / tot_bytes, 1e-4)


_BYTE_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40,
                "b": 1}


def _parse_bytes(v: str) -> int:
    """Spark byte-size strings: '32m', '1g', '134217728', '128mb'."""
    s = str(v).strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIX:
        return int(float(s[:-1]) * _BYTE_SUFFIX[s[-1]])
    return int(s)


def projected_scan(spark: SparkSession, path: str, columns: list[str],
                   *, max_split_bytes: int = 1 << 31) -> DataFrame:
    """Column-width-aware scan: ``select(columns)`` with the file-split
    size scaled by the inverse of the projection's on-disk byte share.

    Spark sizes file splits by TOTAL file bytes
    (``spark.sql.files.maxPartitionBytes``), blind to column pruning —
    so a narrow scan over a wide binary table (e.g. lon/lat over image
    rows whose ``bytes`` column is ~99% of every file) inherits the
    task count of a full-width scan: hundreds of tasks that each parse
    a footer to decode a few hundred KB, pure scheduling overhead that
    WORSENS with cluster size (measured: the 64,800-pixel density
    aggregate over 1.92M images ran 2.4 s at local[4] but 3.1 s at
    local[16] on 32 MB splits; 0.8-1.0 s once splits carry ~32 MB of
    *projected* bytes). This is the split-planning an Iceberg/Trino
    engine does from column statistics, expressed over parquet footers.

    The resized conf lives in a derived session (``spark.newSession()``
    shares the SparkContext but owns its SQLConf), so concurrent queries
    on the caller's session keep their tuning; the caller's explicitly
    SET conf is copied over first so the child differs ONLY in split
    size. Joining the result with frames from the parent session is
    fine — plans are resolved against the executing session, and the
    split size is captured by the child scan node."""
    base = _parse_bytes(spark.conf.get(
        "spark.sql.files.maxPartitionBytes", "128m"))
    frac = _projected_fraction(path, columns)
    eff = int(min(base / frac, float(max_split_bytes)))
    if eff <= base:  # projection covers the table — nothing to resize
        return spark.read.parquet(path).select(*columns)
    child = spark.newSession()
    for row in spark.sql("SET").collect():  # carry explicit session conf
        if row.key.startswith("spark.sql.") and row.value != "<undefined>":
            try:
                child.conf.set(row.key, row.value)
            except AnalysisException as e:
                # static entries (spark.sql.warehouse.dir) are shared
                # with the parent already; anything else is a real error
                if e.getCondition() != "CANNOT_MODIFY_STATIC_CONFIG":
                    raise
    child.conf.set("spark.sql.files.maxPartitionBytes", str(eff))
    # a narrow scan's open cost should scale with it, or tiny files
    # still fragment the splits
    child.conf.set("spark.sql.files.openCostInBytes",
                   str(max(1 << 20, eff // 32)))
    return child.read.parquet(path).select(*columns)


def read_snapshot(spark: SparkSession, path: str, *,
                  as_of_chunk: int | None = None) -> DataFrame:
    """Time-travel read: the table as of commit ``as_of_chunk``
    (inclusive) — Iceberg's snapshot-id read expressed Spark-native.

    Every ingest commit writes its files under their own
    ``ingest_chunk=c`` partition directory, so the snapshot predicate is
    partition pruning — directories of later commits are never even
    listed into the scan: the same commit-level pruning an Iceberg
    manifest provides, without a metadata service. ``as_of_chunk=None``
    reads the current snapshot."""
    df = spark.read.parquet(path)
    if as_of_chunk is not None:
        df = df.where(F.col("ingest_chunk") <= as_of_chunk)
    return df


def table_history(spark: SparkSession, path: str) -> DataFrame:
    """Commit history (Iceberg's snapshots metadata view): one row per
    committed chunk with row/byte/cell totals, from the lineage table —
    the audit trail a 1000-executor ingest reports progress through."""
    return (lineage_df(spark, path)
            .groupBy("chunk_id")
            .agg(F.sum("n_rows").alias("n_rows"),
                 F.sum("bytes").alias("bytes"),
                 F.count("*").alias("n_cells"))
            .orderBy("chunk_id"))


def lineage_df(spark: SparkSession, path: str) -> DataFrame:
    """Per-(chunk, cell) lineage/metrics: the progress + audit table.
    Empty when nothing is committed yet (no lineage directory); an
    unreadable lineage raises rather than reading as "nothing committed",
    which would re-ingest every chunk."""
    lin = f"{path}/{LINEAGE_DIR}"
    hpath = spark._jvm.org.apache.hadoop.fs.Path(lin)
    if not hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath):
        return spark.createDataFrame(
            [], "chunk_id long, cell_prefix long, n_rows long, bytes long")
    return spark.read.parquet(lin)


def completed_chunks(spark: SparkSession, path: str) -> set[int]:
    lin = lineage_df(spark, path)
    return {r["chunk_id"] for r in lin.select("chunk_id").distinct().collect()}


def ingest_images(spark: SparkSession, path: str, *, n: int,
                  chunk_rows: int = 10_000, res: int | None = None,
                  partitions_per_chunk: int | None = None) -> dict:
    """Checkpointed ingest of the deterministic image fixture into the
    cell-partitioned table. Returns a summary dict.

    Chunk c covers row indexes [c*chunk_rows, min((c+1)*chunk_rows, n)).
    Already-committed chunks (present in lineage) are skipped, and a
    chunk that died between its data write and its lineage marker has
    its orphaned ``ingest_chunk=c`` partition directories deleted before
    the re-write, so a killed job re-run with the same arguments
    completes exactly once per row.
    """
    from geomesa_spark.cells import PARTITION_RES
    from geomesa_spark.cells.native import cell_expr

    res = res if res is not None else PARTITION_RES
    n_chunks = (n + chunk_rows - 1) // chunk_rows
    done = completed_chunks(spark, path)
    ingested = []
    for c in range(n_chunks):
        if c in done:
            continue
        # a previous attempt may have written this chunk's data and died
        # before the commit marker: its files are orphans that a bare
        # re-append would duplicate — remove them first (idempotent)
        _scrub_uncommitted_chunk(spark, path, c)
        lo, hi = c * chunk_rows, min((c + 1) * chunk_rows, n)
        parts = partitions_per_chunk or max(
            2, spark.sparkContext.defaultParallelism)
        chunk = _images_range(spark, lo, hi, parts)
        chunk = chunk.withColumn("cell_prefix",
                                 cell_expr("lon", "lat", res)) \
                     .withColumn("ingest_chunk",
                                 F.lit(c).cast("long"))
        # co-locate each cell's rows in one writer task: one file per
        # (chunk, cell) instead of partitions x cells tiny files — the
        # file-compaction discipline an Iceberg writer applies
        chunk = chunk.repartition("cell_prefix")
        write_partitioned(chunk, path, mode="append",
                          extra_partition_cols=("ingest_chunk",))
        # lineage row written last = commit marker for the chunk
        lin = (read_chunk_lineage(spark, path, chunk, c))
        lin.write.mode("append").parquet(f"{path}/{LINEAGE_DIR}")
        ingested.append(c)
    return {"n_chunks": n_chunks, "ingested": ingested,
            "skipped": sorted(done)}


def _scrub_uncommitted_chunk(spark: SparkSession, path: str,
                             chunk_id: int) -> None:
    """Delete the ``cell_prefix=*/ingest_chunk=<chunk_id>`` partition
    directories left by an attempt that died before its commit marker.
    Goes through the Hadoop FileSystem API so it works on any scheme the
    table lives on (local, HDFS, S3A), not just the local fs."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    glob = jvm.org.apache.hadoop.fs.Path(
        f"{path}/cell_prefix=*/ingest_chunk={chunk_id}")
    statuses = fs.globStatus(glob)
    if statuses is not None:
        for st in statuses:
            fs.delete(st.getPath(), True)


def _images_range(spark: SparkSession, lo: int, hi: int, parts: int):
    from collections.abc import Iterator

    import pandas as pd

    from geomesa_spark.raster.fixtures import IMAGE_SCHEMA, image_row

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield pd.DataFrame([image_row(int(i)) for i in ids])

    return (spark.range(lo, hi, numPartitions=parts)
            .mapInPandas(gen, schema=IMAGE_SCHEMA))


def read_chunk_lineage(spark: SparkSession, path: str, chunk: DataFrame,
                       chunk_id: int) -> DataFrame:
    return (chunk.groupBy("cell_prefix")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.length("bytes")).alias("bytes"))
            .select(F.lit(chunk_id).cast("long").alias("chunk_id"),
                    F.col("cell_prefix").cast("long"),
                    F.col("n_rows").cast("long"),
                    F.col("bytes").cast("long")))


def write_spatiotemporal(df: DataFrame, path: str, *,
                         ts: str = "ts", lon: str = "lon",
                         lat: str = "lat", res: int | None = None,
                         mode: str = "append") -> None:
    """Z3-style layout: partition by (epoch_week, cell_prefix) — the
    reference's table time-partitioning combined with the spatial scheme
    (TimePartition, /root/reference/geomesa-index-api/src/main/scala/org/
    locationtech/geomesa/index/conf/partition/TimePartition.scala +
    DateTimeScheme in geomesa-fs). Queries with both a time interval and
    a bbox prune on both partition levels."""
    from geomesa_spark.cells import PARTITION_RES
    from geomesa_spark.cells.native import cell_expr
    from geomesa_spark.cells.z3 import epoch_week_expr

    res = res if res is not None else PARTITION_RES
    out = (df.withColumn("epoch_week", F.coalesce(
               epoch_week_expr(ts), F.lit(RESERVED_CELL)))
           .withColumn("cell_prefix", cell_expr(lon, lat, res)))
    (out.repartition("epoch_week", "cell_prefix")
        .write.partitionBy("epoch_week", "cell_prefix")
        .mode(mode).parquet(path))


def spatiotemporal_scan(spark: SparkSession, path: str, *,
                        bbox: tuple[float, float, float, float]
                        | None = None,
                        t0: str | None = None,
                        t1: str | None = None) -> DataFrame:
    """Partition-pruned scan: time interval -> epoch_week range filter,
    bbox -> cell_prefix cover filter; exact refine on (ts, lon, lat)
    stays with the caller (strict-filter semantics)."""
    from geomesa_spark.cells.z3 import WEEK_SECONDS
    from geomesa_spark.geo.model import Polygon
    from geomesa_spark.plans.planner import prune_by_geometry

    df = spark.read.parquet(path)
    if t0 is not None or t1 is not None:
        import datetime as _dt

        def week_of(s: str) -> int:
            d = _dt.datetime.fromisoformat(s).replace(
                tzinfo=_dt.timezone.utc)
            return int(d.timestamp() // WEEK_SECONDS)
        if t0 is not None:
            df = df.where(F.col("epoch_week") >= week_of(t0))
        if t1 is not None:
            df = df.where(F.col("epoch_week") <= week_of(t1))
    if bbox is not None:
        x0, y0, x1, y1 = bbox
        df = prune_by_geometry(df, Polygon(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]))
    return df
