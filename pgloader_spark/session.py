"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same settings (AQE, adaptive
coalescing, UTC session time, Arrow) are what we would ship on a real
cluster — only master/memory change.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def session_configs(master: str, cpus: str = "32") -> dict[str, str]:
    """Config set for a given master — the ship-everywhere settings
    plus local-only tuning.

    The local[N] overrides (4 MB parquet splits, fixed shuffle
    partition count) exist ONLY because the testdata ships one
    parquet file per table: without them a 25 MB file is a single
    scan task and local[32] never fans out.  A cluster deployment
    must keep the defaults — 4 MB splits would shred a 100 TB scan
    into 25M tasks — so they are gated on the master string.
    """
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Tolerate parquet TIMESTAMP(NANOS) inputs (vectorized reader
        # rejects them otherwise); read_table converts bigint ts back.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Prefer shuffled-hash over sort-merge once broadcast is ruled
        # out: the PPJoin collision/verify joins gain nothing from
        # sorted outputs, and at the sf1x scale point the swap won 7/7
        # interleaved A/B pairs on the shingle kernel (median 5.7->4.9s)
        # and ~12% trimmed-mean on the token kernel
        # (tools/profiles/shj_sf1x_ab*_r11s4.json).  At sf0.1 every
        # headline join broadcasts, so this is provably inert at bench
        # scale (final-plan census: 0 SortMergeJoin).  Build-side OOM
        # risk is bounded: AQE's local-map threshold converts only when
        # the measured per-partition build side fits, AQE skew-split
        # applies to shuffled-hash joins too, and the threshold is
        # env-tunable for clusters with tighter executor memory.
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": os.environ.get(
            "SPARK_GRAFT_SHJ_LOCALMAP", "64m"
        ),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
    }
    if master.startswith("local"):
        # Shuffle partitions sized to the local core count; AQE
        # coalescing re-sizes them at runtime anyway.
        conf["spark.sql.shuffle.partitions"] = str(min(int(cpus) * 2, 64))
        conf["spark.sql.files.maxPartitionBytes"] = "4m"
        conf["spark.sql.files.openCostInBytes"] = "1m"
        # Make AQE coalesce by SIZE, not by parallelism: with the
        # default parallelismFirst=true every tiny shuffle still fans
        # out to defaultParallelism tasks, and a 10-stage dedup plan
        # pays ~64 empty-task schedulings per stage (measured 2-4x
        # wall-clock on the Jaccard queries at sf0.1).  A 16 MB
        # advisory collapses Kb-size shuffles to one task while
        # keeping >100 MB stages parallel.  Cluster masters keep
        # Spark's defaults: at real scale shuffles are big enough
        # that parallelismFirst never fires.
        conf["spark.sql.adaptive.coalescePartitions.parallelismFirst"] = "false"
        conf["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = "16m"
    return conf


def get_spark(app_name: str = "pgloader_spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_configs(master, cpus).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def read_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool = False
) -> DataFrame:
    """Read one testdata table with timestamps normalized to one type.

    Parquet timestamp columns arrive as whatever the writer used —
    TIMESTAMP_NTZ for plain ``timestamp[us]``, bigint under the legacy
    nanos conf for ``timestamp[ns]``. Every downstream query sees ONE
    canonical type: session-zoned TIMESTAMP (UTC session, so NTZ→LTZ
    is value-identical and arithmetic like ``cast("double")`` is
    legal). Normalizing here, once, is what keeps a testdata
    regeneration from breaking query code (the round-2 sessionize
    lesson).

    ``widen=True`` repartitions a single-file table to the session's
    parallelism. The testdata ships ONE parquet file with ONE row
    group per table, so the scan cannot split — downstream stages of a
    compute-heavy query would run on one core. Callers whose per-row
    work dominates (datetime transforms, language ID, embedding math)
    opt in; scan-then-shuffle queries (joins, aggs, windows) must not:
    their own exchange already redistributes, and measured at sf0.1
    the extra round-robin shuffle slows them 1.5-3x. On a real
    dataset (many files / row groups) the condition never fires.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for f in df.schema.fields:
        kind = f.dataType.simpleString()
        if f.name == "ts" and kind == "bigint":
            # legacy nanos-as-long: floor-truncate ns→us (DuckDB's rule)
            df = df.withColumn(
                "ts", F.timestamp_micros(F.floor(F.col("ts") / 1000).cast("long"))
            )
        elif kind == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    if widen:
        par = spark.sparkContext.defaultParallelism
        try:
            single_file = os.path.isfile(path) and os.path.getsize(path) > (64 << 10)
        except OSError:
            single_file = False
        if single_file:
            df = df.repartition(par)
        elif os.path.isdir(path):
            # Multi-file table that still can't feed every core (e.g. a
            # replica written as a handful of big single-row-group
            # files): same insurance, same 64 KiB floor so tiny
            # fixtures keep their Exchange-free plans. On a real
            # many-file dataset partitions >= parallelism and this
            # never triggers.
            try:
                nbytes = sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
            except OSError:
                nbytes = 0
            if nbytes > (64 << 10) and df.rdd.getNumPartitions() < par:
                df = df.repartition(par)
    return df


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Floor a CPU-dense Python stage's input at defaultParallelism
    partitions.

    Byte-based partitioning is blind to per-row CPU cost: a 5000-image
    corpus is one parquet row-group, so a decode stage inheriting the
    scan's layout runs on ONE core (measured r8: the JPEG luma pass
    read 17x wall for 10x data purely from this starvation — the same
    blind-spot class as the r7 edit-distance AQE lesson, on the input
    side).  At real scale the scan already splits (~128 MB per task)
    and this is a no-op; when it does trigger, the shuffle it adds is
    small by the same premise that makes it necessary.

    Streaming frames pass through untouched: ``df.rdd`` is illegal on
    them, their micro-batch sources control partitioning, and the
    streaming consumers of these stages (frozen-codebook PQ inference)
    rely on the stage staying stateless-narrow."""
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def skip_unchanged_zip_rereads() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive on
    the worker path only when the archive changed.  Called first thing
    in each per-task Python kernel; acts once per worker process.

    Every PySpark task starts with ``setup_spark_files``, which calls
    ``importlib.invalidate_caches()``; on CPython 3.11/3.12 that makes
    each ``zipimporter`` in ``sys.path_importer_cache`` re-read its
    archive's directory — 16 of them on a Spark 4.1 worker (12 over
    pyspark.zip, 2 over the 5,359-entry spark-core jar, 2 over py4j),
    ~0.2 s before the task's first line (PERF.md, "The per-task
    tax").  Where the class re-reads eagerly (no lazy ``_get_files``,
    which 3.13 added), this swaps in a version that re-reads only
    when the archive's ``(st_mtime_ns, st_size)`` differs from what
    that instance last read, or ``stat`` fails — a re-shipped
    ``addPyFile`` zip is still re-read.

    The instances present now are stamped with their archive's
    current stat: this runs inside a task, after that task's
    ``setup_spark_files`` re-read every one of them.  An instance
    created later has no stamp, so its first call re-reads."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or getattr(
        cls.invalidate_caches, "skips_unchanged", False
    ):
        return
    reread = cls.invalidate_caches

    def stamp(archive: str) -> tuple[int, int] | None:
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self) -> None:
        now = stamp(self.archive)
        if now is None or now != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = now

    invalidate_caches.skips_unchanged = True
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._read_stamp = stamp(finder.archive)
    cls.invalidate_caches = invalidate_caches
