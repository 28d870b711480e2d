"""SparkSession factory tuned for the engine.

Local mode is a single JVM; on a real cluster the same config block applies
unchanged except master/memory. AQE is on so skew joins and partition
coalescing re-plan at runtime — the 10^10-URL frontier is Zipfian by host and
relies on it (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# The engine's SQL-level settings. get_spark and scripts/submit_crawl.py
# (where spark-submit owns master and deploy config) both apply this one dict.
ENGINE_SQL_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Pages rows carry ~10-100KB html payloads; the 10k-record default
    # would make ~0.3-1GB Arrow batches per task and melt the heap at
    # 32 concurrent tasks (observed: futex/GC stall, 1 core busy).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    # same story for the parquet vectorized reader: its default 4096-row
    # columnar batch is ~680MB of html per task in flight — 32 concurrent
    # tasks OOM a 32g heap. 256 rows ≈ 40MB/task at 150KB/page.
    "spark.sql.parquet.columnarReaderBatchSize": "256",
    # html-heavy parquet compresses 20-40x (repetitive markup): a default
    # 128MB split decompresses to multi-GB per task and OOMs the heap at
    # full task concurrency. Small splits ALSO kill last-wave task
    # quantization: at 16m the bench corpus made 34 x ~7s extraction
    # tasks, so the final wave idled 6 of 8 cores for a full task — 6m
    # gives ~3x more, shorter tasks and near-even core packing at any
    # level (spill-aware sizing, SURVEY.md §4).
    "spark.sql.files.maxPartitionBytes": "6m",
    # default 4MB open-cost forces one tiny html file per task; 1m packs
    # ~2 of the corpus's ~2MB files per task — fewer task round-trips
    # while keeping waves even
    "spark.sql.files.openCostInBytes": "1m",
    # Static: the JVM's LRU of generated classes. One crawl compiles about
    # 130 distinct bodies on bulk_crawl, about 190 on resume_recrawl and
    # about 180 for the fixture crawl, so the default of 100 evicts each
    # body before the next crawl reuses it, and every crawl recompiles
    # (Janino, then class loading and JIT) its whole working set.
    "spark.sql.codegen.cache.maxEntries": "4000",
}


def _default_driver_mem() -> str:
    try:
        with open("/proc/meminfo") as f:
            total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        gb = max(2, min(32, total_kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 8
    return f"{gb}g"


def get_spark(
    app_name: str = "upton_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count: at local scale 200 partitions would
    just add scheduling overhead; on a real cluster this is overridden to
    ~2-3x total executor cores.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cores
    # make the engine importable in daemon/worker processes
    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=ENGINE_SQL_CONF)
        .config("spark.ui.enabled", "false")
        # the worker daemon (upton_spark/spark_daemon.py) keeps each UDF task
        # from re-reading pyspark.zip and the spark-core jar: every task's
        # setup_spark_files calls importlib.invalidate_caches(), which on
        # CPython < 3.13 eagerly re-reads every zip importer's directory. It
        # also preloads pandas/numpy/engine modules so forked workers don't
        # pay a per-fork import storm.
        .config("spark.python.daemon.module", "upton_spark.spark_daemon")
        # single-JVM local mode: driver heap IS the executor heap. Default to
        # ~1/4 of system RAM capped at 32g (sized for 32 concurrent
        # html-bearing tasks on the 128 GiB bench host) so smaller machines
        # still start; override with SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
