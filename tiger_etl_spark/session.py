"""SparkSession factory.

Reference analog: the singleton engine + connection pool at
``system/system/database_connections/pg_db.py:77-147`` (double-checked
locked engine creation). In Spark the session *is* the pooled resource:
one ``SparkSession`` per job via ``getOrCreate``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """A zero-row DataFrame of `schema` that the optimizer plans as an
    empty local relation: no partitions, no tasks, no Python worker.
    (``createDataFrame`` over an empty list is a Python RDD that starts
    one worker task per core.) One projection of typed NULLs, so the
    build costs a few JVM calls whatever the field count; `to` puts the
    field metadata back. Every field of `schema` must be nullable, as
    every DDL-parsed field is: `to` refuses a non-nullable one."""
    return (
        spark.range(1)
        .selectExpr(
            *[
                f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                for f in schema.fields
            ]
        )
        .where("false")
        .to(schema)
    )


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1)))


def driver_memory() -> str:
    """The driver heap: SPARK_GRAFT_DRIVER_MEM when set, else ~60% of
    host RAM (MemTotal, via sysconf) capped at 48g — a fixed 48g default
    cannot start the JVM on a smaller host."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override is not None:
        return override
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(int(mem * 0.6) >> 20, 48 << 10)}m"


def _local_dir() -> str | None:
    """Shuffle/spill scratch dir. OPT-IN ONLY: tmpfs (`/dev/shm`) is a
    measured 1.6× win on this sandbox's virtio disk (small-file churn
    burns system CPU), but tmpfs spill consumes RAM — a library user
    whose shuffle legitimately needs to spill to disk must keep Spark's
    default. The bench/test harnesses set SPARK_GRAFT_LOCAL_DIR
    explicitly; unset → Spark's default local dir."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if not override:
        return None
    try:
        os.makedirs(override, exist_ok=True)
        return override
    except OSError:
        return None


def get_spark(
    app_name: str = "tiger_etl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession tuned for the sandbox (one JVM,
    ``local[N]``); on a real cluster the same confs apply, with
    ``master``/executors supplied by spark-submit.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    driver_mem = driver_memory()
    # Executor Python workers must import this package (mapInPandas /
    # pandas UDF closures reference it). Local mode inherits the driver
    # env — prepend the package root to PYTHONPATH before JVM start; on
    # a cluster this is spark-submit --py-files (jobs/package.py).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_root}:{existing}" if existing else pkg_root
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # Shuffle sized to cores locally; AQE coalesces at runtime anyway.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Timestamps are UTC end-to-end (reference stores tz-aware UTC;
        # DuckDB oracle compares UTC-naive) — SURVEY.md §2.8 F7.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html:binary payloads through Arrow — bound batch size so large
        # binary columns don't blow the Arrow IPC buffers (SURVEY.md §7).
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"),
        )
        # Lake reads hand Spark the manifest's file paths, so listing them
        # again is pure overhead, and above this many paths (Spark's
        # default is 32) Spark lists them with a Spark job of one task per
        # path. Measured on local[4] over local disk, driver listing
        # against the job: 40 paths 0.02 s against 0.21–0.50 s, 1,000
        # paths 0.15–0.17 s against 3.0–3.7 s, 2,000 paths 0.27 s against
        # 6.7 s. The driver won at every size, so no read lists by a job.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", "2147483647"
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT96 (Spark's legacy default) carries NO parquet column
        # statistics, which blinds manifest-level time-range pruning
        # (lake/pruning.py); micros is the modern type and stats-capable
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # JVM (not ICU) case mappings for UTF8_BINARY lower()/upper():
        # the first ICU-path call pays a one-time ~200 s static init
        # (CollationAwareUTF8String builds a title-case lookup table by
        # calling UCharacter.toTitleCase for all 1,114,112 code points,
        # each allocating a BreakIterator under icu4j 77). JVM simple
        # case mapping is identical for ASCII (the web-corpus hot path)
        # and matches the DuckDB parity oracle; users needing ICU
        # full-Unicode case edge cases can flip it back via extra_conf.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # Throughput GC with a fixed heap: no concurrent-cycle overhead,
        # no heap resize/uncommit churn mid-stream (measured ~7% on the
        # CDC bench; see BENCH/BASELINE.md protocol)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_JAVA_OPTS",
                f"-XX:+UseParallelGC -Xms{driver_mem}",
            ),
        )
    )
    local_dir = _local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
