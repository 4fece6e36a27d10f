"""SparkSession builder with scale-appropriate defaults.

Local mode is a single JVM; on a real cluster the same confs apply per
executor. AQE is on so runtime statistics drive shuffle coalescing,
skew-join splitting, and broadcast conversion — the 100-TB story relies
on it (SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory(physical_bytes: int) -> str:
    """``spark.driver.memory`` for a box with ``physical_bytes`` of RAM:
    a quarter of it, in whole megabytes, and never under 1g. Local mode
    runs every task inside the driver JVM, so this is the engine's heap;
    the quarter leaves room for the Python workers and the page cache."""
    return f"{max(1024, physical_bytes // 4 // 2**20)}m"


def get_spark(
    app_name: str = "commercial_rfp_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS]`` (32), a fixed
    ``DEFAULT_SHUFFLE_PARTITIONS`` (32) shuffle partitions whatever the
    core count (``$SPARK_SHUFFLE_PARTITIONS`` or ``shuffle_partitions``
    override it; Spark's default 200 is wrong for local and tiny data,
    and at real cluster scale callers raise it to ~2-3x total cores),
    AQE + skew-join handling on, a driver heap of a quarter of physical
    RAM (``default_driver_memory``; ``$SPARK_DRIVER_MEMORY`` overrides
    it), UTC session timezone so
    timestamp comparisons against the DuckDB oracle (UTC-naive) are
    stable, ANSI off for permissive multi-format parsing semantics
    (the reference's pandas `errors='coerce'` model; SURVEY.md §4.3).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # events.parquet has shipped with TIMESTAMP(NANOS) ts, readable
        # only as raw longs under this legacy flag (io.load_table and
        # streaming.read_events_stream convert back to timestamps)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def production_conf(total_cores: int, executor_mem_gb: int) -> dict[str, str]:
    """Recommended confs for a real multi-executor cluster at the
    100-TB design point — the deltas vs the local-mode defaults above.
    Callers pass these as ``extra_conf`` (or spark-submit --conf).

    Rationale per key:
    - shuffle partitions ~2.5x total cores: enough tasks for stragglers
      and AQE coalescing headroom without scheduler overload;
    - 128 MB scan partitions: matches parquet row-group sizing so one
      task ≈ one row group stack, keeping partitions within executor
      memory even at wide schemas;
    - broadcast threshold scaled to executor memory (dims up to ~1% of
      heap are cheaper to ship than to shuffle the fact side);
    - RocksDB state store: streaming state (dedup, sessions) larger
      than heap spills to local disk with incremental checkpoints;
    - shuffle compression + zstd: network is the scarce resource at
      1000 executors."""
    return {
        "spark.sql.shuffle.partitions": str(int(total_cores * 2.5)),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(
            # ~1% of executor heap (10 MB per GB), capped at 256 MB
            min(executor_mem_gb * 10, 256) * 1024 * 1024
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(96 * 1024 * 1024),
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.io.compression.codec": "zstd",
        "spark.shuffle.compress": "true",
        "spark.speculation": "true",
    }
