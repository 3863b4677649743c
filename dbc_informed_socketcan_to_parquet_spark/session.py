"""SparkSession factory and fixture-table loading.

The reference is a single-threaded binary (``/root/reference/src/main.cpp:122-179``);
our unit of execution is a SparkSession.  Local-mode defaults follow the
public PySpark tuning guidance: shuffle partitions ≈ cores (not 200), AQE on,
UTC session timezone (required for DuckDB-oracle comparability), Arrow
enabled for the pandas interchange paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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


def get_spark(
    app_name: str = "dbc_informed_socketcan_to_parquet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    On a real cluster these settings are supplied by spark-submit instead;
    nothing in the engine depends on local mode.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # local mode runs driver + all 32 executor threads in ONE JVM, so
        # this is the whole cluster's memory: 8g starved the shuffle-heavy
        # corpus joins at sf1 (heap OOM in the ngram inverted-index join).
        # 24g leaves >. 90 GiB headroom for Python workers on the 128 GiB
        # host; a real cluster sizes spark.executor.memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:
        # Spark Connect session (no sparkContext): log level is a
        # server-side concern; everything else in this factory is
        # Connect-safe conf.
        pass
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Load the driver-provided parquet fixtures as DataFrames.

    Plain ``spark.read.parquet`` — columnar scan with predicate pushdown and
    column pruning handled by Catalyst; no schema inference is involved
    (parquet carries its schema).
    """
    # events.parquet carries TIMESTAMP(NANOS), which Spark 4 rejects by
    # default; read it as a long of epoch-nanoseconds instead (exact — and
    # ms derivation is then integer division, immune to µs truncation).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out
