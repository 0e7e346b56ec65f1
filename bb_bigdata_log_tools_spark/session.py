"""SparkSession factory and test-table loading helpers."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
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
]


def get_spark(
    app_name: str = "bb-bigdata-log-tools-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for this engine.

    Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    master comes from the environment and these configs still apply. AQE is
    on so skewed shuffles (LSH buckets, hot services) re-plan at runtime,
    and the session timezone is pinned to UTC so timestamp semantics match
    the oracle (DuckDB) and the reference (epoch-millis arithmetic).
    No progress bar is drawn: stderr carries only the CLI's own lines.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every parquet table in ``sf_dir`` that exists."""
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = table(spark, sf_dir, name)
    return out


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition compute-heavy inputs that arrive under-partitioned.

    A small parquet file scans as one partition, serializing every
    downstream expression on one core. At real scale inputs already have
    enough splits, so this is a no-op there (guarded, not unconditional —
    an unconditional repartition would add a full shuffle at 100 TB).

    The partition probe reads the INTERNAL RDD's partition count
    (``queryExecution().toRdd()``) instead of ``df.rdd``: both plan the
    physical subtree (no job either way, partition counts identical —
    the Python wrapper maps partitions 1:1), but ``df.rdd`` additionally
    builds the Python-deserializing RDD pipeline, ~70 ms of extra
    driver latency per call site (r13 optimization round; 121 call
    sites). Falls back to ``df.rdd`` if the internal accessor drifts.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        nparts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:  # noqa: BLE001 — internal-API drift safety net
        nparts = df.rdd.getNumPartitions()
    if nparts < max(2, target // 2):
        return df.repartition(target)
    return df


def tmp_store_path(name: str, sf_dir: str) -> str:
    """sf_dir-keyed tmp store path, stable across processes — the ONE
    copy of the keying rule shared by every build-once store (the
    log_cat_by_time parquet log store, the sink round-trip stores): a
    keying change (e.g. a version suffix when fixtures regenerate)
    must hit all stores at once or one family reads stale data."""
    import hashlib
    import tempfile

    key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"bb_{name}_{key}")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table, normalizing timestamp precision.

    Some sources write TIMESTAMP(NANOS) parquet, which Spark's vectorized
    reader rejects outright; ``nanosAsLong`` (a runtime SQL conf — set
    here so any caller-provided session works) reads them as raw
    nanosecond longs, which we floor to microseconds and rebuild into a
    proper timestamp — the same ns→µs truncation DuckDB applies, keeping
    oracle comparisons exact.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Formatting/zone-sensitive exprs must agree with the (tz-naive, UTC)
    # oracle even when the caller's session wasn't built by get_spark().
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Naive parquet timestamps (no isAdjustedToUTC) must read as plain
    # TIMESTAMP in the UTC session — not TIMESTAMP_NTZ, which epoch
    # functions (unix_millis) reject and which DuckDB has no analog of.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer `div`, not `/`: ns values exceed double precision (2^53)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
