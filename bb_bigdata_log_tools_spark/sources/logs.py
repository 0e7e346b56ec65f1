"""Log-table adapters.

The engine's canonical log schema (see ``schema.py``) mirrors the
reference's flattened Boom line. Any tabular source can be adapted into
it; ``events_as_logs`` maps the synthetic ``events`` table:

========== =============================
log column events expression
========== =============================
ts         epoch millis of ``ts``
message    ``event_type || ' ' || props``
event_id   ``event_id``
create_time epoch millis of ``ts``
block_no   ``user_id``
line_no    ``event_id``
========== =============================

``EVENTS_AS_LOGS_SQL`` is the *identical* mapping in ANSI/DuckDB SQL so
oracle queries share the exact adapter definition.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bb_bigdata_log_tools_spark.schema import LOG_COLUMNS
from bb_bigdata_log_tools_spark.tree import hour_columns, hour_stamp

EVENTS_AS_LOGS_SQL = """
    SELECT epoch_ms(ts) AS ts,
           event_type || ' ' || coalesce(props, '') AS message,
           event_id,
           epoch_ms(ts) AS create_time,
           user_id AS block_no,
           event_id AS line_no
    FROM events
"""


def events_as_logs(events: DataFrame) -> DataFrame:
    """Adapt the events table into the canonical log-line schema."""
    return events.select(
        F.unix_millis("ts").alias("ts"),
        F.concat(
            F.col("event_type"), F.lit(" "), F.coalesce(F.col("props"), F.lit(""))
        ).alias("message"),
        F.col("event_id"),
        F.unix_millis("ts").alias("create_time"),
        F.col("user_id").alias("block_no"),
        F.col("event_id").alias("line_no"),
    )


def write_first_item_text(
    df: DataFrame, path: str, col: str | None = None, mode: str = "overwrite"
) -> None:
    """First-item-only text sink — the
    ``pig/FirstItemOnlyStoreFunc.java:1`` analog: write ONLY the first
    (or a named) column of each row as a raw text line, silently
    dropping every other field. The reference uses it after the Pig
    format+sort to emit the formatted log line while discarding the
    (time, createTime, blockNo, lineNo) sort keys; the CLI's ``--out``
    path routes through here.

    Distributed: each partition writes its own part file — no driver
    funnel. When the input is a sorted range partitioning (the
    format_and_sort output), part files land in lexicographic order, so
    ``cat part-*`` preserves the total order.
    """
    first = col or df.columns[0]
    df.select(F.col(first).cast("string")).write.mode(mode).text(path)


def write_log_store(logs: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write canonical log lines as parquet partitioned by (date, hour).

    This is the engine's native storage layout: the reference's
    ``/service/.../<yyyyMMdd>/<HH>/...`` directory scheme becomes Hive
    partitioning (by ``tree.hour_columns``, which replace any ``date`` and
    ``hour`` of ``logs``), so Catalyst partition pruning replaces the
    hand-rolled path resolution of the *ByTime tools. At 100 TB this is
    the layout that makes a one-hour query read one-hour's bytes.
    """
    (
        logs.withColumns(hour_columns())
        # repartition on the partition keys first: otherwise every write
        # task emits a sliver file into every (date, hour) directory —
        # tasks × partitions small files instead of one file per dir
        .repartition("date", "hour")
        .write.partitionBy("date", "hour")
        .mode(mode)
        .parquet(path)
    )


#: Parquet footer key under which Spark's writer stores the row schema.
SPARK_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(path: str) -> StructType | None:
    """The Spark row schema in the footer of the first part file under
    ``path`` (walked in name order, skipping ``_``/``.`` names), or None
    when there is no local part file or it carries no Spark schema."""
    import pyarrow.parquet as pq

    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for name in sorted(files):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                meta = pq.read_metadata(os.path.join(root, name)).metadata or {}
                js = meta.get(SPARK_ROW_SCHEMA_KEY)
                return StructType.fromJson(json.loads(js)) if js else None
    return None


def read_log_store(spark, path: str) -> DataFrame:
    """The partitioned log store as a DataFrame, planned with no Spark job.

    ``spark.read.parquet`` infers the data schema with a one-task job
    that reads a footer on an executor. The driver reads that same footer
    itself (:func:`_footer_schema`) and passes the schema in; Spark still
    discovers the ``date``/``hour`` partition columns and infers their
    types from the directory names. A store with no local part file, or
    one written without Spark's schema key, is read with inference.
    """
    schema = _footer_schema(path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def cat_by_time(spark, path: str, start_ms: int, end_ms: int) -> DataFrame:
    """CatByTime on the partitioned store: the hours the window touches
    (:mod:`bb_bigdata_log_tools_spark.tree`) become a partition filter on
    ``date * 100 + hour`` (check ``PartitionFilters`` in the scan), and
    ``ts`` a row-level predicate (exact half-open window)."""
    df = read_log_store(spark, path)
    stamp = F.col("date").cast("long") * 100 + F.col("hour").cast("long")
    out = df.filter(
        stamp.between(int(hour_stamp(start_ms)), int(hour_stamp(end_ms - 1)))
        & (F.col("ts") >= F.lit(start_ms))
        & (F.col("ts") < F.lit(end_ms))
    )
    return out.select(*LOG_COLUMNS)
