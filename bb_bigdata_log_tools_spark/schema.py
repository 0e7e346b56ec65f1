"""Canonical log-line schema.

Mirrors the reference's flattened Boom log line
(``/root/reference/src/com/blackberry/logdriver/boom/LogLineData.java``):
``timestamp = second*1000 + ms``, plus ``eventId``, ``createTime``,
``blockNumber`` and ``lineNumber`` (index of the line within its block).

The reference's path layout
``/service/<dc>/<svc>/<type>/<yyyyMMdd>/<HH>/<component>/...``
(``util/IndexLogs.java:46``) becomes ordinary Hive partition columns, so
Catalyst partition pruning replaces the hand-rolled path resolution of the
``*ByTime`` tools.
"""

from __future__ import annotations

from pyspark.sql import types as T

LOG_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.LongType(), False),  # epoch millis
        T.StructField("message", T.StringType(), True),
        T.StructField("event_id", T.IntegerType(), True),
        T.StructField("create_time", T.LongType(), True),
        T.StructField("block_no", T.LongType(), True),
        T.StructField("line_no", T.LongType(), True),
    ]
)

LOG_COLUMNS = [f.name for f in LOG_SCHEMA.fields]
