"""Registry part 3: Boom-format and timestamp-parsing operators
(SURVEY.md §2a rows 11-14, 16).

The three ``boom_read*`` keys read the reference repo's own golden .bm
test file when its test tree is present; their oracle is then the PINNED
expected decode of that file (independently cross-checked against
``reference-files/logcat-reference.txt`` in tests/test_boom_golden.py).
When the tree is absent they read the committed stand-in ``data/standin.bm``,
written by the JVM's own Avro ``DataFileWriter`` from the logBlock records
in ``data/standin-blocks.json`` (``tests/make_gate_corpus.py``); their
oracle is then built from those records by the ``LogLineData`` rule, not
by the program's decoder. Either way the driver's t2 gate also covers the
Avro container decoder.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.functions.timestamps import (
    format_timestamp,
    parse_rfc3164,
    parse_rfc5424,
)
from bb_bigdata_log_tools_spark.session import table
from bb_bigdata_log_tools_spark.sources.boom import read_boom, read_boom_local

BM_DIR = (
    "/root/reference/testcases/logsearch/logsearch-testservice/logs/"
    "20120228/10/logsearch-test/data"
)
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
STANDIN_BM = os.path.join(DATA_DIR, "standin.bm")
STANDIN_BLOCKS = os.path.join(DATA_DIR, "standin-blocks.json")
#: What the ``boom_read*`` keys read: the reference's golden .bm
#: directory, or the committed stand-in when that tree is absent.
BOOM_INPUT = BM_DIR if os.path.isdir(BM_DIR) else STANDIN_BM


def q_boom_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed decode of :data:`BOOM_INPUT`: the reference golden .bm
    file, or the stand-in without the reference tree (fixed input —
    independent of sf_dir)."""
    return read_boom(spark, BOOM_INPUT)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _boom_rows() -> list[tuple]:
    """The expected lines of :data:`BOOM_INPUT`: the pinned decode of the
    reference file, or the stand-in's JSON records flattened by the
    ``LogLineData`` rule (ts = second*1000 + ms, line_no = index within
    the block)."""
    if BOOM_INPUT == BM_DIR:
        bm = None
        for f in os.listdir(BM_DIR):
            if f.endswith(".bm"):
                bm = os.path.join(BM_DIR, f)
        return read_boom_local(bm)
    with open(STANDIN_BLOCKS, encoding="utf-8") as f:
        blocks = json.load(f)
    return [
        (r["second"] * 1000 + ln["ms"], ln["message"], ln["eventId"], r["createTime"],
         r["blockNumber"], i)
        for r in blocks
        for i, ln in enumerate(r["logLines"])
    ]


def _build_boom_values() -> str:
    rows = sorted(_boom_rows())
    vals = ",\n  ".join(
        f"({r[0]}, {_sql_quote(r[1])}, {r[2]}, {r[3]}, {r[4]}, {r[5]})" for r in rows
    )
    return f"""
SELECT CAST(ts AS BIGINT) AS ts, message,
       CAST(event_id AS INTEGER) AS event_id,
       CAST(create_time AS BIGINT) AS create_time,
       CAST(block_no AS BIGINT) AS block_no,
       CAST(line_no AS BIGINT) AS line_no
FROM (VALUES
  {vals}
) AS t(ts, message, event_id, create_time, block_no, line_no)
"""


SQL_BOOM_READ = _build_boom_values()

# FastSearch-parity pushdown: Spark side filters INSIDE the decoder
# (block byte-scan before record decode, sources/boom.py:scan_boom_bytes);
# the oracle filters the pinned unfiltered decode in SQL — an
# independent read-then-filter check of the same contract.
PUSHDOWN_TERMS = ["contains", "Greek"]


def q_boom_read_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pushed substring search on :data:`BOOM_INPUT`, the reference golden
    .bm file or the stand-in (``util/FastSearch.java:76`` semantics; fixed
    input, independent of sf_dir)."""
    return read_boom(spark, BOOM_INPUT, search_terms=PUSHDOWN_TERMS)


SQL_BOOM_READ_PUSHDOWN = f"""
SELECT * FROM ({SQL_BOOM_READ}) AS unfiltered
WHERE message LIKE '%{PUSHDOWN_TERMS[0]}%' OR message LIKE '%{PUSHDOWN_TERMS[1]}%'
"""


def q_ts_parse_rfc5424(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: events ts → RFC5424 string → parse back to epoch ms.

    Exercises the full parser path (fractional seconds + offset) on real
    data; output is (event_id, ts_string, parsed_ms).
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id", F.unix_millis("ts").alias("ms")
    )
    s = ev.withColumn("ts_string", format_timestamp(F.col("ms"), "RFC5424"))
    return s.select(
        "event_id", "ts_string", parse_rfc5424(F.col("ts_string")).alias("parsed_ms")
    )


SQL_TS_PARSE_RFC5424 = """
SELECT event_id,
       strftime(date_trunc('ms', ts), '%Y-%m-%dT%H:%M:%S.%g') || '+00:00' AS ts_string,
       epoch_ms(date_trunc('ms', ts)) AS parsed_ms
FROM events
ORDER BY event_id
"""


def q_ts_parse_rfc3164(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syslog-format round-trip with pinned ref_year=2024 (events data
    is all Jan 2024, so no year-boundary correction triggers; the
    boundary cases are unit-tested in tests/test_timestamps.py)."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", F.unix_millis("ts").alias("ms")
    )
    s = ev.withColumn("ts_string", format_timestamp(F.col("ms"), "RFC3164"))
    return s.select(
        "event_id",
        "ts_string",
        parse_rfc3164(F.col("ts_string"), ref_year=2024).alias("parsed_ms"),
    )


SQL_TS_PARSE_RFC3164 = """
SELECT event_id,
       strftime(ts, '%b %d %H:%M:%S') AS ts_string,
       epoch_ms(date_trunc('second', ts)) AS parsed_ms
FROM events
ORDER BY event_id
"""

def q_boom_read_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:data:`BOOM_INPUT` (the golden .bm, or the stand-in without the
    reference tree) decoded through ``read_boom``'s sync-split ranges
    under a 512-byte ``maxPartitionBytes`` (forcing many ranges over one
    small file) — must equal the whole-file decode exactly (fixed input,
    independent of sf_dir). The ranges are planned inside ``read_boom``,
    so the setting is restored as soon as it returns."""
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "512")
    try:
        return read_boom(spark, BOOM_INPUT)
    finally:
        spark.conf.set(key, saved)


BOOM_QUERIES = {
    "boom_read": q_boom_read,
    "boom_read_split": q_boom_read_split,
    "boom_read_pushdown": q_boom_read_pushdown,
    "ts_parse_rfc5424": q_ts_parse_rfc5424,
    "ts_parse_rfc3164": q_ts_parse_rfc3164,
}

BOOM_ORACLES = {
    "boom_read": SQL_BOOM_READ,
    "boom_read_split": SQL_BOOM_READ,
    "boom_read_pushdown": SQL_BOOM_READ_PUSHDOWN,
    "ts_parse_rfc5424": SQL_TS_PARSE_RFC5424,
    "ts_parse_rfc3164": SQL_TS_PARSE_RFC3164,
}
