"""The committed stand-in corpus the reference-fed gate keys read when
the reference test tree is absent, and ``text_to_boom``'s rule for a
line whose head is not a timestamp.

The ``boom_read*`` oracles are built from ``standin-blocks.json``; the
JVM's own Avro reader checks that ``standin.bm`` holds exactly those
records, so the oracle's premise does not rest on the program's decoder.
The keys themselves run in ``tests/test_oracle.py::test_oracle_match``.
"""

from __future__ import annotations

import json

from bb_bigdata_log_tools_spark.registry_boom import (
    PUSHDOWN_TERMS,
    STANDIN_BLOCKS,
    STANDIN_BM,
)
from bb_bigdata_log_tools_spark.sources.boom import container_ranges, read_boom, text_to_boom
from jvm_avro import jvm_read


def test_standin_bm_is_exactly_the_json_records(spark, max_partition_bytes):
    """The JVM reads ``standin.bm`` back as the JSON records, in order;
    the file splits into several 512-byte ranges (``boom_read_split``),
    and the pushdown terms match some of its lines but not all."""
    with open(STANDIN_BLOCKS, encoding="utf-8") as f:
        blocks = json.load(f)
    assert jvm_read(spark, STANDIN_BM) == blocks
    max_partition_bytes(512)
    assert len(container_ranges(STANDIN_BM, spark=spark)) > 3
    messages = [ln["message"] for r in blocks for ln in r["logLines"]]
    hits = [m for m in messages if any(t in m for t in PUSHDOWN_TERMS)]
    assert 0 < len(hits) < len(messages)


def test_text_to_boom_drops_a_line_without_timestamp_head(spark, tmp_path):
    """A line whose first token is not a timestamp is dropped; every
    other line is converted, the message being the rest after the first
    space."""
    src = tmp_path / "in.txt"
    src.write_text(
        "2012-02-28T10:00:01.000+00:00 first line\n"
        "not-a-timestamp this line is dropped\n"
        "2012-02-28T11:00:02.5+01:00 Человек, second line\n",
        encoding="utf-8",
    )
    out = str(tmp_path / "out")
    assert text_to_boom(spark, str(src), out) == 2
    got = sorted(tuple(r) for r in read_boom(spark, out).select("ts", "message").collect())
    assert got == [(1330423201000, "first line"), (1330423202500, "Человек, second line")]
