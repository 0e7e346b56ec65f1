"""The Boom codec against an independent implementation: the JVM's own
Avro library (``tests/jvm_avro.py``). A file the JVM writes reads back
exactly through every program reader, and a file the program writes
reads back exactly through the JVM, so a bug shared by the program's
writer and reader cannot pass."""

from __future__ import annotations

import os
import re
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bb_bigdata_log_tools_spark.sources.boom import (
    BOOM_SCHEMA_JSON,
    read_boom,
    read_boom_local,
    read_header,
    scan_boom_bytes,
    scan_boom_range,
    write_boom_local,
)
from jvm_avro import jvm_read, jvm_write

SECOND0 = 1_791_158_400  # 2026-10-05 00:00 UTC
LONG = "long " + "x" * 70_000 + " end"
MESSAGES = [
    "",
    "plain ascii disk ok",
    "non-BMP \U0001F600 \U0001D11E \U0002000B",
    "BMP é ü ß ÉCHEC-DISQUE",
    'escapes   \t "quoted" back\\slash',
]


def _blocks() -> list[dict]:
    """A fixed logBlock corpus: empty, long and non-BMP messages, blocks
    of zero to four lines, extreme event ids, two create times."""
    blocks = []
    for b in range(240):
        lines = [
            {"ms": (b * 37 + i * 101) % 1000,
             "eventId": (-1, 0, 2**31 - 1, b)[i % 4],
             "message": LONG if b in (7, 150) and i == 0 else MESSAGES[(b + i) % len(MESSAGES)]}
            for i in range(b % 5)
        ]
        blocks.append({"second": SECOND0 + b // 3, "createTime": 1_791_000_000_000 + b % 2,
                       "blockNumber": b, "logLines": lines})
    return blocks


def _flat(blocks: list[dict]) -> list[tuple]:
    """(ts, message, event_id, create_time, block_no, line_no) per line."""
    return [
        (r["second"] * 1000 + ln["ms"], ln["message"], ln["eventId"], r["createTime"],
         r["blockNumber"], i)
        for r in blocks
        for i, ln in enumerate(r["logLines"])
    ]


@pytest.mark.parametrize("codec", ["deflate", "null"])
def test_jvm_written_file_reads_back_exactly(spark, tmp_path, max_partition_bytes, codec):
    """The JVM writes a .bm file (sync interval 2048, so many records per
    block and many blocks); ``read_boom_local`` returns exactly its lines
    in order, and ``read_boom`` exactly its lines whether the file is one
    range or split into ranges smaller than a block."""
    path = str(tmp_path / "jvm.bm")
    blocks = _blocks()
    jvm_write(spark, path, BOOM_SCHEMA_JSON, blocks, codec=codec, sync_interval=2048)
    want = _flat(blocks)
    assert read_boom_local(path) == want
    for split in (128 * 1024 * 1024, 1500):
        max_partition_bytes(split)
        assert sorted(map(tuple, read_boom(spark, path).collect())) == sorted(want), split


def test_program_written_file_jvm_reads_back_exactly(spark, tmp_path):
    """``write_boom_local`` writes a .bm file; the JVM reads back exactly
    the input lines, one logBlock per second numbered from 0 with the
    given create time."""
    lines = [(ts, msg, eid) for ts, msg, eid, *_ in _flat(_blocks())]
    lines.sort(key=lambda ln: ln[0] // 1000)  # the writer's per-second order
    path = str(tmp_path / "program.bm")
    write_boom_local(path, lines, create_time=7)
    records = jvm_read(spark, path)
    got = [(r["second"] * 1000 + ln["ms"], ln["message"], ln["eventId"])
           for r in records for ln in r["logLines"]]
    assert got == lines
    assert [r["blockNumber"] for r in records] == list(range(len(records)))
    assert {r["createTime"] for r in records} == {7}
    assert [r["second"] for r in records] == sorted({ts // 1000 for ts, *_ in lines})


LOG_BLOCKS = st.lists(
    st.fixed_dictionaries({
        "second": st.integers(SECOND0, SECOND0 + 7200),
        "createTime": st.integers(0, 2**41),
        "blockNumber": st.integers(0, 2**40),
        "logLines": st.lists(
            st.fixed_dictionaries({
                "ms": st.integers(0, 999),
                "eventId": st.integers(-(2**31), 2**31 - 1),
                "message": st.text(max_size=30),
            }),
            max_size=6,
        ),
    }),
    max_size=40,
)


@settings(max_examples=25, deadline=None)
@given(LOG_BLOCKS, st.sampled_from(["null", "deflate"]), st.sampled_from([64, 2048]), st.data())
def test_jvm_written_corpus_scans_like_plain_filter(spark, blocks, codec, sync_interval, data):
    """For a random logBlock corpus written by the JVM: ``scan_boom_range``
    over random split points tiles to exactly the corpus's lines in file
    order, and ``scan_boom_bytes`` with random windows, with no terms or
    with random terms in both match modes and both case modes, returns
    exactly those lines filtered in plain Python (case-insensitive:
    ``.lower()`` on both sides, as Spark's ``lower()``)."""
    want = _flat(blocks)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "jvm.bm")
        jvm_write(spark, path, BOOM_SCHEMA_JSON, blocks, codec=codec, sync_interval=sync_interval)
        with open(path, "rb") as f:
            raw = f.read()
        # split points anywhere, and within a marker's length of a sync marker
        syncs = [m.start() for m in re.finditer(re.escape(read_header(raw)[2]), raw)]
        near_sync = st.sampled_from(syncs).flatmap(
            lambda p: st.integers(max(0, p - 17), min(len(raw), p + 17)))
        cut = st.one_of(st.integers(0, len(raw)), near_sync)
        cuts = sorted({0, len(raw), *data.draw(st.lists(cut, max_size=6))})
        got = [row for s, e in zip(cuts, cuts[1:]) for row in scan_boom_range(path, s, e)]
        assert got == want

    pieces = [m[i:i + 3] for _ts, m, *_ in want if m for i in (0, len(m) // 2)]
    term = st.text(min_size=1, max_size=4)
    if pieces:
        term = st.one_of(term, st.sampled_from(pieces), st.sampled_from(pieces).map(str.swapcase))
    terms = data.draw(st.lists(term, min_size=1, max_size=3))
    edge = st.none()
    if want:
        ts = [r[0] for r in want]
        edge = st.one_of(edge, st.sampled_from(ts), st.integers(min(ts) - 1000, max(ts) + 1000))
    for start_ms, end_ms in data.draw(st.lists(st.tuples(edge, edge), min_size=1, max_size=3)):
        windowed = [
            r for r in want
            if (start_ms is None or r[0] >= start_ms) and (end_ms is None or r[0] < end_ms)
        ]
        assert list(scan_boom_bytes(raw, None, False, False, start_ms, end_ms)) == windowed
        for match_all in (False, True):
            for ci in (False, True):
                agg = all if match_all else any
                expected = [
                    r for r in windowed
                    if agg((t.lower() in r[1].lower()) if ci else (t in r[1]) for t in terms)
                ]
                got = scan_boom_bytes(raw, terms, match_all, ci, start_ms, end_ms)
                assert list(got) == expected, (start_ms, end_ms, match_all, ci)
