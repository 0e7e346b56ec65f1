"""The Boom codec against an independent implementation: the JVM's own
Avro library (``tests/jvm_avro.py``). A file the JVM writes reads back
exactly through every program reader, and a file the program writes
reads back exactly through the JVM, so a bug shared by the program's
writer and reader cannot pass. Every program writer frames its blocks
through ``boom.write_container``; the write direction covers it through
the ``.bm`` writers (the hourly tree and the compaction included),
``write_avro_local`` and ``merge_avro_files`` (over program- and
JVM-written inputs), and the read direction every reader: ``read_boom``
at several split sizes, ``scan_boom_range``, ``scan_boom_bytes``,
``read_avro`` and ``avro_block_scan``."""

from __future__ import annotations

import json
import os
import re
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bb_bigdata_log_tools_spark import tree
from bb_bigdata_log_tools_spark.sources.avro_generic import (
    avro_block_scan,
    merge_avro_files,
    read_avro,
    write_avro_local,
)
from bb_bigdata_log_tools_spark.sources.boom import (
    BOOM_SCHEMA_JSON,
    compact_boom_dir,
    read_boom,
    read_boom_local,
    read_header,
    scan_boom_bytes,
    scan_boom_range,
    write_boom_local,
    write_boom_tree,
    write_reboom_stream,
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


#: Messages and strings: any text, and text made only of non-BMP characters.
TEXT = st.one_of(st.text(max_size=30),
                 st.text(st.characters(min_codepoint=0x10000), max_size=6))
LINE = st.fixed_dictionaries({
    "ms": st.integers(0, 999),
    "eventId": st.integers(-(2**31), 2**31 - 1),
    "message": TEXT,
})
#: Few distinct values, so runs of equal create times and block numbers occur.
RUNNY = st.one_of(st.integers(0, 2), st.integers(0, 2**62))


@settings(max_examples=20, deadline=None)
@given(st.lists(st.lists(LINE, max_size=6), max_size=12), st.integers(0, 2**62), st.randoms())
def test_boom_local_written_lines_jvm_reads_back_exactly(spark, seconds, create_time, rnd):
    """``write_boom_local`` over 0 to 6 lines a second, in shuffled
    order: the JVM reads one logBlock per second that has lines, in
    second order, numbered from 0, holding that second's lines in input
    order."""
    lines = [((SECOND0 + s) * 1000 + ln["ms"], ln["message"], ln["eventId"])
             for s, lns in enumerate(seconds) for ln in lns]
    rnd.shuffle(lines)
    want = [
        {"second": second, "createTime": create_time, "blockNumber": block_no,
         "logLines": [{"ms": ts % 1000, "eventId": eid, "message": msg}
                      for ts, msg, eid in lines if ts // 1000 == second]}
        for block_no, second in enumerate(sorted({ts // 1000 for ts, *_ in lines}))
    ]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "part-0.bm")
        write_boom_local(path, lines, create_time=create_time)
        assert jvm_read(spark, path) == want


@settings(max_examples=20, deadline=None)
@given(st.lists(st.fixed_dictionaries({
    "second": st.integers(SECOND0, SECOND0 + 2),
    "createTime": RUNNY,
    "blockNumber": RUNNY,
    "logLines": st.lists(LINE, min_size=1, max_size=6),
}), max_size=20))
def test_reboom_written_blocks_jvm_reads_back_exactly(spark, blocks):
    """``write_reboom_stream`` over the lines of random logBlocks, each
    block's (second, createTime, blockNumber) differing from the one
    before: the JVM reads back exactly those blocks."""
    def key(b):
        return b["second"], b["createTime"], b["blockNumber"]

    blocks = [b for i, b in enumerate(blocks) if i == 0 or key(b) != key(blocks[i - 1])]
    lines = [(b["second"] * 1000 + ln["ms"], ln["message"], ln["eventId"], *key(b)[1:])
             for b in blocks for ln in b["logLines"]]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "part-0.bm")
        assert write_reboom_stream(path, iter(lines)) == len(lines)
        assert jvm_read(spark, path) == blocks


GENERIC_SCHEMA_JSON = (
    '{"type":"record","name":"generic","fields":['
    '{"name":"id","type":"long"},'
    '{"name":"name","type":"string"},'
    '{"name":"note","type":["null","string"]},'
    '{"name":"tags","type":{"type":"array","items":"string"}},'
    '{"name":"attrs","type":{"type":"map","values":"long"}}]}'
)
INT64 = st.integers(-(2**63), 2**63 - 1)
GENERIC_ROW = st.fixed_dictionaries({
    "id": INT64,
    "name": TEXT,
    "note": st.none() | TEXT,
    "tags": st.lists(TEXT, max_size=4),
    "attrs": st.dictionaries(TEXT, INT64, max_size=4),
})


@settings(max_examples=20, deadline=None)
@given(st.lists(st.lists(GENERIC_ROW, max_size=12), min_size=2, max_size=3),
       st.integers(1, 7), st.sampled_from(["null", "deflate"]))
def test_program_written_avro_jvm_reads_back_exactly(spark, files, records_per_block, codec):
    """``write_avro_local`` writes 2 or 3 files of random generic records
    (long, string, a null|string union, an array and a map), 1 to 7
    records a block; the JVM reads back each file's rows, and the
    ``merge_avro_files`` output as all of them in file order."""
    with tempfile.TemporaryDirectory() as d:
        paths = []
        for i, rows in enumerate(files):
            paths.append(os.path.join(d, f"part-{i}.avro"))
            write_avro_local(paths[-1], GENERIC_SCHEMA_JSON, rows, codec=codec,
                             records_per_block=records_per_block)
            assert jvm_read(spark, paths[-1]) == rows
        merged = os.path.join(d, "merged.avro")
        assert merge_avro_files(spark, paths, merged) == sum(map(len, files))
        assert jvm_read(spark, merged) == [row for rows in files for row in rows]


@settings(max_examples=8, deadline=None)
@given(LOG_BLOCKS, st.sampled_from(["null", "deflate"]), st.sampled_from([64, 2048]))
def test_jvm_written_corpus_reads_through_read_boom(spark, blocks, codec, sync_interval):
    """A random logBlock corpus written by the JVM reads through
    ``read_boom`` as exactly its lines, whether the file is cut into
    64-byte ranges (most of them inside a block) or read as one range."""
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "jvm.bm")
        jvm_write(spark, path, BOOM_SCHEMA_JSON, blocks, codec=codec, sync_interval=sync_interval)
        try:
            for split in ("64", saved):
                spark.conf.set(key, split)
                assert sorted(map(tuple, read_boom(spark, path).collect())) == sorted(_flat(blocks))
        finally:
            spark.conf.set(key, saved)


HOUR_MS = 3600 * 1000
#: Lines within two hours of a midnight, some without an event id.
TREE_LINES = st.lists(
    st.tuples(st.integers(SECOND0 * 1000 - 2 * HOUR_MS, SECOND0 * 1000 + 2 * HOUR_MS), TEXT,
              st.none() | st.integers(-(2**31), 2**31 - 1)),
    max_size=40,
)


@settings(max_examples=6, deadline=None)
@given(TREE_LINES, st.integers(0, 2**62))
def test_boom_tree_hourly_files_jvm_read_back_exactly(spark, lines, create_time):
    """``write_boom_tree`` over lines around a midnight: each hourly file,
    found through ``tree.hours``, reads back through the JVM as exactly
    that hour's lines (sorted, a missing event id as 0), one logBlock a
    second numbered from 0 with the given create time."""
    want: dict = {}
    for ts, msg, eid in sorted((ts, msg, eid or 0) for ts, msg, eid in lines):
        stamp = tree.hour_stamp(ts)
        want.setdefault((stamp[:8], stamp[8:]), []).append((ts, msg, eid))
    df = spark.createDataFrame(lines, "ts long, message string, event_id int")
    with tempfile.TemporaryDirectory() as d:
        assert write_boom_tree(df, d, "dc1", "svc1", "logs", "comp1",
                               create_time=create_time) == len(lines)
        got = {}
        for path, _dc, _svc, _type, date, hour, _comp, _state in tree.hours(d):
            (name,) = os.listdir(path)
            records = jvm_read(spark, os.path.join(path, name))
            assert [r["blockNumber"] for r in records] == list(range(len(records)))
            assert {r["createTime"] for r in records} == {create_time}
            got[(date, hour)] = [(r["second"] * 1000 + ln["ms"], ln["message"], ln["eventId"])
                                 for r in records for ln in r["logLines"]]
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(st.tuples(st.integers(SECOND0 * 1000, SECOND0 * 1000 + 5000), TEXT,
                                   st.integers(-(2**31), 2**31 - 1)), min_size=1, max_size=15),
                min_size=1, max_size=3))
def test_compacted_file_jvm_reads_back_exactly(spark, parts):
    """``compact_boom_dir`` merges 1-3 part files into the one file the
    JVM reads back as every input line, ordered by (ts, message), one
    logBlock a second numbered from 0."""
    lines = [ln for part in parts for ln in part]
    with tempfile.TemporaryDirectory() as d:
        os.makedirs(os.path.join(d, "incoming"))
        for i, part in enumerate(parts):
            write_boom_local(os.path.join(d, "incoming", f"part-{i}.bm"), part)
        out = os.path.join(d, "merged.bm")
        assert compact_boom_dir(spark, os.path.join(d, "incoming"), out) == len(lines)
        records = jvm_read(spark, out)
    got = [(r["second"] * 1000 + ln["ms"], ln["message"], ln["eventId"])
           for r in records for ln in r["logLines"]]
    assert sorted(got) == sorted(lines)
    assert [g[:2] for g in got] == sorted(ln[:2] for ln in lines)
    assert [r["blockNumber"] for r in records] == list(range(len(records)))
    assert [r["second"] for r in records] == sorted({ts // 1000 for ts, *_ in lines})


def _avro_json(row: dict) -> dict:
    """``row`` in Avro's JSON encoding, which names a union's branch."""
    return {**row, "note": None if row["note"] is None else {"string": row["note"]}}


@settings(max_examples=6, deadline=None)
@given(st.lists(st.lists(GENERIC_ROW, max_size=12), min_size=1, max_size=3),
       st.sampled_from(["null", "deflate"]))
def test_jvm_written_avro_reads_through_read_avro(spark, files, codec):
    """1-3 files of random generic records written by the JVM (sync
    interval 64, so many blocks) read through ``read_avro`` as exactly
    their records, and ``avro_block_scan``'s record counts sum to the
    number of records."""
    rows = [row for recs in files for row in recs]
    with tempfile.TemporaryDirectory() as d:
        for i, recs in enumerate(files):
            jvm_write(spark, os.path.join(d, f"part-{i}.avro"), GENERIC_SCHEMA_JSON,
                      [_avro_json(r) for r in recs], codec=codec, sync_interval=64)
        got = [r.asDict() for r in read_avro(spark, d).collect()]
        counts = [r["record_count"] for r in avro_block_scan(spark, d).collect()]
    def canonical(row: dict) -> str:
        return json.dumps(row, sort_keys=True)

    assert sorted(map(canonical, got)) == sorted(map(canonical, rows))
    assert sum(counts) == len(rows)


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(GENERIC_ROW, max_size=12), min_size=2, max_size=3),
       st.integers(0, 2), st.sampled_from(["null", "deflate"]))
def test_merged_jvm_written_avro_jvm_reads_back_exactly(spark, files, empty, codec):
    """``merge_avro_files`` over 2-3 JVM-written files of random generic
    records (one schema and codec, sync interval 64, so many blocks), one
    of them with no block: the JVM reads the merged file back as exactly
    the input records, in input order."""
    files[empty % len(files)] = []
    with tempfile.TemporaryDirectory() as d:
        paths = []
        for i, recs in enumerate(files):
            paths.append(os.path.join(d, f"part-{i}.avro"))
            jvm_write(spark, paths[-1], GENERIC_SCHEMA_JSON, [_avro_json(r) for r in recs],
                      codec=codec, sync_interval=64)
        merged = os.path.join(d, "merged.avro")
        assert merge_avro_files(spark, paths, merged) == sum(map(len, files))
        assert jvm_read(spark, merged) == [row for recs in files for row in recs]
