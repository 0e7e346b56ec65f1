"""The one Avro container reader behind every .bm and .avro read: ranged
reads are as strict as the whole-file read, and an unsupported codec
fails loudly on every read path. ``read_boom``, the one distributed
reader, returns exactly the per-file decode for any split size, lists
files by Spark's naming rule and packs ranges across tasks. Both
container writers' output is pinned byte for byte."""

from __future__ import annotations

import hashlib
import json
import os
import random

import pytest

from bb_bigdata_log_tools_spark.sources import avro_generic as ag
from bb_bigdata_log_tools_spark.sources.boom import (
    BOOM_SCHEMA_JSON,
    container_header_bytes,
    flatten_log_blocks,
    read_boom,
    read_container,
    read_header,
    scan_boom_bytes,
    scan_boom_range,
    write_boom_local,
    write_boom_stream,
)

SPLITS = (None, 257, 64, 17)  # None: one range over the whole file


def _ranged(path: str, split: int | None) -> list[tuple]:
    """The union of the ranged reads of one split of ``path``."""
    size = os.path.getsize(path)
    split = split or size
    rows = []
    for start in range(0, size, split):
        rows.extend(scan_boom_range(path, start, min(start + split, size)))
    return rows


def _corpus(rng: random.Random) -> list[tuple]:
    return [
        (1_700_000_000_000 + s * 1000 + rng.randrange(1000),
         f"line s{s} i{i} " + "y" * rng.randrange(30), i)
        for s in range(30)
        for i in range(rng.randrange(1, 8))
    ]


def test_ranged_reads_fail_loudly_on_damage(tmp_path):
    """Random bytes damaged after the header: every split's ranged read
    either raises or returns exactly the strict whole-file decode —
    never fewer rows, whatever the split size. Intact files tile
    exactly."""
    rng = random.Random(20261017)
    checked = raised = 0
    for fi in range(4):
        path = str(tmp_path / f"f{fi}.bm")
        write_boom_local(path, _corpus(rng))
        with open(path, "rb") as f:
            data = f.read()
        want = sorted(flatten_log_blocks(read_container(data)))
        for split in SPLITS:
            assert sorted(_ranged(path, split)) == want
        header_end = read_header(data)[3]
        damaged = str(tmp_path / "damaged.bm")
        for _ in range(60):
            bad = bytearray(data)
            for _ in range(rng.randint(1, 4)):
                bad[rng.randrange(header_end, len(bad))] ^= rng.randint(1, 255)
            with open(damaged, "wb") as f:
                f.write(bad)
            try:
                whole = sorted(flatten_log_blocks(read_container(bytes(bad))))
            except Exception:  # noqa: BLE001 — the strict decode may raise
                whole = None
            for split in SPLITS:
                checked += 1
                try:
                    got = _ranged(damaged, split)
                except Exception:  # noqa: BLE001 — raising is the contract
                    raised += 1
                    continue
                assert whole is not None and sorted(got) == whole, (fi, split)
    assert checked == 4 * 60 * len(SPLITS) and raised > checked // 2


def test_read_boom_split_damage_names_file(spark, tmp_path, max_partition_bytes):
    """A strict split read of a damaged file fails, naming the file."""
    from boom_damage import damage_block

    d = tmp_path / "data"
    d.mkdir()
    path = str(d / "part-00000.bm")
    write_boom_local(path, _corpus(random.Random(3)))
    damage_block(path)
    with pytest.raises(Exception, match="cannot decode .bm file .*part-00000.bm"):
        max_partition_bytes(64)
        read_boom(spark, str(d)).collect()


@pytest.fixture()
def snappy_file(tmp_path):
    """A .bm whose header declares the unsupported ``snappy`` codec over
    intact block framing."""
    path = str(tmp_path / "snappy" / "part-00000.avro")
    os.makedirs(os.path.dirname(path))
    write_boom_local(path, _corpus(random.Random(5)))
    with open(path, "rb") as f:
        data = f.read()
    _schema, _codec, sync, header_end = read_header(data)
    data = container_header_bytes(BOOM_SCHEMA_JSON, "snappy", sync) + data[header_end:]
    with open(path, "wb") as f:
        f.write(data)
    return path, data


def test_unsupported_codec_raises_on_every_read_path(snappy_file):
    path, data = snappy_file
    with pytest.raises(ValueError, match="unsupported codec: snappy"):
        list(read_container(data))
    with pytest.raises(ValueError, match="unsupported codec: snappy"):
        list(scan_boom_bytes(data, ["line"]))
    for start in (0, len(data) // 2):
        with pytest.raises(ValueError, match="unsupported codec: snappy"):
            list(scan_boom_range(path, start, len(data)))
    # the block walk itself never inflates: block-level access still works
    assert [n for _i, n, _sz, _raw in ag.scan_blocks(data)] == [1] * 30


def test_avro_block_scan_reports_unsupported_codec(spark, snappy_file):
    path, _data = snappy_file
    rows = ag.avro_block_scan(spark, os.path.dirname(path)).collect()
    assert len(rows) == 30
    assert {r.codec for r in rows} == {"snappy"}


HOUR_MS = 3_600_000
T0 = 1_699_920_000_000  # 2023-11-14 00:00 UTC


def _hour_tree(root, hours: int = 6) -> list[str]:
    """An hourly ``<date>/<HH>/comp/data/part-*.bm`` tree of multi-block
    files; returns the data directories in hour order."""
    rng = random.Random(11)
    dirs = []
    for h in range(hours):
        d = root / "20231114" / f"{h:02d}" / "comp" / "data"
        d.mkdir(parents=True)
        lines = [
            (T0 + h * HOUR_MS + s * 1000 + rng.randrange(1000),
             f"h{h} s{s} i{i} " + "z" * rng.randrange(40), i)
            for s in range(0, 3600, 90)
            for i in range(rng.randrange(1, 6))
        ]
        write_boom_local(str(d / f"part-00000.{h:02d}.bm"), lines)
        dirs.append(str(d))
    return dirs


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_read_boom_equals_local_decode(spark, tmp_path, max_partition_bytes):
    """read_boom returns exactly the per-file read_boom_local decode for
    a directory list, a glob, a recursive root and a single file, at
    whole-file and sub-block split sizes. A strict read of a damaged file
    raises naming it at every split size; salvage on whole-file ranges
    returns the whole-file salvage walk."""
    from boom_damage import damage_block

    from bb_bigdata_log_tools_spark.sources.boom import read_boom_local

    dirs = _hour_tree(tmp_path / "tree")
    files = [os.path.join(d, os.listdir(d)[0]) for d in dirs]
    want = sorted(r for f in files for r in read_boom_local(f))
    paths = {
        "list": dirs,
        "glob": str(tmp_path / "tree" / "*" / "*" / "comp" / "data"),
        "root": str(tmp_path / "tree"),
    }
    largest = max(os.path.getsize(f) for f in files)
    for split in (largest, 1500, 257):
        max_partition_bytes(split)
        for kind, path in paths.items():
            assert _rows(read_boom(spark, path)) == want, (split, kind)
        assert _rows(read_boom(spark, files[2])) == sorted(read_boom_local(files[2]))

    before = read_boom_local(files[3])
    damage_block(files[3])
    for split in (largest, 1500, 257):
        max_partition_bytes(split)
        with pytest.raises(Exception, match=f"cannot decode .bm file {files[3]}"):
            read_boom(spark, dirs).collect()
    max_partition_bytes(largest)
    with open(files[3], "rb") as f:
        salvaged = list(flatten_log_blocks(read_container(f.read(), salvage=True)))
    intact = [r for f in files if f != files[3] for r in read_boom_local(f)]
    assert _rows(read_boom(spark, dirs, skip_corrupt=True)) == sorted(intact + salvaged)
    assert 0 < len(salvaged) < len(before)


def test_read_boom_listing_rule(spark, tmp_path):
    """Directories are walked recursively; names starting with ``_`` or
    ``.`` and non-``*.bm`` files are skipped; globs and a single file
    work; a path that matches nothing raises."""
    root = tmp_path / "root"
    for rel in ("a/part-0.bm", "a/b/c/part-1.bm", "part-2.bm", "_temporary/0/part-3.bm",
                ".x/part-4.bm", "a/_a.bm", "a/.b.bm", "a/part-5.bm.tmp"):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        write_boom_local(str(root / rel), [(T0, rel, 0)])

    def read(path):
        return sorted(r.message for r in read_boom(spark, path).collect())

    assert read(str(root)) == ["a/b/c/part-1.bm", "a/part-0.bm", "part-2.bm"]
    assert read(str(root / "a" / "*.bm")) == ["a/part-0.bm"]
    assert read(str(root / "a" / "_a.bm")) == []
    assert read([str(root / "a" / "b"), str(root / "part-2.bm")]) == [
        "a/b/c/part-1.bm", "part-2.bm"]
    with pytest.raises(FileNotFoundError):
        read_boom(spark, str(root / "missing"))
    with pytest.raises(FileNotFoundError):
        read_boom(spark, str(root / "nothing" / "*"))


def test_read_boom_packs_ranges_across_tasks(spark, tmp_path, max_partition_bytes):
    """48 equal files pack into min(48, defaultParallelism) partitions;
    one file cut into 20 ranges spreads over every partition. Both
    return the whole-file rows."""
    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.sources.boom import read_boom_local

    par = spark.sparkContext.defaultParallelism
    many = tmp_path / "many"
    many.mkdir()
    for h in range(48):
        write_boom_local(str(many / f"part-{h:02d}.bm"),
                         [(T0 + h * HOUR_MS + s * 1000, f"h{h:02d} s{s:03d}", 0)
                          for s in range(100)])
    df = read_boom(spark, str(many))
    assert df.rdd.getNumPartitions() == min(48, par)
    assert _rows(df) == sorted(
        r for f in sorted(many.iterdir()) for r in read_boom_local(str(f)))

    one = tmp_path / "one"
    one.mkdir()
    path = str(one / "part-00000.bm")
    write_boom_local(path, [(T0 + s * 1000, f"s{s} " + "w" * (s % 50), 0)
                            for s in range(2000)])
    max_partition_bytes(-(-os.path.getsize(path) // 20))
    df = read_boom(spark, path)
    assert df.rdd.getNumPartitions() == min(20, par)
    per_task = df.groupBy(F.spark_partition_id()).count().collect()
    assert len(per_task) == min(20, par)
    assert _rows(df) == sorted(read_boom_local(path))


def test_read_boom_case_folding_pushdown_equals_multisearch(spark, tmp_path):
    """Pushed search equals logops.multisearch over a plain read on the
    lines where upper() and lower() disagree (ß, ſ, İ, KELVIN SIGN), in
    both match modes and both case modes."""
    from bb_bigdata_log_tools_spark.operators import logops

    d = tmp_path / "fold"
    d.mkdir()
    messages = ["Straße gesperrt", "strasse offen", "ſtraſſe alt", "İstanbul hub",
                "ISTANBUL HUB", "cooled to 4 \u212a", "KELVIN k", "plain line"]
    write_boom_local(str(d / "part-0.bm"),
                     [(T0 + i * 1000, m, i) for i, m in enumerate(messages)])
    plain = read_boom(spark, str(d))
    for terms in (["ss"], ["SS", "ß"], ["ſ", "S"], ["i"], ["İ"], ["k"], ["K", "hub"]):
        for match_all in (False, True):
            for ci in (False, True):
                want = logops.multisearch(plain, terms, case_insensitive=ci,
                                          match_all=match_all)
                got = read_boom(spark, str(d), search_terms=terms,
                                match_all=match_all, case_insensitive=ci)
                assert _rows(got.select(*want.columns)) == _rows(want), (
                    terms, match_all, ci)


PIN_BOOM_LINES = [
    (1_700_000_000_000 + s * 1000 + (s * 37 + i * 211) % 1000,
     f"s{s} i{i} café " + "x" * ((s * i) % 17), (s + i) % 4)
    for s in range(0, 40, 3) for i in range(s % 5 + 1)
]
PIN_AVRO_SCHEMA = json.dumps({"type": "record", "name": "pin", "fields": [
    {"name": "id", "type": "long"}, {"name": "name", "type": "string"},
    {"name": "w", "type": "float"}, {"name": "d", "type": "double"},
    {"name": "ok", "type": "boolean"}, {"name": "raw", "type": "bytes"},
    {"name": "note", "type": ["null", "string"]},
    {"name": "tags", "type": {"type": "array", "items": "int"}},
    {"name": "attrs", "type": {"type": "map", "values": "long"}}]})
PIN_AVRO_ROWS = [
    {"id": i - 5, "name": f"r{i} ü", "w": i / 4, "d": i * 1.5, "ok": i % 2 == 0,
     "raw": bytes(range(i % 7)), "note": None if i % 3 == 0 else f"n{i}",
     "tags": list(range(i % 4)), "attrs": {"a": i, "b": -i} if i % 2 else {}}
    for i in range(11)
]


def test_writers_output_is_pinned(tmp_path):
    """Both container writers frame blocks through one container writer,
    ``write_container``; the bytes they write on a fixed corpus are
    pinned (deflate at level 6 of the installed zlib)."""
    path = str(tmp_path / "pin")

    def sha() -> str:
        with open(path, "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()

    write_boom_local(path, PIN_BOOM_LINES)
    assert sha() == "9d17ce09726914f8661c54c3653bc910b4787ef6e2be0e0a2851b96ce0eb4f77"
    write_boom_local(path, PIN_BOOM_LINES, create_time=1_700_000_123_456,
                     sync=bytes(range(16)))
    assert sha() == "7db648a45515535b5da2b1ad3e8b22dce9adef7678364a50d2a2a87e3da49dcf"
    ag.write_avro_local(path, PIN_AVRO_SCHEMA, PIN_AVRO_ROWS, records_per_block=4)
    assert sha() == "ab698c91fb7ea99bde832c897b048b2d80e04176385157eaed0d8788834d3123"
    ag.write_avro_local(path, PIN_AVRO_SCHEMA, PIN_AVRO_ROWS, codec="null",
                        records_per_block=4)
    assert sha() == "852d01c2c9cb3305524f5bf1d1732d12dccda0f60cf77ed89f2788bdf3b54f2e"


def test_failed_write_leaves_no_file(tmp_path):
    """A writer whose input raises midway leaves neither its path nor a
    temp file behind: a .bm stream whose input raises at line 4,000 of
    5,000, and an .avro write whose row 3,000 of 5,000 does not encode.
    Nothing short is left for a reader to take for the whole file."""

    def lines():
        for i in range(5000):
            if i == 4000:
                raise RuntimeError("input failed")
            yield 1_700_000_000_000 + i * 250, f"line {i}", i

    with pytest.raises(RuntimeError, match="input failed"):
        write_boom_stream(str(tmp_path / "part-0.bm"), lines())
    schema = json.dumps({"type": "record", "name": "r", "fields": [
        {"name": "id", "type": "long"}, {"name": "name", "type": "string"}]})
    rows = [{"id": i, "name": f"row {i}"} for i in range(5000)]
    rows[3000]["id"] = "not a long"
    with pytest.raises(ValueError):
        ag.write_avro_local(str(tmp_path / "part-0.avro"), schema, rows, records_per_block=100)
    assert os.listdir(tmp_path) == []
