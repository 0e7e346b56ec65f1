"""The one Avro container reader behind every .bm and .avro read: ranged
reads are as strict as the whole-file read, and an unsupported codec
fails loudly on every read path."""

from __future__ import annotations

import os
import random

import pytest

from bb_bigdata_log_tools_spark.sources import avro_generic as ag
from bb_bigdata_log_tools_spark.sources.boom import (
    BOOM_SCHEMA_JSON,
    flatten_log_blocks,
    read_boom_split,
    read_container,
    read_header,
    scan_boom_bytes,
    scan_boom_range,
    write_boom_local,
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


def test_read_boom_split_damage_names_file(spark, tmp_path):
    """A strict split read of a damaged file fails, naming the file."""
    from boom_damage import damage_block

    d = tmp_path / "data"
    d.mkdir()
    path = str(d / "part-00000.bm")
    write_boom_local(path, _corpus(random.Random(3)))
    damage_block(path)
    with pytest.raises(Exception, match="cannot decode .bm file .*part-00000.bm"):
        read_boom_split(spark, str(d), split_bytes=64).collect()


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
    data = ag.container_header_bytes(BOOM_SCHEMA_JSON, "snappy", sync) + data[header_end:]
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
