"""Generic Avro container source: round-trip decode, block scan without
decode, and raw-block merge (AvroBlockInputFormat / AvroBlockWriterMapper
parity — see sources/avro_generic.py docstring)."""

from __future__ import annotations

import json
import os

import pytest

from bb_bigdata_log_tools_spark.sources import avro_generic as ag
from bb_bigdata_log_tools_spark.sources.boom import read_container

SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "note", "type": ["null", "string"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "attrs", "type": {"type": "map", "values": "long"}},
        ],
    }
)


def _rows(n, start=0):
    return [
        {
            "id": start + i,
            "name": f"doc-{start + i}",
            "score": (start + i) * 1.5,
            "flag": (start + i) % 2 == 0,
            "note": None if (start + i) % 3 == 0 else f"n{start + i}",
            "tags": [f"t{j}" for j in range((start + i) % 3)],
            "attrs": {"len": start + i, "neg": -(start + i)},
        }
        for i in range(n)
    ]


@pytest.mark.parametrize("codec", ["deflate", "null"])
def test_roundtrip_local(tmp_path, codec):
    rows = _rows(7)
    p = str(tmp_path / "a.avro")
    ag.write_avro_local(p, SCHEMA, rows, codec=codec, records_per_block=3)
    with open(p, "rb") as f:
        got = list(read_container(f.read()))
    assert got == rows


def test_block_scan_no_decode(tmp_path, spark):
    p = str(tmp_path / "a.avro")
    ag.write_avro_local(p, SCHEMA, _rows(7), records_per_block=3)
    out = ag.avro_block_scan(spark, str(tmp_path)).orderBy("block_idx").collect()
    assert [(r.block_idx, r.record_count, r.codec) for r in out] == [
        (0, 3, "deflate"),
        (1, 3, "deflate"),
        (2, 1, "deflate"),
    ]
    # byte_size is the compressed payload size exactly as on disk
    with open(p, "rb") as f:
        raw = f.read()
    assert [r.byte_size for r in out] == [sz for _i, _n, sz, _p in ag.scan_blocks(raw)]


def test_read_avro_typed(tmp_path, spark):
    ag.write_avro_local(str(tmp_path / "a.avro"), SCHEMA, _rows(5))
    df = ag.read_avro(spark, str(tmp_path))
    assert dict(df.dtypes)["tags"] == "array<string>"
    assert dict(df.dtypes)["attrs"] == "map<string,bigint>"
    got = {r.id: r for r in df.collect()}
    assert got[1].note == "n1" and got[3].note is None
    assert got[2].tags == ["t0", "t1"] and got[2].attrs == {"len": 2, "neg": -2}


def test_merge_raw_blocks(tmp_path, spark):
    a, b, merged = (str(tmp_path / n) for n in ("a.avro", "b.avro", "m.avro"))
    ag.write_avro_local(a, SCHEMA, _rows(5), sync=b"\x11" * 16, records_per_block=2)
    ag.write_avro_local(b, SCHEMA, _rows(4, start=100), sync=b"\x22" * 16)
    n = ag.merge_avro_files(spark, [a, b], merged)
    assert n == 9
    with open(merged, "rb") as f:
        data = f.read()
    _schema, _codec, sync, _pos = ag.read_header(data)
    assert sync == ag.MERGE_SYNC  # one header, markers rewritten
    got = list(read_container(data))
    assert got == _rows(5) + _rows(4, start=100)
    # raw payload bytes are copied verbatim from the inputs
    with open(a, "rb") as f:
        src_payloads = [raw for _i, _n, _sz, raw in ag.scan_blocks(f.read())]
    merged_payloads = [raw for _i, _n, _sz, raw in ag.scan_blocks(data)]
    assert merged_payloads[: len(src_payloads)] == src_payloads
    # inputs with no block at all merge into a header-only container
    for p in (a, b):
        ag.write_avro_local(p, SCHEMA, [])
    assert ag.merge_avro_files(spark, [a, b], merged) == 0
    with open(merged, "rb") as f:
        data = f.read()
    assert ag.read_header(data)[2] == ag.MERGE_SYNC and list(read_container(data)) == []


def test_merge_rejects_mismatched_schema(tmp_path, spark):
    other = json.dumps(
        {"type": "record", "name": "x", "fields": [{"name": "id", "type": "long"}]}
    )
    a, b = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    ag.write_avro_local(a, SCHEMA, _rows(2))
    ag.write_avro_local(b, other, [{"id": 1}])
    with pytest.raises(ValueError, match="mismatch"):
        ag.merge_avro_files(spark, [a, b], str(tmp_path / "m.avro"))


def test_nested_record_struct(tmp_path, spark):
    nested = json.dumps(
        {
            "type": "record",
            "name": "outer",
            "fields": [
                {"name": "id", "type": "long"},
                {
                    "name": "pos",
                    "type": {
                        "type": "record",
                        "name": "pt",
                        "fields": [
                            {"name": "x", "type": "double"},
                            {"name": "y", "type": "double"},
                        ],
                    },
                },
            ],
        }
    )
    rows = [{"id": i, "pos": {"x": i * 1.0, "y": -i * 1.0}} for i in range(3)]
    ag.write_avro_local(str(tmp_path / "n.avro"), nested, rows)
    df = ag.read_avro(spark, str(tmp_path), glob="n.avro")
    assert dict(df.dtypes)["pos"] == "struct<x:double,y:double>"
    assert df.filter("pos.x = 2.0").count() == 1


def _tree_of_avro(root) -> list[str]:
    """Four multi-block containers (distinct sync markers, one sized
    block each) in a two-level tree; returns the file paths."""
    files = []
    for i, rel in enumerate(("a.avro", "b.avro", "sub/c.avro", "sub/deep/d.avro")):
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        ag.write_avro_local(str(p), SCHEMA, _rows(40 + 7 * i, start=1000 * i),
                            sync=bytes([0x31 + i]) * 16, records_per_block=3 + i)
        files.append(str(p))
    return files


def _decoded(df) -> list[dict]:
    rows = [r.asDict(recursive=True) for r in df.collect()]
    return sorted(rows, key=lambda r: r["id"])


def test_read_avro_equals_local_decode(spark, tmp_path, max_partition_bytes):
    """read_avro returns exactly the per-file read_container decode of
    the whole tree at whole-file and sub-block split sizes."""
    files = _tree_of_avro(tmp_path / "tree")
    want = []
    for p in files:
        with open(p, "rb") as f:
            want += list(read_container(f.read()))
    want.sort(key=lambda r: r["id"])
    for split in (max(os.path.getsize(p) for p in files), 1500, 257):
        max_partition_bytes(split)
        assert _decoded(ag.read_avro(spark, str(tmp_path / "tree"))) == want, split


def test_read_avro_plans_without_a_job(spark, tmp_path):
    """Calling read_avro reads the writer schema on the driver and runs
    no Spark job; its plan is MapInPandas over Range."""
    _tree_of_avro(tmp_path / "tree")
    sc, group = spark.sparkContext, "read-avro-plan"
    sc.setJobGroup(group, "read_avro")
    try:
        df = ag.read_avro(spark, str(tmp_path / "tree"))
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    plan = df._jdf.queryExecution().sparkPlan()
    names = []
    while True:
        names.append(plan.nodeName())
        if plan.children().isEmpty():
            break
        assert plan.children().size() == 1
        plan = plan.children().head()
    assert names == ["MapInPandas", "Range"]


def test_avro_listing_rule(spark, tmp_path):
    """The .avro sources list files like read_boom: hidden (``.``) and
    ``_`` names are skipped, as are names the glob does not match; a
    path that matches nothing raises FileNotFoundError, a directory
    without matching files ValueError."""
    root = tmp_path / "root"
    for i, rel in enumerate(("a.avro", "s/b.avro", "_tmp/c.avro", ".x/d.avro",
                             "_e.avro", ".f.avro", "g.avro.tmp")):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        ag.write_avro_local(str(root / rel), SCHEMA, _rows(1, start=i))
    assert sorted(r.id for r in ag.read_avro(spark, str(root)).collect()) == [0, 1]
    scanned = ag.avro_block_scan(spark, str(root)).collect()
    assert sorted(r.file for r in scanned) == ["a.avro", "b.avro"]
    with pytest.raises(FileNotFoundError):
        ag.read_avro(spark, str(root / "missing"))
    with pytest.raises(ValueError, match="no avro files"):
        ag.read_avro(spark, str(root), glob="*.nothing")
