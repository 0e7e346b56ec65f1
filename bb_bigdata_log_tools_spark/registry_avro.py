"""Registry part 6: generic Avro container queries (block scan, raw
merge, schema-driven decode) — the AvroBlockInputFormat /
AvroBlockWriterMapper surface, oracle-gated over pinned fixtures the
same way the gzip/hfind rows are (deterministic files in /tmp, VALUES
oracles computed from the identical generator)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.sources import avro_generic as ag

FIXTURE_SCHEMA = json.dumps(
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
        ],
    }
)


def _fixture_rows(n: int, start: int = 0) -> list[dict]:
    return [
        {
            "id": start + i,
            "name": f"doc-{start + i}",
            "score": (start + i) * 1.5,  # 0.5 steps: exact in binary
            "flag": (start + i) % 2 == 0,
            "note": None if (start + i) % 3 == 0 else f"note-{start + i}",
            "tags": [f"t{j}" for j in range((start + i) % 4)],
        }
        for i in range(n)
    ]


def _fixture_dir() -> str:
    """Write the two pinned containers (distinct sync markers, shared
    schema/codec) exactly once per process; idempotent across the query
    fn and the oracle builder."""
    root = os.path.join(tempfile.gettempdir(), "bb_avro_fixture")
    done = os.path.join(root, ".done")
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        ag.write_avro_local(
            os.path.join(root, "a.avro"),
            FIXTURE_SCHEMA,
            _fixture_rows(9),
            sync=b"\x11" * 16,
            records_per_block=4,
        )
        ag.write_avro_local(
            os.path.join(root, "b.avro"),
            FIXTURE_SCHEMA,
            _fixture_rows(6, start=100),
            sync=b"\x22" * 16,
            records_per_block=4,
        )
        open(done, "w").close()
    return root


def _project(df: DataFrame) -> DataFrame:
    return df.select(
        "id",
        "name",
        F.round("score", 4).alias("score"),
        "flag",
        "note",
        F.size("tags").alias("n_tags"),
        F.array_join("tags", ",").alias("tags_csv"),
    )


def q_avro_generic_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-schema container decode: writer schema → Spark types,
    Arrow-batched executor-side decode (no boom assumptions)."""
    return _project(ag.read_avro(spark, _fixture_dir(), glob="a.avro"))


def q_avro_block_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-block merge of two containers with different sync markers
    (one header kept, markers rewritten, payloads copied verbatim),
    then decoded back — AvroBlockWriterMapper round-trip."""
    root = _fixture_dir()
    merged = os.path.join(root, "merged_out.avro")
    ag.merge_avro_files(
        spark,
        [os.path.join(root, "a.avro"), os.path.join(root, "b.avro")],
        merged,
    )
    merged_dir = os.path.join(root, "merged")
    os.makedirs(merged_dir, exist_ok=True)
    shutil.copy(merged, os.path.join(merged_dir, "m.avro"))
    return _project(ag.read_avro(spark, merged_dir, glob="m.avro"))


def q_avro_block_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level scan without decompress/decode: one row per
    container block with its on-disk compressed size."""
    root = _fixture_dir()
    return ag.avro_block_scan(spark, root, glob="[ab].avro")


def _values_oracle(rows: list[dict]) -> str:
    vals = []
    for r in rows:
        note = "NULL" if r["note"] is None else f"'{r['note']}'"
        vals.append(
            f"({r['id']}, '{r['name']}', {round(r['score'], 4)}, "
            f"{'TRUE' if r['flag'] else 'FALSE'}, {note}, "
            f"{len(r['tags'])}, '{','.join(r['tags'])}')"
        )
    body = ",\n  ".join(vals)
    return (
        "SELECT CAST(id AS BIGINT) AS id, name, CAST(score AS DOUBLE) AS score,"
        " flag, CAST(note AS VARCHAR) AS note, CAST(n_tags AS INTEGER) AS n_tags,"
        " tags_csv\n"
        f"FROM (VALUES\n  {body}\n) AS t(id, name, score, flag, note, n_tags, tags_csv)\n"
        "ORDER BY id"
    )


def _block_scan_oracle() -> str:
    root = _fixture_dir()
    rows = []
    for fname in ["a.avro", "b.avro"]:
        with open(os.path.join(root, fname), "rb") as f:
            data = f.read()
        for i, n, sz, _raw in ag.scan_blocks(data):
            rows.append((fname, i, n, sz, "deflate"))
    body = ",\n  ".join(
        f"('{f}', {i}, {n}, {sz}, '{c}')" for f, i, n, sz, c in rows
    )
    return (
        "SELECT file, CAST(block_idx AS BIGINT) AS block_idx,"
        " CAST(record_count AS BIGINT) AS record_count,"
        " CAST(byte_size AS BIGINT) AS byte_size, codec\n"
        f"FROM (VALUES\n  {body}\n) AS t(file, block_idx, record_count, byte_size, codec)\n"
        "ORDER BY file, block_idx"
    )


AVRO_QUERIES = {
    "avro_generic_read": q_avro_generic_read,
    "avro_block_merge": q_avro_block_merge,
    "avro_block_scan": q_avro_block_scan,
}

AVRO_ORACLES = {
    "avro_generic_read": _values_oracle(_fixture_rows(9)),
    "avro_block_merge": _values_oracle(_fixture_rows(9) + _fixture_rows(6, start=100)),
    "avro_block_scan": _block_scan_oracle(),
}
