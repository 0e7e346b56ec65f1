"""Generic Avro object-container source: block-level scan, raw-block
merge, and schema-driven decode to a DataFrame.

Parity targets (re-derived from the PUBLIC Avro 1.x container spec):

- ``mapreduce/avro/AvroBlockInputFormat.java`` +
  ``AvroBlockRecordReader.java``: read whole container blocks WITHOUT
  decompressing or deserializing them — used for block-level filtering
  and for merging files cheaply (``avro_block_scan`` here).
- ``mapreduce/avro/AvroBlockWriterMapper.java`` + BinaryOutputFormat:
  merge multiple same-schema/same-codec containers into one by keeping
  a single header and rewriting every block's sync marker to the
  output's marker (``merge_avro_files`` here). Payloads are copied
  verbatim — no decompress/decode on the merge path.
- ``avro/AvroFileHeader.java`` / ``avro/AvroUtils.java``: header
  parse/serialize, shared with the boom source along with its block
  walker (``iter_blocks``) and its one container writer
  (``write_container``, which every writer here goes through, so a file
  appears only when complete).

Spark integration is the boom source's one distributed read
(``boom.fan_out``): block scan and merge read whole files, as they
number blocks per file, and the decode splits a large file like a
``.bm``. The merge writes through the one ordered one-file write
(``boom.write_sorted``) with a streaming writer (bounded memory), as
``compact_boom_dir`` and the maintenance filter-archive do. Schema
translation maps the embedded writer schema to Spark types so
arbitrary-schema containers (not just boom's logBlock) decode to typed
DataFrames.
"""

from __future__ import annotations

import json
import os
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from bb_bigdata_log_tools_spark.sources import boom
from bb_bigdata_log_tools_spark.sources.boom import read_header


# ---------------------------------------------------------------------------
# header / block-level access (no decode)
# ---------------------------------------------------------------------------


def scan_blocks(data: bytes) -> Iterator[tuple[int, int, int, bytes]]:
    """Yield (block_idx, record_count, byte_size, raw_payload) for each
    block — the payload stays compressed; nothing is deserialized.
    This is the AvroBlockRecordReader role."""
    for idx, (_schema, _codec, count, raw) in enumerate(boom.iter_blocks(data)):
        yield idx, count, len(raw), raw


def avro_block_scan(spark: SparkSession, path: str, glob: str = "*.avro") -> DataFrame:
    """Block-level DataFrame over a container tree: one row per block,
    (file, block_idx, record_count, byte_size, codec) — blocks are
    walked but never decompressed. Supports the reference's low-level
    use case (decide which blocks to process without deserializing)."""
    import pandas as pd

    def scan(p: str, _start: int, _end: int) -> "pd.DataFrame":
        name = os.path.basename(p)
        with boom.mapped(p) as mm:
            blocks = enumerate(boom.iter_blocks(mm))
            return pd.DataFrame(
                [(name, i, n, len(raw), codec) for i, (_s, codec, n, raw) in blocks],
                columns=["file", "block_idx", "record_count", "byte_size", "codec"],
            )

    schema = (
        "file string, block_idx long, record_count long, byte_size long, codec string"
    )
    return boom.fan_out(spark, boom.container_ranges(path, glob), scan, schema)


# ---------------------------------------------------------------------------
# generic encoder + container writer (fixtures, merge output, tests)
# ---------------------------------------------------------------------------


class _Encoder:
    """Schema-driven Avro binary encoder — the write-side mirror of
    ``boom._Decoder.decode`` (same type coverage)."""

    def __init__(self) -> None:
        self.out = bytearray()

    def write_long(self, n: int) -> None:
        self.out += boom._zigzag(n)

    write_int = write_long

    def write_bytes(self, b: bytes) -> None:
        self.write_long(len(b))
        self.out += b

    def encode(self, schema, value) -> None:
        if isinstance(schema, str):
            kind = schema
        elif isinstance(schema, list):  # union: pick first matching branch
            idx = _union_index(schema, value)
            self.write_long(idx)
            return self.encode(schema[idx], value)
        else:
            kind = schema["type"]
        if kind == "record":
            for f in schema["fields"]:
                self.encode(f["type"], value[f["name"]])
        elif kind == "array":
            items = list(value)
            if items:
                self.write_long(len(items))
                for it in items:
                    self.encode(schema["items"], it)
            self.write_long(0)
        elif kind == "map":
            entries = list(value.items())
            if entries:
                self.write_long(len(entries))
                for k, v in entries:
                    self.write_bytes(k.encode("utf-8"))
                    self.encode(schema["values"], v)
            self.write_long(0)
        elif kind in ("long", "int"):
            self.write_long(int(value))
        elif kind == "string":
            self.write_bytes(str(value).encode("utf-8"))
        elif kind == "bytes":
            self.write_bytes(bytes(value))
        elif kind == "boolean":
            self.out.append(1 if value else 0)
        elif kind == "float":
            self.out += struct.pack("<f", float(value))
        elif kind == "double":
            self.out += struct.pack("<d", float(value))
        elif kind == "null":
            pass
        else:
            raise ValueError(f"unsupported avro type: {schema!r}")


def _union_index(branches: list, value) -> int:
    if value is None:
        for i, b in enumerate(branches):
            if b == "null":
                return i
        raise ValueError("None value but union has no null branch")
    for i, b in enumerate(branches):
        if b != "null":
            return i
    raise ValueError("union has only null branches")


def write_avro_local(
    path: str,
    schema_json: str,
    rows: list[dict],
    codec: str = "deflate",
    sync: bytes = b"\x01" * 16,
    records_per_block: int = 1000,
) -> None:
    """Write rows (dicts keyed by field name) to one container file."""
    schema = json.loads(schema_json)

    def blocks() -> Iterator[tuple[int, bytes]]:
        for i in range(0, len(rows), records_per_block):
            chunk = rows[i : i + records_per_block]
            enc = _Encoder()
            for row in chunk:
                enc.encode(schema, row)
            yield len(chunk), boom.deflate(codec, bytes(enc.out))

    boom.write_container(path, schema_json, codec, blocks(), sync)


# ---------------------------------------------------------------------------
# raw-block merge (AvroBlockWriterMapper + BinaryOutputFormat role)
# ---------------------------------------------------------------------------

MERGE_SYNC = b"\x5c" * 16  # fixed output marker, deterministic merges


def merge_avro_files(spark: SparkSession, paths: list[str], out_path: str) -> int:
    """Merge same-schema/same-codec containers into ONE container by
    raw block copy: single header, every block re-synced to the output
    marker, payloads byte-identical (never decompressed).

    Distributed shape: each input file's raw payloads are extracted on
    an executor (one whole-file range each, :func:`fan_out`) and flow,
    ordered, through ``boom.write_sorted`` into ``boom.write_container``,
    which frames them with ``MERGE_SYNC``: driver memory stays O(1),
    executor memory O(largest single block). Inputs with no block give
    a header-only file. Returns the merged record count.

    Parity: ``mapreduce/avro/AvroBlockWriterMapper.java`` (keep one
    header, clean up sync markers) over BinaryOutputFormat.
    """
    import pandas as pd

    if not paths:
        raise ValueError("no input files")
    headers = []
    for p in paths:
        with boom.mapped(p) as mm:
            headers.append(read_header(mm)[:2])
    for p, schema_codec in zip(paths[1:], headers[1:]):
        if schema_codec != headers[0]:
            raise ValueError(f"schema/codec mismatch in merge input: {p}")
    schema0, codec0 = headers[0]
    schema_json = json.dumps(schema0, separators=(",", ":"))

    order = {p: i for i, p in enumerate(paths)}

    def extract(p: str, _start: int, _end: int) -> "pd.DataFrame":
        with boom.mapped(p) as mm:
            blocks = [(order[p], i, n, raw) for i, n, _sz, raw in scan_blocks(mm)]
        return pd.DataFrame(
            blocks, columns=["file_order", "block_idx", "record_count", "payload"]
        )

    ranges = [(p, 0, os.path.getsize(p)) for p in paths]
    schema = "file_order int, block_idx long, record_count long, payload binary"
    blocks = boom.fan_out(spark, ranges, extract, schema)

    def write(path: str, rows) -> int:
        payloads = ((int(r.record_count), bytes(r.payload)) for r in rows)
        return boom.write_container(path, schema_json, codec0, payloads, MERGE_SYNC)

    return boom.write_sorted(blocks, ["file_order", "block_idx"], out_path, write)


# ---------------------------------------------------------------------------
# schema-driven decode to DataFrame
# ---------------------------------------------------------------------------


def avro_to_spark_type(schema) -> str:
    """Map an Avro schema to a Spark DDL type string."""
    if isinstance(schema, list):
        non_null = [b for b in schema if b != "null"]
        if len(non_null) != 1:
            raise ValueError(f"only unions of null + one type supported: {schema!r}")
        return avro_to_spark_type(non_null[0])
    if isinstance(schema, str):
        kind = schema
    else:
        kind = schema["type"]
    simple = {
        "long": "bigint",
        "int": "int",
        "string": "string",
        "bytes": "binary",
        "boolean": "boolean",
        "float": "float",
        "double": "double",
    }
    if kind in simple:
        return simple[kind]
    if kind == "array":
        return f"array<{avro_to_spark_type(schema['items'])}>"
    if kind == "map":
        return f"map<string,{avro_to_spark_type(schema['values'])}>"
    if kind == "record":
        fields = ", ".join(
            f"`{f['name']}`: {avro_to_spark_type(f['type'])}" for f in schema["fields"]
        )
        return f"struct<{fields}>"
    raise ValueError(f"unsupported avro type: {schema!r}")


def record_ddl(schema) -> str:
    """Top-level record schema → DataFrame DDL (one column per field)."""
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ValueError("top-level avro schema must be a record")
    return ", ".join(
        f"`{f['name']}` {avro_to_spark_type(f['type'])}" for f in schema["fields"]
    )


def read_avro(spark: SparkSession, path: str, glob: str = "*.avro") -> DataFrame:
    """Decode an arbitrary-schema Avro container tree to a typed
    DataFrame. The writer schema is taken from the first listed file's
    header on the driver, with no Spark job (all files must agree —
    standard single-schema layout). The files are cut into byte ranges
    of at most ``spark.sql.files.maxPartitionBytes``, each decoded
    Arrow-batched on an executor through the strict ranged walk, so any
    split size returns exactly the per-file decode. A path that matches
    nothing raises ``FileNotFoundError``; one with no matching files,
    ``ValueError``."""
    import pandas as pd

    ranges = boom.container_ranges(path, glob, spark)
    if not ranges:
        raise ValueError(f"no avro files under {path}")
    with boom.mapped(ranges[0][0]) as mm:
        schema = read_header(mm)[0]
    names = [f["name"] for f in schema["fields"]]

    def decode(p: str, start: int, end: int) -> "pd.DataFrame":
        with boom.mapped(p) as mm:
            recs = boom.read_container(mm, start, end)
            return pd.DataFrame([[r[n] for n in names] for r in recs], columns=names)

    return boom.fan_out(spark, ranges, decode, record_ddl(schema))
