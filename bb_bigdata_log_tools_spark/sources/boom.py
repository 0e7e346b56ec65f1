"""Boom (.bm) log-file source: a from-scratch reader/writer for the
reference's Avro-container log format.

Format parity (re-derived from the PUBLIC Avro 1.x container spec +
the schema embedded in the files themselves):

- Avro object-container file: magic ``Obj\\x01``, metadata map with
  ``avro.schema`` / ``avro.codec`` (deflate), 16-byte sync marker,
  then blocks of ``(record_count, byte_size, payload, sync)``.
- Record schema (``/root/reference/src/com/blackberry/boom/schema/
  LogBlock.java``): ``logBlock{second:long, createTime:long,
  blockNumber:long, logLines:array<messageWithMillis{ms:long,
  eventId:int, message:string}>}``.
- Flattened line (``.../logdriver/boom/LogLineData.java``):
  ``timestamp = second*1000 + ms``; ``line_no`` is the index of the
  line within its block.

The decoder is generic (driven by the embedded writer schema), so files
with or without ``eventId`` decode correctly.

One container reader serves every ``.bm`` and ``.avro`` read (the
generic ``avro_generic`` source included): :func:`read_header` parses
the header, :func:`iter_blocks` walks and checks the block framing of a
whole file, a byte range, or a salvage walk, :func:`inflate`
decompresses a payload, and :func:`read_container` is the one record
loop. Every ``.bm`` line, strict or salvaged, ranged or whole-file,
searched or not, comes out of one walk: :func:`flatten_log_blocks`
over :func:`read_container`, with :func:`_matcher`'s optional block
and line predicates for a search. A strict read raises on a damaged
block; salvage (``skip_corrupt``) is opt-in only.

Spark integration: :func:`fan_out` is the one distributed container
read, here behind :func:`read_boom` and behind every ``avro_generic``
read. The driver lists the files and cuts them into byte ranges; each
task reads a bin of ranges through an mmap of its files. A ``.bm`` range
decodes through the same ranged walk (the Avro
``DataFileReader.sync/pastSync`` contract), so hourly part files and a
consolidated archive alike return exactly the whole-file rows. The
CLI's driver executor reads the same ranges without Spark
(:func:`read_lines`), packed by the same rule into one bin per usable
core and one forked worker process a bin. :func:`write_sorted` is
:func:`fan_out`'s write-side counterpart, the one ordered one-file
write (the compaction, the maintenance filter-archive and the Avro
merge).

Every ``.bm`` and ``.avro`` write goes through one container writer,
:func:`write_container` (the reference's one ``DataFileWriter``), and
every file the program publishes through :func:`published`, so a reader
never sees a partial or short file under a name it reads.
"""

from __future__ import annotations

import contextlib
import fnmatch
import functools
import glob
import heapq
import itertools
import json
import mmap
import os
import struct
import sys
import zlib
from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql.types import StructType

MAGIC = b"Obj\x01"

#: The fields of a flattened .bm line, in the order :func:`flatten_log_blocks`
#: yields them (``LogLineData``): the columns of ``schema.LOG_SCHEMA``.
LINE_FIELDS = ("ts", "message", "event_id", "create_time", "block_no", "line_no")

#: The total order of formatted lines (formatAndSort.pg).
SORT_KEYS = ("ts", "create_time", "block_no", "line_no")


class _Decoder:
    """Minimal Avro binary decoder (spec-complete for the types boom
    files use: record/long/int/string/array/map/union/null/bytes)."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read_long(self) -> int:
        shift = 0
        acc = 0
        while True:
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not (b & 0x80):
                break
            shift += 7
        return (acc >> 1) ^ -(acc & 1)  # zigzag

    read_int = read_long

    def read_bytes(self) -> bytes:
        # STRICT bounds: python slicing silently truncates past the end
        # and a corrupt NEGATIVE varint length would move pos BACKWARD
        # (fuzz-found: count=huge + length=-1 elements net zero forward
        # progress = an effectively infinite decode loop); out-of-range
        # lengths must raise so both the strict reader (loud failure)
        # and the salvage reader (skip to next sync) terminate.
        n = self.read_long()
        if n < 0 or self.pos + n > len(self.buf):
            raise ValueError("bytes length out of range")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_string(self) -> str:
        return self.read_bytes().decode("utf-8")

    def read_fixed(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.buf):
            raise ValueError("fixed read out of range")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def read_counts(self) -> Iterator[int]:
        """Item counts of the blocks of an array or map, up to its zero
        terminator; a negative count is followed by the block's byte
        size, unused."""
        while True:
            count = self.read_long()
            if count == 0:
                return
            if count < 0:
                count = -count
                self.read_long()
            yield count

    def read_header(self) -> tuple[dict, str, bytes]:
        """Parse a container header at the buffer's start: (schema,
        codec, sync), leaving ``pos`` at the first block."""
        if self.read_fixed(4) != MAGIC:
            raise ValueError("not an Avro container file (bad magic)")
        meta = self.decode({"type": "map", "values": "bytes"})
        schema = json.loads(meta["avro.schema"])
        codec = meta.get("avro.codec", b"null").decode()
        return schema, codec, self.read_fixed(16)

    def decode(self, schema) -> object:
        """Decode one value of ``schema`` (parsed JSON avro schema)."""
        if isinstance(schema, str):
            kind = schema
        elif isinstance(schema, list):  # union: index then value
            idx = self.read_long()
            return self.decode(schema[idx])
        else:
            kind = schema["type"]
        if kind == "record":
            return {f["name"]: self.decode(f["type"]) for f in schema["fields"]}
        if kind == "array":
            items = schema["items"]
            return [self.decode(items) for n in self.read_counts() for _ in range(n)]
        if kind == "map":
            out: dict[str, object] = {}
            for n in self.read_counts():
                for _ in range(n):
                    # assignment RHS evaluates first in Python — read the
                    # key into a local to keep stream order
                    key = self.read_string()
                    out[key] = self.decode(schema["values"])
            return out
        if kind == "long":
            return self.read_long()
        if kind == "int":
            return self.read_int()
        if kind == "string":
            return self.read_string()
        if kind == "bytes":
            return self.read_bytes()
        if kind == "null":
            return None
        if kind == "boolean":
            b = self.buf[self.pos]
            self.pos += 1
            return b == 1
        if kind == "float":
            (v,) = struct.unpack_from("<f", self.buf, self.pos)
            self.pos += 4
            return v
        if kind == "double":
            (v,) = struct.unpack_from("<d", self.buf, self.pos)
            self.pos += 8
            return v
        raise ValueError(f"unsupported avro type: {schema!r}")


def read_header(buf) -> tuple[dict, str, bytes, int]:
    """(schema, codec, sync, header_end) of an Avro container — the
    ``avro/AvroFileHeader.java`` parse. Never touches block payloads."""
    dec = _Decoder(buf)
    schema, codec, sync = dec.read_header()
    return schema, codec, sync, dec.pos


def inflate(codec: str, raw: bytes) -> bytes:
    """Decompress one block payload."""
    if codec == "deflate":
        return zlib.decompress(raw, -15)
    if codec != "null":
        raise ValueError(f"unsupported codec: {codec}")
    return raw


def deflate(codec: str, payload: bytes) -> bytes:
    """Compress one block payload: the inverse of :func:`inflate`."""
    if codec == "deflate":
        return zlib.compress(payload, 6)[2:-4]
    if codec != "null":
        raise ValueError(f"unsupported codec: {codec}")
    return payload


def iter_blocks(
    buf, start: int = 0, end: int | None = None, salvage: bool = False
) -> Iterator[tuple[dict, str, int, bytes]]:
    """Walk the blocks of an Avro container (bytes or an mmap), yielding
    ``(schema, codec, record_count, raw_payload)`` with the payload still
    compressed. A block must have a positive record count, a non-empty
    payload inside the buffer, and the header's sync marker after it.

    ``start``/``end`` select a byte range (the Avro split rule,
    ``DataFileReader.sync/pastSync``): the walk owns the blocks whose
    PRECEDING sync marker starts in ``[start, end)``, so any split's
    ranges partition the blocks. A range from 0 starts at the header
    end; any other syncs to the first marker at or after ``start``,
    whose block must also inflate: the marker bytes can occur inside a
    payload (the writer's all-zero default also matches one byte early
    whenever a payload ends in 0x00; the count check rejects that one).

    A strict walk raises at the first damaged block, and a ranged one
    also checks the block after its last: the next range would take a
    damaged first block for a false marker match and skip it silently.
    ``salvage=True`` instead resyncs to the next valid boundary, dropping
    only the unreadable span — the ``ignoreCorruptFiles`` posture at
    block granularity (``read_boom(skip_corrupt=True)``), never default.
    """
    dec = _Decoder(buf)
    schema, codec, sync = dec.read_header()
    n = len(buf)
    end = n if end is None else min(end, n)

    def frame(pos: int):
        """(count, raw_payload, next_pos) of the block at ``pos``, or
        None when ``pos`` is not a block boundary."""
        dec.pos = pos
        try:
            count = dec.read_long()
            raw = dec.read_bytes()
            if count > 0 and raw and dec.read_fixed(16) == sync:
                return count, raw, dec.pos
        except (IndexError, ValueError):  # ran off the buffer
            pass
        return None

    def boundary(pos: int):
        """:func:`frame` for a boundary not reached by framing from the
        header: its payload must inflate too. An unsupported codec
        still raises."""
        blk = frame(pos)
        if blk is not None:
            try:
                inflate(codec, blk[1])
            except zlib.error:
                return None
        return blk

    def seek(frm: int) -> int | None:
        """The block after the first valid sync marker in ``[frm, end)``."""
        hit = buf.find(sync, frm)
        while 0 <= hit < end:
            if boundary(hit + 16) is not None:
                return hit + 16
            hit = buf.find(sync, hit + 1)
        return None

    pos = dec.pos if start == 0 else seek(start)
    while pos is not None and pos < n and pos - 16 < end:
        blk = frame(pos)
        if blk is None:
            if not salvage:
                raise ValueError(f"corrupt container block at byte {pos}")
            pos = seek(pos)
            continue
        count, raw, pos = blk
        yield schema, codec, count, raw
    if not salvage and pos is not None and pos < n and boundary(pos) is None:
        raise ValueError(f"corrupt container block at byte {pos}")


def read_container(
    data,
    start: int = 0,
    end: int | None = None,
    salvage: bool = False,
    block_ok: Callable[[bytes], bool] | None = None,
) -> Iterator[dict]:
    """Decoded records of an Avro container (bytes or an mmap), or of
    the blocks its byte range ``[start, end)`` owns (:func:`iter_blocks`):
    the one record loop of every container read. Strict by default: a
    damaged block, header or codec raises.

    ``block_ok`` tests each inflated payload: a block it rejects is
    skipped before a record decoder is built for it (the FastSearch
    prefilter of :func:`_matcher`).

    ``salvage=True`` never raises: the Avro container's sync markers
    exist so a reader can recover mid-stream, so at 100 TB one flipped
    block need not kill a 1000-executor job when the operator opts in.
    A block that fails to inflate or decode drops the REST of that block
    only (varint streams cannot re-align mid-block — the next sync is
    the recovery point); an unreadable header or codec yields nothing."""
    try:
        for schema, codec, count, raw in iter_blocks(data, start, end, salvage):
            try:
                payload = inflate(codec, raw)
                if block_ok is not None and not block_ok(payload):
                    continue
                inner = _Decoder(payload)
                for _ in range(count):
                    yield inner.decode(schema)
            except Exception:  # noqa: BLE001 — salvage skips the block's damaged tail
                if not salvage:
                    raise
    except Exception:  # noqa: BLE001 — salvage: unreadable header or codec
        if not salvage:
            raise


def _matcher(
    search_terms: list[str] | None,
    match_all: bool,
    case_insensitive: bool,
    start_ms: int | None = None,
    end_ms: int | None = None,
    ascii_case: bool = False,
):
    """The FastSearch predicates ``(block_ok, line_ok)`` of
    :func:`read_container` and :func:`flatten_log_blocks`, each None
    when it passes everything. ``block_ok`` byte-scans an inflated block
    payload and is False only when no line of the block can match;
    ``line_ok(ts, message)`` is the exact test: ``ts`` in ``[start_ms,
    end_ms)`` (``logops._time_window``) and the substring test.
    ``match_all`` requires every term (a line containing all terms
    implies each term's bytes appear in its block, so requiring all
    terms at block level is a safe prefilter); the default is match-any.

    Case-insensitive mode lower-cases both sides line-level, as Spark's
    ``lower()`` does in ``logops``, and the block test scans the payload
    decoded as UTF-8 (``surrogateescape``) and lower-cased: the byte
    before a message is the last byte of its length varint, below 0x80,
    so every message decodes intact (``İ`` and KELVIN SIGN included,
    which lower-case to ASCII), and ``lower()`` maps each code point on
    its own except Σ (Final_Sigma looks at its neighbours), so a term
    whose lower form holds σ or ς passes every block. ``ascii_case``
    folds ASCII letters only, as Java's ``CASE_INSENSITIVE`` without
    ``UNICODE_CASE`` does (``loggrep --i``): both tests are then
    ``bytes.lower()`` containment on UTF-8. No terms match everything."""
    lo = float("-inf") if start_ms is None else start_ms
    hi = float("inf") if end_ms is None else end_ms
    if search_terms is None:
        if start_ms is None and end_ms is None:
            return None, None
        return None, (lambda ts, msg: lo <= ts < hi)
    want = all if match_all else any
    if case_insensitive and ascii_case:
        terms_bytes = [t.encode("utf-8").lower() for t in search_terms]

        def block_ok(payload: bytes) -> bool:
            hay = payload.lower()
            return want([t in hay for t in terms_bytes])

        def line_ok(ts: int, msg: str) -> bool:
            if not lo <= ts < hi:
                return False
            m = msg.encode("utf-8").lower()
            return want([t in m for t in terms_bytes])

    elif case_insensitive:
        terms_lower = [t.lower() for t in search_terms]

        if any("σ" in t or "ς" in t for t in terms_lower):
            block_ok = None
        else:

            def block_ok(payload: bytes) -> bool:
                hay = payload.decode("utf-8", "surrogateescape").lower()
                return want([t in hay for t in terms_lower])

        def line_ok(ts: int, msg: str) -> bool:
            if not lo <= ts < hi:
                return False
            m = msg.lower()
            return want([t in m for t in terms_lower])

    else:
        terms_bytes = [t.encode("utf-8") for t in search_terms]

        def block_ok(payload: bytes) -> bool:
            return want([t in payload for t in terms_bytes])

        def line_ok(ts: int, msg: str) -> bool:
            return lo <= ts < hi and want([t in msg for t in search_terms])

    return block_ok, line_ok


def scan_boom_bytes(
    data: bytes,
    search_terms: list[str],
    match_all: bool = False,
    case_insensitive: bool = False,
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> Iterator[tuple]:
    """FastSearch-parity filtered scan of one .bm byte string: the
    flattened lines that contain the search term(s), mirroring the
    reference's ``util/FastSearch.java:76`` SearchMapper (with
    ``mapred/boom/BoomFilterMapper.java``'s per-line string-match
    semantics). A block whose DECOMPRESSED payload cannot match skips
    its record decode, which on low-hit-rate greps skips the Avro record
    walk for most blocks; the lines of the other blocks are filtered
    exactly (:func:`_matcher`). ``start_ms``/``end_ms`` bound each
    line's ``ts`` to the CLI's half-open window ``[start, end)``.
    """
    block_ok, line_ok = _matcher(
        search_terms, match_all, case_insensitive, start_ms, end_ms
    )
    return flatten_log_blocks(read_container(data, block_ok=block_ok), line_ok)


def scan_boom_range(
    path: str,
    start: int = 0,
    end: int | None = None,
    search_terms: list[str] | None = None,
    match_all: bool = False,
    case_insensitive: bool = False,
    salvage: bool = False,
    start_ms: int | None = None,
    end_ms: int | None = None,
    ascii_case: bool = False,
) -> Iterator[tuple]:
    """Flattened lines of the blocks one BYTE RANGE ``[start, end)`` of
    a .bm file owns (default: the whole file), read through an mmap —
    the Avro split algorithm (the reference reads whole files per
    mapper via ``AvroBlockInputFormat``; real Avro readers split). The
    ranges of any split of a file together return exactly its
    whole-file rows, each once, and a damaged block raises as in the
    whole-file read (:func:`iter_blocks`) unless ``salvage`` is set. The
    optional ``search_terms`` and window ``[start_ms, end_ms)`` push
    the FastSearch predicates into each range (:func:`_matcher`); a
    salvage walk decodes every block, as the byte prefilter assumes an
    intact container, and only the exact line test filters its lines.
    """
    block_ok, line_ok = _matcher(
        search_terms, match_all, case_insensitive, start_ms, end_ms, ascii_case
    )
    with mapped(path) as mm:
        records = read_container(mm, start, end, salvage, None if salvage else block_ok)
        yield from flatten_log_blocks(records, line_ok)


def flatten_log_blocks(
    records: Iterator[dict], line_ok: Callable[[int, str], bool] | None = None
) -> Iterator[tuple]:
    """logBlock records → flattened (ts, message, event_id, create_time,
    block_no, line_no) tuples (LogLineData semantics): the one logBlock
    flattener. With ``line_ok`` (:func:`_matcher`), a tuple is built
    only for the lines where ``line_ok(ts, message)`` holds."""
    for rec in records:
        second_ms = rec["second"] * 1000
        create_time = rec["createTime"]
        block_no = rec["blockNumber"]
        for line_no, line in enumerate(rec["logLines"]):
            ts = second_ms + line["ms"]
            message = line["message"]
            if line_ok is None or line_ok(ts, message):
                yield (
                    ts,
                    message,
                    int(line.get("eventId", 0) or 0),
                    create_time,
                    block_no,
                    line_no,
                )


def read_boom_local(path: str) -> list[tuple]:
    """Driver-side read of one .bm file (tests / small files)."""
    return list(scan_boom_range(path))


@contextlib.contextmanager
def mapped(path: str) -> Iterator[mmap.mmap]:
    """``path`` memory-mapped read-only: every distributed container read
    touches only the pages it walks, never a copy of the whole file."""
    with open(path, "rb") as f, mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as mm:
        yield mm


@contextlib.contextmanager
def published(path: str) -> Iterator[str]:
    """The one publish: yields the temp name ``<path>.inprogress.<attempt>``
    to write ``path`` to, renamed over ``path`` when the ``with`` body
    completes and deleted if it raises. ``attempt`` is the Spark task attempt id
    (the pid on the driver), so no two attempts share a temp file, and a
    reader sees ``path`` complete or not at all."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    tmp = f"{path}.inprogress.{tc.taskAttemptId() if tc is not None else os.getpid()}"
    try:
        yield tmp
        os.replace(tmp, path)  # atomic: same directory
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        raise


def container_ranges(
    path: str | list[str], pattern: str = "*.bm", spark: SparkSession | None = None
) -> list[tuple[str, int, int]]:
    """``(file, start, end)`` byte ranges that cover the files under
    ``path`` (one path or glob, or a list of them) whose names match
    ``pattern``, listed on the driver: at most ``spark``'s
    ``spark.sql.files.maxPartitionBytes`` each, or one per file when no
    session is given. Directories are walked recursively. Files, and
    directories below a root, whose names start with ``_`` or ``.`` are
    skipped, as Spark's file sources skip them (``_temporary`` attempt
    output, hidden files); only matching names are read, so a
    :func:`published` temp name stays invisible. A path that matches
    nothing raises. An empty file still gets one range, so a strict read
    of it fails like any headerless file."""

    def hidden(name: str) -> bool:
        return name.startswith(("_", "."))

    def wanted(name: str) -> bool:
        return fnmatch.fnmatchcase(name, pattern) and not hidden(name)

    files = []
    for pattern_path in [path] if isinstance(path, str) else path:
        roots = sorted(glob.glob(pattern_path))
        if not roots:
            raise FileNotFoundError(f"path does not exist: {pattern_path}")
        files += [r for r in roots if os.path.isfile(r) and wanted(os.path.basename(r))]
        for root in filter(os.path.isdir, roots):
            for d, dirs, names in os.walk(root):
                dirs[:] = sorted(n for n in dirs if not hidden(n))
                files += [os.path.join(d, n) for n in sorted(names) if wanted(n)]
    max_bytes = None
    if spark is not None:
        max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    ranges = []
    for f in files:
        size = os.path.getsize(f)
        step = max_bytes or max(size, 1)
        ranges += [(f, s, min(s + step, size)) for s in range(0, max(size, 1), step)]
    return ranges


def _pack(ranges: list[tuple[str, int, int]], n_bins: int) -> list[list[tuple]]:
    """``ranges`` in ``min(#ranges, n_bins)`` bins (at least one) balanced
    by bytes: largest range first, each to the bin with the fewest bytes
    so far."""
    bins: list[list[tuple]] = [[] for _ in range(max(1, min(len(ranges), n_bins)))]
    load = [(0, b) for b in range(len(bins))]
    for r in sorted(ranges, key=lambda r: r[2] - r[1], reverse=True):
        size, b = load[0]
        bins[b].append(r)
        heapq.heapreplace(load, (size + r[2] - r[1], b))
    return bins


def read_ranges(ranges: Iterable[tuple[str, int, int]], read_range: Callable) -> Iterator:
    """``read_range(file, start, end)`` of each range in turn, a failure
    re-raised as a ``ValueError`` naming its file, as one reader reads
    many: the loop of each :func:`fan_out` task and of the CLI's driver
    executor (:func:`read_lines`)."""
    for p, start, end in ranges:
        try:
            out = read_range(p, start, end)
        except Exception as exc:  # noqa: BLE001 — re-raised, named
            name = f"{os.path.splitext(p)[1]} file {p}"
            raise ValueError(f"cannot decode {name}: {type(exc).__name__}: {exc}") from exc
        yield out


def fan_out(
    spark: SparkSession,
    ranges: list[tuple[str, int, int]],
    read_range: Callable[[str, int, int], "pd.DataFrame"],
    schema: str | StructType,
) -> DataFrame:
    """One distributed read of ``ranges``: they are packed into
    ``min(#ranges, defaultParallelism)`` bins, and each task of
    ``spark.range(n).mapInPandas`` turns the ranges of its bin into
    frames of ``schema`` through ``read_range(file, start, end)``
    (:func:`read_ranges`). Paths must be reachable from executors
    (shared FS / mount, as for writers)."""
    bins = _pack(ranges, spark.sparkContext.defaultParallelism)

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for b in pdf["id"]:
                yield from read_ranges(bins[b], read_range)

    # spark.range, not createDataFrame(ranges): it needs no Arrow or
    # Python worker on the driver and runs no job at load
    return spark.range(len(bins), numPartitions=len(bins)).mapInPandas(
        decode, schema=schema
    )


def write_sorted(
    df: DataFrame, keys: list[str], path: str, write: Callable[[str, Iterator], int]
) -> int:
    """The one ordered one-file write, the write-side counterpart of
    :func:`fan_out`: one executor task streams every row of ``df``, in
    ``keys`` order, through ``write(path, rows)`` and returns its count,
    so memory is whatever ``write`` holds, never the whole file. Over no
    rows the exchange runs no task, and ``write(path, iter(()))`` runs on
    the driver instead, so ``path`` is always written. ``path`` must be
    on a filesystem that executor and driver share."""
    counts = (
        df.repartition(1)
        .sortWithinPartitions(*keys)
        .rdd.mapPartitions(lambda rows: [write(path, rows)])
        .collect()
    )
    return counts[0] if counts else write(path, iter(()))


def range_lines(
    path: str,
    start: int,
    end: int,
    search_terms: list[str] | None = None,
    match_all: bool = False,
    case_insensitive: bool = False,
    skip_corrupt: bool = False,
    start_ms: int | None = None,
    end_ms: int | None = None,
    ascii_case: bool = False,
) -> list[tuple]:
    """The lines of one range of a .bm file (:func:`scan_boom_range`):
    the per-range body of :func:`read_boom`'s tasks and of the CLI's
    driver executor (:func:`read_lines`). Under ``skip_corrupt`` a range
    that still fails after the block-level resync gives zero rows: a
    mutated header can even yield a different valid schema whose records
    do not flatten, and salvage never ends the read."""
    try:
        return list(scan_boom_range(
            path, start, end, search_terms, match_all, case_insensitive,
            skip_corrupt, start_ms, end_ms, ascii_case,
        ))
    except Exception:  # noqa: BLE001
        if not skip_corrupt:
            raise
        return []


#: The driver executor's read workers (:func:`_read_pool`), kept for the
#: later calls of the process, as Spark keeps its Python workers.
_POOL = None


def local_bins(ranges: list[tuple[str, int, int]]) -> list[list[tuple]]:
    """``ranges`` in one bin per usable core at most (:func:`_pack`): the
    driver executor's bins, each read by one worker (:func:`read_lines`)."""
    return _pack(ranges, len(os.sched_getaffinity(0)))


def _read_pool():
    """A pool of one forked worker per usable core, made on the first call
    and reused. ``fork`` copies this process's modules, where a fresh
    interpreter (``forkserver``, ``spawn``) would import them, pyspark
    included, again. A fork copies only the forking thread, so a lock
    another thread held (a Spark driver's py4j threads) stays held in
    the worker; a worker only runs this module's read, imported
    already, and takes no such lock. The workers ignore SIGINT, so
    Ctrl-C reaches the parent alone. The pool shuts down at exit while
    the modules it uses are still there: collected during the
    interpreter's teardown, it fails in a callback."""
    global _POOL
    if _POOL is None:
        import atexit
        import multiprocessing
        import signal
        from concurrent.futures import ProcessPoolExecutor

        sys.stdout.flush()  # a forked worker must not write this process's buffers again
        sys.stderr.flush()
        _POOL = ProcessPoolExecutor(
            len(os.sched_getaffinity(0)), multiprocessing.get_context("fork"),
            initializer=signal.signal, initargs=(signal.SIGINT, signal.SIG_IGN),
        )
        atexit.register(_POOL.shutdown)
    return _POOL


def _read_bin(ranges: list[tuple[str, int, int]], read: Callable) -> list[list[tuple]]:
    """A worker's bin: the lines of each of its ranges (:func:`read_ranges`)."""
    return list(read_ranges(ranges, read))


def read_lines(
    ranges: list[tuple[str, int, int]],
    search_terms: list[str] | None = None,
    match_all: bool = False,
    case_insensitive: bool = False,
    skip_corrupt: bool = False,
    start_ms: int | None = None,
    end_ms: int | None = None,
    ascii_case: bool = False,
) -> list[tuple]:
    """The lines of ``ranges`` (:func:`container_ranges`) in range order,
    with :func:`read_boom`'s arguments and per-range body
    (:func:`range_lines`): the CLI's driver executor, which starts no
    Spark job. Like a Spark read, it reads :func:`local_bins`' bins in
    parallel, one worker process each (:func:`_read_pool`); a single bin
    is read in this process, which then imports no process pool at all.
    A damaged range raises :func:`read_ranges`' ``ValueError``, and a
    worker that dies a ``ChildProcessError``."""
    read = functools.partial(
        range_lines, search_terms=search_terms, match_all=match_all,
        case_insensitive=case_insensitive, skip_corrupt=skip_corrupt,
        start_ms=start_ms, end_ms=end_ms, ascii_case=ascii_case,
    )
    bins = local_bins(ranges)
    if len(bins) == 1:
        return [line for part in read_ranges(ranges, read) for line in part]
    from concurrent.futures.process import BrokenProcessPool

    global _POOL
    try:
        parts = _read_pool().map(_read_bin, bins, itertools.repeat(read))
        lines = dict(zip(itertools.chain(*bins), itertools.chain.from_iterable(parts)))
    except BrokenProcessPool as exc:  # the next call forks a new pool
        _POOL = None
        raise ChildProcessError(f"a read worker died: {exc}") from exc
    return [line for r in ranges for line in lines[r]]


def read_boom(
    spark: SparkSession,
    path: str | list[str],
    search_terms: list[str] | None = None,
    match_all: bool = False,
    case_insensitive: bool = False,
    skip_corrupt: bool = False,
    start_ms: int | None = None,
    end_ms: int | None = None,
    ascii_case: bool = False,
) -> DataFrame:
    """Distributed .bm read into the canonical log schema: the one reader
    for hourly part files and multi-GB archives alike.

    ``path`` is one directory, file or glob, or a list of them read in
    ONE scan (the CLI passes every hourly directory its window resolves
    to): the ``*.bm`` files are cut into byte ranges of at most
    ``spark.sql.files.maxPartitionBytes`` (:func:`container_ranges`) and
    read by :func:`fan_out`, each range through :func:`scan_boom_range`
    (the Avro split rule of the reference's splittable
    ``BoomIndividualInputFormat``), so any split size returns exactly
    the whole-file rows.

    ``search_terms`` pushes a substring search INTO the decoder:
    non-matching container blocks are skipped on a byte-scan of the
    inflated payload before any Avro record decode — the reference's
    FastSearch fast path (``util/FastSearch.java:76``, see
    :func:`scan_boom_bytes`). Semantically identical to reading
    everything then filtering with ``logops.multisearch``, so callers
    may use it as a drop-in accelerator; ``ascii_case`` folds ASCII
    letters only, as ``logops.grep`` does (:func:`_matcher`). The window
    ``[start_ms, end_ms)`` drops every other line in the decoder.

    ``skip_corrupt=True`` opts into SALVAGE semantics for damaged
    trees: corrupt container blocks are resynced past via the Avro
    sync markers (:func:`read_container` with ``salvage=True``) instead
    of failing the task, and a file with an unreadable header yields
    zero rows — the ``spark.sql.files.ignoreCorruptFiles`` posture at
    block granularity, for when one flipped block must not kill a
    1000-executor ingest. Default OFF: silent data loss is the wrong
    default, and the maintenance integrity checks rely on strict
    reads. With ``search_terms`` a salvage read skips no block on the
    byte-scan, which assumes intact containers; the line test still
    filters (:func:`scan_boom_range`).
    """
    from bb_bigdata_log_tools_spark.schema import LOG_COLUMNS, LOG_SCHEMA

    def read_range(p: str, start: int, end: int) -> "pd.DataFrame":
        import pandas as pd

        rows = range_lines(
            p, start, end, search_terms, match_all, case_insensitive,
            skip_corrupt, start_ms, end_ms, ascii_case,
        )
        return pd.DataFrame(rows, columns=LOG_COLUMNS)

    ranges = container_ranges(path, spark=spark)
    return fan_out(spark, ranges, read_range, LOG_SCHEMA)


# ---------------------------------------------------------------------------
# writer (boom_write / text_to_boom parity)
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> bytes:
    n = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


BOOM_SCHEMA_JSON = (
    '{"type":"record","name":"logBlock","fields":['
    '{"name":"second","type":"long"},'
    '{"name":"createTime","type":"long"},'
    '{"name":"blockNumber","type":"long"},'
    '{"name":"logLines","type":{"type":"array","items":'
    '{"type":"record","name":"messageWithMillis","fields":['
    '{"name":"ms","type":"long"},'
    '{"name":"eventId","type":"int","default":0},'
    '{"name":"message","type":"string"}]}}}]}'
)


def container_header_bytes(schema_json: str, codec: str, sync: bytes) -> bytes:
    """Serialize a container header (AvroFileHeader.toBytes role)."""
    out = bytearray(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    out += _zigzag(len(meta))
    for k, v in meta.items():
        kb = k.encode()
        out += _zigzag(len(kb)) + kb + _zigzag(len(v)) + v
    out += _zigzag(0)
    out += sync
    return bytes(out)


def write_container(
    path: str, schema_json: str, codec: str, blocks: Iterable[tuple[int, bytes]], sync: bytes
) -> int:
    """The one container writer, the inverse of :func:`iter_blocks`: the
    header, then ``count | size | payload | sync`` per ``(record_count,
    compressed_payload)`` of ``blocks``, published only when complete
    (:func:`published`). Returns the record count."""
    n = 0
    with published(path) as tmp, open(tmp, "wb") as f:
        f.write(container_header_bytes(schema_json, codec, sync))
        for count, payload in blocks:
            f.write(_zigzag(count) + _zigzag(len(payload)) + payload + sync)
            n += count
    return n


def _log_block(second: int, create_time: int, block_no: int, lines: list[tuple]) -> bytes:
    """One logBlock record, deflated: one container block's payload.
    ``lines`` are :func:`write_reboom_stream`'s, all in ``second``."""
    body = bytearray()
    body += _zigzag(second) + _zigzag(create_time) + _zigzag(block_no)
    body += _zigzag(len(lines))
    for ts, message, event_id, _create_time, _block_no in lines:
        mb = message.encode("utf-8")
        body += _zigzag(ts % 1000) + _zigzag(event_id)
        body += _zigzag(len(mb)) + mb
    body += _zigzag(0)  # array terminator
    return deflate("deflate", bytes(body))


def write_boom_stream(
    path: str,
    lines,
    create_time: int = 0,
    sync: bytes = b"\x00" * 16,
) -> int:
    """Streaming .bm writer over an ITERATOR of (ts, message, event_id)
    tuples whose seconds (ts // 1000) arrive in non-decreasing order.

    One logBlock (= one deflate container block) is flushed per distinct
    second, so memory is bounded by one second of lines regardless of
    input size — this is what lets compaction run executor-side over an
    arbitrarily large sorted partition. Block numbers count the seconds
    from 0; the encoding is :func:`write_reboom_stream`'s. Returns the
    line count.
    """
    seconds = itertools.groupby(lines, lambda line: line[0] // 1000)
    numbered = (
        (line[0], line[1], line[2] if len(line) > 2 else 0, create_time, block_no)
        for block_no, (_second, blk) in enumerate(seconds)
        for line in blk
    )
    return write_reboom_stream(path, numbered, sync=sync)


def write_reboom_stream(
    path: str,
    lines,
    sync: bytes = b"\x00" * 16,
) -> int:
    """ReBoom writer: re-assemble PREVIOUSLY-READ boom lines into a .bm
    file preserving each line's original provenance metadata.

    Parity: ``boom/ReBoomWriter.java`` — used when boom files are
    disassembled and reassembled (e.g. to remove or alter log lines in
    the filter/archive job). Input is an iterator of
    ``(ts, message, event_id, create_time, block_no)`` tuples; a block
    is flushed whenever second, createTime, OR blockNumber changes
    (exactly the reference's writeLine flush rule), so the original
    (createTime, blockNumber) pairs survive the round trip. Streaming:
    memory is bounded by one block. Returns the line count.
    """
    n = 0

    def blocks() -> Iterator[tuple[int, bytes]]:
        nonlocal n
        runs = itertools.groupby(lines, lambda line: (line[0] // 1000, line[3], line[4]))
        for (second, create_time, block_no), blk in runs:
            blk = list(blk)
            n += len(blk)
            yield 1, _log_block(second, create_time, block_no, blk)

    write_container(path, BOOM_SCHEMA_JSON, "deflate", blocks(), sync)
    return n


def write_boom_local(
    path: str,
    lines: list[tuple],
    create_time: int = 0,
    sync: bytes = b"\x00" * 16,
) -> None:
    """Write flattened (ts, message, event_id) lines to a .bm file.

    Lines are grouped into one logBlock per distinct second (the
    reference writer's second-level blocking), blocks ordered by second,
    within-second input order preserved; delegates to the streaming
    writer for the container encoding.
    """
    by_second = sorted(lines, key=lambda line: line[0] // 1000)  # stable
    write_boom_stream(path, by_second, create_time=create_time, sync=sync)


# ---------------------------------------------------------------------------
# text → boom conversion (convert2bm.pg / TextToBoomConverter parity)
# ---------------------------------------------------------------------------


def text_to_boom(
    spark: SparkSession, text_path: str, out_dir: str, create_time: int = 0
) -> int:
    """Convert raw RFC5424-prefixed text logs into .bm files — the
    ``pig/convert2bm.pg`` + ``pig/TextToBoomConverter.java`` pipeline.

    Each line is split at the first space (Rfc5424TimestampParser.splitLine
    semantics), the timestamp parsed to epoch ms, and the remainder kept
    as the message; a line whose head is not a timestamp is dropped. One
    .bm file is written per partition by executors
    (``foreachPartition``) — distributed, driver never sees the data.
    Returns the number of lines converted.
    """
    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.functions.timestamps import parse_rfc5424

    os.makedirs(out_dir, exist_ok=True)
    raw = spark.read.text(text_path)
    parsed = raw.select(
        parse_rfc5424(F.split_part(F.col("value"), F.lit(" "), F.lit(1))).alias("ts"),
        F.expr("substring(value, instr(value, ' ') + 1)").alias("message"),
    ).filter(F.col("ts").isNotNull())

    def write_partition(idx, rows):
        rows = list(rows)
        if rows:
            write_boom_local(
                os.path.join(out_dir, f"part-{idx:05d}.bm"),
                [(r["ts"], r["message"], 0) for r in rows],
                create_time=create_time,
            )
        return [len(rows)]

    return sum(parsed.rdd.mapPartitionsWithIndex(write_partition).collect())


def compact_boom_dir(
    spark: SparkSession, in_dir: str | list[str], out_path: str, create_time: int = 0
) -> int:
    """LogMaintenance-style compaction: merge a directory of hourly .bm
    part files (or a list of them) into one file, lines re-sorted by
    (ts, message).

    The reference's LogMaintenance merges per-hour part files before
    archiving (``admin/LogMaintenance.java``). Fully distributed: the
    read is the parallel boom source, and the one output file is written
    by :func:`write_sorted` through the streaming writer, so memory stays
    bounded at one second of lines even for a multi-GB hour. A directory
    with no lines gives a header-only file. Returns the line count.
    """
    lines = read_boom(spark, in_dir).select("ts", "message", "event_id")
    write = functools.partial(write_boom_stream, create_time=create_time)
    return write_sorted(lines, ["ts", "message"], out_path, write)


def write_boom_tree(
    logs: DataFrame,
    root: str,
    dc: str,
    service: str,
    log_type: str,
    component: str,
    create_time: int = 0,
    file_tag: str = "",
) -> int:
    """Write canonical log lines into the reference's hourly .bm tree
    (:mod:`bb_bigdata_log_tools_spark.tree`):
    ``<root>/<dc>/<svc>/<type>/<yyyyMMdd>/<HH>/<comp>/data/part-*.bm``
    — the ``PigBoomHourlyOutputFormat`` / ``BoomHourlyStoreFunc`` role
    (``mapreduce/boom/PigBoomHourlyOutputFormat.java``).

    One EXECUTOR TASK writes one hourly file (``applyInPandas`` over
    the (date, hour) groups — the same one-task-per-output-file shape
    as the WebDataset sink): the only exchange is the group hash any
    hourly layout needs, parallelism is |hours touched| (full cluster
    width on a month of logs; the previous per-partition form serially
    wrote ~hours/partitions files per task), and memory per task is
    one hour of lines. Lines are sorted (ts, message, event_id) before
    encoding so each hourly file's BYTES are deterministic across
    runs, retries, and cluster sizes. Each file is written by
    :func:`write_container`, so a retried or speculative attempt cannot
    interleave into a published file and a failed one leaves none.
    ``root`` must be a filesystem all executors share (local FS in
    local mode, NFS/fuse mount on a cluster — for object stores prefer
    ``write_log_store``'s parquet layout). ``file_tag`` namespaces the
    part files (e.g. a streaming micro-batch id) so repeated appends
    into the same hour land on distinct names and a recovery re-run of
    the SAME batch overwrites its own file rather than duplicating
    lines. Returns the number of lines written.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from bb_bigdata_log_tools_spark.tree import hour_columns

    with_dh = logs.withColumns(hour_columns()).select(
        "ts",
        "message",
        F.coalesce(F.col("event_id"), F.lit(0)).alias("event_id"),
        "date",
        "hour",
    )
    tag = f"{file_tag}." if file_tag else ""
    count_schema = T.StructType([T.StructField("n", T.LongType())])

    def write_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        d, h = str(pdf["date"].iloc[0]), str(pdf["hour"].iloc[0])
        dirp = os.path.join(root, dc, service, log_type, d, h, component, "data")
        os.makedirs(dirp, exist_ok=True)
        path = os.path.join(dirp, f"part-{tag}00000.{d}-{h}.bm")
        lines = sorted(
            (int(t), str(m), int(e))
            for t, m, e in zip(pdf["ts"], pdf["message"], pdf["event_id"])
        )
        write_boom_local(path, lines, create_time=create_time)
        return pd.DataFrame({"n": [len(lines)]})

    # explicit repartition on the group key: hour groups are tiny, and
    # under AQE partition coalescing the groupBy exchange collapsed to
    # a couple of partitions (r12 profile: 1251 hourly files written
    # serially from 3 tasks). A user-specified partition count is not
    # coalesced, and defaultParallelism scales with the cluster rather
    # than pinning a local constant. The groupBy reuses the exchange
    # (same keys), so this adds no extra shuffle.
    par = logs.sparkSession.sparkContext.defaultParallelism
    counts = (
        with_dh.repartition(par, "date", "hour")
        .groupBy("date", "hour")
        .applyInPandas(write_group, schema=count_schema)
    )
    return sum(r["n"] for r in counts.collect())
