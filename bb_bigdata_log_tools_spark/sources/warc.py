"""WARC (Web ARChive, ISO 28500) source + sink — the container Common
Crawl actually ships (WARC/WET/WAT), completing the crawl pipeline in
front of the ``html_extract_*`` tier: read the crawl → extract text →
quality/dedup/decontaminate.

Format notes (all from the public spec / Common Crawl layout):

- A WARC file is a sequence of records; each record is a header block
  (``WARC/1.1`` version line + ``Name: value`` headers, CRLF line
  ends, blank-line terminated), then ``Content-Length`` bytes of
  block, then CRLF CRLF.
- ``response`` records carry an HTTP response message as the block
  (status line + HTTP headers + CRLF CRLF + body) — the raw crawl.
- ``conversion`` records (WET files) carry extracted plain text.
- Common Crawl ``.warc.gz`` files gzip EACH RECORD as its own gzip
  member and concatenate the members, so readers can split a file at
  member boundaries without decompressing the whole stream.

Scale notes (100 TB): files are the parallelism unit — ``binaryFile``
assigns whole files to tasks, and Common Crawl ships ~1 GB files in
the tens of thousands per snapshot, so a full-crawl read fans out with
zero coordination (the same shard-per-task contract as
``sources/webdataset.py``). Record parsing runs executor-side over
Arrow batches; payloads never visit the driver. For pathologically
large single files, the gzip-member-per-record layout supports an
offset-splitting scan (seek to a member boundary, resume) — the seam
is :func:`split_gzip_members`, which already walks member boundaries;
wiring it to byte-range tasks is mechanical when a deployment needs
it.

No counterpart in the reference (logs, not crawls) — this extends the
engine along the LLM-data-pipeline axis; the honest-failure contract
matches the media tier: malformed records/trailing garbage are
SKIPPED, never a crash, and the parsed prefix of the file flows on.
"""

from __future__ import annotations

import gzip
import io
import os
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CRLF = b"\r\n"

WARC_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("rec_pos", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        # revisit-record linkage (WARC 1.1 §6.7): which earlier capture
        # this record deduplicates against, and the payload digest the
        # claim rests on — '' on records that don't carry the headers
        T.StructField("refers_to", T.StringType()),
        T.StructField("payload_digest", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


#: Response-header projection of a WARC store — the columns the crawl
#: scheduler consumes (redirect targets, cache validators) without
#: materializing payload bytes. See :func:`read_warc_headers`.
HTTP_HEADERS_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("rec_pos", T.IntegerType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("location", T.StringType()),
        T.StructField("etag", T.StringType()),
        T.StructField("last_modified", T.StringType()),
    ]
)


#: Per-member inflate cap — the decompression-bomb guard the PNG
#: decoder also carries: a KB-scale hostile member expanding to
#: multi-GB must not materialize executor-side. CC members are
#: record-sized (KB-MB); 256 MiB is generous headroom.
MAX_MEMBER_BYTES = 256 << 20


#: Incremental-feed chunk for the member walk (see below).
_GZ_CHUNK = 4 << 20

#: Decompressed-piece bound for the member walk: the feed chunk caps
#: the COMPRESSED side only — highly compressible streams (HTML
#: crawls routinely 10-50×) would otherwise inflate one feed chunk
#: into a single giant piece, defeating the rolling-buffer memory
#: bound (probe-measured: a 26 MiB stream compressing to 265 KiB
#: arrived as ONE piece before this cap).
_GZ_OUT_CHUNK = 1 << 20


#: Sentinel yielded by :func:`_walk_gzip_members` between members.
_MEMBER_END = object()


def _walk_gzip_members(blob: bytes) -> Iterator[object]:
    """Core incremental walk of a multi-member gzip stream: yields
    decompressed PIECES (chunk-sized, never a whole member) with a
    :data:`_MEMBER_END` sentinel after each complete member. A
    truncated/corrupt tail — or a member inflating past
    :data:`MAX_MEMBER_BYTES` (bomb guard) — ends the iteration with
    the truncated member's pieces un-terminated (no sentinel), so
    member-level consumers can drop them while stream-level consumers
    keep the valid prefix.

    The compressed bytes are fed to the decompressor in fixed
    ``_GZ_CHUNK`` slices of a ``memoryview``: feeding the whole
    remainder per member would make zlib materialize it again as
    ``unused_data`` after EVERY member — an O(members × bytes) copy
    that turned a single 50k-record 1x-file read into minutes
    (measured 355 s → linear after this rewrite). Per member the
    walk touches only that member's bytes plus at most one chunk of
    tail; per STEP it holds one compressed chunk and its inflated
    output — the bound that keeps a giant single-member .warc.gz from
    resident-setting an executor."""
    mv = memoryview(blob)
    n = len(blob)
    pos = 0
    while pos < n:
        d = zlib.decompressobj(wbits=47)  # gzip wrapper
        size = 0
        p = pos
        end_of_member = -1
        while p < n:
            chunk = mv[p : min(p + _GZ_CHUNK, n)]
            data = chunk
            while True:
                take = min(MAX_MEMBER_BYTES - size + 1, _GZ_OUT_CHUNK)
                try:
                    piece = d.decompress(data, take)
                except zlib.error:
                    return
                size += len(piece)
                if size > MAX_MEMBER_BYTES:
                    return  # bomb guard: member inflates past the cap
                if piece:
                    yield piece
                if d.eof or not d.unconsumed_tail:
                    break
                data = d.unconsumed_tail
            if d.eof:
                end_of_member = p + len(chunk) - len(d.unused_data)
                break
            p += len(chunk)
        if end_of_member <= pos:  # truncated member (or no progress)
            return
        yield _MEMBER_END
        pos = end_of_member


def split_gzip_members(blob: bytes) -> Iterator[bytes]:
    """Decompressed payload of each COMPLETE gzip member of a
    multi-member stream, in order (the Common Crawl record-per-member
    layout) — the member-level view of :func:`_walk_gzip_members`
    (truncated trailing member dropped; keep-going contract)."""
    out: list[bytes] = []
    for piece in _walk_gzip_members(blob):
        if piece is _MEMBER_END:
            yield b"".join(out)
            out = []
        else:
            out.append(piece)


#: :func:`_scan_one` outcomes.
_REC_OK, _REC_WAIT, _REC_DEAD = 0, 1, 2


def _scan_one(buf, pos: int, final: bool):
    """Scan ONE WARC record at ``buf[pos:]`` — the single copy of
    record framing shared by the whole-stream parse and the
    incremental member walk. Returns
    ``(status, newpos, headers, block)``:

    - ``_REC_OK``: a complete record; ``newpos`` is the offset after
      it.
    - ``_REC_WAIT`` (never with ``final=True``): the record may still
      complete when more bytes arrive; ``newpos`` is where to resume
      (the caller may discard everything before it).
    - ``_REC_DEAD``: malformed framing (bad magic, unparseable or
      negative Content-Length) or a final-truncated tail — the walk
      must stop for good (valid-prefix contract).

    Garbage is bounded by the MAGIC check, not a header-size cap: as
    soon as five bytes are visible they must read ``WARC/``, so a
    non-WARC stream dies immediately while a legitimate record header
    may grow arbitrarily (matching whole-stream parse semantics —
    both readers accept the same streams by construction)."""
    n = len(buf)
    # tolerate inter-record padding
    while pos < n and buf[pos : pos + 2] == CRLF:
        pos += 2
    if pos >= n:
        return (_REC_WAIT if not final else _REC_DEAD), pos, None, None
    visible = buf[pos : pos + 5]
    if len(visible) < 5:
        # fewer than 5 bytes visible non-final: ALWAYS wait — the tail
        # may be a split "\r\n" padding pair or a partial magic, and
        # at most 4 bytes stay buffered either way
        return (_REC_WAIT if not final else _REC_DEAD), pos, None, None
    if bytes(visible) != b"WARC/":
        return _REC_DEAD, pos, None, None
    end = buf.find(CRLF + CRLF, pos)
    if end < 0:
        return (_REC_WAIT if not final else _REC_DEAD), pos, None, None
    lines = bytes(memoryview(buf)[pos:end]).split(CRLF)
    headers: dict[str, str] = {}
    for ln in lines[1:]:
        name, sep, value = ln.partition(b":")
        if sep:
            headers[name.strip().lower().decode("ascii", "replace")] = (
                value.strip().decode("utf-8", "replace")
            )
    try:
        length = int(headers.get("content-length", ""))
    except ValueError:
        return _REC_DEAD, pos, None, None
    if length < 0:
        # a negative Content-Length would move the scan BACKWARD —
        # the same header would then re-parse forever (found by the
        # round-9 review; regression-tested)
        return _REC_DEAD, pos, None, None
    block_start = end + 4
    if block_start + length > n:
        # block incomplete: wait for more bytes unless final
        return (_REC_WAIT if not final else _REC_DEAD), pos, None, None
    block = bytes(memoryview(buf)[block_start : block_start + length])
    return _REC_OK, block_start + length, headers, block


def parse_warc_records(blob: bytes):
    """Yield (headers dict, block bytes) per WARC record of a
    DECOMPRESSED stream, lazily (a generator — the uncompressed-file
    path of :func:`parse_warc_files` relies on records streaming out
    without materializing the whole list). Header names are
    lower-cased; the version line is checked for the ``WARC/`` magic.
    Malformed framing stops the walk (valid-prefix contract)."""
    pos = 0
    while True:
        status, pos, hdr, block = _scan_one(blob, pos, final=True)
        if status != _REC_OK:
            return
        yield hdr, block


def iter_warc_records(blob: bytes):
    """Yield (headers dict, block bytes) per WARC record of a raw
    ``.warc`` / ``.warc.gz`` blob WITHOUT materializing the full
    decompressed stream: the gzip walk yields chunk-sized pieces into
    a rolling buffer that is drained record-by-record, so peak memory
    is one decode chunk plus one partial record — not the whole
    inflated file (~10× the compressed bytes on text), and not even
    one whole member (a giant SINGLE-member .warc.gz — the
    un-indexed-upload shape — stays flat too). Records spanning
    member boundaries (non-CC layouts gzip the stream split
    arbitrarily) complete as pieces arrive; only a stream-final
    partial record is dropped (truncation contract)."""
    if blob[:2] != b"\x1f\x8b":
        yield from parse_warc_records(blob)
        return
    buf = bytearray()
    for piece in _walk_gzip_members(blob):
        if piece is _MEMBER_END:
            continue  # record framing doesn't care about member seams
        buf += piece
        pos = 0
        while True:
            status, pos, hdr, block = _scan_one(buf, pos, final=False)
            if status != _REC_OK:
                break
            yield hdr, block
        del buf[:pos]
        if status == _REC_DEAD:
            return
    pos = 0
    while True:
        status, pos, hdr, block = _scan_one(buf, pos, final=True)
        if status != _REC_OK:
            return
        yield hdr, block


#: Per-record decompressed-body cap: a few KB of gzip can inflate to
#: GBs (zip bomb) — past the cap the record keeps its RAW body (the
#: keep-going contract; same bomb posture as the gzip member walk).
HTTP_BODY_DECODE_CAP = 64 * 1024 * 1024


def _dechunk(body: bytes) -> bytes | None:
    """Decode HTTP/1.1 chunked transfer framing (RFC 9112 §7.1): hex
    size line (chunk extensions after ';' ignored) + CRLF + data +
    CRLF, terminated by a 0-size chunk (trailers ignored). Returns
    None on ANY malformation — the caller keeps the raw body."""
    out = bytearray()
    i, n = 0, len(body)
    while True:
        j = body.find(CRLF, i)
        if j < 0:
            return None
        tok = body[i:j].split(b";", 1)[0].strip()
        # pure HEXDIG only (RFC 9112): int(tok, 16) alone would also
        # accept Python-isms like '0x1f', '+5', '1_0'
        if not tok or any(c not in b"0123456789abcdefABCDEF" for c in tok):
            return None
        size = int(tok, 16)
        i = j + 2
        if size == 0:
            return bytes(out)
        if i + size > n or len(out) + size > HTTP_BODY_DECODE_CAP:
            return None
        out += body[i : i + size]
        i += size
        if body[i : i + 2] != CRLF:
            return None
        i += 2


def _decode_content_encoding(body: bytes, encoding: str) -> bytes | None:
    """Inflate a gzip/deflate HTTP body (Content-Encoding), bounded by
    HTTP_BODY_DECODE_CAP. Returns None for other encodings, malformed
    OR TRUNCATED streams, or cap overflow — the caller keeps the raw
    body. 'deflate' tries zlib-wrapped first, then raw-deflate (both
    occur in the wild).

    Truncation is detected via ``d.eof``: zlib does not raise when a
    stream simply stops early, so without the check a cut-off body
    would silently yield a PARTIAL page presented as fully decoded —
    inconsistent with the raw-body fallback every other malformation
    takes. Reaching eof also means the gzip trailer (CRC32 + ISIZE)
    was processed, so CRC mismatches raise inside decompress."""
    import zlib

    enc = encoding.strip().lower()
    if enc in ("gzip", "x-gzip"):
        tries = (31,)
    elif enc == "deflate":
        tries = (15, -15)
    else:
        return None
    for wbits in tries:
        try:
            d = zlib.decompressobj(wbits)
            out = d.decompress(body, HTTP_BODY_DECODE_CAP)
            if d.unconsumed_tail:
                return None  # cap exceeded — keep the raw body
            if not d.eof:
                return None  # truncated stream — keep the raw body
            return out
        except zlib.error:
            continue
    return None


def _split_http_head(block: bytes):
    """(status, header_lines, body) from an HTTP response message, or
    None when the block isn't one — the ONE copy of the message-head
    scaffold (CRLF-CRLF split, ``HTTP/`` prefix check, status-line
    parse) shared by :func:`parse_http_response` and
    :func:`parse_http_header_fields`, so a grammar fix (e.g.
    tolerating LF-only separators some day) reaches both readers."""
    sep = block.find(CRLF + CRLF)
    if sep < 0 or not block.startswith(b"HTTP/"):
        return None
    head = block[:sep].split(CRLF)
    parts = head[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None
    return status, head[1:], block[sep + 4 :]


def parse_http_response(block: bytes):
    """(status int, content_type str, body bytes) from an HTTP
    response message, or (0, '', block) if it isn't one (the
    keep-going fallback: the block still flows as the payload).

    WARC response blocks store the message AS TRANSFERRED (WARC 1.1
    §6.3), so real crawls carry chunked transfer framing and
    gzip/deflate content encoding inside the record: both are decoded
    here (chunked first, then content encoding — RFC order), each
    falling back to the raw bytes on malformation or past the
    HTTP_BODY_DECODE_CAP bomb cap."""
    split = _split_http_head(block)
    if split is None:
        return 0, "", block
    status, head_lines, body = split
    ctype, t_enc, c_enc = "", "", ""
    for ln in head_lines:
        name, s, value = ln.partition(b":")
        if not s:
            continue
        key = name.strip().lower()
        if key == b"content-type" and not ctype:
            ctype = value.strip().decode("utf-8", "replace")
        elif key == b"transfer-encoding":
            t_enc = value.strip().decode("ascii", "replace").lower()
        elif key == b"content-encoding":
            c_enc = value.strip().decode("ascii", "replace").lower()
    if "chunked" in t_enc:
        decoded = _dechunk(body)
        if decoded is not None:
            body = decoded
    # transfer-level compression ("Transfer-Encoding: gzip, chunked"
    # = chunked(gzip(body))): inflate AFTER de-chunking
    for t_comp in ("gzip", "x-gzip", "deflate"):
        if t_comp in t_enc:
            inflated = _decode_content_encoding(body, t_comp)
            if inflated is not None:
                body = inflated
            break
    if c_enc:
        inflated = _decode_content_encoding(body, c_enc)
        if inflated is not None:
            body = inflated
    return status, ctype, body


def parse_http_header_fields(block: bytes):
    """(status, location, etag, last_modified) from an HTTP response
    message head — the scheduler-facing headers (RFC 9110 §10.2.2
    Location, §8.8.3 ETag, §8.8.2 Last-Modified). Same keep-going
    fallback as :func:`parse_http_response` ((0, '', '', '') when the
    block isn't an HTTP message); first occurrence of each header
    wins; the body is never touched (no de-chunk/inflate — this is
    the cheap header-only scan). The message-head scaffold is the
    shared :func:`_split_http_head` — one grammar copy."""
    split = _split_http_head(block)
    if split is None:
        return 0, "", "", ""
    status, head_lines, _body = split
    loc, etag, lastmod = "", "", ""
    for ln in head_lines:
        name, s, value = ln.partition(b":")
        if not s:
            continue
        key = name.strip().lower()
        if key == b"location" and not loc:
            loc = value.strip().decode("utf-8", "replace")
        elif key == b"etag" and not etag:
            etag = value.strip().decode("utf-8", "replace")
        elif key == b"last-modified" and not lastmod:
            lastmod = value.strip().decode("utf-8", "replace")
    return status, loc, etag, lastmod


def read_warc_headers(spark: SparkSession, path: str) -> DataFrame:
    """HTTP response HEADERS of every ``response`` record under
    ``path`` — :data:`HTTP_HEADERS_SCHEMA` rows (file, rec_pos,
    target_uri, warc_date, http_status, location, etag,
    last_modified; absent headers read as ''). The scheduler's view
    of a crawl store: 3xx ``location`` values feed the redirect
    resolver (:func:`operators.curation.resolve_redirects`) and
    ETag / Last-Modified feed the conditional-revisit planner
    (:func:`operators.curation.fetch_conditional`) — neither needs
    payload bytes, so this reader never de-chunks or inflates a body.

    100 TB shape: identical to :func:`read_warc` (file-per-task
    binaryFile fan-out, executor-side member walk) minus the body
    decode and the payload column — the Arrow batches carry only
    header-sized strings."""

    def parse(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        cols = [f.name for f in HTTP_HEADERS_SCHEMA.fields]
        chunk_rows = 4000
        for pdf in batches:
            out = {k: [] for k in cols}
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                for i, (hdr, block) in enumerate(
                    iter_warc_records(bytes(blob))
                ):
                    if hdr.get("warc-type", "") != "response":
                        continue
                    status, loc, etag, lastmod = (
                        parse_http_header_fields(block)
                    )
                    out["file"].append(fpath)
                    out["rec_pos"].append(i)
                    out["target_uri"].append(
                        hdr.get("warc-target-uri", "")
                    )
                    out["warc_date"].append(hdr.get("warc-date", ""))
                    out["http_status"].append(status)
                    out["location"].append(loc)
                    out["etag"].append(etag)
                    out["last_modified"].append(lastmod)
                    if len(out["file"]) >= chunk_rows:
                        yield pd.DataFrame(out)
                        out = {k: [] for k in cols}
            yield pd.DataFrame(out)

    return (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "content")
        .mapInPandas(parse, HTTP_HEADERS_SCHEMA)
    )


def _single_byte_translate(py_codec: str) -> tuple[str, str]:
    """(from_chars, to_chars) for ``F.translate``: the 0x80–0xFF bytes
    whose ``py_codec`` mapping differs from Latin-1. Decoding payload
    bytes as ISO-8859-1 (total: every byte maps to U+00..U+FF) then
    translating these chars IS the single-byte charset decode — built
    once at import from the codec tables, executed JVM-side."""
    src, dst = [], []
    for b in range(128, 256):
        latin1 = chr(b)
        try:
            ch = bytes([b]).decode(py_codec)
        except UnicodeDecodeError:
            ch = latin1  # undefined slot: keep the C1 control
        if ch != latin1:
            src.append(latin1)
            dst.append(ch)
    return "".join(src), "".join(dst)


#: Charset menu for :func:`decode_payload_text` — web-encoding labels
#: (lowercased, WHATWG-common aliases) → the Python codec whose
#: single-byte table builds the JVM ``translate`` branch. Spark 4's
#: ``decode`` is UNUSABLE on untrusted bytes (it supports only seven
#: charsets and THROWS on any malformed sequence — one bad page would
#: kill the whole job), so the safe primitives are: binary→string
#: CAST (UTF-8 with replacement) and the total ISO-8859-1 decode +
#: per-charset ``translate``. Multibyte charsets (Shift_JIS, GBK, …)
#: are not expressible this way: they fall back to the UTF-8-replace
#: cast with ``charset_supported=false`` — the seam for an
#: Arrow-batched Python decode branch in a deployment that needs
#: them.
SINGLE_BYTE_CHARSETS: tuple[tuple[str, tuple[str, ...]], ...] = (
    # WHATWG: the iso-8859-1/latin1 and us-ascii labels ARE
    # windows-1252 (browsers decode them that way — real pages labeled
    # iso-8859-1 routinely carry cp1252 smart quotes/dashes in
    # 0x80–0x9F, which a true Latin-1 decode would turn into C1
    # control characters).
    (
        "windows-1252",
        (
            "windows-1252", "cp1252", "x-cp1252",
            "iso-8859-1", "latin-1", "latin1", "iso8859-1", "l1",
            "us-ascii", "ascii",
        ),
    ),
    ("iso-8859-2", ("iso-8859-2", "latin2")),
    ("iso-8859-15", ("iso-8859-15", "latin9")),
    ("windows-1251", ("windows-1251", "cp1251")),
    ("koi8-r", ("koi8-r", "koi8r")),
)

#: Labels the JVM tier decodes exactly: every single-byte alias plus
#: the UTF-8 family (the replacement cast). ANY other resolved label —
#: utf-16, shift_jis, euc-kr, tis-620, a typo — is flagged
#: ``charset_supported=false`` so :func:`decode_payload_text_full`'s
#: Python-codec branch (which knows hundreds of codecs) gets a shot;
#: a fixed deny-list would silently mojibake the exotic ones.
_JVM_DECODABLE_LABELS = tuple(
    a for _c, aliases in SINGLE_BYTE_CHARSETS for a in aliases
) + ("utf-8", "utf8")


def decode_payload_text(
    df: DataFrame,
    payload_col: str = "payload",
    ctype_col: str = "http_content_type",
    out_col: str = "html",
    sniff_bytes: int = 1024,
) -> DataFrame:
    """Charset-aware text decode of an HTTP body column — real crawls
    are not all UTF-8, and a naive ``F.decode(payload, 'UTF-8')``
    KILLS the job on the first malformed page (Spark 4 decode throws).
    Resolution order (WHATWG-style, simplified):

    1. a UTF-16/UTF-8 byte-order mark (a BOM is a MARK, not content:
       the UTF-8 BOM bytes are stripped before decoding);
    2. the ``charset=`` parameter of the Content-Type header value;
    3. a ``<meta charset=…>`` sniffed from the first ``sniff_bytes``
       bytes (decoded as ISO-8859-1 — byte-transparent — for the
       sniff only);
    4. UTF-8 with replacement (the web default; also every unknown
       label).

    Labels alias per the WHATWG encoding standard where the menu
    covers them — notably ``iso-8859-1``/``latin1``/``us-ascii`` ARE
    ``windows-1252`` (what browsers actually do; real iso-labeled
    pages carry cp1252 punctuation in 0x80–0x9F).

    Single-byte charsets (:data:`SINGLE_BYTE_CHARSETS`) decode
    exactly via ISO-8859-1 + ``translate``; UTF-8/ASCII via the
    replacement cast. Adds ``out_col`` (decoded text), ``charset``
    (resolved label) and ``charset_supported`` (false for EVERY label
    outside the JVM menu — utf-16, shift_jis, euc-kr, typos — those
    rows carry the UTF-8-replace fallback, and the flag is the
    quality-gate / Python-branch seam: :func:`decode_payload_text_full`
    re-decodes them with the Python codec registry).

    100 TB shape: one projection of per-row column algebra — every
    branch is codegen (cast / total ISO-8859-1 decode / translate),
    no Python, no shuffle, crash-proof by construction.
    """
    from pyspark.sql import functions as F

    payload = F.col(payload_col)
    bom2 = F.hex(F.substring(payload, 1, 2))
    bom3 = F.hex(F.substring(payload, 1, 3))
    header_cs = F.lower(
        F.regexp_extract(
            F.coalesce(F.col(ctype_col), F.lit("")),
            r"(?i)charset=[\"']?([A-Za-z0-9_\-]+)",
            1,
        )
    )
    latin1_all = F.decode(payload, "ISO-8859-1")  # total — never throws
    sniff = F.decode(F.substring(payload, 1, sniff_bytes), "ISO-8859-1")
    meta_cs = F.lower(
        F.regexp_extract(
            sniff, r"""(?i)<meta[^>]*charset=["']?([A-Za-z0-9_\-]+)""", 1
        )
    )
    label = (
        F.when(bom2 == "FFFE", F.lit("utf-16le"))
        .when(bom2 == "FEFF", F.lit("utf-16be"))
        .when(bom3 == "EFBBBF", F.lit("utf-8"))
        .when(header_cs != "", header_cs)
        .when(meta_cs != "", meta_cs)
        .otherwise(F.lit("utf-8"))
    )
    # UTF-8 with replacement. The cast alone is NOT enough: Spark
    # wraps the raw bytes as a string WITHOUT validating (invalid
    # UTF-8 survives inside the "string" and crashes at the next
    # Arrow boundary) — make_valid_utf8 is what actually replaces.
    # A UTF-8 BOM is a byte-order MARK, not content (WHATWG strips
    # it before decoding): drop the three bytes so the decoded text
    # doesn't lead with U+FEFF — a ZWNBSP prefix would make the page
    # hash/dedup differently from its BOM-less twin.
    utf8_payload = F.when(
        bom3 == "EFBBBF", F.substring(payload, 4, 2147483647)
    ).otherwise(payload)
    utf8_fallback = F.make_valid_utf8(utf8_payload.cast("string"))
    decoded = None
    for canon, aliases in SINGLE_BYTE_CHARSETS:
        src, dst = _single_byte_translate(canon)
        branch = F.translate(latin1_all, src, dst) if src else latin1_all
        cond = label.isin(*aliases)
        decoded = (
            F.when(cond, branch)
            if decoded is None
            else decoded.when(cond, branch)
        )
    decoded = decoded.otherwise(utf8_fallback)
    canon_label = None
    for canon, aliases in SINGLE_BYTE_CHARSETS:
        cond = label.isin(*aliases)
        canon_label = (
            F.when(cond, F.lit(canon))
            if canon_label is None
            else canon_label.when(cond, F.lit(canon))
        )
    canon_label = canon_label.otherwise(label)
    supported = label.isin(*_JVM_DECODABLE_LABELS)
    return (
        df.withColumn("charset", canon_label)
        .withColumn("charset_supported", supported)
        .withColumn(out_col, decoded)
    )


def decode_payload_text_full(
    df: DataFrame,
    payload_col: str = "payload",
    ctype_col: str = "http_content_type",
    out_col: str = "html",
    sniff_bytes: int = 1024,
) -> DataFrame:
    """:func:`decode_payload_text` plus the multibyte completion: rows
    the JVM tier flags ``charset_supported=false`` (utf-16, shift_jis,
    gbk, big5, euc-jp, …) are re-decoded in an Arrow-batched
    ``mapInPandas`` stage with the Python codec registry
    (``errors='replace'``); rows whose label has no Python codec keep
    the UTF-8-replace fallback and stay flagged.

    100 TB shape: the JVM tier handles the overwhelming share of the
    corpus scan-side; ONLY the flagged slice (a fraction of a percent
    of real crawls) crosses the Arrow boundary — both slices stay
    executor-side and union back with no shuffle. Plan note: the two
    union branches each re-evaluate the upstream plan (Spark shares no
    subplan across a union) — cheap when the input is a columnar scan
    with the flagged branch's filter pushed down; if the upstream is
    itself an expensive parse (raw WARC bytes), materialize the parsed
    records first (write/persist) and decode from that relation, or
    accept one extra scan.

    Adds ``jvm_decoded`` (was the row decoded entirely JVM-side?) next
    to the re-evaluated ``charset_supported`` — the tier boundary
    stays observable after the Python completion (quality gates and
    the driver oracle pin it).
    """
    from pyspark.sql import functions as F

    base = decode_payload_text(
        df, payload_col, ctype_col, out_col, sniff_bytes
    ).withColumn("jvm_decoded", F.col("charset_supported"))
    supported = base.filter(F.col("charset_supported"))
    flagged = base.filter(~F.col("charset_supported"))
    schema = base.schema
    out_idx_cols = (out_col, "charset_supported")

    def run(batches):
        import codecs

        import pandas as pd  # noqa: F401

        # a BOM is a byte-order MARK, not content (WHATWG strips it
        # before decoding) — the JVM tier does the same for UTF-8
        _BOMS = {
            "utf-16le": b"\xff\xfe",
            "utf-16be": b"\xfe\xff",
            "utf-8": b"\xef\xbb\xbf",
        }
        for pdf in batches:
            texts, ok = [], []
            for payload, label in zip(pdf[payload_col], pdf["charset"]):
                raw = bytes(payload)
                bom = _BOMS.get(label)
                if bom and raw.startswith(bom):
                    raw = raw[len(bom):]
                try:
                    codec = codecs.lookup(label)
                    texts.append(codec.decode(raw, "replace")[0])
                    ok.append(True)
                except LookupError:
                    texts.append(raw.decode("utf-8", "replace"))
                    ok.append(False)
            pdf = pdf.copy()
            pdf[out_idx_cols[0]] = texts
            pdf[out_idx_cols[1]] = ok
            yield pdf

    return supported.unionByName(flagged.mapInPandas(run, schema))


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read ``.warc`` / ``.warc.gz`` files under ``path`` (glob ok)
    into one row per WARC record:

    (file, rec_pos, warc_type, record_id, target_uri, warc_date,
    http_status, http_content_type, n_bytes, payload)

    For ``response`` records the payload is the HTTP BODY (the bytes a
    crawl consumer wants) and http_status/http_content_type come from
    the embedded HTTP message; for every other type (``conversion`` =
    WET text, warcinfo, request, metadata) the payload is the record
    block verbatim and http_status is 0.
    """
    return parse_warc_files(spark.read.format("binaryFile").load(path))


def parse_warc_files(files: DataFrame) -> DataFrame:
    """WARC record rows from a ``binaryFile``-shaped (path, content)
    relation — the one parse used by the batch reader AND streaming
    ingest (the mapInPandas stage is stateless, so it runs identically
    on a ``readStream`` binaryFile source: arriving .warc.gz files
    become record rows per micro-batch)."""

    def parse(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        cols = [f.name for f in WARC_SCHEMA.fields]
        # Chunked yields bound executor memory: a 1 GB .warc.gz would
        # otherwise accumulate EVERY record row of the file in one
        # pandas frame before the first Arrow batch leaves Python.
        # Paired with iter_warc_records' rolling member buffer, peak
        # per-task memory is the compressed blob + one member + one
        # output chunk — flat in file size past the blob itself.
        chunk_rows = 2000
        for pdf in batches:
            out = {k: [] for k in cols}
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                for i, (hdr, block) in enumerate(
                    iter_warc_records(bytes(blob))
                ):
                    _append_record_row(out, fpath, i, hdr, block)
                    if len(out["file"]) >= chunk_rows:
                        yield pd.DataFrame(out)
                        out = {k: [] for k in cols}
            yield pd.DataFrame(out)

    return files.select("path", "content").mapInPandas(parse, WARC_SCHEMA)


def _append_record_row(out: dict, fpath: str, pos: int, hdr, block) -> None:
    """One parsed WARC record → one output-dict row (the single copy
    of the record→row mapping, shared by the whole-file and
    index-split readers so their schemas cannot drift)."""
    wtype = hdr.get("warc-type", "")
    if wtype == "response":
        status, ctype, body = parse_http_response(block)
    else:
        status, ctype, body = 0, "", block
    out["file"].append(fpath)
    out["rec_pos"].append(pos)
    out["warc_type"].append(wtype)
    out["record_id"].append(hdr.get("warc-record-id", ""))
    out["target_uri"].append(hdr.get("warc-target-uri", ""))
    out["warc_date"].append(hdr.get("warc-date", ""))
    out["refers_to"].append(hdr.get("warc-refers-to", ""))
    out["payload_digest"].append(hdr.get("warc-payload-digest", ""))
    out["http_status"].append(status)
    out["http_content_type"].append(ctype)
    out["n_bytes"].append(len(body))
    out["payload"].append(body)


def _local_path(uri: str) -> str:
    """Strip the ``file:`` scheme a Spark file source puts on paths —
    the executor-side ``open()`` seam. NO percent-decoding: the
    binaryFile ``path`` column carries the plain path (a directory
    literally named ``od d%40`` arrives verbatim — probed, and pinned
    by test_local_path_percent_decoding), so unquoting would corrupt
    names containing '%'. Non-local deployments go through
    :func:`open_for_read`; everything else (index plan, seek
    arithmetic, parsing) is storage-agnostic."""
    if uri.startswith("file:"):
        p = uri[5:]
        while p.startswith("//"):
            p = p[1:]
        return p
    return uri


def open_for_read(uri: str):
    """THE storage seam of the split-scan reader: a seekable binary
    file-like for one Spark-reported file URI, opened executor-side.

    Local / ``file:`` deployments (this repo's test surface) land on
    plain ``open()``. An HDFS/S3/GCS deployment swaps THIS ONE
    FUNCTION for its FS client — e.g. ``pyarrow.fs.FileSystem
    .from_uri(uri).open_input_file(path)`` or an ``fsspec``
    ``filesystem(scheme).open(uri, 'rb')`` — and nothing else changes:
    the caller's access pattern is strictly ``seek(offset)`` +
    ``read(length)`` per index entry with entries pre-sorted by
    (file, offset), which maps 1:1 onto ranged GETs (S3
    ``Range: bytes=offset-``) and HDFS ``DFSInputStream.seek``; member
    groups are contiguous, so a buffered/readahead client coalesces
    adjacent entries into single requests. The returned handle must
    support ``seek``/``read``/``close``."""
    return open(_local_path(uri), "rb")


def read_warc_split(
    spark: SparkSession, path: str, parallelism: int | None = None
) -> DataFrame:
    """EXACT byte-range-split WARC reader for files too large for the
    whole-file-per-task default: reads the CDX-style sidecar indexes
    (``<file>.idx``, written by :func:`write_warc` /
    :func:`write_wet`: one ``rec_pos offset length`` line per gzip
    member), spreads (file, offset, length) row-groups across
    ``parallelism`` tasks, and each task seeks+reads exactly its
    members — parallelism is INDEPENDENT of file count, no boundary
    heuristics, no record read twice or dropped by construction.

    ``path`` is the ``.warc.gz`` glob; indexes are found at
    ``path + ".idx"``. Same output schema and row content as
    :func:`read_warc` (property-tested equal).

    100 TB shape: the index scan is KB-per-file metadata (whole-file
    binaryFile read of the tiny .idx sidecars); record payloads are
    read exactly once, executor-side, with one seek per member group.
    """
    from pyspark.sql import functions as F

    n = parallelism or spark.sparkContext.defaultParallelism
    entries = (
        parse_warc_idx(spark, path)
        .repartition(n)  # round-robin: splits WITHIN files too
        .sortWithinPartitions(F.col("file"), F.col("offset"))
    )
    return entries.mapInPandas(_read_member_rows, WARC_SCHEMA)


#: (file, rec_pos, offset, length) — the sidecar-entry relation.
IDX_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("rec_pos", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
    ]
)


def parse_warc_idx(spark: SparkSession, path: str) -> DataFrame:
    """The ``.idx`` sidecar entries of a WARC store as a relation:
    (file, rec_pos, offset, length) — one row per gzip member. This is
    the STORAGE-axis metadata (KB per file), factored out of
    :func:`read_warc_split` so the split scan, the located CDX export,
    and :func:`warc_fetch` all consume ONE copy of the sidecar
    grammar. ``path`` is the ``.warc.gz`` glob; indexes are found at
    ``path + ".idx"``."""
    idx_files = spark.read.format("binaryFile").load(path + ".idx")

    def parse_idx(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        for pdf in batches:
            out = {"file": [], "rec_pos": [], "offset": [], "length": []}
            for ipath, blob in zip(pdf["path"], pdf["content"]):
                warc_path = ipath[: -len(".idx")]
                for ln in bytes(blob).decode("ascii").splitlines():
                    pos, off, length = ln.split()
                    out["file"].append(warc_path)
                    out["rec_pos"].append(int(pos))
                    out["offset"].append(int(off))
                    out["length"].append(int(length))
            yield pd.DataFrame(out)

    return idx_files.select("path", "content").mapInPandas(
        parse_idx, IDX_SCHEMA
    )


def _read_member_rows(batches: Iterator["object"]) -> Iterator["object"]:
    """(file, rec_pos, offset, length) batches → parsed record rows:
    seek + ranged read of exactly the probed gzip members (one open
    file handle at a time, entries pre-sorted by (file, offset)).
    The single copy of the ranged-read loop, shared by
    :func:`read_warc_split` and :func:`warc_fetch`."""
    import pandas as pd

    cols = [f.name for f in WARC_SCHEMA.fields]
    open_path, fh = None, None
    try:
        for pdf in batches:
            out = {k: [] for k in cols}
            for fpath, pos, off, length in zip(
                pdf["file"], pdf["rec_pos"], pdf["offset"], pdf["length"]
            ):
                if fpath != open_path:
                    if fh is not None:
                        fh.close()
                    fh = open_for_read(str(fpath))
                    open_path = fpath
                fh.seek(int(off))
                member = fh.read(int(length))
                for blob in split_gzip_members(member):
                    for hdr, block in parse_warc_records(blob):
                        _append_record_row(
                            out, str(fpath), int(pos), hdr, block
                        )
            yield pd.DataFrame(out)
    finally:
        if fh is not None:
            fh.close()


def build_warc_record(
    warc_type: str,
    record_id: str,
    target_uri: str,
    warc_date: str,
    block: bytes,
    content_type: str | None = None,
    extra_headers: tuple[tuple[str, str], ...] = (),
) -> bytes:
    """Spec-conformant serialized WARC record (writer side — shared by
    the distributed sink and the fixture writer so record bytes cannot
    drift between them). ``extra_headers`` emit in order after the
    Target-URI line (revisit linkage: WARC-Refers-To /
    WARC-Payload-Digest / WARC-Profile)."""
    if content_type is None:
        content_type = (
            "application/http;msgtype=response"
            if warc_type == "response"
            else "text/plain"
        )
    head = [
        b"WARC/1.1",
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Record-ID: " + record_id.encode(),
        b"WARC-Date: " + warc_date.encode(),
    ]
    if target_uri:
        head.append(b"WARC-Target-URI: " + target_uri.encode())
    for name, value in extra_headers:
        head.append(name.encode() + b": " + value.encode())
    head.append(b"Content-Type: " + content_type.encode())
    head.append(b"Content-Length: " + str(len(block)).encode())
    return CRLF.join(head) + CRLF + CRLF + block + CRLF + CRLF


def build_http_response(
    body: bytes,
    status: int = 200,
    content_type: str = "text/html",
    extra_headers: tuple = (),
) -> bytes:
    """Minimal deterministic HTTP response message wrapping ``body``
    (the block of a ``response`` record). ``extra_headers`` emit in
    the given order after Content-Type — the redirect (Location) and
    conditional-revisit (ETag / Last-Modified) fixtures ride here."""
    reason = {
        200: "OK",
        301: "Moved Permanently",
        302: "Found",
        304: "Not Modified",
        307: "Temporary Redirect",
        404: "Not Found",
    }.get(status, "Status")
    head = [
        f"HTTP/1.1 {status} {reason}".encode(),
        f"Content-Type: {content_type}".encode(),
    ]
    for name, value in extra_headers:
        head.append(f"{name}: {value}".encode())
    head.append(f"Content-Length: {len(body)}".encode())
    return CRLF.join(head) + CRLF + CRLF + body


def gzip_member(record: bytes) -> bytes:
    """One deterministic gzip member per record (mtime 0, max
    compression — byte-stable across runs, the determinism discipline
    every sink here follows)."""
    return gzip.compress(record, compresslevel=9, mtime=0)


def write_warc_local(
    records: list[tuple[str, str, str, str, bytes]],
    path: str,
    compress: bool = True,
) -> str:
    """Fixture/test writer: (warc_type, record_id, target_uri,
    warc_date, block) tuples → one ``.warc(.gz)`` file, one gzip
    member per record when compressed (the Common Crawl layout).
    Driver-local by design; the distributed sink is
    :func:`write_warc`."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    buf = io.BytesIO()
    for wtype, rid, uri, date, block in records:
        rec = build_warc_record(wtype, rid, uri, date, block)
        buf.write(gzip_member(rec) if compress else rec)
    with open(path, "wb") as f:
        f.write(buf.getvalue())
    return path


def _write_record_shards(
    tagged: DataFrame,
    out_dir: str,
    prefix: str,
    n_shards: int,
    make_record,
) -> DataFrame:
    """Shared distributed shard-writer core (the ``write_webdataset``
    pattern, sources/webdataset.py): ``tagged`` carries (shard_id,
    rec_key, payload string, target_uri, warc_date[, rec_meta]);
    ``make_record(key, payload, uri, date[, meta]) -> bytes``
    serializes one WARC record (the meta argument is passed only when
    ``tagged`` carries the optional ``rec_meta`` column — the revisit
    sink's keeper/digest linkage; sinks without it keep the 4-arg
    signature). One exchange on shard_id, records sorted by key
    within a shard, one gzip member per record, shard and ``.idx``
    each through ``boom.published``. Returns the manifest (shard_id,
    path, n_records, total_bytes — UNCOMPRESSED record bytes, the
    deterministic quantity an oracle can recompute)."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    manifest_schema = T.StructType(
        [
            T.StructField("shard_id", T.IntegerType()),
            T.StructField("path", T.StringType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("total_bytes", T.LongType()),
        ]
    )

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from bb_bigdata_log_tools_spark.sources.boom import published

        if pdf["rec_key"].isna().any() or pdf["shard_id"].isna().any():
            # a null id has no shard and would serialize '<urn:doc:nan>'
            # — fail loudly instead of writing garbage records
            raise ValueError(
                f"{prefix} writer: null record key in input "
                "(id_col must be non-null and castable to long)"
            )
        sid = int(pdf["shard_id"].iloc[0])
        path = os.path.join(out_dir, f"{prefix}-{sid:05d}.warc.gz")
        # FULL-tuple sort: key ties (duplicate ids) must still order
        # deterministically or re-runs stop being byte-identical
        text_cols = ["payload", "target_uri", "warc_date"]
        if "rec_meta" in pdf.columns:
            text_cols.append("rec_meta")
        rows = sorted(
            (int(k), *map(str, texts))
            for k, *texts in zip(pdf["rec_key"], *(pdf[c] for c in text_cols))
        )
        total = 0
        # CDX-style sidecar offset index (Common Crawl ships the same
        # idea as cluster.idx/CDXJ): "rec_pos offset length" of each
        # gzip member — what makes the EXACT split scan
        # (read_warc_split) possible without boundary heuristics.
        idx_lines = []
        with published(path) as tmp, open(tmp, "wb") as f:
            for i, row in enumerate(rows):
                rec = make_record(*row)
                member = gzip_member(rec)
                idx_lines.append(f"{i} {f.tell()} {len(member)}\n")
                f.write(member)
                total += len(rec)
        with published(path + ".idx") as tmp, open(tmp, "w") as f:
            f.writelines(idx_lines)
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "path": [path],
                "n_records": [len(rows)],
                "total_bytes": [total],
            }
        )

    return (
        tagged.repartition(n_shards, "shard_id")
        .groupBy("shard_id")
        .applyInPandas(write_shard, schema=manifest_schema)
    )


def _tag_shards(
    df: DataFrame,
    salt: str,
    n_shards: int,
    id_col: str,
    payload_col: str,
    uri_col: str,
    date_col: str,
    meta_col: str | None = None,
) -> DataFrame:
    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.functions.hashing import md5_long

    shard = F.pmod(
        md5_long(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        F.lit(n_shards),
    ).cast("int")
    cols = [
        shard.alias("shard_id"),
        F.col(id_col).cast("long").alias("rec_key"),
        # make_valid_utf8: the writer is an applyInPandas (Arrow
        # boundary) — a BINARY payload column cast to string wraps
        # raw bytes unvalidated and would crash the serializer on the
        # first invalid sequence; valid strings pass through unchanged
        F.make_valid_utf8(F.col(payload_col).cast("string")).alias("payload"),
        F.col(uri_col).cast("string").alias("target_uri"),
        F.col(date_col).cast("string").alias("warc_date"),
    ]
    if meta_col is not None:
        cols.append(F.col(meta_col).cast("string").alias("rec_meta"))
    return df.select(*cols)


def write_warc(
    pages: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    html_col: str = "html",
    uri_col: str = "target_uri",
    date_col: str = "warc_date",
) -> DataFrame:
    """DISTRIBUTED WARC export: one ``response`` record (WARC header +
    embedded HTTP message) per input row, sharded into ``n_shards``
    record-per-gzip-member ``.warc.gz`` files — the pair of
    :func:`read_warc`. Determinism, sharding, and publish semantics:
    :func:`_write_record_shards`."""

    def rec(key, html, uri, date):
        return build_warc_record(
            "response", f"<urn:doc:{key}>", uri, date,
            build_http_response(html.encode("utf-8")),
        )

    tagged = _tag_shards(
        pages, "warc:", n_shards, id_col, html_col, uri_col, date_col
    )
    return _write_record_shards(tagged, out_dir, "crawl", n_shards, rec)


def write_warc_http(
    pages: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    body_col: str = "html",
    uri_col: str = "target_uri",
    date_col: str = "warc_date",
    status_col: str = "http_status",
    headers_col: str = "http_headers",
) -> DataFrame:
    """:func:`write_warc` with the HTTP message axis exposed: each row
    carries its status code and extra response headers
    (``headers_col``: ``Name: value`` lines joined by ``\\n``, '' for
    none) — the sink that stages redirect chains (3xx + Location) and
    conditional-revisit validators (ETag / Last-Modified). Rides the
    shared shard-writer core via the ``rec_meta`` column (status line
    + header lines, '\\n'-framed), so determinism, sharding, and
    publish semantics are :func:`_write_record_shards`' verbatim."""
    from pyspark.sql import functions as F

    meta = F.concat(
        F.coalesce(F.col(status_col).cast("string"), F.lit("200")),
        F.lit("\n"),
        F.coalesce(F.col(headers_col).cast("string"), F.lit("")),
    )

    def rec(key, body, uri, date, meta_s):
        status_line, _, hdr_lines = meta_s.partition("\n")
        extra = []
        for ln in hdr_lines.split("\n"):
            if not ln:
                continue
            if ":" not in ln:
                # loud, like the null-key guard: a silently dropped
                # header line means the written archive diverges from
                # the input relation (a valueless header or a value
                # with an embedded newline both land here)
                raise ValueError(
                    f"write_warc_http: malformed header line {ln!r}"
                    " (expected 'Name: value'; values must not embed"
                    " newlines)"
                )
            name, value = ln.split(":", 1)
            extra.append((name.strip(), value.strip()))
        return build_warc_record(
            "response", f"<urn:doc:{key}>", uri, date,
            build_http_response(
                body.encode("utf-8"),
                status=int(status_line),
                extra_headers=extra,
            ),
        )

    tagged = _tag_shards(
        pages.withColumn("_rec_meta", meta),
        "warc:",
        n_shards,
        id_col,
        body_col,
        uri_col,
        date_col,
        meta_col="_rec_meta",
    )
    return _write_record_shards(tagged, out_dir, "crawl", n_shards, rec)


def write_wet(
    texts: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    uri_col: str = "target_uri",
    date_col: str = "warc_date",
) -> DataFrame:
    """DISTRIBUTED WET export: one ``conversion`` record (plain
    extracted text, no HTTP layer — the Common Crawl WET artifact)
    per input row; the natural sink for ``html_extract_text`` output.
    Same shard-writer core and determinism as :func:`write_warc`;
    read back with :func:`read_warc` (conversion payloads flow
    verbatim)."""

    def rec(key, text, uri, date):
        return build_warc_record(
            "conversion", f"<urn:wet:{key}>", uri, date,
            text.encode("utf-8"),
        )

    tagged = _tag_shards(
        texts, "wet:", n_shards, id_col, text_col, uri_col, date_col
    )
    return _write_record_shards(tagged, out_dir, "wet", n_shards, rec)


def write_wat(
    meta: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    json_col: str = "wat_json",
    uri_col: str = "target_uri",
    date_col: str = "warc_date",
) -> DataFrame:
    """DISTRIBUTED WAT export — the third Common Crawl artifact: one
    ``metadata`` record per input row whose block is the page's
    metadata JSON (``json_col``, already serialized by the caller —
    typically headers + outlinks from ``html_extract_links``; keeping
    serialization caller-side keeps this sink one copy of the shared
    shard-writer core with write_warc/write_wet, not a JSON policy).
    Record Content-Type is ``application/json`` (the CC WAT layout);
    read back with :func:`read_warc` (metadata payloads flow
    verbatim)."""

    def rec(key, payload, uri, date):
        return build_warc_record(
            "metadata", f"<urn:wat:{key}>", uri, date,
            payload.encode("utf-8"), content_type="application/json",
        )

    tagged = _tag_shards(
        meta, "wat:", n_shards, id_col, json_col, uri_col, date_col
    )
    return _write_record_shards(tagged, out_dir, "wat", n_shards, rec)


def write_cdx(
    records: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    uri_col: str = "target_uri",
    date_col: str = "warc_date",
    ctype_col: str = "http_content_type",
    status_col: str = "http_status",
    payload_col: str = "payload",
    layout: str = "hash",
    locate: bool = False,
) -> int:
    """CDX index export — the FOURTH Common Crawl artifact: one text
    line per capture, ``urlkey timestamp {json}`` (CDXJ shape), where
    urlkey is the SURT transform (operators/curation.py cdx_urlkey —
    same-site captures cluster under one key prefix), timestamp the
    14-digit capture time, and the JSON carries the searchable fields
    (url, mime, status, md5-labelled digest). Returns the row count,
    verified from the written files.

    Two layouts, one per query pattern:

    - ``layout="hash"`` (default): ``shard=N/*.txt`` with shard =
      md5(urlkey) — a POINT lookup hashes the urlkey to pick its
      shard O(1) (:func:`cdx_lookup`), but a prefix/domain query must
      scan every shard (every shard may hold keys of any site).
    - ``layout="range"``: shards are GLOBAL SURT-KEY RANGES
      (repartitionByRange — Spark's sampled range partitioner), with
      a ``_RANGES`` boundary manifest (shard → actual written
      min/max urlkey, the cluster.idx role) so a PREFIX query
      ("example.com/*", the pywb / CC cluster.idx pattern) prunes to
      only the shards whose range intersects the prefix interval
      (:func:`cdx_range_scan`). Point lookups still work (a point is
      a degenerate prefix) at O(log-ish) instead of O(1).

    The BYTE-location fields CC's CDX carries (filename/offset/
    length) live in this engine's ``.idx`` sidecars (the split-scan
    index, one per .warc.gz shard) by default — this artifact indexes
    the SEARCH axis, the sidecars index the STORAGE axis. Passing
    ``locate=True`` joins the two axes the way CC's real CDX does:
    ``records`` must then also carry ``file``/``rec_pos``/``offset``/
    ``length`` columns (the :func:`read_warc` output joined with
    :func:`parse_warc_idx` on (file, rec_pos)), and each line's JSON
    gains ``filename``/``rec_pos``/``offset``/``length`` — the index
    :func:`warc_fetch` serves ranged byte reads from. Filenames are
    recorded as the reader's URIs (absolute ``file:`` paths locally;
    CC records archive-relative names — documented divergence, the
    ``open_for_read`` seam resolves either).

    Determinism: shard + full-line sortWithinPartitions discipline
    (write_jsonl_shards's prefix-match trick keeps FileFormatWriter
    from re-sorting), so hash-layout re-runs are byte-identical; the
    range layout's BOUNDARIES come from Spark's seeded range sampler
    (stable for identical input splits), and correctness never
    depends on boundary placement — the manifest records the ACTUAL
    written min/max per shard, so pruning is exact regardless.
    """
    import os as _os

    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.functions.hashing import md5_long
    from bb_bigdata_log_tools_spark.operators.curation import cdx_urlkey

    if layout not in ("hash", "range"):
        # loud, not a silent fall-through to hash: a typo'd layout
        # would produce an index whose READ path (cdx_range_scan)
        # finds no manifest and quietly serves nothing
        raise ValueError(
            f"write_cdx: unknown layout {layout!r} (expected 'hash' or"
            " 'range')"
        )

    # null-guard EVERY line piece: F.concat propagates null, and a
    # null line is a capture silently missing from the index (or a
    # text-writer error). A capture without a URI is unindexable —
    # those rows are dropped up front rather than keyed on ''.
    records = records.filter(F.col(uri_col).isNotNull())
    uri = F.col(uri_col)
    urlkey = cdx_urlkey(uri)
    ts14 = F.regexp_replace(
        F.coalesce(F.col(date_col), F.lit("")), "[^0-9]", ""
    )
    line = F.concat(
        urlkey,
        F.lit(" "),
        ts14,
        F.lit(' {"url":"'),
        uri,
        F.lit('","mime":"'),
        F.coalesce(F.col(ctype_col), F.lit("")),
        F.lit('","status":'),
        F.coalesce(F.col(status_col).cast("string"), F.lit("0")),
        F.lit(',"digest":"md5:'),
        F.md5(F.coalesce(F.col(payload_col), F.lit(b""))),
        F.lit('"'),
    )
    if locate:
        # the storage-axis fields (null-guarded like every other
        # piece — a located index row missing its location would
        # otherwise null the whole line out of the index)
        line = F.concat(
            line,
            F.lit(',"filename":"'),
            F.coalesce(F.col("file"), F.lit("")),
            F.lit('","rec_pos":'),
            F.coalesce(F.col("rec_pos").cast("string"), F.lit("0")),
            F.lit(',"offset":'),
            F.coalesce(F.col("offset").cast("string"), F.lit("-1")),
            F.lit(',"length":'),
            F.coalesce(F.col("length").cast("string"), F.lit("-1")),
        )
    line = F.concat(line, F.lit("}"))
    if layout == "range":
        return _write_cdx_range_lines(
            records.select(
                urlkey.alias("_k"), uri.alias("_u"), line.alias("value")
            ),
            out_dir,
            n_shards,
        )
    shard = F.pmod(
        md5_long(F.concat(F.lit("cdx:"), urlkey)), F.lit(n_shards)
    ).cast("int")
    (
        records.select(
            shard.alias("shard"),
            urlkey.alias("_k"),
            uri.alias("_u"),
            line.alias("value"),
        )
        .repartition(n_shards, "shard")
        # the full line joins the sort key: two captures of the same
        # URL (different timestamp/digest — the re-crawl shape a CDX
        # exists to index) tie on (_k, _u), and a tie would make
        # within-shard line order nondeterministic across re-runs
        .sortWithinPartitions("shard", "_k", "_u", "value")
        .select("shard", "value")
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(out_dir)
    )
    spark = records.sparkSession
    # zero-row input writes no shard dirs at all — the verification
    # glob would throw PATH_NOT_FOUND on an empty (but valid) index.
    # The listdir goes through _local_path like every other local
    # check: a file: URI out_dir would otherwise always read as empty.
    local_out = _local_path(out_dir)
    if not any(
        e.startswith("shard=")
        for e in (_os.listdir(local_out) if _os.path.isdir(local_out)
                  else ())
    ):
        _write_cdx_tsrange(local_out, None, None)
        return 0
    # one verification pass computes the return count AND the store's
    # written ts14 range (the _TSRANGE sidecar cdx_multi_scan prunes
    # whole stores by) — no extra scan over the emitted text. The
    # token is extracted with the READER'S exact 14-digit grammar
    # (_parse_cdx_lines): a line whose date doesn't reduce to 14
    # digits parses as ts14 = '' there, and '' participating in the
    # min keeps such a store unprunable on ts_to (a ''-ts14 line
    # passes any ts_to filter) while the max over parsed values keeps
    # ts_from pruning exact ('' never passes a ts_from filter).
    ts = F.regexp_extract("value", r"^\S+ (\d{14}) ", 1)
    stats = (
        spark.read.text(_os.path.join(out_dir, "shard=*"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(ts).alias("lo"),
            F.max(ts).alias("hi"),
        )
        .collect()[0]
    )
    _write_cdx_tsrange(local_out, stats.lo, stats.hi)
    return stats.n


def _write_cdx_range_lines(
    lines: DataFrame, out_dir: str, n_shards: int
) -> int:
    """The RANGE-layout write tail shared by :func:`write_cdx` and
    :func:`merge_cdx_stores`: (_k, _u, value) rows → globally
    range-partitioned ``shard=N`` text dirs + the ``_RANGES`` boundary
    manifest. Returns the written line count."""
    import os as _os

    from pyspark.sql import functions as F

    spark = lines.sparkSession
    (
        lines.repartitionByRange(n_shards, "_k", "_u", "value")
        .select(
            F.spark_partition_id().alias("shard"), "_k", "_u", "value"
        )
        .sortWithinPartitions("shard", "_k", "_u", "value")
        .select("shard", "value")
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(out_dir)
    )
    # the existence check and the manifest write must agree on the
    # path spelling (_local_path): checking the raw URI while writing
    # the stripped path would misclassify a populated file:-URI store
    # as zero-row and emit an empty manifest over real shards
    local_out = _local_path(out_dir)
    if not any(
        e.startswith("shard=")
        for e in (_os.listdir(local_out) if _os.path.isdir(local_out)
                  else ())
    ):
        # zero-row input: an EMPTY manifest (not a missing one — the
        # range reader treats missing-with-shards as a layout error)
        _os.makedirs(local_out, exist_ok=True)
        with open(_os.path.join(_local_path(out_dir), CDX_RANGES_FILE),
                  "w") as f:
            f.write("")
        _write_cdx_tsrange(local_out, None, None)
        return 0
    # boundary manifest from the WRITTEN data (|shards| rows — the
    # cluster.idx role): shard id from the file path, min/max of the
    # line's leading urlkey token, plus the total for the return
    # contract. Deriving bounds from what landed on disk (not from
    # the plan) keeps pruning exact even if the range sampler placed
    # boundaries unevenly.
    written = spark.read.text(_os.path.join(out_dir, "shard=*"))
    bounds = (
        written.select(
            F.regexp_extract(F.input_file_name(), r"shard=(\d+)", 1)
            .cast("int")
            .alias("shard"),
            F.substring_index("value", " ", 1).alias("k"),
            # the reader's exact ts14 grammar — see the hash-layout
            # tail for why '' must participate in the min
            F.regexp_extract("value", r"^\S+ (\d{14}) ", 1).alias("t"),
        )
        .groupBy("shard")
        .agg(
            F.min("k").alias("lo"),
            F.max("k").alias("hi"),
            F.min("t").alias("tlo"),
            F.max("t").alias("thi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    with open(_os.path.join(_local_path(out_dir), CDX_RANGES_FILE),
              "w") as f:
        for r in sorted(bounds, key=lambda r: r.shard):
            f.write(f"{r.shard}\t{r.lo}\t{r.hi}\n")
    # the store-level ts14 range rides the same verification pass —
    # the time axis of the same written-data-derived metadata
    _write_cdx_tsrange(
        local_out,
        min(r.tlo for r in bounds),
        max(r.thi for r in bounds),
    )
    return sum(r.n for r in bounds)


def merge_cdx_stores(
    spark: SparkSession,
    store_dirs: list[str],
    out_dir: str,
    n_shards: int = 8,
) -> int:
    """Compaction/merge of N CDX stores into ONE range-layout store —
    the cluster.idx maintenance pattern: a crawler emits one index per
    crawl batch; serving wants a single globally-sorted index. Inputs
    may be ANY mix of hash- and range-layout stores (the merge reads
    index LINES, so it is also the hash→range MIGRATION path —
    converting an existing point-lookup store for prefix serving is
    ``merge_cdx_stores(spark, [old], new)``).

    Pure text merge: lines are never re-derived from captures (the
    index is the source of truth here); the sort keys (_k = leading
    urlkey token, _u = the url field) are re-parsed from each line by
    the SAME grammar the readers use. Duplicate lines are KEPT — two
    crawls capturing the same URL are two index entries (that is what
    a CDX records); capture-level dedup belongs upstream
    (``write_warc_deduped``).

    100 TB shape: one scan of the input stores' text, ONE range
    exchange (the same write path as ``write_cdx(layout='range')``),
    no driver-side data — the manifest collect is |shards| rows.
    Missing input dirs are skipped (a crawl batch with zero captures
    writes no shard dirs)."""
    import os as _os

    from pyspark.sql import functions as F

    globs = [
        _os.path.join(d, "shard=*")
        for d in store_dirs
        if _os.path.isdir(_local_path(d))
        and any(
            e.startswith("shard=") for e in _os.listdir(_local_path(d))
        )
    ]
    if not globs:
        return _write_cdx_range_lines(
            spark.createDataFrame([], "_k string, _u string, value string"),
            out_dir,
            n_shards,
        )
    raw = spark.read.text(globs)
    lines = raw.select(
        F.substring_index("value", " ", 1).alias("_k"),
        F.regexp_extract("value", r'"url":"([^"]+)"', 1).alias("_u"),
        "value",
    )
    return _write_cdx_range_lines(lines, out_dir, n_shards)


def cdx_lookup(
    spark: SparkSession,
    store_dir: str,
    urls: list[str],
    n_shards: int = 8,
    located: bool = False,
) -> DataFrame:
    """Point lookup through a :func:`write_cdx` store — the read side
    of the hash-sharded layout's O(1) routing claim: each probe URL's
    SURT key picks its shard directly (md5(urlkey) % n_shards), so the
    scan reads ONLY the shards the probe set hashes to — at most
    len(urls) of them, however many captures the store indexes.

    The probe keys/shards are computed by a tiny Spark job over the
    SAME Column algebra the writer used (cdx_urlkey + the md5 shard —
    re-implementing the transform driver-side would be a second copy
    that could drift), then collected (len(urls) rows — lookup
    plumbing, not data). Returns the matching index lines parsed into
    (urlkey, ts14, url, mime, status, digest).
    """
    import os as _os

    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.functions.hashing import md5_long
    from bb_bigdata_log_tools_spark.operators.curation import cdx_urlkey

    probe = spark.createDataFrame([(u,) for u in urls], "url string")
    key = cdx_urlkey(F.col("url"))
    keys = probe.select(
        key.alias("k"),
        F.pmod(md5_long(F.concat(F.lit("cdx:"), key)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
    ).collect()
    # a probe may hash to a shard no capture ever landed in — its dir
    # doesn't exist and spark.read.text would throw on the whole batch
    # (local-path check; a remote store swaps this for its FS client,
    # the open_for_read seam's sibling)
    shard_dirs = sorted(
        d
        for d in {
            _os.path.join(store_dir, f"shard={r.shard}") for r in keys
        }
        if _os.path.isdir(_local_path(d))
    )
    wanted = [r.k for r in keys]
    if not shard_dirs:
        return spark.createDataFrame(
            [], CDX_LINE_SCHEMA_LOCATED if located else CDX_LINE_SCHEMA
        )
    lines = spark.read.text(shard_dirs)
    return _parse_cdx_lines(lines, located=located).filter(
        F.col("urlkey").isin(wanted)
    )


#: Parsed CDX line schema — shared by the point and range readers.
CDX_LINE_SCHEMA = (
    "urlkey string, ts14 string, url string, mime string,"
    " status int, digest string"
)

#: The located variant (write_cdx(locate=True) lines).
CDX_LINE_SCHEMA_LOCATED = (
    CDX_LINE_SCHEMA
    + ", filename string, rec_pos int, offset bigint, length bigint"
)

#: Range-layout boundary manifest file name (the cluster.idx role).
CDX_RANGES_FILE = "_RANGES"

#: Per-store capture-time metadata file name: the written min/max ts14
#: of the whole store — what lets a multi-store (per-crawl-batch)
#: probe skip entire stores on TIME before any key routing happens
#: (the Common Crawl reality: indexes are time-partitioned per crawl,
#: key-partitioned within).
CDX_TSRANGE_FILE = "_TSRANGE"


def _write_cdx_tsrange(local_out: str, lo: str | None, hi: str | None):
    """Write the per-store ts14 range metadata (empty file for an
    empty store — same missing-vs-empty contract as ``_RANGES``)."""
    import os as _os

    _os.makedirs(local_out, exist_ok=True)
    with open(_os.path.join(local_out, CDX_TSRANGE_FILE), "w") as f:
        if lo is not None and hi is not None:
            f.write(f"{lo}\t{hi}\n")


def read_cdx_tsrange(store_dir: str) -> tuple[str, str] | None:
    """The store's written (min_ts14, max_ts14), or None when the
    metadata is absent/empty — None means UNKNOWN, and an unknown
    store is never pruned (older stores without the sidecar stay
    correct, just unprunable on time)."""
    import os as _os

    p = _os.path.join(_local_path(store_dir), CDX_TSRANGE_FILE)
    if not _os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as f:
        ln = f.readline().rstrip("\n")
    if not ln:
        return None
    parts = ln.split("\t")
    if len(parts) != 2:
        raise ValueError(
            f"read_cdx_tsrange: malformed {CDX_TSRANGE_FILE} in"
            f" {store_dir!r}: {ln[:80]!r}"
        )
    return parts[0], parts[1]


def _parse_cdx_lines(lines: DataFrame, located: bool = False) -> DataFrame:
    """``urlkey ts14 {json}`` text lines → the searchable columns —
    ONE copy of the line grammar, shared by :func:`cdx_lookup` and
    :func:`cdx_range_scan` so the readers cannot drift. With
    ``located`` the storage-axis fields a ``locate=True`` export
    carries parse too (missing fields read as null — probing a
    non-located store with the located reader is visible, not a
    silent zero)."""
    from pyspark.sql import functions as F

    v = F.col("value")
    cols = [
        F.regexp_extract(v, r"^(\S+) ", 1).alias("urlkey"),
        F.regexp_extract(v, r"^\S+ (\d{14}) ", 1).alias("ts14"),
        F.regexp_extract(v, r'"url":"([^"]+)"', 1).alias("url"),
        F.regexp_extract(v, r'"mime":"([^"]*)"', 1).alias("mime"),
        F.regexp_extract(v, r'"status":(\d+)', 1).cast("int").alias("status"),
        F.regexp_extract(v, r'"digest":"([^"]+)"', 1).alias("digest"),
    ]
    if located:
        def num(field, typ):
            ex = F.regexp_extract(v, rf'"{field}":(-?\d+)', 1)
            return F.when(ex != "", ex.cast(typ)).alias(field)

        cols += [
            F.regexp_extract(v, r'"filename":"([^"]*)"', 1)
            .alias("filename"),
            num("rec_pos", "int"),
            num("offset", "bigint"),
            num("length", "bigint"),
        ]
    return lines.select(*cols)


def warc_fetch(
    spark: SparkSession,
    cdx_store: str,
    urls: list[str],
    n_shards: int = 8,
) -> DataFrame:
    """Random-access page serving over engine artifacts — the pywb
    loop (URL → CDX → ranged GET) as one relational op: probe URLs
    route through a LOCATED hash-layout CDX store
    (``write_cdx(locate=True)``, O(1) shard pick per probe), the
    matched lines carry (filename, rec_pos, offset, length), and the
    fetch seeks + reads EXACTLY those gzip members through the shared
    :func:`_read_member_rows` loop. Returns full record rows
    (:func:`read_warc` schema).

    100 TB shape: the index scan lists ≤|probes| of the CDX shards;
    the data read is the probed members' bytes — KB against a 100 TB
    archive, never a file scan. The location collect is bounded by
    |probes| × captures-per-URL (serving plumbing, not data); probed
    members de-duplicate before reading (two captures can share a
    member only in non-1:1 layouts). Probing a store written WITHOUT
    ``locate=True`` raises — null locations mean the store cannot
    serve byte ranges."""
    from pyspark.sql import functions as F

    hits = cdx_lookup(
        spark, cdx_store, urls, n_shards=n_shards, located=True
    )
    locs = hits.select(
        "filename", "rec_pos", "offset", "length"
    ).collect()
    if not locs:
        return spark.createDataFrame([], WARC_SCHEMA)
    # locate=True serializes a NULL offset/length as -1 (the line
    # grammar has no null literal), so "missing" arrives here as a
    # negative number, not None — both spellings mean the store
    # cannot serve byte ranges, and a silent seek(-1) would read
    # garbage from the member tail
    if any(
        r.offset is None or r.length is None
        or r.offset < 0 or r.length < 0
        for r in locs
    ):
        raise ValueError(
            "warc_fetch: matched CDX lines carry no byte locations —"
            " was the store written with write_cdx(locate=True)?"
        )
    entries = sorted(
        {
            (r.filename, int(r.rec_pos or 0), int(r.offset),
             int(r.length))
            for r in locs
        }
    )
    edf = spark.createDataFrame(entries, IDX_SCHEMA).sortWithinPartitions(
        "file", "offset"
    )
    return edf.mapInPandas(_read_member_rows, WARC_SCHEMA)


def warc_fetch_prefix(
    spark: SparkSession,
    cdx_store: str,
    prefix: str,
    ts_from: str | None = None,
    ts_to: str | None = None,
) -> DataFrame:
    """SITE-level export — "give me this site's bytes out of the
    archive": a SURT-prefix (optionally × time-interval) probe over a
    LOCATED range-layout CDX store
    (``write_cdx(layout='range', locate=True)``) resolves to byte
    locations, and the matched gzip members stream out through the
    shared :func:`_read_member_rows` ranged-read loop. Returns full
    record rows (:func:`read_warc` schema).

    Unlike :func:`warc_fetch` (point lookups — the location list is
    |probes|-bounded and collects), the site case can match MILLIONS
    of captures, so nothing touches the driver: the located index
    lines stay a DataFrame, de-duplicate distributively on their
    (file, rec_pos, offset, length) identity, cluster by file
    (repartition on ``file`` + sort by offset inside each partition —
    one file handle, forward seeks), and feed mapInPandas. A store
    written without ``locate=True`` raises loudly via the same
    negative/null-location guard — here as a filter-then-assert
    inside the scan (an aggregate pre-check would cost a second
    pass), surfacing on the first offending line.

    100 TB shape: index read = only the prefix's covering shards
    (driver metadata routing); data read = exactly the site's member
    bytes; ONE exchange on (file, rec_pos, offset, length) for the
    dedup + file clustering. Scales with the SITE, not the archive."""
    from pyspark.sql import functions as F

    lines = cdx_range_scan(
        spark, cdx_store, prefix, ts_from=ts_from, ts_to=ts_to,
        located=True,
    )
    entries = (
        lines.select(
            F.col("filename").alias("file"),
            F.coalesce(F.col("rec_pos"), F.lit(0)).alias("rec_pos"),
            F.col("offset"),
            F.col("length"),
        )
        .withColumn(
            "offset",
            F.when(
                F.col("offset").isNull() | (F.col("offset") < 0)
                | F.col("length").isNull() | (F.col("length") < 0),
                F.raise_error(F.lit(
                    "warc_fetch_prefix: matched CDX lines carry no"
                    " byte locations — was the store written with"
                    " write_cdx(locate=True)?"
                )).cast("bigint"),
            ).otherwise(F.col("offset")),
        )
        .dropDuplicates(["file", "rec_pos", "offset", "length"])
        .repartition("file")
        .sortWithinPartitions("file", "offset")
    )
    return entries.mapInPandas(_read_member_rows, WARC_SCHEMA)


def read_cdx_ranges(store_dir: str) -> list[tuple[int, str, str]]:
    """The range-layout boundary manifest as (shard, lo_key, hi_key)
    triples — |shards|-sized driver-side metadata (the same class of
    read as a parquet footer or the split-scan ``.idx`` sidecars).
    Missing or empty manifest reads as no ranges (an empty index)."""
    import os as _os

    p = _os.path.join(_local_path(store_dir), CDX_RANGES_FILE)
    out: list[tuple[int, str, str]] = []
    if not _os.path.exists(p):
        return out
    with open(p, encoding="utf-8") as f:
        for i, ln in enumerate(f):
            stripped = ln.rstrip("\n")
            if not stripped:
                continue
            parts = stripped.split("\t")
            if len(parts) != 3:
                # LOUD: a malformed line means a shard silently
                # missing from every covering-set decision — pruning
                # false negatives are lost captures, not a warning
                raise ValueError(
                    f"read_cdx_ranges: malformed manifest line {i + 1}"
                    f" in {p!r}: {stripped[:80]!r}"
                )
            out.append((int(parts[0]), parts[1], parts[2]))
    return out


def covering_range_shards(
    bounds: list[tuple[int, str, str]], prefix: str
) -> list[int]:
    """Shards whose written [lo, hi] urlkey range can contain a key
    starting with ``prefix``: a shard qualifies iff hi >= prefix and
    lo's truncation to len(prefix) sorts <= prefix (the exact
    intersection test — a sentinel upper bound like
    prefix + U+10FFFF would wrongly prune a shard whose lo is that
    sentinel followed by more characters). An empty prefix covers
    every shard. Pure function — the pruning decision is
    unit-testable without a store."""
    n = len(prefix)
    return [
        s for s, lo, hi in bounds if hi >= prefix and lo[:n] <= prefix
    ]


def cdx_range_scan(
    spark: SparkSession,
    store_dir: str,
    prefix: str,
    ts_from: str | None = None,
    ts_to: str | None = None,
    located: bool = False,
) -> DataFrame:
    """Prefix/domain query over a range-layout :func:`write_cdx`
    store — the REAL CDX serving pattern (pywb, Common Crawl's
    cluster.idx): "all captures under ``example.com/*``" is a SURT-key
    prefix probe. The ``_RANGES`` manifest routes it to ONLY the
    shards whose written key range intersects the prefix interval —
    the hash layout must scan every shard for the same question,
    which is exactly the divergence this layout closes.

    ``ts_from``/``ts_to`` add the TEMPORAL axis — the wayback query
    shape ("captures of example.com/* during June"): inclusive
    14-digit timestamp bounds (prefixes shorter than 14 digits work
    too — ``ts_from="202606"`` means from June 1, and a short
    ``ts_to`` is padded with ``9``s so ``"202606"`` means through
    June 30) filtered with plain string comparison: fixed-width digit
    strings compare lexically = chronologically.

    100 TB shape: the manifest is |shards|-sized driver metadata; the
    scan lists only covering shard directories (contiguous under the
    global key order, typically a small constant for a single site);
    the prefix filter is a codegen ``startswith`` on the leading
    token and the time filter two codegen string compares. No
    shuffle — the output is scan-shaped.
    """
    import os as _os

    from pyspark.sql import functions as F

    bounds = read_cdx_ranges(store_dir)
    if not bounds:
        # a store with shard dirs but NO manifest is not an empty
        # index — it is a hash-layout store (or a failed stage) probed
        # with the range reader, and silently serving zero rows would
        # read as "no captures for this site". Loud.
        local = _local_path(store_dir)
        if _os.path.isdir(local) and any(
            e.startswith("shard=") for e in _os.listdir(local)
        ):
            raise ValueError(
                f"cdx_range_scan: {store_dir!r} has shard dirs but no"
                f" {CDX_RANGES_FILE} manifest — was it written with"
                " write_cdx(layout='range')?"
            )
    shards = covering_range_shards(bounds, prefix)
    dirs = [
        d
        for d in (
            _os.path.join(store_dir, f"shard={s}") for s in sorted(shards)
        )
        if _os.path.isdir(_local_path(d))
    ]
    if not dirs:
        return spark.createDataFrame(
            [], CDX_LINE_SCHEMA_LOCATED if located else CDX_LINE_SCHEMA
        )
    out = _parse_cdx_lines(
        spark.read.text(dirs), located=located
    ).filter(F.col("urlkey").startswith(prefix))
    if ts_from is not None:
        out = out.filter(F.col("ts14") >= str(ts_from))
    if ts_to is not None:
        out = out.filter(
            F.col("ts14") <= str(ts_to).ljust(14, "9")
        )
    return out


def covering_ts_stores(
    store_ranges: list[tuple[str, tuple[str, str] | None]],
    ts_from: str | None,
    ts_to: str | None,
) -> list[str]:
    """Stores whose written [tlo, thi] ts14 range can intersect the
    probe interval [ts_from, ts_to] (inclusive; a short ts_to is
    padded with 9s like :func:`cdx_range_scan`). A store with UNKNOWN
    range (None — no ``_TSRANGE`` sidecar) is always kept: pruning is
    an optimization, never a correctness decision. Pure function —
    unit-testable without stores."""
    to_pad = str(ts_to).ljust(14, "9") if ts_to is not None else None
    out = []
    for store, rng in store_ranges:
        if rng is None:
            out.append(store)
            continue
        tlo, thi = rng
        if ts_from is not None and thi < str(ts_from):
            continue
        if to_pad is not None and tlo > to_pad:
            continue
        out.append(store)
    return out


def cdx_multi_scan(
    spark: SparkSession,
    store_dirs: list[str],
    prefix: str,
    ts_from: str | None = None,
    ts_to: str | None = None,
) -> DataFrame:
    """The multi-store (per-crawl-batch) CDX probe — the Common Crawl
    layout for real: one range store per crawl batch, time-partitioned
    ACROSS stores and key-partitioned WITHIN. A wayback-shape query
    (prefix × time interval) prunes on TWO axes in order: whole stores
    whose written ``_TSRANGE`` misses the interval are skipped before
    any key routing (:func:`covering_ts_stores` — driver-side,
    |stores|-sized metadata), then each surviving store prunes to its
    covering key shards (:func:`cdx_range_scan`'s ``_RANGES`` path).
    Stores without the ts sidecar (or missing dirs) are scanned
    unpruned / skipped respectively — never a silent wrong answer.

    100 TB shape: CC publishes ~100 crawl batches; a one-month probe
    touches ~1-2 stores × the prefix's covering shards — the scan
    cost scales with (interval × site), not the archive. The union is
    scan-shaped: no shuffle anywhere."""
    import os as _os

    ranges = [
        (s, read_cdx_tsrange(s))
        for s in store_dirs
        if _os.path.isdir(_local_path(s))
    ]
    keep = covering_ts_stores(ranges, ts_from, ts_to)
    out = None
    for s in keep:
        part = cdx_range_scan(
            spark, s, prefix, ts_from=ts_from, ts_to=ts_to
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        return spark.createDataFrame([], CDX_LINE_SCHEMA)
    return out


#: WARC 1.1 revisit profile URI for payload-identical re-crawls.
REVISIT_PROFILE = "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"


def write_warc_deduped(
    pages: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    html_col: str = "html",
    uri_col: str = "target_uri",
    date_col: str = "warc_date",
) -> DataFrame:
    """CRAWLER-side dedup export — the Common Crawl deduplication
    story as a sink: pages whose payload digest matches an earlier
    capture are written as ``revisit`` records (WARC 1.1 §6.7,
    identical-payload-digest profile: empty block, WARC-Refers-To the
    keeper's record id, WARC-Payload-Digest the shared digest) instead
    of storing the body twice; the digest-first capture (lowest id —
    deterministic, re-run stable) stays a full ``response`` record,
    digest-stamped. Keeper selection is the dup_exact algebra
    (min(id) over md5(payload)) — one window over the digest
    clustering, then the shared shard-writer core.

    Digest note: WARC-Payload-Digest is ``md5:<hex>`` here (labelled
    algorithm per the spec's ``algorithm:value`` form; CC ships
    sha1/base32 — md5 keeps the digest recomputable by the engine's
    SQL twins, and the label makes the choice explicit on every
    record).

    100 TB shape: keeper selection is an AGGREGATE + join, not a
    window — ``groupBy(digest).min(id)`` gets map-side partial
    combine (the keeper relation arriving at the shuffle is one row
    per distinct digest per task), and the digest join gets AQE's
    skew-join split; a ``min() over (partition by digest)`` window
    would serialize an all-duplicate corpus (one digest = one
    partition = one task) with no mitigation available. Then the
    writer's shard exchange; revisit blocks are empty, so storage and
    write bandwidth drop by the duplicate mass — the reason the
    profile exists.
    """
    from pyspark.sql import functions as F

    # digest the SANITIZED payload (make_valid_utf8 — the same
    # normalization the shard writer applies) so the stamped digest
    # always equals md5 of the bytes a reader gets back, even for a
    # binary html column carrying invalid UTF-8
    digest = F.md5(
        F.encode(F.make_valid_utf8(F.col(html_col).cast("string")), "UTF-8")
    )
    tagged0 = pages.withColumn("_digest", digest)
    keepers = tagged0.groupBy("_digest").agg(
        F.min(F.col(id_col)).alias("_keeper")
    )
    marked = (
        tagged0.join(keepers, "_digest")
        .withColumn(
            "_meta",
            F.concat(
                F.lit("md5:"), F.col("_digest"), F.lit("|"),
                F.when(
                    F.col(id_col) != F.col("_keeper"),
                    F.col("_keeper").cast("string"),
                ).otherwise(F.lit("")),
            ),
        )
        .withColumn(
            "_payload",
            F.when(
                F.col(id_col) == F.col("_keeper"), F.col(html_col)
            ).otherwise(F.lit("")),
        )
    )

    def rec(key, payload, uri, date, meta):
        digest_part, _, keeper = meta.partition("|")
        if keeper:  # duplicate capture → revisit record, empty block
            return build_warc_record(
                "revisit", f"<urn:doc:{key}>", uri, date, b"",
                content_type="application/http;msgtype=response",
                extra_headers=(
                    ("WARC-Refers-To", f"<urn:doc:{keeper}>"),
                    ("WARC-Payload-Digest", digest_part),
                    ("WARC-Profile", REVISIT_PROFILE),
                ),
            )
        return build_warc_record(
            "response", f"<urn:doc:{key}>", uri, date,
            build_http_response(payload.encode("utf-8")),
            extra_headers=(("WARC-Payload-Digest", digest_part),),
        )

    tagged = _tag_shards(
        marked, "warc:", n_shards, id_col, "_payload", uri_col, date_col,
        meta_col="_meta",
    )
    return _write_record_shards(tagged, out_dir, "crawl", n_shards, rec)
