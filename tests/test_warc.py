"""WARC source/sink: spec framing, multi-member gzip, round trips,
determinism, and the record-length formula the write_warc oracle uses.
"""

from __future__ import annotations

import glob
import gzip
import os

import pytest

from bb_bigdata_log_tools_spark.sources import spark_paths
from bb_bigdata_log_tools_spark.sources.warc import (
    build_http_response,
    build_warc_record,
    gzip_member,
    parse_http_response,
    parse_warc_records,
    read_warc,
    split_gzip_members,
    write_warc,
    write_warc_local,
)


def _resp(doc_id: int, html: str) -> tuple[str, str, str, str, bytes]:
    return (
        "response",
        f"<urn:doc:{doc_id}>",
        f"https://crawl.example/d/{doc_id}.html",
        "2026-01-01T00:00:00Z",
        build_http_response(html.encode()),
    )


def _wet(doc_id: int, text: str) -> tuple[str, str, str, str, bytes]:
    return (
        "conversion",
        f"<urn:wet:{doc_id}>",
        f"https://crawl.example/d/{doc_id}.html",
        "2026-01-01T00:00:00Z",
        text.encode(),
    )


def test_record_roundtrip_plain():
    rec = build_warc_record(*_resp(7, "<p>seven</p>"))
    parsed = list(parse_warc_records(rec))
    assert len(parsed) == 1
    hdr, block = parsed[0]
    assert hdr["warc-type"] == "response"
    assert hdr["warc-record-id"] == "<urn:doc:7>"
    assert hdr["warc-target-uri"] == "https://crawl.example/d/7.html"
    status, ctype, body = parse_http_response(block)
    assert (status, ctype, body) == (200, "text/html", b"<p>seven</p>")


def test_multi_member_gzip_split():
    recs = [build_warc_record(*_resp(i, f"<p>doc {i}</p>")) for i in range(5)]
    blob = b"".join(gzip_member(r) for r in recs)
    assert list(split_gzip_members(blob)) == recs
    # truncated tail: valid prefix survives, no raise
    assert list(split_gzip_members(blob[:-7])) == recs[:4]
    # whole-stream single-member gzip also decodes (non-CC layout)
    assert list(split_gzip_members(gzip.compress(b"".join(recs)))) == [
        b"".join(recs)
    ]


def test_truncated_member_record_walk_vs_member_split():
    """DOCUMENTED divergence between the two consumers of a truncated
    gzip member, pinned so it stays a contract and not an accident:
    the record walk (iter_warc_records, backing read_warc) keeps every
    record that FULLY decompressed out of the valid prefix of the
    truncated member, while the member splitter (split_gzip_members,
    backing the CC record-per-member consumers) drops the incomplete
    member wholly — the walk's unit is the record, the splitter's
    unit is the member."""
    import hashlib

    from bb_bigdata_log_tools_spark.sources.warc import iter_warc_records

    rec_a = build_warc_record(*_resp(1, "<p>aaa</p>"))
    rec_b = build_warc_record(*_resp(2, "<p>bbb</p>"))
    # incompressible filler keeps compressed size ~ raw size, so a cut
    # at raw-offset-of-rec_b + margin is guaranteed to land AFTER
    # rec_b's bytes decompressed and BEFORE the member's end
    filler = b"".join(
        hashlib.sha256(bytes([i & 0xFF, i >> 8])).digest()
        for i in range(4096)
    ).hex()
    rec_c = build_warc_record(*_resp(3, filler))
    member2 = gzip_member(rec_b + rec_c)
    cut = len(rec_b) + 8192
    assert cut < len(member2)  # the truncation really is mid-member
    blob = gzip_member(rec_a) + member2[:cut]
    # member splitter: only the complete member survives
    assert list(split_gzip_members(blob)) == [rec_a]
    # record walk: rec_b fully decompressed from the valid prefix of
    # the truncated member, so it is a good record and is kept
    got = [h["warc-record-id"] for h, _ in iter_warc_records(blob)]
    assert got == ["<urn:doc:1>", "<urn:doc:2>"]


def test_malformed_framing_keeps_valid_prefix():
    good = build_warc_record(*_resp(1, "<p>one</p>"))
    stream = good + b"NOT A WARC RECORD\r\n\r\n" + good
    assert len(list(parse_warc_records(stream))) == 1
    # truncated content-length: record dropped
    short = good[:-10]
    assert len(list(parse_warc_records(good + short))) == 1


def test_wet_conversion_payload_verbatim(spark, tmp_path):
    path = str(tmp_path / "x.warc.gz")
    write_warc_local([_resp(1, "<p>page</p>"), _wet(2, "plain text")], path)
    rows = {r.record_id: r for r in read_warc(spark, path).collect()}
    assert bytes(rows["<urn:doc:1>"].payload) == b"<p>page</p>"
    assert rows["<urn:doc:1>"].http_status == 200
    assert bytes(rows["<urn:wet:2>"].payload) == b"plain text"
    assert rows["<urn:wet:2>"].http_status == 0
    assert rows["<urn:wet:2>"].warc_type == "conversion"


def test_uncompressed_warc_read(spark, tmp_path):
    path = str(tmp_path / "x.warc")
    write_warc_local([_resp(i, f"<p>doc {i}</p>") for i in range(3)],
                     path, compress=False)
    got = read_warc(spark, path).orderBy("rec_pos").collect()
    assert [r.target_uri for r in got] == [
        f"https://crawl.example/d/{i}.html" for i in range(3)
    ]
    assert all(r.n_bytes == len(bytes(r.payload)) for r in got)


def test_spark_paths_expand_globs_on_the_driver(tmp_path):
    """A Spark file source gets a glob's files in name order, so it never
    looks for a streaming sink's metadata under the pattern; a pattern
    that matches nothing reaches Spark unchanged, to fail there as before."""
    for name in ("b.warc.gz", "a.warc.gz", "a.warc.gz.idx"):
        (tmp_path / name).write_bytes(b"")
    pattern, none = str(tmp_path / "*.warc.gz"), str(tmp_path / "x" / "*.warc.gz")
    assert spark_paths(pattern, none) == [str(tmp_path / "a.warc.gz"),
                                          str(tmp_path / "b.warc.gz"), none]


def test_record_length_formula():
    """The SQL length arithmetic in registry_sinks._WARC_REC_LEN must
    equal the writer's serialized bytes — sweep ids/uris/dates/sizes
    including digit-count boundaries of the nested Content-Length.
    (Non-empty URIs only: the writer omits the WARC-Target-URI line
    when the uri is '', and the registry pages always carry one.)"""
    cases = [
        (0, "u", ""),
        (9, "x", "2026-01-01T00:00:00Z"),
        (10, "https://crawl.example/d/10.html", "2026-01-01T00:00:00Z"),
        (123456, "https://e.com/" + "p" * 200, "2026-12-31T23:59:59Z"),
    ]
    sizes = [0, 1, 9, 10, 37, 99, 100, 938, 999, 1000, 9999, 10000]
    for doc_id, uri, date in cases:
        for n in sizes:
            html = "h" * n
            body = html.encode()
            rec = build_warc_record(
                "response", f"<urn:doc:{doc_id}>", uri, date,
                build_http_response(body),
            )
            bl = len(body)
            http_len = 62 + len(str(bl)) + bl
            formula = (
                164 + len(str(doc_id)) + len(date) + len(uri)
                + len(str(http_len)) + http_len
            )
            assert formula == len(rec), (doc_id, uri, date, n)


def test_write_warc_deterministic_bytes(spark, tmp_path):
    pages = spark.createDataFrame(
        [(i, f"<p>document {i} body</p>",
          f"https://crawl.example/d/{i}.html", "2026-01-01T00:00:00Z")
         for i in range(40)],
        "doc_id long, html string, target_uri string, warc_date string",
    )
    outs = []
    for run in ("a", "b"):
        out = str(tmp_path / run)
        man = write_warc(pages, out, n_shards=4).collect()
        assert sum(m.n_records for m in man) == 40
        outs.append({
            os.path.basename(p): open(p, "rb").read()
            for p in glob.glob(os.path.join(out, "*.warc.gz"))
        })
    assert outs[0] == outs[1]  # byte-identical re-run
    assert len(outs[0]) == 4


def test_write_read_roundtrip_spark(spark, tmp_path):
    pages = spark.createDataFrame(
        [(i, f"<html><body><p>doc {i}</p></body></html>",
          f"https://crawl.example/d/{i}.html", "2026-01-01T00:00:00Z")
         for i in range(25)],
        "doc_id long, html string, target_uri string, warc_date string",
    )
    out = str(tmp_path / "store")
    write_warc(pages, out, n_shards=3).collect()
    back = read_warc(spark, os.path.join(out, "*.warc.gz"))
    got = {
        r.target_uri: bytes(r.payload).decode() for r in back.collect()
    }
    assert got == {
        f"https://crawl.example/d/{i}.html":
        f"<html><body><p>doc {i}</p></body></html>"
        for i in range(25)
    }


def test_write_wet_roundtrip_and_determinism(spark, tmp_path):
    from bb_bigdata_log_tools_spark.sources.warc import write_wet

    texts = spark.createDataFrame(
        [(i, f"extracted text of page {i}\nsecond line",
          f"https://crawl.example/d/{i}.html", "2026-01-01T00:00:00Z")
         for i in range(20)],
        "doc_id long, text string, target_uri string, warc_date string",
    )
    outs = []
    for run in ("a", "b"):
        out = str(tmp_path / run)
        man = write_wet(texts, out, n_shards=3).collect()
        assert sum(m.n_records for m in man) == 20
        outs.append({
            os.path.basename(p): open(p, "rb").read()
            for p in glob.glob(os.path.join(out, "*.warc.gz"))
        })
    assert outs[0] == outs[1]
    back = read_warc(spark, str(tmp_path / "a" / "*.warc.gz"))
    got = {r.record_id: r for r in back.collect()}
    assert len(got) == 20
    r = got["<urn:wet:7>"]
    assert r.warc_type == "conversion"
    assert r.http_status == 0
    assert bytes(r.payload).decode() == "extracted text of page 7\nsecond line"


@pytest.mark.parametrize("parallelism", [1, 3, 16])
def test_read_warc_split_equals_whole_file(spark, tmp_path, parallelism):
    """The index-driven split reader returns EXACTLY the whole-file
    reader's rows (no dup, no loss) at any parallelism — including
    more tasks than files (the oversized-file case it exists for)."""
    from bb_bigdata_log_tools_spark.sources.warc import read_warc_split

    pages = spark.createDataFrame(
        [(i, f"<p>document {i} body text</p>",
          f"https://crawl.example/d/{i}.html", "2026-01-01T00:00:00Z")
         for i in range(37)],
        "doc_id long, html string, target_uri string, warc_date string",
    )
    out = str(tmp_path / "store")
    write_warc(pages, out, n_shards=2).collect()  # 2 files, 16 tasks
    glob_gz = os.path.join(out, "*.warc.gz")

    def key(r):
        return (r.file, r.rec_pos, r.warc_type, r.record_id,
                r.target_uri, r.warc_date, r.http_status,
                r.http_content_type, r.n_bytes, bytes(r.payload))

    whole = sorted(key(r) for r in read_warc(spark, glob_gz).collect())
    split = sorted(
        key(r)
        for r in read_warc_split(spark, glob_gz, parallelism).collect()
    )
    assert split == whole and len(whole) == 37


def test_sidecar_index_matches_members(spark, tmp_path):
    """Each .idx line's (offset, length) slice is one complete gzip
    member decompressing to the record at that position — for both
    the WARC and WET writers."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        parse_warc_records,
        write_wet,
    )

    texts = spark.createDataFrame(
        [(i, f"text {i}", f"u{i}", "d") for i in range(9)],
        "doc_id long, text string, target_uri string, warc_date string",
    )
    out = str(tmp_path / "wet")
    write_wet(texts, out, n_shards=2).collect()
    import zlib

    n = 0
    for idx in glob.glob(os.path.join(out, "*.idx")):
        blob = open(idx[: -len(".idx")], "rb").read()
        for ln in open(idx):
            pos, off, length = map(int, ln.split())
            member = blob[off : off + length]
            rec = zlib.decompress(member, 47)
            (hdr, block), = list(parse_warc_records(rec))
            assert hdr["warc-type"] == "conversion"
            n += 1
    assert n == 9


@pytest.mark.parametrize("seed", [3, 17, 91])
def test_warc_framing_fuzz_roundtrip_and_truncation(seed):
    """Property sweep of the record framing: random record sets
    (types, URIs incl. unicode, binary-ish bodies, empty blocks)
    round-trip exactly through write→parse, and EVERY truncation
    point of the stream yields a clean prefix of the records — never
    an exception, never a corrupted record."""
    import random

    from bb_bigdata_log_tools_spark.sources.warc import (
        build_http_response,
        build_warc_record,
        gzip_member,
        parse_http_response,
        parse_warc_records,
        split_gzip_members,
    )

    rng = random.Random(seed)
    recs = []
    for i in range(rng.randint(3, 12)):
        wtype = rng.choice(["response", "conversion", "metadata"])
        body = bytes(rng.randrange(256) for _ in range(rng.randrange(200)))
        uri = rng.choice(["", f"https://ex.com/{i}?q=a&b=c", f"u{i}-ü"])
        block = (
            build_http_response(body, status=rng.choice([200, 404, 500]))
            if wtype == "response" else body
        )
        recs.append((wtype, f"<urn:f:{i}>", uri, "2026-01-01T00:00:00Z",
                     block, body))
    stream = b"".join(
        build_warc_record(w, r, u, d, blk) for w, r, u, d, blk, _ in recs
    )
    parsed = list(parse_warc_records(stream))
    assert len(parsed) == len(recs)
    for (w, r, u, d, blk, body), (hdr, block) in zip(recs, parsed):
        assert (hdr["warc-type"], hdr["warc-record-id"]) == (w, r)
        assert hdr.get("warc-target-uri", "") == u
        assert block == blk
        if w == "response":
            _, _, got_body = parse_http_response(block)
            assert got_body == body
    # every truncation point: clean prefix, no raise
    for cut in range(0, len(stream), max(1, len(stream) // 97)):
        pre = list(parse_warc_records(stream[:cut]))
        assert len(pre) <= len(recs)
        assert all(p == q for p, q in zip(pre, parsed))
    # gzip-member layout: member-level truncation property
    gz = b"".join(gzip_member(build_warc_record(w, r, u, d, blk))
                  for w, r, u, d, blk, _ in recs)
    for cut in range(0, len(gz), max(1, len(gz) // 31)):
        members = list(split_gzip_members(gz[:cut]))
        assert len(members) <= len(recs)


def test_negative_content_length_terminates():
    """REGRESSION (round-9 review): a negative Content-Length moved
    the scan position BACKWARD, re-parsing the same header forever.
    Must terminate with the valid prefix instead."""
    good = build_warc_record(*_resp(1, "<p>fine page one</p>"))
    evil = (b"WARC/1.1\r\nWARC-Type: response\r\n"
            b"Content-Length: -33\r\n\r\n")
    out = list(parse_warc_records(good + evil + good))
    assert len(out) == 1  # clean prefix, no hang, no dup records


def test_gzip_bomb_member_capped():
    """A member inflating past MAX_MEMBER_BYTES stops the walk instead
    of materializing the bomb (the PNG decoder's inflate-cap guard,
    applied to the crawl tier)."""
    import gzip as _gzip
    from unittest import mock

    from bb_bigdata_log_tools_spark.sources import warc as W

    small = gzip_member(b"A" * 100)
    bomb = _gzip.compress(b"\x00" * (1 << 20), compresslevel=9)  # 1 MiB
    with mock.patch.object(W, "MAX_MEMBER_BYTES", 1 << 16):  # 64 KiB cap
        got = list(W.split_gzip_members(small + bomb + small))
    assert got == [b"A" * 100]  # valid prefix; bomb never materialized


def test_write_warc_duplicate_ids_deterministic(spark, tmp_path):
    """Duplicate record keys must still produce byte-identical shard
    re-runs (full-tuple sort, not key-only), and null keys fail loudly
    instead of serializing '<urn:doc:nan>'."""
    from bb_bigdata_log_tools_spark.sources.warc import write_warc

    dup = spark.createDataFrame(
        [(1, f"<p>version {v}</p>", f"https://e/{v}", "d")
         for v in ("a", "b", "c")] * 2,
        "doc_id long, html string, target_uri string, warc_date string",
    )
    outs = []
    for run in ("x", "y"):
        out = str(tmp_path / run)
        write_warc(dup.repartition(3), out, n_shards=1).collect()
        outs.append({
            os.path.basename(p): open(p, "rb").read()
            for p in glob.glob(os.path.join(out, "*.warc.gz"))
        })
    assert outs[0] == outs[1]

    bad = spark.createDataFrame(
        [(None, "<p>x</p>", "u", "d")],
        "doc_id long, html string, target_uri string, warc_date string",
    )
    with pytest.raises(Exception, match="null record key"):
        write_warc(bad, str(tmp_path / "bad"), n_shards=1).collect()


def test_local_path_percent_decoding(spark, tmp_path):
    """read_warc_split must open files under directories with '%' and
    spaces in their names. Pins the PROBED fact that the binaryFile
    path column is the plain (un-encoded) path — percent-DECODING it
    would corrupt a literal '%40' into '@'."""
    from bb_bigdata_log_tools_spark.sources.warc import read_warc_split

    odd = tmp_path / "od d%40"
    odd.mkdir()
    pages = spark.createDataFrame(
        [(i, f"<p>pg {i}</p>", f"u{i}", "d") for i in range(5)],
        "doc_id long, html string, target_uri string, warc_date string",
    )
    write_warc(pages, str(odd), n_shards=1).collect()
    got = read_warc_split(spark, str(odd) + "/*.warc.gz", 2).count()
    assert got == 5


@pytest.mark.parametrize("chunk", [1, 2, 7, 64, 1 << 20])
def test_gzip_member_walk_any_chunk_size(chunk, monkeypatch):
    """The chunked incremental walk must be chunk-size-invariant:
    member headers and EOFs landing anywhere relative to chunk seams
    (chunk=1 puts EVERY byte on a seam) yield the identical member
    sequence, and truncation anywhere still gives a clean prefix."""
    import random

    from bb_bigdata_log_tools_spark.sources import warc as W

    monkeypatch.setattr(W, "_GZ_CHUNK", chunk)
    rng = random.Random(chunk)
    members = [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400)))
        for _ in range(6)
    ]
    blob = b"".join(W.gzip_member(m) for m in members)
    assert list(W.split_gzip_members(blob)) == members
    for cut in range(0, len(blob), max(1, len(blob) // 23)):
        got = list(W.split_gzip_members(blob[:cut]))
        assert got == members[: len(got)]


def test_read_warc_plan_is_scan_parallel(spark, tmp_path):
    """One shard = one task, no shuffle in the read plan."""
    pages = spark.createDataFrame(
        [(i, "<p>x</p>", f"u{i}", "d") for i in range(8)],
        "doc_id long, html string, target_uri string, warc_date string",
    )
    out = str(tmp_path / "store")
    write_warc(pages, out, n_shards=2).collect()
    plan = (
        read_warc(spark, os.path.join(out, "*.warc.gz"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# Round-9 continuation: transfer/content decoding of HTTP bodies. WARC
# blocks store the message AS TRANSFERRED, so real crawls carry
# chunked framing and gzip/deflate content encoding inside records.
# ---------------------------------------------------------------------------


def _chunked(body: bytes, sizes: list[int], extensions: bool = False,
             trailers: bool = False) -> bytes:
    out, i = b"", 0
    for s in sizes:
        piece = body[i:i + s]
        i += s
        ext = b";name=value" if extensions else b""
        out += format(len(piece), "x").encode() + ext + b"\r\n" + piece + b"\r\n"
    out += b"0\r\n"
    if trailers:
        out += b"X-Trailer: t\r\n"
    out += b"\r\n"
    return out


def _http_with(body: bytes, headers: list[bytes]) -> bytes:
    return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + b"\r\n".join(headers) + b"\r\n\r\n" + body)


def test_http_chunked_decode():
    want = b"<p>hello chunked world</p>"
    blk = _http_with(_chunked(want, [5, 9, 100]),
                     [b"Transfer-Encoding: chunked"])
    assert parse_http_response(blk) == (200, "text/html", want)
    # chunk extensions + trailers ignored
    blk2 = _http_with(_chunked(want, [7, 100], extensions=True, trailers=True),
                      [b"Transfer-Encoding: chunked"])
    assert parse_http_response(blk2) == (200, "text/html", want)


def test_http_chunked_malformed_keeps_raw():
    raw = b"not hex\r\nstuff"
    blk = _http_with(raw, [b"Transfer-Encoding: chunked"])
    assert parse_http_response(blk) == (200, "text/html", raw)
    # truncated mid-chunk: size says 10, only 3 bytes follow
    trunc = b"a\r\nabc"
    blk2 = _http_with(trunc, [b"Transfer-Encoding: chunked"])
    assert parse_http_response(blk2) == (200, "text/html", trunc)


def test_http_content_encoding_gzip_and_deflate():
    import gzip as _gz
    import zlib as _zl

    want = b"<p>compressed body</p>" * 10
    c = _zl.compressobj(wbits=-15)
    raw_deflate = c.compress(want) + c.flush()
    for hdr, enc in [
        (b"Content-Encoding: gzip", _gz.compress(want)),
        (b"Content-Encoding: x-gzip", _gz.compress(want)),
        (b"Content-Encoding: deflate", _zl.compress(want)),  # zlib-wrapped
        (b"Content-Encoding: deflate", raw_deflate),  # bare (seen in the wild)
    ]:
        assert parse_http_response(_http_with(enc, [hdr])) == (
            200, "text/html", want,
        ), hdr
    # unknown encoding / garbage stream: raw body kept
    assert parse_http_response(
        _http_with(b"xyz", [b"Content-Encoding: br"])
    )[2] == b"xyz"
    assert parse_http_response(
        _http_with(b"nogzip", [b"Content-Encoding: gzip"])
    )[2] == b"nogzip"
    # TRUNCATED gzip stream: zlib doesn't raise on a cut-off body, but
    # presenting a partial page as fully decoded would be silent data
    # loss — the d.eof check keeps the raw body instead
    cut = _gz.compress(want)[:-8]
    assert parse_http_response(
        _http_with(cut, [b"Content-Encoding: gzip"])
    )[2] == cut
    # truncated zlib-wrapped deflate likewise
    cut2 = _zl.compress(want)[: len(_zl.compress(want)) // 2]
    assert parse_http_response(
        _http_with(cut2, [b"Content-Encoding: deflate"])
    )[2] == cut2


def test_http_chunked_then_gzip():
    import gzip as _gz

    want = b"<html><body>both layers</body></html>"
    enc = _gz.compress(want)
    blk = _http_with(
        _chunked(enc, [11, 100]),
        [b"Transfer-Encoding: chunked", b"Content-Encoding: gzip"],
    )
    assert parse_http_response(blk) == (200, "text/html", want)


def test_http_gzip_bomb_stays_raw():
    import zlib as _zl

    from bb_bigdata_log_tools_spark.sources.warc import HTTP_BODY_DECODE_CAP

    bomb = _zl.compressobj(wbits=31)
    blob = bomb.compress(b"\x00" * (HTTP_BODY_DECODE_CAP + 1024)) + bomb.flush()
    assert len(blob) < 1 << 21  # it IS a bomb
    got = parse_http_response(_http_with(blob, [b"Content-Encoding: gzip"]))
    assert got[2] == blob  # cap exceeded -> raw kept, no inflation


def test_read_warc_decodes_chunked_gzip_end_to_end(spark, tmp_path):
    import gzip as _gz

    html = "<p>end to end transfer-decoded page</p>"
    enc = _gz.compress(html.encode())
    blk = _http_with(
        _chunked(enc, [9, 100]),
        [b"Transfer-Encoding: chunked", b"Content-Encoding: gzip"],
    )
    rec = build_warc_record(
        "response", "<urn:doc:1>", "https://x.test/1.html",
        "2026-01-01T00:00:00Z", blk,
    )
    p = tmp_path / "one.warc.gz"
    p.write_bytes(gzip_member(rec))
    row = read_warc(spark, str(p)).collect()[0]
    assert row.http_status == 200
    assert bytes(row.payload) == html.encode()
    assert row.n_bytes == len(html.encode())


@pytest.mark.slow
def test_http_chunked_roundtrip_fuzz():
    """Property: any body, any chunking split, any extension/trailer
    dressing — dechunk(chunk(body)) == body; and flipping one framing
    byte never crashes (decodes or falls back raw)."""
    import random

    rng = random.Random(20260816)
    for _ in range(200):
        body = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
        sizes, left = [], len(body)
        while left > 0:
            s = rng.randint(1, max(1, left))
            sizes.append(s)
            left -= s
        sizes.append(7)  # trailing oversize chunk -> consumed as rest
        blk = _http_with(
            _chunked(body, sizes, extensions=rng.random() < 0.3,
                     trailers=rng.random() < 0.3),
            [b"Transfer-Encoding: chunked"],
        )
        assert parse_http_response(blk) == (200, "text/html", body)
        # one-byte corruption: never raises
        framed = _chunked(body, sizes)
        pos = rng.randrange(len(framed))
        corrupt = framed[:pos] + bytes([framed[pos] ^ 0xFF]) + framed[pos + 1:]
        parse_http_response(
            _http_with(corrupt, [b"Transfer-Encoding: chunked"])
        )


def test_decode_payload_text_charsets(spark):
    """Charset resolution: BOM > header charset= > meta sniff > UTF-8
    default; single-byte charsets decode EXACTLY via the translate
    branch; malformed UTF-8 replaces (never crashes — Spark 4 decode
    would kill the job); multibyte labels flagged unsupported."""
    from bb_bigdata_log_tools_spark.sources.warc import decode_payload_text

    euro = "price: €99 — done"        # cp1252 0x80 / 0x97
    ru = "привет"  # windows-1251
    meta_page = "<html><head><meta charset=windows-1252></head>" + euro
    cases = [
        # (doc, payload bytes, content_type, want charset, supported, text)
        (0, euro.encode("windows-1252"),
         "text/html; charset=windows-1252", "windows-1252", True, euro),
        # WHATWG: the iso-8859-1 label IS windows-1252 — cp1252 smart
        # quotes (0x93/0x94) in an iso-labeled page must decode as
        # quotes, not C1 controls
        (1, b"caf\xe9 \x93au lait\x94",
         'text/html; charset="ISO-8859-1"', "windows-1252", True,
         "caf\xe9 “au lait”"),
        (2, ru.encode("windows-1251"),
         "text/html; charset=windows-1251", "windows-1251", True, ru),
        (3, meta_page.encode("windows-1252"),
         "text/html", "windows-1252", True, meta_page),
        (4, ru.encode("koi8-r"), "text/html; charset=KOI8-R",
         "koi8-r", True, ru),
        (5, "plain utf8 ✓".encode(), "text/html", "utf-8", True,
         "plain utf8 ✓"),
        (6, b"broken \xff\xfe tail", None, "utf-8", True,
         "broken �� tail"),  # malformed -> replacement
        (7, "unknown label".encode(), "text/html; charset=klingon",
         "klingon", False, "unknown label"),  # off-menu -> flagged
        (8, "﻿BOM16".encode("utf-16-le"), "text/html",
         "utf-16le", False, None),  # flagged for the python branch
        (9, "sjis".encode(), "text/html; charset=Shift_JIS",
         "shift_jis", False, None),
        # a UTF-8 BOM selects utf-8 AND is stripped (it is a mark,
        # not content — a U+FEFF prefix would dedup/hash differently
        # from the BOM-less twin)
        (10, b"\xef\xbb\xbf" + "bom page".encode(), "text/html",
         "utf-8", True, "bom page"),
        # us-ascii label: WHATWG maps it to windows-1252 too
        (11, "plain".encode(), "text/html; charset=us-ascii",
         "windows-1252", True, "plain"),
    ]
    df = spark.createDataFrame(
        [(i, p, ct) for i, p, ct, *_ in cases],
        "doc_id long, payload binary, http_content_type string",
    )
    got = {r.doc_id: r for r in decode_payload_text(df).collect()}
    for i, _p, _ct, want_cs, want_sup, want_text in cases:
        assert got[i].charset == want_cs, (i, got[i].charset)
        assert got[i].charset_supported is want_sup, i
        if want_text is not None:
            assert got[i].html == want_text, (i, got[i].html)
        else:
            assert got[i].html is not None  # fallback text, no crash


def test_decode_payload_text_full_multibyte(spark):
    """The Python-codec completion: flagged multibyte rows decode for
    real (shift_jis / gbk / utf-16), JVM-tier rows flow through
    unchanged, unknown labels keep the flagged fallback."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        decode_payload_text_full,
    )

    jp = "こんにちは世界"
    zh = "你好，世界"
    cases = [
        (0, jp.encode("shift_jis"), "text/html; charset=Shift_JIS",
         True, jp),
        (1, zh.encode("gbk"), "text/html; charset=GBK", True, zh),
        (2, "utf16 page".encode("utf-16"), "text/html", True,
         "utf16 page"),  # BOM-resolved utf-16le + python decode
        (3, "plain".encode(), "text/html", True, "plain"),  # JVM tier
        (4, "price: €9".encode("windows-1252"),
         "text/html; charset=cp1252", True, "price: €9"),  # JVM tier
        (5, "x".encode(), "text/html; charset=klingon", False, "x"),
        # klingon: flagged off-menu, python lookup fails -> utf-8
        # replace fallback, STAYS flagged (the honest signal)
        (6, "안녕하세요".encode("euc-kr"), "text/html; charset=EUC-KR",
         True, "안녕하세요"),  # a label the old deny-list would have missed
    ]
    df = spark.createDataFrame(
        [(i, p, ct) for i, p, ct, *_ in cases],
        "doc_id long, payload binary, http_content_type string",
    )
    got = {r.doc_id: r for r in decode_payload_text_full(df).collect()}
    for i, _p, _ct, want_ok, want_text in cases:
        assert got[i].charset_supported is want_ok, (i, got[i])
        if want_text is not None:
            got_text = got[i].html
            # utf-16 python decode keeps no BOM; strip the ZWNBSP if
            # the codec left one (utf-16le label on BOM-carrying bytes)
            assert got_text.lstrip("﻿") == want_text, (i, got_text)


def test_write_warc_accepts_binary_payload_with_invalid_utf8(spark, tmp_path):
    """A BINARY payload column containing invalid UTF-8 must not crash
    the shard writer's Arrow boundary — bytes sanitize to replacement
    chars (the make_valid_utf8 insurance at the writer input)."""
    pages = spark.createDataFrame(
        [(1, bytearray(b"ok \xff\xfe page"),
          "https://x.test/1.html", "2026-01-01T00:00:00Z")],
        "doc_id long, html binary, target_uri string, warc_date string",
    )
    out = str(tmp_path / "bin")
    man = write_warc(pages, out, n_shards=1).collect()
    assert sum(m.n_records for m in man) == 1
    row = read_warc(spark, out + "/*.warc.gz").collect()[0]
    assert b"ok " in bytes(row.payload) and b" page" in bytes(row.payload)
    assert b"\xff" not in bytes(row.payload)  # replaced, not raw


def test_http_chunk_size_token_is_strict_hex():
    """'0x1f', '+5', '1_0' parse as ints in Python but are not legal
    HTTP chunk sizes — the de-chunker must reject them (raw fallback),
    while plain upper/lower hex still decodes."""
    for bad in (b"0x5\r\nhello\r\n0\r\n\r\n",
                b"+5\r\nhello\r\n0\r\n\r\n",
                b"1_0\r\nhellohellohellob\r\n0\r\n\r\n"):
        blk = _http_with(bad, [b"Transfer-Encoding: chunked"])
        assert parse_http_response(blk)[2] == bad  # kept raw
    ok = b"A\r\n0123456789\r\n0\r\n\r\n"
    blk = _http_with(ok, [b"Transfer-Encoding: chunked"])
    assert parse_http_response(blk)[2] == b"0123456789"


def test_http_transfer_encoding_gzip_chunked():
    """'Transfer-Encoding: gzip, chunked' = chunked(gzip(body)):
    de-chunk first, then inflate the transfer coding."""
    import gzip as _gz

    want = b"<p>transfer-compressed page body</p>"
    enc = _gz.compress(want)
    blk = _http_with(
        _chunked(enc, [13, 100]),
        [b"Transfer-Encoding: gzip, chunked"],
    )
    assert parse_http_response(blk) == (200, "text/html", want)
