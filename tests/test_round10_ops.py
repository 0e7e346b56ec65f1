"""Round-10 operator tests: the incremental WARC record walk,
frontier_schedule (per-host fetch waves), the WAT sink, the
decode_payload_text jvm_decoded surface, and the streaming frontier's
shared projections."""

from __future__ import annotations

import gzip

import pytest

from bb_bigdata_log_tools_spark.sources.warc import (
    build_http_response,
    build_warc_record,
    gzip_member,
    iter_warc_records,
    parse_warc_records,
    read_warc,
    write_wat,
)


def _records(n: int) -> list[bytes]:
    return [
        build_warc_record(
            "response",
            f"<urn:doc:{i}>",
            f"https://x.test/{i}.html",
            "2026-01-01T00:00:00Z",
            build_http_response(f"<p>page {i} body</p>".encode()),
        )
        for i in range(n)
    ]


def _ids(recs) -> list[str]:
    return [h.get("warc-record-id", "") for h, _b in recs]


def test_iter_warc_records_matches_whole_stream_parse():
    """Parity: the incremental walk yields exactly what the whole
    stream parse yields — per-record members, one big member, and
    uncompressed — headers AND blocks."""
    recs = _records(7)
    stream = b"".join(recs)
    per_member = b"".join(gzip_member(r) for r in recs)
    one_member = gzip.compress(stream, mtime=0)
    want = list(parse_warc_records(stream))
    for blob in (per_member, one_member, stream):
        got = list(iter_warc_records(blob))
        assert [h for h, _ in got] == [h for h, _ in want]
        assert [b for _, b in got] == [b for _, b in want]


def test_iter_warc_records_record_spans_member_boundary():
    """Non-CC layouts gzip the stream as arbitrary members: a record
    cut across a member boundary must reassemble from the rolling
    buffer."""
    recs = _records(3)
    stream = b"".join(recs)
    # cut INSIDE the middle record's block
    cut = len(recs[0]) + len(recs[1]) // 2
    blob = gzip.compress(stream[:cut], mtime=0) + gzip.compress(
        stream[cut:], mtime=0
    )
    got = list(iter_warc_records(blob))
    assert _ids(got) == [f"<urn:doc:{i}>" for i in range(3)]
    assert got[1][1] == list(parse_warc_records(stream))[1][1]


def test_iter_warc_records_truncated_tail_dropped():
    """A stream-final partial record is a truncated tail (dropped);
    the complete prefix still flows."""
    recs = _records(3)
    stream = b"".join(recs)[:-40]  # cut into the last record
    blob = gzip.compress(stream, mtime=0)
    assert _ids(list(iter_warc_records(blob))) == [
        "<urn:doc:0>", "<urn:doc:1>",
    ]


def test_iter_warc_records_malformed_middle_stops_walk():
    """Malformed framing mid-stream ends the walk for good (valid-
    prefix contract) even when later members look healthy."""
    recs = _records(2)
    blob = (
        gzip_member(recs[0])
        + gzip_member(b"GARBAGE\r\n\r\nnot a warc record")
        + gzip_member(recs[1])
    )
    assert _ids(list(iter_warc_records(blob))) == ["<urn:doc:0>"]


def test_iter_warc_records_non_warc_garbage_dies_fast():
    """A non-WARC stream must not buffer unboundedly — the magic check
    kills the walk as soon as five bytes are visible."""
    blob = gzip.compress(b"NOTWARC" + b"a" * (1 << 20), mtime=0)
    assert list(iter_warc_records(blob)) == []


def test_iter_warc_records_huge_header_matches_whole_parse():
    """REGRESSION (round-10 review): a record with a multi-MiB header
    (e.g. a pathological WARC-Target-URI) parsed fully in
    parse_warc_records but the incremental walk's old 64 KiB
    no-CRLFCRLF cap declared it dead — the two readers must accept
    the same streams by construction (magic-bounded, not
    size-bounded)."""
    big_uri = "https://x.test/" + "a" * (2 << 20)
    recs = [
        build_warc_record(
            "response", "<urn:doc:0>", big_uri, "2026-01-01T00:00:00Z",
            build_http_response(b"<p>big header page</p>"),
        ),
        _records(1)[0],
    ]
    stream = b"".join(recs)
    want = list(parse_warc_records(stream))
    assert len(want) == 2
    got = list(iter_warc_records(gzip.compress(stream, mtime=0)))
    assert got == want


@pytest.mark.parametrize("seed", [11, 29, 63])
def test_iter_warc_records_fuzz_member_splits(seed, monkeypatch):
    """Differential property: for random record sets, ANY partition of
    the stream into gzip members and ANY decode chunk size, the
    incremental walk equals the whole-stream parse record for
    record."""
    import random

    from bb_bigdata_log_tools_spark.sources import warc as W

    rng = random.Random(seed)
    monkeypatch.setattr(W, "_GZ_CHUNK", rng.choice([1, 3, 64, 1 << 20]))
    monkeypatch.setattr(W, "_GZ_OUT_CHUNK", rng.choice([1, 7, 1 << 20]))
    recs = [
        W.build_warc_record(
            rng.choice(["response", "conversion", "metadata"]),
            f"<urn:f:{i}>",
            f"https://ex.com/{i}",
            "2026-01-01T00:00:00Z",
            bytes(rng.randrange(256) for _ in range(rng.randrange(400))),
        )
        for i in range(rng.randint(2, 9))
    ]
    stream = b"".join(recs)
    want = list(W.parse_warc_records(stream))
    for _ in range(8):
        cuts = sorted(
            rng.sample(range(1, len(stream)), rng.randint(0, 5))
        )
        parts = [
            stream[a:b]
            for a, b in zip([0] + cuts, cuts + [len(stream)])
        ]
        blob = b"".join(gzip.compress(p, mtime=0) for p in parts if p)
        got = list(W.iter_warc_records(blob))
        assert got == want, (cuts, len(got), len(want))


def test_frontier_schedule_waves(spark):
    """Waves: seeds first, then priority DESC, then url; disallowed
    URLs dropped; exact-agent delay shadows '*'; hosts without a
    delay use the default; duplicate frontier rows collapse."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        frontier_schedule,
    )

    robots = spark.createDataFrame(
        [
            (
                "a.com",
                "User-agent: *\nDisallow: /no\nCrawl-delay: 2\n"
                "Sitemap: https://a.com/map.xml\n",
            ),
            (
                "b.com",
                "User-agent: bbbot\nCrawl-delay: 0.5\n"
                "\nUser-agent: *\nCrawl-delay: 9\n",
            ),
        ],
        "host string, robots_txt string",
    )
    frontier = spark.createDataFrame(
        [
            ("https://a.com/z", 1.0),
            ("https://a.com/z", 1.0),  # duplicate row -> one fetch
            ("https://a.com/top", 5.0),
            ("https://a.com/no/秘", 9.0),  # disallowed
            ("https://b.com/only", 0.0),
            ("https://nobots.org/x", 0.0),
        ],
        "url string, priority double",
    )
    rows = frontier_schedule(
        frontier, robots, agent="bbbot", default_delay=1.0,
        priority_col="priority",
    ).collect()
    by_host = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    a = by_host["a.com"]
    assert [r.url for r in a] == [
        "https://a.com/map.xml",  # seed outranks every frontier URL
        "https://a.com/top",
        "https://a.com/z",
    ]
    assert [r.wave for r in a] == [1, 2, 3]
    assert all(r.crawl_delay == 2.0 for r in a)
    assert [r.fetch_offset_s for r in a] == [0.0, 2.0, 4.0]
    assert a[0].is_seed == 1 and a[1].is_seed == 0
    b = by_host["b.com"]
    assert b[0].crawl_delay == 0.5  # exact group shadows the '*' 9 s
    assert by_host["nobots.org"][0].crawl_delay == 1.0  # default


def test_frontier_schedule_seed_bypasses_gate(spark):
    """A sitemap URL that the rules would disallow still schedules —
    it is host-declared (and ranks first)."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        frontier_schedule,
    )

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /\nSitemap: https://a.com/m\n")],
        "host string, robots_txt string",
    )
    frontier = spark.createDataFrame(
        [("https://a.com/page",)], "url string"
    )
    rows = frontier_schedule(frontier, robots).collect()
    assert [(r.url, r.is_seed) for r in rows] == [("https://a.com/m", 1)]


def test_write_wat_roundtrip(spark, tmp_path):
    """WAT records read back as metadata records with the JSON block
    verbatim and application/json content type on disk."""
    meta = spark.createDataFrame(
        [
            (1, '{"url":"https://x.test/1","outlinks":[]}',
             "https://x.test/1", "2026-01-01T00:00:00Z"),
            (2, '{"url":"https://x.test/2","outlinks":["/a"]}',
             "https://x.test/2", "2026-01-01T00:00:00Z"),
        ],
        "doc_id long, wat_json string, target_uri string, warc_date string",
    )
    out = str(tmp_path / "wat")
    man = write_wat(meta, out, n_shards=2).collect()
    assert sum(m.n_records for m in man) == 2
    back = {r.record_id: r for r in read_warc(spark, out + "/*.warc.gz").collect()}
    assert set(back) == {"<urn:wat:1>", "<urn:wat:2>"}
    r2 = back["<urn:wat:2>"]
    assert r2.warc_type == "metadata"
    assert bytes(r2.payload) == b'{"url":"https://x.test/2","outlinks":["/a"]}'
    # the record bytes on disk carry the WAT content type
    raw = gzip.decompress(
        (tmp_path / "wat" / man[0].path.split("/")[-1]).read_bytes()
    )
    assert b"Content-Type: application/json" in raw


def test_decode_payload_text_full_jvm_decoded_column(spark):
    """jvm_decoded pins the tier boundary after the Python
    completion: true for JVM-menu labels, false for python-decoded
    and unknown labels (which differ in charset_supported)."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        decode_payload_text_full,
    )

    df = spark.createDataFrame(
        [
            (0, "plain".encode(), "text/html"),
            (1, "こんにちは".encode("shift_jis"),
             "text/html; charset=shift_jis"),
            (2, "x".encode(), "text/html; charset=klingon"),
        ],
        "doc_id long, payload binary, http_content_type string",
    )
    got = {r.doc_id: r for r in decode_payload_text_full(df).collect()}
    assert got[0].jvm_decoded is True and got[0].charset_supported is True
    assert got[1].jvm_decoded is False and got[1].charset_supported is True
    assert got[1].html == "こんにちは"
    assert got[2].jvm_decoded is False and got[2].charset_supported is False


def test_decode_payload_text_full_strips_boms(spark):
    """BOMs are marks, not content: utf-8 and utf-16 pages decode
    WITHOUT a leading U+FEFF."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        decode_payload_text_full,
    )

    df = spark.createDataFrame(
        [
            (0, b"\xef\xbb\xbf" + "utf8 bom".encode(), "text/html"),
            (1, "utf16 bom".encode("utf-16"), "text/html"),  # BOM'd LE
            (2, b"\xfe\xff" + "utf16 be".encode("utf-16-be"), "text/html"),
        ],
        "doc_id long, payload binary, http_content_type string",
    )
    got = {r.doc_id: r.html for r in decode_payload_text_full(df).collect()}
    assert got == {0: "utf8 bom", 1: "utf16 bom", 2: "utf16 be"}


def test_frontier_urls_projection(spark):
    """The shared absolutize+canonicalize projection: absolute pass,
    site-relative join the base host, protocol-relative and
    path-relative drop."""
    from bb_bigdata_log_tools_spark.operators.curation import frontier_urls

    links = spark.createDataFrame(
        [
            (1, "https://base.com/p", "https://other.com/x?utm_source=t"),
            (1, "https://base.com/p", "/rel/path/"),
            (1, "https://base.com/p", "//proto.com/x"),
            (1, "https://base.com/p", "relative.html"),
        ],
        "doc_id long, base_url string, href string",
    )
    got = sorted(
        (r.url, r.canonical_url) for r in frontier_urls(links).collect()
    )
    assert got == [
        ("https://base.com/rel/path/", "https://base.com/rel/path"),
        ("https://other.com/x?utm_source=t", "https://other.com/x"),
    ]


def test_write_warc_deduped_revisit_roundtrip(spark, tmp_path):
    """Duplicate-payload captures become revisit records (empty block,
    refers-to the lowest-id keeper, shared md5-labelled digest);
    keepers stay digest-stamped response records."""
    from bb_bigdata_log_tools_spark.sources.warc import write_warc_deduped

    pages = spark.createDataFrame(
        [
            (1, "<p>same body</p>", "https://x.test/1", "2026-01-01T00:00:00Z"),
            (5, "<p>same body</p>", "https://x.test/5", "2026-01-01T00:00:00Z"),
            (3, "<p>unique</p>", "https://x.test/3", "2026-01-01T00:00:00Z"),
        ],
        "doc_id long, html string, target_uri string, warc_date string",
    )
    out = str(tmp_path / "dedup")
    write_warc_deduped(pages, out, n_shards=2).collect()
    back = {r.record_id: r for r in read_warc(spark, out + "/*.warc.gz").collect()}
    r1, r5, r3 = back["<urn:doc:1>"], back["<urn:doc:5>"], back["<urn:doc:3>"]
    assert r1.warc_type == "response" and r1.refers_to == ""
    assert bytes(r1.payload) == b"<p>same body</p>"
    assert r5.warc_type == "revisit"
    assert r5.refers_to == "<urn:doc:1>"
    assert r5.payload_digest == r1.payload_digest
    assert r5.payload_digest.startswith("md5:") and r5.n_bytes == 0
    assert r3.warc_type == "response" and r3.refers_to == ""


def test_cdx_urlkey_transform(spark):
    """SURT key: host reversed comma-joined, www. stripped, lowercased,
    query params sorted, fragment/trailing-slash dropped — and the
    DuckDB twin computes the identical key for every case."""
    import duckdb

    from bb_bigdata_log_tools_spark.operators.curation import (
        cdx_urlkey,
        cdx_urlkey_sql,
    )
    from pyspark.sql import functions as F

    cases = [
        ("https://www.Example.COM/Path/To?b=2&a=1#frag",
         "com,example)/path/to?a=1&b=2"),
        ("http://sub.site.org/x/", "org,site,sub)/x"),
        # root captures key as ')/' — the CC cluster.idx spelling, so
        # a site root sorts INSIDE its own prefix range
        ("https://one.net", "net,one)/"),
        ("https://one.net/", "net,one)/"),
        ("https://www.w.co/q?z", "co,w)/q?z"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.k for r in df.select(cdx_urlkey(F.col("url")).alias("k")).collect()]
    assert got == [want for _, want in cases]
    con = duckdb.connect()
    vals = ", ".join(f"('{u}')" for u, _ in cases)
    twin = con.execute(
        f"SELECT {cdx_urlkey_sql('url')} FROM (VALUES {vals}) t(url)"
    ).fetchall()
    assert [t[0] for t in twin] == [want for _, want in cases]


def test_cdx_lookup_routes_to_probe_shards(spark, tmp_path):
    """The lookup reads ONLY the shard directories the probe keys hash
    to, and returns exactly the probed captures."""
    from bb_bigdata_log_tools_spark.sources.warc import cdx_lookup, write_cdx

    recs = spark.createDataFrame(
        [
            (f"https://h{i}.test/p{i}", "2026-01-01T00:00:00Z",
             "text/html", 200, bytearray(f"body{i}".encode()))
            for i in range(40)
        ],
        "target_uri string, warc_date string, http_content_type string,"
        " http_status int, payload binary",
    )
    out = str(tmp_path / "cdx")
    write_cdx(recs, out, n_shards=8)
    got = cdx_lookup(
        spark, out, ["https://h3.test/p3", "https://h17.test/p17"],
        n_shards=8,
    ).collect()
    assert sorted(r.url for r in got) == [
        "https://h17.test/p17", "https://h3.test/p3",
    ]
    assert all(r.status == 200 and r.digest.startswith("md5:") for r in got)


def test_write_cdx_empty_input_and_sparse_lookup(spark, tmp_path):
    """Degenerate shapes: a zero-row export is a valid empty index
    (0 returned, no PATH_NOT_FOUND), and a lookup probing a shard no
    capture landed in returns empty instead of throwing on the
    missing directory."""
    from bb_bigdata_log_tools_spark.sources.warc import cdx_lookup, write_cdx

    empty = spark.createDataFrame(
        [], "target_uri string, warc_date string,"
        " http_content_type string, http_status int, payload binary",
    )
    out = str(tmp_path / "cdx")
    assert write_cdx(empty, out, n_shards=2) == 0
    assert cdx_lookup(spark, out, ["https://a.test/x"], n_shards=2).count() == 0
    # one capture, then probe a URL hashing to the OTHER (absent) shard
    one = spark.createDataFrame(
        [("https://b.com/x", "2026-01-01T00:00:00Z", "text/html", 200,
          bytearray(b"xx"))],
        "target_uri string, warc_date string, http_content_type string,"
        " http_status int, payload binary",
    )
    out2 = str(tmp_path / "cdx2")
    assert write_cdx(one, out2, n_shards=64) == 1
    got = cdx_lookup(
        spark, out2,
        ["https://b.com/x", "https://nohit.example/q"], n_shards=64,
    ).collect()
    assert [r.url for r in got] == ["https://b.com/x"]


def test_frontier_schedule_empty_robots(spark):
    """No robots.txt anywhere: everything allowed, default delay,
    no seeds — the open-web default."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        frontier_schedule,
    )

    robots = spark.createDataFrame([], "host string, robots_txt string")
    frontier = spark.createDataFrame(
        [("https://a.com/1",), ("https://a.com/2",)], "url string"
    )
    rows = frontier_schedule(frontier, robots, default_delay=2.0).collect()
    assert [(r.url, r.wave, r.crawl_delay) for r in rows] == [
        ("https://a.com/1", 1, 2.0),
        ("https://a.com/2", 2, 2.0),
    ]


def test_write_cdx_layout_and_lines(spark, tmp_path):
    """CDX lines land hash-sharded, sorted by (urlkey, url) within a
    shard, with the searchable JSON fields."""
    from bb_bigdata_log_tools_spark.sources.warc import write_cdx

    recs = spark.createDataFrame(
        [
            ("https://b.com/x", "2026-01-01T00:00:00Z", "text/html", 200,
             bytearray(b"xx")),
            ("https://a.com/y", "2026-01-01T00:00:00Z", "text/html", 404,
             bytearray(b"yy")),
        ],
        "target_uri string, warc_date string, http_content_type string,"
        " http_status int, payload binary",
    )
    out = str(tmp_path / "cdx")
    n = write_cdx(recs, out, n_shards=2)
    assert n == 2
    lines = [r.value for r in spark.read.text(out + "/shard=*").collect()]
    assert any(l.startswith("com,a)/y 20260101000000 ") for l in lines)
    assert any('"status":404' in l for l in lines)
    assert all('"digest":"md5:' in l for l in lines)


@pytest.mark.slow
def test_registry_round10_vs_duckdb(spark, sf_dir):
    """The four new keys against their DuckDB oracles at test SF —
    the driver-gate replica."""
    import duckdb

    from bb_bigdata_log_tools_spark.registry import ORACLES, QUERIES
    from bb_bigdata_log_tools_spark.session import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    for key in (
        "frontier_schedule", "write_wat", "decode_payload_text",
        "stream_frontier", "write_warc_revisit", "write_cdx",
        "cdx_lookup",
    ):
        got = QUERIES[key](spark, sf_dir).toPandas()
        want = con.execute(ORACLES[key]).fetchdf()
        assert list(got.columns) == list(want.columns), key
        assert len(got) == len(want), key
        # the gate compares rows as a multiset: order both sides alike
        keys = [c for c in got.columns if got[c].dtype.kind != "f"] or list(got.columns)
        got, want = (f.sort_values(keys, ignore_index=True) for f in (got, want))
        for c in got.columns:
            gv, wv = list(got[c]), list(want[c])
            assert gv == pytest.approx(wv) if got[c].dtype.kind == "f" \
                else gv == wv, (key, c)
