"""Round-11 operators: the SURT-range CDX layout + prefix scan, the
robots-cache staleness model, and the crawl_refresh prioritizer —
semantics units, pruning proofs, plan shape, and the driver-gate
oracle replica."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------ CDX range


def test_covering_range_shards_pure():
    """The pruning decision alone: a shard qualifies iff its written
    [lo, hi] range intersects [prefix, prefix+MAXCHAR)."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        covering_range_shards,
    )

    bounds = [
        (0, "com,alpha)/a", "com,golf)/m"),
        (1, "com,golf)/n", "com,kilo)/z"),
        (2, "com,lima)/a", "org,zulu)/z"),
    ]
    # a whole-site prefix inside shard 1 only
    assert covering_range_shards(bounds, "com,india)") == [1]
    # a site whose captures SPAN the 0/1 shard boundary: both shards
    assert covering_range_shards(bounds, "com,golf)") == [0, 1]
    # a prefix strictly between two shards' ranges: nothing to scan
    assert covering_range_shards(bounds, "com,kzzz)") == []
    # before all keys / after all keys: nothing to scan
    assert covering_range_shards(bounds, "aaa") == []
    assert covering_range_shards(bounds, "zzz") == []
    # a prefix equal to a shard's hi key still covers that shard
    assert covering_range_shards(bounds, "com,golf)/m") == [0]


def test_cdx_range_layout_manifest_and_scan(spark, tmp_path):
    """Range layout end-to-end: the _RANGES manifest records sorted,
    non-overlapping written key ranges; a domain-prefix scan prunes to
    a strict subset of shards and returns exactly that site's
    captures; an out-of-range prefix scans nothing."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        cdx_range_scan,
        covering_range_shards,
        read_cdx_ranges,
        write_cdx,
    )

    recs = spark.createDataFrame(
        [
            (
                f"https://host{i % 8:02d}.test/p{i}",
                "2026-01-01T00:00:00Z",
                "text/html",
                200,
                bytearray(f"body{i}".encode()),
            )
            for i in range(64)
        ],
        "target_uri string, warc_date string, http_content_type string,"
        " http_status int, payload binary",
    )
    out = str(tmp_path / "cdx_range")
    n = write_cdx(recs, out, n_shards=4, layout="range")
    assert n == 64
    bounds = read_cdx_ranges(out)
    assert 1 <= len(bounds) <= 4
    # ranges are globally ordered and non-overlapping: each shard's lo
    # is > the previous shard's hi (range partitioning = global order)
    for (s0, _lo0, hi0), (s1, lo1, _hi1) in zip(bounds, bounds[1:]):
        assert s0 < s1 and hi0 <= lo1
    # domain-prefix probe: prunes (when >1 shard) and returns the site
    prefix = "test,host03)"
    shards = covering_range_shards(bounds, prefix)
    if len(bounds) > 1:
        assert 0 < len(shards) < len(bounds)
    got = cdx_range_scan(spark, out, prefix).orderBy("url").collect()
    want = sorted(
        f"https://host03.test/p{i}" for i in range(64) if i % 8 == 3
    )
    assert [r.url for r in got] == want
    assert all(r.urlkey.startswith(prefix) for r in got)
    assert all(r.status == 200 and r.digest.startswith("md5:") for r in got)
    # out-of-range prefix: no covering shards, empty result
    assert covering_range_shards(bounds, "zzz,nohost)") == []
    assert cdx_range_scan(spark, out, "zzz,nohost)").count() == 0


def test_cdx_range_empty_input(spark, tmp_path):
    """Zero-row input writes an EMPTY manifest (not a missing file) and
    the scan over it returns an empty, correctly-typed relation."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        cdx_range_scan,
        read_cdx_ranges,
        write_cdx,
    )

    recs = spark.createDataFrame(
        [],
        "target_uri string, warc_date string, http_content_type string,"
        " http_status int, payload binary",
    )
    out = str(tmp_path / "cdx_range_empty")
    assert write_cdx(recs, out, n_shards=4, layout="range") == 0
    assert read_cdx_ranges(out) == []
    df = cdx_range_scan(spark, out, "com,x)")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == [
        "urlkey", "ts14", "url", "mime", "status", "digest",
    ]


# ------------------------------------------------------------ robots staleness


def test_robots_staleness_semantics(spark):
    """Age arithmetic, the strict-> TTL boundary, and the countdown."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        robots_staleness,
    )

    robots = spark.createDataFrame(
        [
            ("fresh.com", "User-agent: *\n", "2026-08-15 12:00:00"),
            ("stale.com", "User-agent: *\n", "2026-08-01 00:00:00"),
            ("edge.com", "User-agent: *\n", "2026-08-09 00:00:00"),
        ],
        "host string, robots_txt string, fetched_at string",
    )
    rows = {
        r.host: r
        for r in robots_staleness(
            robots, now="2026-08-16 00:00:00", ttl_s=7 * 86400
        ).collect()
    }
    assert rows["fresh.com"].robots_age_s == 12 * 3600
    assert rows["fresh.com"].robots_stale is False
    assert rows["fresh.com"].refetch_after_s == 7 * 86400 - 12 * 3600
    assert rows["stale.com"].robots_age_s == 15 * 86400
    assert rows["stale.com"].robots_stale is True
    assert rows["stale.com"].refetch_after_s == 0
    # EXACTLY at TTL: not stale (strict >), zero seconds remaining
    assert rows["edge.com"].robots_age_s == 7 * 86400
    assert rows["edge.com"].robots_stale is False
    assert rows["edge.com"].refetch_after_s == 0


def test_robots_filter_aged_missing_host(spark):
    """A frontier host with NO cached robots.txt gates as allowed (the
    robots_filter left-join contract) but reads STALE with null age —
    never-fetched means fetch before trusting the implicit allow."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        robots_filter_aged,
    )

    frontier = spark.createDataFrame(
        [("https://known.com/x",), ("https://unknown.com/y",)],
        "url string",
    )
    robots = spark.createDataFrame(
        [("known.com", "User-agent: *\nDisallow: /x\n",
          "2026-08-15 12:00:00")],
        "host string, robots_txt string, fetched_at string",
    )
    rows = {
        r.url: r
        for r in robots_filter_aged(
            frontier, robots, now="2026-08-16 00:00:00", ttl_s=7 * 86400
        ).collect()
    }
    k = rows["https://known.com/x"]
    assert k.allowed is False and k.robots_stale is False
    assert k.robots_age_s == 12 * 3600
    u = rows["https://unknown.com/y"]
    assert u.allowed is True and u.robots_stale is True
    assert u.robots_age_s is None


# --------------------------------------------------------------- crawl refresh


def test_fetch_timeline_robots_refetch_injection(spark):
    """The budget simulator: a FRESH host keeps frontier_schedule's
    offsets ((wave-1) x delay); a STALE host fetches robots.txt at
    wave 0 / offset 0 and every URL shifts one delay later (wave x
    delay); a NEVER-FETCHED host reads as stale."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        fetch_timeline,
    )

    frontier = spark.createDataFrame(
        [("https://fresh.com/a",), ("https://fresh.com/b",),
         ("https://stale.com/a",), ("https://stale.com/b",),
         ("https://new.com/x",)],
        "url string",
    )
    robots = spark.createDataFrame(
        [
            ("fresh.com", "User-agent: *\nCrawl-delay: 2\n",
             "2026-08-15 12:00:00"),
            ("stale.com", "User-agent: *\nCrawl-delay: 4\n",
             "2026-08-01 00:00:00"),
        ],
        "host string, robots_txt string, fetched_at string",
    )
    rows = fetch_timeline(
        frontier, robots, now="2026-08-16 00:00:00", ttl_s=7 * 86400,
        default_delay=1.0,
    ).collect()
    by = {(r.host, r.url): r for r in rows}
    # fresh: no robots fetch, offsets (wave-1) x 2
    assert ("fresh.com", "https://fresh.com/robots.txt") not in by
    assert by[("fresh.com", "https://fresh.com/a")].fetch_offset_s == 0.0
    assert by[("fresh.com", "https://fresh.com/b")].fetch_offset_s == 2.0
    # stale: robots fetch at wave 0 / offset 0, urls shifted to wave x 4
    rob = by[("stale.com", "https://stale.com/robots.txt")]
    assert (rob.is_robots_fetch, rob.wave, rob.fetch_offset_s) == (1, 0, 0.0)
    assert by[("stale.com", "https://stale.com/a")].fetch_offset_s == 4.0
    assert by[("stale.com", "https://stale.com/b")].fetch_offset_s == 8.0
    # never-fetched host: implicit stale — robots fetch + shift
    nrob = by[("new.com", "https://new.com/robots.txt")]
    assert nrob.is_robots_fetch == 1 and nrob.fetch_offset_s == 0.0
    assert by[("new.com", "https://new.com/x")].fetch_offset_s == 1.0


def test_crawl_refresh_semantics(spark):
    """Change-rate extremes, the single-capture prior, the age axis,
    and the ranking they compose to."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        crawl_refresh,
    )

    caps = spark.createDataFrame(
        [
            # always-changing: 3 captures, 2 changes
            ("https://a/hot", "2026-05-01", "d1"),
            ("https://a/hot", "2026-05-11", "d2"),
            ("https://a/hot", "2026-05-21", "d3"),
            # never-changing: 3 captures, 0 changes
            ("https://a/static", "2026-05-01", "s"),
            ("https://a/static", "2026-05-11", "s"),
            ("https://a/static", "2026-05-21", "s"),
            # single capture: no re-crawl evidence
            ("https://a/new", "2026-08-01", "n"),
        ],
        "url string, capture_date string, digest string",
    )
    rows = {
        r.url: r
        for r in crawl_refresh(
            caps, now_date="2026-08-16", change_prior=0.1
        ).collect()
    }
    hot, static, new = (
        rows["https://a/hot"], rows["https://a/static"], rows["https://a/new"]
    )
    assert (hot.n_captures, hot.age_days, hot.change_rate) == (3, 87, 1.0)
    assert hot.refresh_priority == pytest.approx(87 * 1.1)
    assert (static.n_captures, static.change_rate) == (3, 0.0)
    assert static.refresh_priority == pytest.approx(87 * 0.1)
    assert (new.n_captures, new.age_days, new.change_rate) == (1, 15, 0.0)
    assert new.refresh_priority == pytest.approx(15 * 0.1)
    # the ranking the scheduler reads: changing page first, then the
    # static page of the same age only if older than the prior allows
    assert hot.refresh_priority > static.refresh_priority
    assert static.refresh_priority > new.refresh_priority


def test_crawl_refresh_single_exchange_plan(spark):
    """The lag window and the groupBy share the url partitioning —
    ONE exchange over the capture history, no global sort."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        crawl_refresh,
    )

    caps = spark.createDataFrame(
        [(f"https://h/{i % 10}", f"2026-05-{i % 28 + 1:02d}", f"d{i}")
         for i in range(100)],
        "url string, capture_date string, digest string",
    )
    plan = crawl_refresh(
        caps, now_date="2026-08-16", sort=False
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_cdx_merge_mixed_layouts(spark, tmp_path):
    """merge_cdx_stores: a hash-layout store and a range-layout store
    merge into one range store holding the exact line multiset — and
    merging a single hash store IS the hash→range migration."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        cdx_range_scan,
        merge_cdx_stores,
        read_cdx_ranges,
        write_cdx,
    )

    def recs(lo, hi):
        return spark.createDataFrame(
            [
                (f"https://h{i % 5}.test/p{i}", "2026-01-01T00:00:00Z",
                 "text/html", 200, bytearray(f"b{i}".encode()))
                for i in range(lo, hi)
            ],
            "target_uri string, warc_date string,"
            " http_content_type string, http_status int, payload binary",
        )

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_cdx(recs(0, 20), a, n_shards=2)                  # hash
    write_cdx(recs(20, 50), b, n_shards=3, layout="range")  # range
    out = str(tmp_path / "merged")
    n = merge_cdx_stores(spark, [a, b], out, n_shards=4)
    assert n == 50
    got = cdx_range_scan(spark, out, "").orderBy("url").collect()
    assert len(got) == 50
    assert sorted(r.url for r in got) == sorted(
        f"https://h{i % 5}.test/p{i}" for i in range(50)
    )
    bounds = read_cdx_ranges(out)
    for (s0, _l0, h0), (s1, l1, _h1) in zip(bounds, bounds[1:]):
        assert s0 < s1 and h0 <= l1  # still globally ordered
    # hash -> range migration: merge of ONE hash store
    mig = str(tmp_path / "migrated")
    assert merge_cdx_stores(spark, [a], mig, n_shards=2) == 20
    assert cdx_range_scan(spark, mig, "test,h1)").count() == 4
    # duplicate lines are KEPT (two crawls = two entries; documented)
    dup = str(tmp_path / "dup")
    assert merge_cdx_stores(spark, [a, a], dup, n_shards=2) == 40
    # missing/empty inputs are skipped; all-missing -> empty store
    empty = str(tmp_path / "empty")
    assert merge_cdx_stores(
        spark, [str(tmp_path / "nope")], empty, n_shards=2
    ) == 0
    assert cdx_range_scan(spark, empty, "test,").count() == 0


def test_cdx_range_scan_temporal_bounds(spark, tmp_path):
    """The wayback shape: prefix × inclusive ts14 interval. Bounds are
    string compares; a short ts_to pads with 9s (a month prefix means
    THROUGH that month's end, not up to its first instant)."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        cdx_range_scan,
        write_cdx,
    )

    recs = spark.createDataFrame(
        [
            ("https://t.test/p", f"2026-0{m}-15T12:00:00Z",
             "text/html", 200, bytearray(f"b{m}".encode()))
            for m in range(1, 7)
        ],
        "target_uri string, warc_date string, http_content_type string,"
        " http_status int, payload binary",
    )
    out = str(tmp_path / "cdx_t")
    write_cdx(recs, out, n_shards=2, layout="range")
    scan = lambda **kw: sorted(  # noqa: E731
        r.ts14
        for r in cdx_range_scan(spark, out, "test,t)", **kw).collect()
    )
    assert len(scan()) == 6
    # inclusive full-width bounds
    assert scan(ts_from="20260215120000", ts_to="20260415120000") == [
        "20260215120000", "20260315120000", "20260415120000",
    ]
    # short prefixes: ts_from floors, ts_to pads with 9s (month END)
    assert scan(ts_from="202603", ts_to="202605") == [
        "20260315120000", "20260415120000", "20260515120000",
    ]
    assert scan(ts_from="20270101000000") == []


def test_warc_fetch_serving_loop(spark, tmp_path):
    """The pywb loop over engine artifacts: write_warc (with .idx
    sidecars) → located CDX export (search axis ⋈ storage axis) →
    warc_fetch probes read exactly the probed pages' bytes back."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        parse_warc_idx,
        read_warc,
        warc_fetch,
        write_cdx,
        write_warc,
    )

    pages = spark.createDataFrame(
        [
            (i, f"<p>page {i}</p>",
             f"https://s.test/d/{i}.html", "2026-01-01T00:00:00Z")
            for i in range(30)
        ],
        "doc_id long, html string, target_uri string, warc_date string",
    )
    store = str(tmp_path / "warc")
    write_warc(pages, store, n_shards=2).collect()
    glob = store + "/*.warc.gz"
    located = read_warc(spark, glob).join(
        parse_warc_idx(spark, glob), ["file", "rec_pos"]
    )
    cdx = str(tmp_path / "cdx")
    write_cdx(located, cdx, n_shards=4, locate=True)
    urls = [f"https://s.test/d/{i}.html" for i in (3, 17)]
    got = warc_fetch(spark, cdx, urls, n_shards=4).orderBy(
        "target_uri"
    ).collect()
    assert [r.target_uri for r in got] == sorted(urls)
    assert [bytes(r.payload) for r in got] == [
        b"<p>page 17</p>", b"<p>page 3</p>",
    ]
    # a NON-located store cannot serve byte ranges: loud, not empty
    plain = str(tmp_path / "cdx_plain")
    write_cdx(located, plain, n_shards=4)
    with pytest.raises(ValueError, match="locate=True"):
        warc_fetch(spark, plain, urls, n_shards=4)
    # probing URLs the store never captured returns an empty relation
    assert warc_fetch(
        spark, cdx, ["https://s.test/d/999.html"], n_shards=4
    ).count() == 0


def test_cdx_range_scan_rejects_hash_store(spark, tmp_path):
    """Probing a HASH-layout store (shard dirs, no _RANGES manifest)
    with the range reader raises loudly instead of silently serving
    zero rows — 'no captures for this site' must never be an artifact
    of pointing the wrong reader at a store."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        cdx_range_scan,
        write_cdx,
    )

    recs = spark.createDataFrame(
        [("https://a.com/x", "2026-01-01T00:00:00Z", "text/html", 200,
          bytearray(b"x"))],
        "target_uri string, warc_date string, http_content_type string,"
        " http_status int, payload binary",
    )
    out = str(tmp_path / "cdx_hash")
    write_cdx(recs, out, n_shards=2)  # hash layout — no manifest
    with pytest.raises(ValueError, match="_RANGES"):
        cdx_range_scan(spark, out, "com,a)")
    # and an unknown layout is rejected at the writer
    with pytest.raises(ValueError, match="unknown layout"):
        write_cdx(recs, str(tmp_path / "x"), layout="zorder")


def test_covering_range_shards_property():
    """Property (hypothesis): for ANY partition of a sorted key set
    into contiguous shard ranges and ANY probe prefix, the covering
    set contains EVERY shard holding a matching key (no false
    negatives — pruning must never lose captures)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bb_bigdata_log_tools_spark.sources.warc import (
        covering_range_shards,
    )

    keys_st = st.lists(
        st.text(
            alphabet="abc,)/0123456789", min_size=1, max_size=12
        ),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=300, deadline=None)
    @given(keys=keys_st, n_shards=st.integers(1, 5), prefix=st.text(
        alphabet="abc,)/0123456789", min_size=0, max_size=6))
    def run(keys, n_shards, prefix):
        ks = sorted(set(keys))
        # contiguous shard ranges over the sorted keys
        per = max(1, -(-len(ks) // n_shards))
        bounds, assign = [], {}
        for s in range(n_shards):
            chunk = ks[s * per : (s + 1) * per]
            if not chunk:
                continue
            bounds.append((s, chunk[0], chunk[-1]))
            for k in chunk:
                assign[k] = s
        covered = set(covering_range_shards(bounds, prefix))
        holding = {assign[k] for k in ks if k.startswith(prefix)}
        assert holding <= covered  # NO false negatives, ever

    run()


def test_crawl_refresh_python_differential(spark):
    """crawl_refresh vs an independent pure-Python reference over a
    seeded random capture history (the robots_filter differential
    discipline): n/last/age/rate/priority all equal per URL."""
    import random

    from bb_bigdata_log_tools_spark.operators.curation import (
        crawl_refresh,
    )

    rng = random.Random(11)
    rows = []
    for u in range(40):
        url = f"https://h{u % 7}.test/p{u}"
        n = rng.randint(1, 5)
        dates = sorted(
            rng.sample(
                [f"2026-{m:02d}-{d:02d}" for m in range(3, 8)
                 for d in range(1, 28)],
                n,
            )
        )
        for i, dt in enumerate(dates):
            # ~half the urls mutate on some re-crawls
            dig = f"d{u}-{i}" if (u % 2 and rng.random() < 0.7) else f"d{u}"
            rows.append((url, dt, dig))
    got = {
        r.url: r
        for r in crawl_refresh(
            spark.createDataFrame(
                rows, "url string, capture_date string, digest string"
            ),
            now_date="2026-08-16",
        ).collect()
    }
    # pure-Python reference
    import datetime as dtm
    from collections import defaultdict

    hist = defaultdict(list)
    for url, dt, dig in rows:
        hist[url].append((dt, dig))
    assert set(got) == set(hist)
    for url, caps in hist.items():
        caps.sort()  # (date, digest) — the engine's window order
        n = len(caps)
        changes = sum(
            1 for a, b in zip(caps, caps[1:]) if a[1] != b[1]
        )
        last = max(c[0] for c in caps)
        age = (
            dtm.date(2026, 8, 16)
            - dtm.date(*map(int, last.split("-")))
        ).days
        rate = changes / (n - 1) if n > 1 else 0.0
        r = got[url]
        assert r.n_captures == n and r.last_capture == last
        assert r.age_days == age
        assert r.change_rate == pytest.approx(rate)
        assert r.refresh_priority == pytest.approx(age * (rate + 0.1))


def test_read_cdx_ranges_rejects_corrupt_manifest(tmp_path):
    """A malformed _RANGES line raises — a silently-skipped line would
    drop its shard from every covering-set decision (pruning false
    negatives = lost captures). Blank lines stay tolerated."""
    from bb_bigdata_log_tools_spark.sources.warc import (
        CDX_RANGES_FILE,
        read_cdx_ranges,
    )

    store = tmp_path / "store"
    store.mkdir()
    (store / CDX_RANGES_FILE).write_text(
        "0\tcom,a)/\tcom,m)/\n\n1\tcom,n)/\tcom,z)/\n"
    )
    assert read_cdx_ranges(str(store)) == [
        (0, "com,a)/", "com,m)/"),
        (1, "com,n)/", "com,z)/"),
    ]
    (store / CDX_RANGES_FILE).write_text(
        "0\tcom,a)/\tcom,m)/\n1\tcorrupt-no-tabs\n"
    )
    with pytest.raises(ValueError, match="malformed manifest line 2"):
        read_cdx_ranges(str(store))


def test_cdx_urlkey_twin_differential(spark):
    """cdx_urlkey (Spark Column algebra) vs cdx_urlkey_sql (DuckDB)
    over a seeded-random URL corpus — the transform now keys FIVE
    registry rows, so a twin drift here has the widest blast radius
    in the crawl tier. Covers: case, www., ports, queries (multi-param,
    empty values, duplicate keys), fragments, trailing slashes, root
    paths, deep subdomains, %-escapes, and plain garbage."""
    import random

    import duckdb

    from bb_bigdata_log_tools_spark.operators.curation import (
        cdx_urlkey,
        cdx_urlkey_sql,
    )

    rng = random.Random(1107)
    hosts = [
        "example.com", "www.Example.COM", "a.b.c.d.org", "x.io",
        "WWW.UPPER.NET", "host:8080", "single",
    ]
    paths = [
        "", "/", "/A/B", "/a/b/", "/p%20q", "/x.html", "//double",
        "/UPPER/Case/", "/.", "/..",
    ]
    queries = [
        "", "?b=2&a=1", "?z", "?a=&b=1", "?a=1&a=0", "?B=1&a=2",
        "?x=%41", "?empty=",
    ]
    frags = ["", "#frag", "#a/b?c=1"]
    urls = []
    for _ in range(120):
        urls.append(
            ("https" if rng.random() < 0.5 else "http")
            + "://" + rng.choice(hosts) + rng.choice(paths)
            + rng.choice(queries) + rng.choice(frags)
        )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [
        r.k
        for r in df.coalesce(1)
        .select(cdx_urlkey(F.col("url")).alias("k"))
        .collect()
    ]
    con = duckdb.connect()
    vals = ", ".join(f"('{u}')" for u in urls)
    want = [
        t[0]
        for t in con.execute(
            f"SELECT {cdx_urlkey_sql('url')} FROM (VALUES {vals}) t(url)"
        ).fetchall()
    ]
    assert got == want


# ------------------------------------------------------------------ gate replica


@pytest.mark.slow
def test_registry_round11_vs_duckdb(spark, sf_dir):
    """The three new keys against their DuckDB oracles at test SF —
    the driver-gate replica (the r10 pattern)."""
    import duckdb

    from bb_bigdata_log_tools_spark.registry import ORACLES, QUERIES
    from bb_bigdata_log_tools_spark.session import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    for key in (
        "cdx_range_scan", "robots_staleness", "crawl_refresh",
        "cdx_merge", "warc_fetch", "cdx_temporal", "fetch_timeline",
    ):
        got = QUERIES[key](spark, sf_dir).toPandas()
        want = con.execute(ORACLES[key]).fetchdf()
        assert list(got.columns) == list(want.columns), key
        assert len(got) == len(want), key
        # the gate compares rows as a multiset: order both sides alike
        keys = [c for c in got.columns if got[c].dtype.kind != "f"] or list(got.columns)
        got, want = (f.sort_values(keys, ignore_index=True) for f in (got, want))
        assert len(got) > 0, key
        for c in got.columns:
            gv, wv = list(got[c]), list(want[c])
            if got[c].dtype.kind == "f":
                # nan_ok: the never-fetched host's null age reads as
                # NaN through pandas on BOTH sides
                assert gv == pytest.approx(wv, nan_ok=True), (key, c)
            else:
                assert gv == wv, (key, c)
