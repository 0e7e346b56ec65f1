"""Property-based tests (hypothesis): timestamp round-trips, minhash
Jaccard estimation, boom container round-trips."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from bb_bigdata_log_tools_spark.sources.boom import (
    flatten_log_blocks,
    read_container,
    write_boom_local,
)

# millis in [2000-01-01, 2035-01-01)
TS_MS = st.integers(min_value=946684800000, max_value=2051222400000)

# Lines carrying the search terms of the reference's logsearch test
# script (unicode, case variants, the match_all pairs), so the golden
# pushdown cases run without the reference test data.
GOLDEN_CORPUS = [
    (1330423200000 + 997 * i, msg, i)
    for i, msg in enumerate([
        "This is a test message with ä inside",
        "Ä upper-case umlaut line",
        "la fenêtre est ouverte",
        "LA FENÊTRE EST FERMÉE",
        "человек идёт",
        "ЧЕЛОВЕК СТОИТ",
        "shebang #!A in upper case",
        "shebang #!a in lower case",
        "this line has mixed Case",
        "line without the other word",
        "it contains Greek αβγδε",
        "contains nothing else",
        "greek in lower case only",
    ])
]

# Lines whose case folding differs between upper() and lower(): ß
# upper-cases to SS, ſ to S, while U+0130 (İ) and U+212A (KELVIN SIGN)
# lower-case to ASCII i and k.
FOLDING_CORPUS = [
    (1330423200000 + 997 * i, msg, i)
    for i, msg in enumerate([
        "Straße gesperrt",
        "strasse offen",
        "ſtraſſe alt",
        "İstanbul hub",
        "ISTANBUL HUB",
        "cooled to 4 \u212a",
        "plain line",
    ])
]

MESSAGES = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\r\n"),
    min_size=0,
    max_size=200,
)


@settings(max_examples=200, deadline=None)
@given(TS_MS)
def test_rfc5424_python_format_parse_roundtrip(ms):
    """The formatter/parser pair must be inverse on the ms domain —
    checked via the same strftime contract the Spark exprs implement."""
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
    s = dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms % 1000:03d}+00:00"
    parsed = datetime.strptime(s[:23] + "+0000", "%Y-%m-%dT%H:%M:%S.%f%z")
    back = int(parsed.timestamp()) * 1000 + parsed.microsecond // 1000
    assert back == ms


@settings(max_examples=50, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(TS_MS, MESSAGES, st.integers(min_value=0, max_value=2**31 - 1)),
        min_size=1,
        max_size=50,
    )
)
def test_boom_roundtrip_random_lines(tmp_path_factory_lines):
    lines = tmp_path_factory_lines
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "x.bm")
        write_boom_local(path, lines)
        with open(path, "rb") as f:
            back = [
                (r[0], r[1], r[2])
                for r in flatten_log_blocks(read_container(f.read()))
            ]
    assert sorted(back) == sorted(lines)


def test_minhash_estimates_jaccard(spark):
    """Minhash signature agreement rate ≈ true Jaccard (64 perms →
    σ≈0.06; assert within 0.25)."""
    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.operators.dedup import (
        doc_shingle_hashes,
        minhash_signature_relational,
        word_shingles,
    )

    base = ["w%d" % i for i in range(40)]
    docs = []
    # doc pairs with controlled overlap: doc 2k vs 2k+1 share `ov` words
    for k, ov in enumerate([40, 30, 20, 10, 0]):
        a = base
        b = base[:ov] + ["x%d_%d" % (k, i) for i in range(40 - ov)]
        docs.append((2 * k, " ".join(a)))
        docs.append((2 * k + 1, " ".join(b)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = doc_shingle_hashes(df, 1)  # unigram shingles → exact expected J
    sig = minhash_signature_relational(sh, 64).collect()
    by_id = {r["doc_id"]: [r[f"m{i}"] for i in range(64)] for r in sig}
    for k, ov in enumerate([40, 30, 20, 10, 0]):
        a, b = by_id[2 * k], by_id[2 * k + 1]
        est = sum(1 for x, y in zip(a, b) if x == y) / 64
        true_j = ov / (80 - ov)
        assert abs(est - true_j) < 0.25, (k, est, true_j)


def test_simhash_hamming_monotone(spark):
    """More-similar docs must not have larger simhash Hamming distance
    than very-dissimilar ones (on controlled corpora)."""
    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.operators.dedup import simhash64

    base = ["tok%d" % i for i in range(60)]
    near = base[:55] + ["alt%d" % i for i in range(5)]
    far = ["other%d" % i for i in range(60)]
    df = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(near)), (2, " ".join(far))],
        ["doc_id", "text"],
    )
    h = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    near_d = bin(h[0] ^ h[1]).count("1")
    far_d = bin(h[0] ^ h[2]).count("1")
    assert near_d < far_d, (near_d, far_d)


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, D~E must yield clusters {A,B,C}->A and {D,E}->D even
    though A~C was never an emitted pair."""
    from bb_bigdata_log_tools_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (3, 4), (20, 21), (21, 22), (22, 23)],
        "doc_id1 long, doc_id2 long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


# ---------------------------------------------------------------------------
# media header parsers: arbitrary bytes must never crash, and real
# payloads with arbitrary junk appended must still parse the header
# ---------------------------------------------------------------------------

JUNK = st.binary(min_size=0, max_size=400)


@settings(max_examples=300, deadline=None)
@given(JUNK)
def test_media_parsers_never_crash_on_junk(payload):
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        parse_image_dimensions,
        parse_mp3_meta,
        parse_mp4_meta,
        parse_wav_meta,
    )

    for fn in (parse_image_dimensions, parse_wav_meta, parse_mp3_meta,
               parse_mp4_meta):
        out = fn(payload)
        assert out is None or isinstance(out, tuple)


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=4000),
    st.integers(min_value=1, max_value=4000),
    JUNK,
)
def test_image_headers_parse_with_trailing_junk(w, h, junk):
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        make_bmp_header,
        make_gif_header,
        make_png,
        parse_image_dimensions,
    )

    assert parse_image_dimensions(make_png(min(w, 64), min(h, 64)) + junk)[1:] == (
        min(w, 64), min(h, 64),
    )
    assert parse_image_dimensions(make_gif_header(w, h) + junk) == ("gif", w, h)
    assert parse_image_dimensions(make_bmp_header(w, h) + junk) == ("bmp", w, h)


@settings(max_examples=60, deadline=None)
@given(
    st.sampled_from([44100, 48000, 32000]),
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=1, max_value=40),
)
def test_mp3_frame_walk_roundtrip_property(rate, channels, frames):
    from bb_bigdata_log_tools_spark.operators.multimodal import (
        make_mp3,
        parse_mp3_meta,
    )

    assert parse_mp3_meta(make_mp3(rate, channels, frames)) == (
        rate, channels, frames * 1152,
    )


@given(
    st.lists(st.integers(min_value=0, max_value=10**12), min_size=1,
             max_size=60, unique=True),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_shuffle_shards_pure_hash_properties(ids, n_shards):
    """The shard/pos-key functions are pure md5 algebra — verify the
    permutation/determinism contract in plain Python against the same
    formulas the Spark plan and the DuckDB oracle embed."""
    import hashlib

    def md5_long(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    shards = {i: md5_long(f"shard:{i}") % n_shards for i in ids}
    pos = {i: md5_long(f"pos:{i}") for i in ids}
    assert all(0 <= s < n_shards for s in shards.values())
    # independence: the pos draw never depends on the shard draw
    assert len(set(pos.values())) == len(ids)  # 60-bit: collisions ~0
    # determinism
    assert shards == {i: md5_long(f"shard:{i}") % n_shards for i in ids}


@given(st.lists(st.tuples(st.text(alphabet="ab", min_size=1, max_size=4),
                          st.integers(0, 10**9)),
                min_size=1, max_size=50))
@settings(max_examples=20, deadline=None)
def test_split_assign_formula_subset_invariance(rows):
    """Removing documents never changes any remaining document's
    split — the pure-hash form of the operator's contract."""
    import hashlib

    def bucket(src, did):
        h = hashlib.md5(f"split:{src}:{did}".encode()).hexdigest()[:15]
        return int(h, 16) % 1_000_000

    def split(src, did):
        b = bucket(src, did)
        return "val" if b < 50_000 else ("test" if b < 100_000 else "train")

    full = {(s, d): split(s, d) for s, d in rows}
    half = {(s, d): split(s, d) for s, d in rows[::2]}
    for k, v in half.items():
        assert full[k] == v


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(TS_MS, MESSAGES, st.integers(min_value=0, max_value=2**31 - 1)),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=64, max_value=4096),
    st.lists(st.text(min_size=1, max_size=6), min_size=1, max_size=3),
    st.booleans(),
    st.booleans(),
)
def test_sync_split_partition_invariance(lines, split, terms, match_all, ci):
    """For ANY random line set and ANY split size, the union of ranged
    decodes equals the whole-file decode — the sync/pastSync ownership
    rule leaves no block unread and reads none twice (false-sync
    candidates in compressed payloads included) — and the union of
    ranged pushed searches equals ``scan_boom_bytes``."""
    import os
    import tempfile

    from bb_bigdata_log_tools_spark.sources.boom import (
        read_boom_local,
        scan_boom_bytes,
        scan_boom_range,
        write_boom_local,
    )

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "f.bm")
        write_boom_local(path, lines)
        want = sorted(read_boom_local(path))
        size = os.path.getsize(path)
        got = []
        pushed = []
        start = 0
        while start < size:
            end = min(start + split, size)
            got.extend(scan_boom_range(path, start, end))
            pushed.extend(scan_boom_range(path, start, end, terms, match_all, ci))
            start += split
        assert sorted(got) == want
        with open(path, "rb") as f:
            data = f.read()
        assert sorted(pushed) == sorted(scan_boom_bytes(data, terms, match_all, ci))


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(TS_MS, MESSAGES, st.integers(min_value=0, max_value=2**31 - 1)),
        min_size=1,
        max_size=60,
    ),
    st.lists(st.text(min_size=1, max_size=6), min_size=1, max_size=3),
    st.booleans(),
    st.booleans(),
)
@example(GOLDEN_CORPUS, ["ä"], False, True)
@example(GOLDEN_CORPUS, ["fenêtre"], False, False)
@example(GOLDEN_CORPUS, ["ЧЕЛовЕК"], False, True)
@example(GOLDEN_CORPUS, ["#!a"], False, True)
@example(GOLDEN_CORPUS, ["line", "case"], True, False)
@example(GOLDEN_CORPUS, ["contains", "Greek"], False, False)
@example(GOLDEN_CORPUS, ["nosuchterm"], False, False)
@example(FOLDING_CORPUS, ["SS"], False, True)
@example(FOLDING_CORPUS, ["ſ", "S"], True, True)
@example(FOLDING_CORPUS, ["i"], False, True)
@example(FOLDING_CORPUS, ["K"], False, True)
def test_pushdown_scan_equals_filter_random(lines, terms, match_all, ci):
    """scan_boom_bytes == read-then-filter for ANY corpus, ANY terms,
    both match modes, both case modes (incl. unicode fallback). The
    case-insensitive oracle lower-cases both sides, as Spark's lower()
    does in logops."""
    import os
    import tempfile

    from bb_bigdata_log_tools_spark.sources.boom import (
        read_boom_local,
        scan_boom_bytes,
        write_boom_local,
    )

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "f.bm")
        write_boom_local(path, lines)
        rows = read_boom_local(path)
        with open(path, "rb") as f:
            data = f.read()
        agg = all if match_all else any
        want = sorted(
            r for r in rows
            if agg(
                (t.lower() in r[1].lower()) if ci else (t in r[1])
                for t in terms
            )
        )
        got = sorted(
            scan_boom_bytes(data, terms, match_all=match_all, case_insensitive=ci)
        )
        assert got == want


#: Characters whose case folding is special (İ, KELVIN SIGN, ß, ẞ, final
#: sigma) among plain ones, so random terms often match.
FOLDING_CHARS = "İiIı\u212akKßẞsSΣσςÉéÈCcH- x"


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=4_999),
                  st.text(alphabet=FOLDING_CHARS, max_size=12),
                  st.integers(min_value=0, max_value=9)),
        min_size=1,
        max_size=30,
    ),
    st.lists(st.text(alphabet=FOLDING_CHARS, min_size=1, max_size=3), min_size=1, max_size=3),
    st.booleans(),
)
@example([(0, "İstanbul", 0)], ["İs"], False)
@example([(0, "cooled to 4 \u212a", 0)], ["\u212a"], False)
@example([(0, "cooled to 4 \u212a", 0)], ["k"], False)
@example([(0, "Straße", 0)], ["STRAẞE"], False)
# the next line's ms varint, 50 -> b"d", makes Σ non-final in the payload
@example([(0, "ΟΔΟΣ", 0), (50, "x", 1)], ["ΟΣ"], False)
@example([(0, "disk ÉCHEC-DISQUE", 0)], ["échec-disque", "disk"], True)
def test_case_insensitive_prefilter_keeps_matching_blocks(lines, terms, match_all):
    """The case-insensitive block prefilter never rejects a block that
    holds a line the exact line test accepts, for any terms, ASCII or
    not."""
    import tempfile

    from bb_bigdata_log_tools_spark.sources.boom import (
        _Decoder,
        _matcher,
        inflate,
        iter_blocks,
    )

    block_ok, line_ok = _matcher(terms, match_all, True)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "f.bm")
        write_boom_local(path, lines)
        with open(path, "rb") as f:
            data = f.read()
    for schema, codec, count, raw in iter_blocks(data):
        payload = inflate(codec, raw)
        dec = _Decoder(payload)
        records = [dec.decode(schema) for _ in range(count)]
        if any(line_ok(ts, msg) for ts, msg, *_ in flatten_log_blocks(records)):
            assert block_ok is None or block_ok(payload), (terms, records)


# Lines at 10.5 s, 11.1 s and 12.9 s: a window edge inside a second must
# cut between lines of that second, not at the second's start.
SUB_SECOND_LINES = [(10_500, "line a", 0), (11_100, "line b", 1), (12_900, "line c", 2)]
WINDOW_MS = st.one_of(st.none(), st.integers(min_value=9_500, max_value=15_500))


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=10_000, max_value=14_999),
            st.sampled_from(["line a", "LINE b", "other", "a line"]),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=40,
    ),
    WINDOW_MS,
    WINDOW_MS,
    st.lists(st.sampled_from(["line", "a", "LINE", "b"]), min_size=1, max_size=2),
    st.booleans(),
    st.booleans(),
)
@example(SUB_SECOND_LINES, 10_200, 12_000, ["line"], False, False)
@example(SUB_SECOND_LINES, 10_200, 12_500, ["line"], False, False)
def test_scan_window_equals_spark_filter(
    spark, lines, start_ms, end_ms, terms, match_all, ci
):
    """scan_boom_bytes with a window equals the Spark ``_time_window``
    plus ``multisearch`` filter over the whole-file decode: each line's
    ts is bounded to ``[start_ms, end_ms)``, whatever second it is in."""
    import tempfile

    from bb_bigdata_log_tools_spark.operators import logops
    from bb_bigdata_log_tools_spark.schema import LOG_SCHEMA
    from bb_bigdata_log_tools_spark.sources.boom import read_boom_local, scan_boom_bytes

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "f.bm")
        write_boom_local(path, lines)
        with open(path, "rb") as f:
            data = f.read()
        rows = read_boom_local(path)
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    want = logops.multisearch(df, terms, start_ms, end_ms, ci, match_all)
    got = scan_boom_bytes(data, terms, match_all, ci, start_ms, end_ms)
    assert sorted(got) == sorted(tuple(r) for r in want.collect())


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefgh0123456789", min_size=1, max_size=10),
            st.sampled_from(["txt", "json", "bin.x"]),
            st.binary(min_size=0, max_size=200),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_webdataset_local_roundtrip_random(members):
    """write_webdataset_local → tar parse recovers every member with
    identical key/ext/payload (first-dot split rule included)."""
    import io
    import os
    import tarfile
    import tempfile

    # de-dupe (key, ext) collisions — tar members must be unique
    seen = set()
    uniq = []
    for k, e, p in members:
        if (k, e) not in seen:
            seen.add((k, e))
            uniq.append((k, e, p))
    with tempfile.TemporaryDirectory() as d:
        from bb_bigdata_log_tools_spark.sources.webdataset import (
            write_webdataset_local,
        )

        paths = write_webdataset_local(uniq, d, shard_size=7)
        got = []
        for path in paths:
            with tarfile.open(path) as tf:
                for m in tf:
                    if not m.isreg():
                        continue
                    base = os.path.basename(m.name)
                    key, dot, ext = base.partition(".")
                    got.append((key, ext if dot else "", tf.extractfile(m).read()))
        assert sorted(got) == sorted(uniq)
