"""Degenerate-input and parameter-guard tests (round-2 hardening):

- small_sort spills to a distributed range sort above its row guard;
- dedup_simhash derives its pigeonhole chunking from max_hamming
  (completeness for k > 3) and rejects out-of-range k;
- connected_components converges in O(log diameter) via pointer
  jumping and raises instead of returning silently-wrong labels;
- the n-gram Jaccard document-frequency cap drops boilerplate shingles
  identically to its oracle semantics;
- an all-identical corpus (maximal pair explosion) flows through the
  dedup pipeline without funneling through one task.
"""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.operators import dedup, util
from bb_bigdata_log_tools_spark.operators.util import small_sort

# heavy tier: excluded from the fast dev gate (pytest -m 'not slow');
# the FULL suite (no filter) is still the round/judge gate
pytestmark = __import__('pytest').mark.slow



def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_sort_spills_to_range_sort(spark, monkeypatch):
    # pmod scrambles the ordering so the sort can't be optimized away
    # (range output is ordered and localCheckpoint keeps that metadata)
    df = spark.range(1000).select(F.pmod(F.col("id") * 7919, F.lit(1000)).alias("k"))
    monkeypatch.setattr(util, "SMALL_SORT_SPILL_ROWS", 2000)
    small = small_sort(df, "k")
    assert "rangepartitioning" not in _plan(small).lower()
    monkeypatch.setattr(util, "SMALL_SORT_SPILL_ROWS", 10)
    spilled = small_sort(df, "k")
    assert "rangepartitioning" in _plan(spilled).lower()
    assert [r["k"] for r in spilled.collect()] == list(range(1000))
    assert [r["k"] for r in small.collect()] == list(range(1000))


def test_small_sort_counts_rows_during_checkpoint_job(spark):
    """The spill guard's row count is observed DURING the checkpoint
    job (Observation metrics fire on the eager checkpoint action) —
    small_sort must run exactly ONE job, not checkpoint + count."""
    sc = spark.sparkContext
    df = spark.range(1000).select(
        F.pmod(F.col("id") * 7919, F.lit(1000)).alias("k")
    ).localCheckpoint()  # isolate parent compute from the probe
    sc.setJobGroup("ss_probe", "small_sort job count")
    try:
        out = small_sort(df, "k")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("ss_probe")
    assert len(jobs) == 1, f"expected 1 job (checkpoint only), got {jobs}"
    assert [r["k"] for r in out.collect()] == list(range(1000))


def test_simhash_chunking_derived_from_k(spark):
    docs = spark.createDataFrame(
        [(i, f"tok{i} " * 3 + "shared words here and there plus filler") for i in range(24)],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    for k in (0, 3, 5):
        expected = sorted(
            (a, b)
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin(sigs[a] ^ sigs[b]).count("1") <= k
        )
        got = sorted(
            (r["doc_id1"], r["doc_id2"])
            for r in dedup.dedup_simhash(docs, max_hamming=k).collect()
        )
        assert got == expected, f"k={k}"


def test_simhash_rejects_out_of_range_k(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.dedup_simhash(docs, max_hamming=12)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.dedup_simhash(docs, max_hamming=-1)


def test_connected_components_long_chain_converges(spark):
    """A 64-node path graph has diameter 63: one-hop min propagation
    would need >25 rounds, pointer jumping needs ~log2(64)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_id1 long, doc_id2 long"
    )
    labels = dedup.connected_components(pairs, max_iter=10).collect()
    assert len(labels) == 64
    assert {r["cluster_id"] for r in labels} == {0}


def test_connected_components_raises_on_non_convergence(spark):
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_id1 long, doc_id2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_connected_components_empty_pairs_max_iter_1(spark):
    """An edge-free pair set is trivially converged — max_iter=1 must
    return empty labels, not raise (the folded round-1 init runs zero
    confirmation rounds; r13 regression guard)."""
    pairs = spark.createDataFrame([], "doc_id1 long, doc_id2 long")
    assert dedup.connected_components(pairs, max_iter=1).count() == 0


def test_connected_components_string_keys(spark):
    """String doc ids must propagate without relying on union type
    coercion (the fused self-row marker derives its null type from the
    label column; r13 regression guard)."""
    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b")], "doc_id1 string, doc_id2 string"
    )
    labels = dedup.connected_components(pairs, max_iter=10).collect()
    assert {r["doc_id"] for r in labels} == {"a", "b", "c"}
    assert {r["cluster_id"] for r in labels} == {"a"}


def test_dedup_pagerank_zero_iters_uniform(spark):
    """iters=0 returns the uniform 1/n initial ranks (the pre-r12
    behavior), not a crash."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here entirely unrelated")],
        "doc_id long, text string",
    )
    rows = dedup.dedup_pagerank(docs, iters=0).collect()
    assert rows, "participants expected"
    assert len({r["rank"] for r in rows}) == 1


def test_jaccard_max_df_drops_boilerplate(spark):
    """Docs sharing only a boilerplate phrase pair up without the cap
    and stop pairing once the cap drops the hot shingles."""
    boiler = "generated by exporter v1 all rights reserved"
    docs = spark.createDataFrame(
        [(i, f"unique{i} content{i} token{i} " + boiler) for i in range(10)],
        "doc_id long, text string",
    )
    uncapped = dedup.dedup_ngram_jaccard(docs, 3, 0.3, max_df=None).collect()
    assert len(uncapped) == 45  # all pairs share the boilerplate shingles
    capped = dedup.dedup_ngram_jaccard(docs, 3, 0.3, max_df=5).collect()
    assert capped == []  # boilerplate dropped; nothing else shared


def test_all_identical_corpus_pair_explosion(spark):
    """Worst case for 'small' pair outputs: n identical docs produce
    C(n,2) pairs with jaccard 1.0; the pipeline must complete and be
    exact (the small_sort guard decides the sort strategy internally)."""
    n = 60
    docs = spark.createDataFrame(
        [(i, "the exact same text repeated every time") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = dedup.dedup_ngram_jaccard(docs, 3, 0.9).collect()
    assert len(pairs) == n * (n - 1) // 2
    assert all(r["jaccard"] == 1.0 for r in pairs)
    clusters = dedup.dedup_cluster(docs).collect()
    assert len(clusters) == n
    assert {r["cluster_id"] for r in clusters} == {0}


# ---------------------------------------------------------------------------
# adversarial media payloads: truncated/garbage headers must fall back to
# the flagged stub (decoded=False) or a real parse — never raise.
# ---------------------------------------------------------------------------


def test_decode_payload_truncated_and_garbage_headers():
    from bb_bigdata_log_tools_spark.operators.multimodal import _decode_payload

    cases = [
        ("image", b""),                                   # empty
        ("image", b"\x89PNG\r\n\x1a\n"),                   # magic only
        ("image", b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHD"),# cut inside IHDR
        ("image", b"BM" + b"\x00" * 5),                    # BMP header cut
        ("image", b"\xff\xd8\xff"),                        # JPEG SOI only
        ("audio", b"RIFF\x10\x00\x00\x00WAV"),             # RIFF cut
        ("audio", b"ID3\x04\x00\x00\x00\x00\x00\x7f"),     # ID3 then nothing
        ("video", b"\x00\x00\x00\x08ftyp"),                # lone ftyp box
        ("video", b"\x00\x00\xff\xffmoov" + b"\x00" * 4),  # absurd box size
        ("audio", b"\x00" * 200),                          # zero garbage
    ]
    for mt, payload in cases:
        w, h, n, decoded = _decode_payload(mt, payload)
        assert decoded is False, (mt, payload[:12])
        assert n >= 1 or mt == "audio"
    # determinism of the stub fallback
    a = _decode_payload("video", b"\x00\x00\xff\xffmoov")
    b = _decode_payload("video", b"\x00\x00\xff\xffmoov")
    assert a == b


def test_decode_payload_unknown_type_raises():
    import pytest as _pytest

    from bb_bigdata_log_tools_spark.operators.multimodal import _decode_payload

    with _pytest.raises(NotImplementedError):
        _decode_payload("hologram", b"abc")


def test_bm25_unknown_terms_empty(spark, sf_dir):
    """A query of terms absent from the corpus returns an empty ranked
    list (no divide-by-zero in idf, no crash in the rank window)."""
    from bb_bigdata_log_tools_spark.operators.textprep import bm25_search
    from bb_bigdata_log_tools_spark.session import table

    docs = table(spark, sf_dir, "documents")
    out = bm25_search(docs, ["zzzznotaword", "qqqqmissing"], 5)
    assert out.count() == 0


def test_asof_join_no_right_events(spark, sf_dir):
    """Left events with a right type that never occurs: every row keeps
    null match columns instead of being dropped."""
    from bb_bigdata_log_tools_spark.operators.analytics import events_asof_join
    from bb_bigdata_log_tools_spark.session import table

    ev = table(spark, sf_dir, "events")
    out = events_asof_join(ev, left_type="error", right_type="nonexistent")
    rows = out.collect()
    n_errors = ev.filter("event_type = 'error'").count()
    assert len(rows) == n_errors
    assert all(r.matched_event_id is None for r in rows)


def test_table_profile_empty_and_nulls(spark):
    """Zero-row input yields one row per column (all-null min/max, zero
    counts); null values are counted, excluded from distincts, and do
    not poison avg_len."""
    from bb_bigdata_log_tools_spark.operators.datasetops import table_profile

    empty = spark.createDataFrame([], "a int, b string")
    rows = {r["column_name"]: r for r in table_profile(empty).collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["n_nulls"] == 0 and rows["a"]["n_distinct"] == 0
    assert rows["a"]["min_value"] is None

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (None, "y")], "a int, b string"
    )
    rows = {r["column_name"]: r for r in table_profile(df).collect()}
    assert rows["a"]["n_nulls"] == 1 and rows["a"]["n_distinct"] == 2
    assert rows["b"]["n_nulls"] == 1 and rows["b"]["min_value"] == "x"


def test_edit_distance_identical_and_empty(spark):
    """Identical texts in one block pair at distance 0; empty corpus
    and single-doc blocks produce no pairs."""
    from bb_bigdata_log_tools_spark.operators.dedup import dedup_edit_distance

    docs = spark.createDataFrame(
        [
            (1, "the same exact text here", 24),
            (2, "the same exact text here", 24),
            (3, "completely different words", 26),
        ],
        "doc_id long, text string, n_chars int",
    )
    pairs = dedup_edit_distance(docs, max_dist=2).collect()
    assert [(r.doc_id1, r.doc_id2, r.edit_dist) for r in pairs] == [(1, 2, 0)]
    assert dedup_edit_distance(docs.limit(0)).count() == 0
    # the adjacent-band completeness guarantee requires
    # len_band >= max_dist: a violating call must fail loudly, not
    # silently lose pairs that span two length bands
    with pytest.raises(ValueError, match="len_band >= max_dist"):
        dedup_edit_distance(docs, max_dist=8, len_band=4)


def test_compaction_plan_oversized_target(spark, sf_dir):
    """A target larger than the whole corpus collapses to one group
    covering every hour."""
    from bb_bigdata_log_tools_spark.operators.datasetops import compaction_plan
    from bb_bigdata_log_tools_spark.session import table

    ev = table(spark, sf_dir, "events")
    plan = compaction_plan(ev, target_bytes=10**12).collect()
    assert len(plan) == 1
    n_hours = ev.select(F.date_trunc("hour", "ts")).distinct().count()
    assert plan[0]["n_parts"] == n_hours


def test_zorder_layout_degenerate_dims(spark):
    """A single-user, single-hour corpus (zero span in both dims) must
    not divide by zero — everything lands in bucket 0."""
    from bb_bigdata_log_tools_spark.operators.datasetops import zorder_layout
    import datetime

    ts = datetime.datetime(2024, 1, 1, 12, 30)
    ev = spark.createDataFrame(
        [(7, ts), (7, ts), (7, ts)], "user_id long, ts timestamp"
    )
    out = zorder_layout(ev, n_buckets=16).collect()
    assert len(out) == 1 and out[0]["z_bucket"] == 0 and out[0]["n_rows"] == 3


def test_path_transitions_single_event_users(spark):
    """Users with one event contribute no transitions; an empty
    transition relation is a valid (empty) result."""
    from bb_bigdata_log_tools_spark.operators.datasetops import (
        events_path_transitions,
    )
    import datetime

    t = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, t, 10, "a"), (2, t, 11, "b")],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    assert events_path_transitions(ev).count() == 0


def test_edit_distance_block_cap(spark):
    """A block over max_block is dropped before the self-join (the
    C(B,2) fan-out guard); smaller blocks still pair."""
    from bb_bigdata_log_tools_spark.operators.dedup import dedup_edit_distance

    rows = [(i, "aaaa bbbb cccc dddd xyz", 23) for i in range(10)]
    rows += [(100, "zzzz yyyy xxxx wwww vvv", 23), (101, "zzzz yyyy xxxx wwww vvv", 23)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars int")
    out = dedup_edit_distance(docs, max_dist=2, max_block=5).collect()
    # the 10-doc block is dropped; the 2-doc block survives
    assert [(r.doc_id1, r.doc_id2) for r in out] == [(100, 101)]
    uncapped = dedup_edit_distance(docs, max_dist=2, max_block=None)
    assert uncapped.count() == 45 + 1


def test_round5_ops_on_degenerate_corpora(spark):
    """Every round-5 operator must return an EMPTY (or well-formed
    trivial) result on an empty corpus and on a single-row corpus —
    never raise (the dedup_pagerank ZeroDivision class)."""
    from bb_bigdata_log_tools_spark.operators import curation, datasetops, textqc
    from bb_bigdata_log_tools_spark.operators.dedup import dedup_substring
    from bb_bigdata_log_tools_spark.operators.textprep import (
        near_template_clusters,
        tfidf_cosine_pairs,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    one = spark.createDataFrame(
        [(1, "just one tiny document here", "en", "s", 27)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    for df, label in [(empty, "empty"), (one, "one")]:
        assert dedup_substring(df, 5, 8, 100).count() == 0, label
        assert tfidf_cosine_pairs(df).count() == 0, label
        assert near_template_clusters(df).count() == 0, label
        n = textqc.text_entropy(df).count()
        assert n == (0 if label == "empty" else 1), label
        assert curation.sample_reservoir(df, 10).count() == (
            0 if label == "empty" else 1
        ), label
        assert curation.bigram_perplexity(df).count() == (
            0 if label == "empty" else 1
        ), label
        assert textqc.token_fertility_by_lang(df).count() == (
            0 if label == "empty" else 1
        ), label
        assert datasetops.grouped_topk(df, "source", "n_chars", "doc_id", 3).count() == (
            0 if label == "empty" else 1
        ), label
    # zipf fit needs >= 2 distinct x to have variance; empty/one-doc must
    # not crash (NULL/NaN fits are acceptable, a throw is not)
    textqc.vocab_zipf_fit(empty).collect()
    textqc.vocab_zipf_fit(one).collect()


def test_round5_event_ops_on_degenerate_events(spark):
    from bb_bigdata_log_tools_spark.operators.analytics import (
        events_cohort_matrix,
        events_user_lifespan,
        events_value_ntile_histogram,
    )

    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert events_cohort_matrix(empty).count() == 0
    assert events_user_lifespan(empty).count() == 0
    assert events_value_ntile_histogram(empty).count() == 0
    one = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7, "click", 1.5)],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    m = events_cohort_matrix(one).collect()
    assert len(m) == 1 and m[0].n_users == 1 and m[0].week_offset == 0
    assert events_user_lifespan(one).collect()[0].lifespan_days == 0
    # fewer rows than tiles: every row still lands in exactly one tile
    h = events_value_ntile_histogram(one, tiles=10).collect()
    assert len(h) == 1 and h[0].n == 1


def test_suffix_array_df_cap_drops_boilerplate_grams(spark):
    """A gram occurring in every doc beyond max_df must not produce
    pairs by itself (the fan-out guard), while a genuinely shared rare
    span still surfaces."""
    from bb_bigdata_log_tools_spark.operators.dedup import dedup_substring

    boiler = "boilerplate-footer-everywhere"
    docs = [(i, f"doc {i} unique words " + boiler) for i in range(20)]
    docs += [(100, "rare shared span alpha beta"), (101, "xx rare shared span alpha beta yy")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup_substring(df, gram_len=10, min_len=15, max_df=5).collect()
    pairs = {(r.doc_id1, r.doc_id2) for r in out}
    assert (100, 101) in pairs
    assert all(p == (100, 101) for p in pairs), pairs
