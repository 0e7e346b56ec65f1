"""Registry part 9: dataset-layout / reporting queries — training-shard
shuffling, per-source dataset statistics, domain-blocklist filtering,
cohort retention, and SemDeDup-style semantic dedup."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.operators import analytics, datasetops, similarity
from bb_bigdata_log_tools_spark.operators.curation import (
    URL_DOMAIN_PATTERN,
    URL_PATTERN,
)
from bb_bigdata_log_tools_spark.registry_curation import (
    _INJECT_URL_SQL,
    _inject_urls,
)
from bb_bigdata_log_tools_spark.session import ensure_parallelism, table

N_SHARDS = 16

_MD5_BUCKET = (
    "(('0x' || substring(md5('{salt}:' || CAST(doc_id AS VARCHAR)), 1, 15))"
    "::BIGINT)"
)


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datasetops.shuffle_shards(
        table(spark, sf_dir, "documents"), N_SHARDS
    )


SQL_SHUFFLE_SHARDS = f"""
WITH s AS (
  SELECT doc_id,
         CAST({_MD5_BUCKET.format(salt='shard')} % {N_SHARDS} AS INTEGER)
           AS shard,
         {_MD5_BUCKET.format(salt='pos')} AS pos_key
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY pos_key, doc_id)
            AS INTEGER) AS shard_pos
FROM s
ORDER BY shard, shard_pos
"""


def q_dataset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datasetops.dataset_stats(table(spark, sf_dir, "documents"))


SQL_DATASET_STATS = """
WITH t AS (
  SELECT source, lang, n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS doc_tokens
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(doc_tokens) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       round(avg(n_chars), 2) AS mean_chars,
       round(quantile_cont(n_chars, 0.5), 2) AS median_chars,
       max(n_chars) AS max_chars
FROM t GROUP BY source ORDER BY source
"""


BLOCKLIST = ["cdn1.net", "site2.example.com"]


def q_filter_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _inject_urls(table(spark, sf_dir, "documents"))
    return (
        datasetops.filter_blocklist(docs, BLOCKLIST, text_col="text2")
        .select("doc_id", "source", "n_urls")
    )


SQL_FILTER_BLOCKLIST = f"""
WITH aug AS (
  SELECT doc_id, source, {_INJECT_URL_SQL} AS text2 FROM documents
), u AS (
  SELECT doc_id, source,
         regexp_extract_all(text2, '{URL_PATTERN}') AS urls
  FROM aug
), e AS (
  SELECT doc_id, source, CAST(len(urls) AS INTEGER) AS n_urls,
         list_transform(urls,
           x -> lower(regexp_extract(x, '{URL_DOMAIN_PATTERN}', 1))) AS domains
  FROM u
)
SELECT doc_id, source, n_urls
FROM e
WHERE NOT list_has_any(domains,
      [{", ".join("'" + d + "'" for d in BLOCKLIST)}])
ORDER BY doc_id
"""


RETENTION_MAX_OFFSET = 14


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_retention(
        ensure_parallelism(table(spark, sf_dir, "events")), RETENTION_MAX_OFFSET
    )


SQL_EVENTS_RETENTION = f"""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), fact AS (
  SELECT user_id, day,
         min(day) OVER (PARTITION BY user_id) AS cohort_day
  FROM days
), cells AS (
  SELECT cohort_day,
         CAST(date_diff('day', cohort_day, day) AS INTEGER) AS day_offset,
         CAST(count(*) AS BIGINT) AS n_active
  FROM fact
  WHERE date_diff('day', cohort_day, day) <= {RETENTION_MAX_OFFSET}
  GROUP BY 1, 2
), sizes AS (
  SELECT cohort_day, n_active AS cohort_size FROM cells WHERE day_offset = 0
)
SELECT c.cohort_day, c.day_offset, c.n_active, s.cohort_size,
       round(c.n_active * 1.0 / s.cohort_size, 4) AS retention
FROM cells c JOIN sizes s USING (cohort_day)
ORDER BY cohort_day, day_offset
"""


SEMDEDUP = dict(threshold=0.3, n_cells=8, dim=64)

_COS = (
    "list_dot_product({a}, {b}) / sqrt(list_dot_product({a}, {a}))"
    " / sqrt(list_dot_product({b}, {b}))"
)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = ensure_parallelism(table(spark, sf_dir, "embeddings"))
    return similarity.semdedup(emb, **SEMDEDUP)


SQL_SEMDEDUP = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cen AS (SELECT vec_id AS c_id, emb AS c_emb FROM e
        WHERE vec_id < {SEMDEDUP['n_cells']}),
assign AS (
  SELECT e.vec_id, cen.c_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           {_COS.format(a='e.emb', b='cen.c_emb')} DESC, cen.c_id) AS rnk
  FROM e CROSS JOIN cen
),
cells AS (SELECT vec_id, c_id AS cell FROM assign WHERE rnk = 1),
pairs AS (
  SELECT cb.vec_id AS vec_id, ca.cell AS cell, ca.vec_id AS neighbor,
         round({_COS.format(a='ae.emb', b='be.emb')}, 4) AS cos_sim
  FROM cells ca
  JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
  JOIN e ae ON ae.vec_id = ca.vec_id
  JOIN e be ON be.vec_id = cb.vec_id
)
SELECT vec_id, cell, min(neighbor) AS dup_of,
       round(max(cos_sim), 4) AS max_cos
FROM pairs WHERE cos_sim >= {SEMDEDUP['threshold']}
GROUP BY vec_id, cell
ORDER BY vec_id
"""


DATASETOPS_QUERIES = {
    "shuffle_shards": q_shuffle_shards,
    "dataset_stats": q_dataset_stats,
    "filter_blocklist": q_filter_blocklist,
    "events_retention": q_events_retention,
    "semdedup": q_semdedup,
}

DATASETOPS_ORACLES = {
    "shuffle_shards": SQL_SHUFFLE_SHARDS,
    "dataset_stats": SQL_DATASET_STATS,
    "filter_blocklist": SQL_FILTER_BLOCKLIST,
    "events_retention": SQL_EVENTS_RETENTION,
    "semdedup": SQL_SEMDEDUP,
}


# --------------------------------------------------------------------------
# as-of join, multi-grain rollup, k-means
# --------------------------------------------------------------------------

ASOF_LEFT, ASOF_RIGHT = "error", "click"


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_asof_join(
        ensure_parallelism(table(spark, sf_dir, "events")), ASOF_LEFT, ASOF_RIGHT
    )


SQL_EVENTS_ASOF_JOIN = f"""
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = '{ASOF_LEFT}'),
r AS (SELECT event_id, user_id, ts FROM events
      WHERE event_type = '{ASOF_RIGHT}')
SELECT l.event_id, l.user_id, l.ts,
       m.event_id AS matched_event_id, m.ts AS matched_ts,
       epoch_us(l.ts) - epoch_us(m.ts) AS lag_us
FROM l LEFT JOIN LATERAL (
  SELECT r2.event_id, r2.ts FROM r r2
  WHERE r2.user_id = l.user_id AND r2.ts <= l.ts
  ORDER BY r2.ts DESC, r2.event_id DESC LIMIT 1
) m ON TRUE
ORDER BY l.event_id
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.time_rollup(
        ensure_parallelism(table(spark, sf_dir, "events"))
    )


SQL_TIME_ROLLUP = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS bucket_start,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 2) AS total_value
  FROM events GROUP BY 1
), daily AS (
  SELECT date_trunc('day', bucket_start) AS bucket_start,
         CAST(sum(n_events) AS BIGINT) AS n_events,
         round(sum(total_value), 2) AS total_value
  FROM hourly GROUP BY 1
), weekly AS (
  SELECT date_trunc('week', bucket_start) AS bucket_start,
         CAST(sum(n_events) AS BIGINT) AS n_events,
         round(sum(total_value), 2) AS total_value
  FROM daily GROUP BY 1
)
SELECT 'hour' AS grain, * FROM hourly
UNION ALL SELECT 'day' AS grain, * FROM daily
UNION ALL SELECT 'week' AS grain, * FROM weekly
ORDER BY grain, bucket_start
"""


KMEANS = dict(k=8, iters=2, dim=64)


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = ensure_parallelism(table(spark, sf_dir, "embeddings"))
    return similarity.kmeans_embeddings(emb, **KMEANS)


SQL_KMEANS_EMBEDDINGS = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
c0 AS (SELECT vec_id AS cluster, emb AS cent FROM e
       WHERE vec_id < {KMEANS['k']}),
a0 AS (
  SELECT e.vec_id, c0.cluster,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           {_COS.format(a='e.emb', b='c0.cent')} DESC, c0.cluster) AS rnk
  FROM e CROSS JOIN c0
),
m0 AS (SELECT vec_id, cluster FROM a0 WHERE rnk = 1),
c1 AS (
  SELECT cluster, list(avg_x ORDER BY i) AS cent FROM (
    SELECT m0.cluster AS cluster, d.i AS i, avg(e.emb[d.i]) AS avg_x
    FROM m0 JOIN e ON e.vec_id = m0.vec_id
    CROSS JOIN generate_series(1, {KMEANS['dim']}) AS d(i)
    GROUP BY 1, 2
  ) GROUP BY cluster
),
a1 AS (
  SELECT e.vec_id, c1.cluster,
         {_COS.format(a='e.emb', b='c1.cent')} AS sim,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           {_COS.format(a='e.emb', b='c1.cent')} DESC, c1.cluster) AS rnk
  FROM e CROSS JOIN c1
)
SELECT vec_id, cluster, round(sim, 4) AS cos_sim
FROM a1 WHERE rnk = 1
ORDER BY vec_id
"""


DATASETOPS_QUERIES.update(
    {
        "events_asof_join": q_events_asof_join,
        "time_rollup": q_time_rollup,
        "kmeans_embeddings": q_kmeans_embeddings,
    }
)

DATASETOPS_ORACLES.update(
    {
        "events_asof_join": SQL_EVENTS_ASOF_JOIN,
        "time_rollup": SQL_TIME_ROLLUP,
        "kmeans_embeddings": SQL_KMEANS_EMBEDDINGS,
    }
)


HIST_BIN = 20


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datasetops.length_histogram(
        table(spark, sf_dir, "documents"), bin_width=HIST_BIN
    )


SQL_LENGTH_HISTOGRAM = f"""
WITH t AS (
  SELECT CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              // {HIST_BIN} * {HIST_BIN} AS BIGINT) AS bin_start
  FROM documents
), h AS (
  SELECT bin_start, CAST(count(*) AS BIGINT) AS n_docs FROM t GROUP BY 1
), tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM h)
SELECT bin_start, n_docs, round(n_docs * 1.0 / total, 4) AS share
FROM h CROSS JOIN tot
ORDER BY bin_start
"""


DATASETOPS_QUERIES["length_histogram"] = q_length_histogram
DATASETOPS_ORACLES["length_histogram"] = SQL_LENGTH_HISTOGRAM


# --------------------------------------------------------------------------
# ANN recall evaluation (composes the brute-force and LSH oracles)
# --------------------------------------------------------------------------

RECALL_K = 10


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = ensure_parallelism(table(spark, sf_dir, "embeddings"))
    return similarity.ann_recall_eval(emb, n_queries=20, k=RECALL_K, n_planes=4)


def _recall_oracle() -> str:
    from bb_bigdata_log_tools_spark.registry_misc import SQL_ANN_LSH_BUCKETED
    from bb_bigdata_log_tools_spark.registry_pipeline import (
        SQL_ANN_TOPK_BRUTEFORCE,
    )

    return f"""
WITH exact AS ({SQL_ANN_TOPK_BRUTEFORCE}),
approx AS ({SQL_ANN_LSH_BUCKETED}),
hits AS (
  SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM exact e JOIN approx a ON e.q_id = a.q_id AND e.n_id = a.n_id
  GROUP BY e.q_id
)
SELECT q.q_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) * 1.0 / {RECALL_K}, 4) AS recall
FROM (SELECT DISTINCT q_id FROM exact) q
LEFT JOIN hits h ON q.q_id = h.q_id
ORDER BY q.q_id
"""


DATASETOPS_QUERIES["ann_recall_eval"] = q_ann_recall_eval
DATASETOPS_ORACLES["ann_recall_eval"] = _recall_oracle()


# --------------------------------------------------------------------------
# RFM user scoring
# --------------------------------------------------------------------------

RFM_BUCKETS = 5


def q_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_rfm(
        ensure_parallelism(table(spark, sf_dir, "events")), RFM_BUCKETS
    )


def _rfm_score_sql(col: str, cut: str, invert: bool) -> str:
    n = RFM_BUCKETS - 1
    raw = " + ".join(f"({col} > {cut}[{i + 1}])::INT" for i in range(n))
    expr = f"1 + {raw}"
    if invert:
        expr = f"{RFM_BUCKETS + 1} - ({expr})"
    return f"CAST({expr} AS INTEGER)"


_PCTS = "[" + ", ".join(str(i / RFM_BUCKETS) for i in range(1, RFM_BUCKETS)) + "]"

SQL_EVENTS_RFM = f"""
WITH pu AS (
  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
         CAST(count(*) AS BIGINT) AS frequency,
         round(sum(value), 2) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), ref AS (SELECT max(last_day) AS ref_day FROM pu),
base AS (
  SELECT user_id,
         CAST(date_diff('day', last_day, ref_day) AS INTEGER) AS recency_days,
         frequency, monetary
  FROM pu CROSS JOIN ref
), cuts AS (
  SELECT quantile_cont(recency_days, {_PCTS}) AS cr,
         quantile_cont(frequency, {_PCTS}) AS cf,
         quantile_cont(monetary, {_PCTS}) AS cm
  FROM base
)
SELECT user_id, recency_days, frequency, monetary,
       {_rfm_score_sql('recency_days', 'cr', True)} AS r_score,
       {_rfm_score_sql('frequency', 'cf', False)} AS f_score,
       {_rfm_score_sql('monetary', 'cm', False)} AS m_score
FROM base CROSS JOIN cuts
ORDER BY user_id
"""


DATASETOPS_QUERIES["events_rfm"] = q_events_rfm
DATASETOPS_ORACLES["events_rfm"] = SQL_EVENTS_RFM


# --------------------------------------------------------------------------
# bucketized keyless interval join
# --------------------------------------------------------------------------

IVJ = dict(n_windows=20, window_hours=4)


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_interval_join(
        ensure_parallelism(table(spark, sf_dir, "events")), **IVJ
    )


SQL_EVENTS_INTERVAL_JOIN = f"""
WITH tot AS (
  SELECT user_id, sum(value) AS tv, min(ts) AS window_start
  FROM events GROUP BY 1
), ranked AS (
  SELECT user_id AS window_id, window_start,
         window_start + INTERVAL {IVJ['window_hours']} HOUR AS window_end,
         row_number() OVER (ORDER BY tv DESC, user_id) AS rn
  FROM tot
), w AS (
  SELECT window_id, window_start, window_end FROM ranked
  WHERE rn <= {IVJ['n_windows']}
)
SELECT w.window_id, w.window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2) AS total_value
FROM w JOIN events e
  ON e.ts >= w.window_start AND e.ts < w.window_end
GROUP BY 1, 2
ORDER BY window_id
"""


DATASETOPS_QUERIES["events_interval_join"] = q_events_interval_join
DATASETOPS_ORACLES["events_interval_join"] = SQL_EVENTS_INTERVAL_JOIN


# --------------------------------------------------------------------------
# deterministic stratified train/val/test split
# --------------------------------------------------------------------------

SPLIT = dict(val_frac=0.05, test_frac=0.05)


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        datasetops.split_assign(table(spark, sf_dir, "documents"), **SPLIT)
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_SPLIT_ASSIGN = """
WITH b AS (
  SELECT source,
         (('0x' || substring(md5('split:' || source || ':'
                                 || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
           % 1000000 AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 50000 THEN 'val'
            WHEN bucket < 100000 THEN 'test'
            ELSE 'train' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM b
GROUP BY 1, 2
ORDER BY source, split
"""


DATASETOPS_QUERIES["split_assign"] = q_split_assign
DATASETOPS_ORACLES["split_assign"] = SQL_SPLIT_ASSIGN


# --------------------------------------------------------------------------
# round-4 tail: text cleaning, DAU/WAU, session summaries, log JSON stats
# (registered after the 50-key correctness window; locally oracled now,
# rotated into the driver gate next round)
# --------------------------------------------------------------------------


def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import textprep

    return textprep.clean_text(table(spark, sf_dir, "documents"))


def _clean_text_oracle() -> str:
    from bb_bigdata_log_tools_spark.operators.curation import (
        PII_PATTERNS,
        URL_PATTERN,
    )

    return f"""
WITH c AS (
  SELECT doc_id, length(text) AS n_chars_before,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(text, '{URL_PATTERN}', '<URL>', 'g'),
             '{PII_PATTERNS["email"]}', '<EMAIL>', 'g'),
           ' +', ' ', 'g')) AS text_clean
  FROM documents
)
SELECT doc_id, CAST(n_chars_before AS INTEGER) AS n_chars_before,
       text_clean, CAST(length(text_clean) AS INTEGER) AS n_chars_after
FROM c ORDER BY doc_id
"""


def q_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_dau_wau(
        ensure_parallelism(table(spark, sf_dir, "events"))
    )


SQL_EVENTS_DAU_WAU = """
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM days GROUP BY 1),
wau AS (
  SELECT g.day AS day, CAST(count(DISTINCT d.user_id) AS BIGINT) AS wau
  FROM (SELECT day FROM dau) g
  JOIN days d ON d.day <= g.day AND d.day >= g.day - INTERVAL 6 DAY
  GROUP BY 1
)
SELECT dau.day, dau.dau, wau.wau
FROM dau JOIN wau USING (day)
ORDER BY day
"""


def q_sessions_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.sessions_summary(
        ensure_parallelism(table(spark, sf_dir, "events"))
    )


SQL_SESSIONS_SUMMARY = """
WITH g AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(new_session)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
), sess AS (
  SELECT user_id, session_seq,
         min(ts) AS session_start, max(ts) AS session_end,
         CAST(count(*) AS BIGINT) AS n_events
  FROM s GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS total_events,
       round(avg(n_events), 4) AS mean_events,
       round(avg(epoch_ms(session_end) - epoch_ms(session_start)), 2)
         AS mean_duration_ms
FROM sess GROUP BY user_id
ORDER BY user_id
"""


def q_log_json_field_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators.logops import log_json_field_stats
    from bb_bigdata_log_tools_spark.sources.logs import events_as_logs

    return log_json_field_stats(
        events_as_logs(ensure_parallelism(table(spark, sf_dir, "events")))
    )


def _log_json_oracle() -> str:
    from bb_bigdata_log_tools_spark.sources.logs import EVENTS_AS_LOGS_SQL

    return f"""
WITH logs AS ({EVENTS_AS_LOGS_SQL}),
p AS (
  SELECT split_part(message, ' ', 1) AS msg_type,
         substr(message, strpos(message, ' ') + 1) AS payload
  FROM logs
), v AS (
  SELECT msg_type,
         CASE WHEN payload LIKE '{{%'
              THEN TRY_CAST(json_extract_string(payload, '$.k') AS BIGINT)
         END AS v
  FROM p
)
SELECT msg_type,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(v) AS BIGINT) AS n_with_field,
       min(v) AS min_v, max(v) AS max_v,
       round(avg(v), 4) AS avg_v
FROM v GROUP BY msg_type ORDER BY msg_type
"""


DATASETOPS_QUERIES.update(
    {
        "clean_text": q_clean_text,
        "events_dau_wau": q_events_dau_wau,
        "sessions_summary": q_sessions_summary,
        "log_json_field_stats": q_log_json_field_stats,
    }
)

DATASETOPS_ORACLES.update(
    {
        "clean_text": _clean_text_oracle(),
        "events_dau_wau": SQL_EVENTS_DAU_WAU,
        "sessions_summary": SQL_SESSIONS_SUMMARY,
        "log_json_field_stats": _log_json_oracle(),
    }
)


NGRAM_SRC = 3


def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import dedup

    # ensure_parallelism: the small parquet scans as ONE partition and
    # serialized the whole explode+hash pass on a single core (r12
    # profile: two 2.6 s single-task jobs)
    return dedup.source_similarity(
        ensure_parallelism(table(spark, sf_dir, "documents")), NGRAM_SRC
    )


SQL_SOURCE_SIMILARITY = f"""
WITH t AS (
  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
), g AS (
  SELECT DISTINCT source,
         md5(array_to_string(toks[i : i + {NGRAM_SRC} - 1], ' ')) AS gh
  FROM t, unnest(generate_series(1, greatest(len(toks) - {NGRAM_SRC - 1}, 0)))
       AS u(i)
), sizes AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, i.n_common,
       round(i.n_common * 1.0
             / (sa.n_grams + sb.n_grams - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
ORDER BY source_a, source_b
"""


QUANTILE_PCTS = (0.25, 0.5, 0.75, 0.95, 0.99)


def q_events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_value_quantiles(
        ensure_parallelism(table(spark, sf_dir, "events")), QUANTILE_PCTS
    )


SQL_EVENTS_VALUE_QUANTILES = f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(value), 4) AS mean_value,
       {", ".join(
           f"round(quantile_cont(value, {p}), 4) AS p{int(p * 100)}"
           for p in QUANTILE_PCTS
       )}
FROM events GROUP BY event_type ORDER BY event_type
"""


DATASETOPS_QUERIES.update(
    {
        "source_similarity": q_source_similarity,
        "events_value_quantiles": q_events_value_quantiles,
    }
)

DATASETOPS_ORACLES.update(
    {
        "source_similarity": SQL_SOURCE_SIMILARITY,
        "events_value_quantiles": SQL_EVENTS_VALUE_QUANTILES,
    }
)


# --------------------------------------------------------------------------
# User-journey transition matrix + per-column table profiling
# --------------------------------------------------------------------------


def q_events_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datasetops.events_path_transitions(
        ensure_parallelism(table(spark, sf_dir, "events"))
    )


SQL_EVENTS_PATH_TRANSITIONS = """
WITH seq AS (
  SELECT lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type,
         event_type AS next_type
  FROM events
),
pairs AS (
  SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 4) AS prob
FROM pairs
ORDER BY prev_type, next_type
"""


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datasetops.table_profile(
        ensure_parallelism(table(spark, sf_dir, "documents")), _PROFILE_COLS
    )


SQL_TABLE_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value,
       round(avg(length(CAST({c} AS VARCHAR))), 4) AS avg_len
FROM documents"""
    for c in _PROFILE_COLS
) + "\nORDER BY column_name"


DATASETOPS_QUERIES.update(
    {
        "events_path_transitions": q_events_path_transitions,
        "table_profile": q_table_profile,
    }
)

DATASETOPS_ORACLES.update(
    {
        "events_path_transitions": SQL_EVENTS_PATH_TRANSITIONS,
        "table_profile": SQL_TABLE_PROFILE,
    }
)


# --------------------------------------------------------------------------
# Z-order layout audit + hourly compaction planning
# --------------------------------------------------------------------------

ZORDER_BITS = 8
ZORDER_BUCKETS = 64


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datasetops.zorder_layout(
        ensure_parallelism(table(spark, sf_dir, "events")),
        ZORDER_BUCKETS,
        ZORDER_BITS,
    )


def _zorder_oracle() -> str:
    side = 1 << ZORDER_BITS
    terms = " + ".join(
        f"((((ux >> {i}) & 1) << {2 * i}) + (((hx >> {i}) & 1) << {2 * i + 1}))"
        for i in range(ZORDER_BITS)
    )
    shift = 2 * ZORDER_BITS - max(ZORDER_BUCKETS - 1, 1).bit_length()
    return f"""
WITH base AS (
  SELECT CAST(user_id AS BIGINT) AS uid,
         epoch_ms(ts) // 3600000 AS h
  FROM events
),
m AS (SELECT min(uid) AS u0, max(uid) AS u1, min(h) AS h0, max(h) AS h1
      FROM base),
scaled AS (
  SELECT uid, (h - h0) AS hrel,
         ((uid - u0) * {side}) // (u1 - u0 + 1) AS ux,
         ((h - h0) * {side}) // (h1 - h0 + 1) AS hx
  FROM base, m
),
zed AS (SELECT uid, hrel, ({terms}) AS z FROM scaled)
SELECT z >> {shift} AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(uid) AS min_user, max(uid) AS max_user,
       min(hrel) AS min_hour, max(hrel) AS max_hour
FROM zed
GROUP BY 1
ORDER BY z_bucket
"""


# small enough that every SF yields a multi-group plan (sf0.001's whole
# message volume is ~15 KB)
COMPACT_TARGET = 4_096


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datasetops.compaction_plan(
        ensure_parallelism(table(spark, sf_dir, "events")), COMPACT_TARGET
    )


SQL_COMPACTION_PLAN = f"""
WITH hours AS (
  SELECT date_trunc('hour', ts) AS hour_start,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(strlen(event_type || ' ' || coalesce(props, ''))) AS BIGINT)
           AS bytes
  FROM events GROUP BY 1
),
c AS (
  SELECT *, sum(bytes) OVER (ORDER BY hour_start
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM hours
)
SELECT CAST((cum - bytes) // {COMPACT_TARGET} AS BIGINT) AS merge_group,
       min(hour_start) AS first_hour,
       max(hour_start) AS last_hour,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(n_lines) AS BIGINT) AS n_lines,
       CAST(sum(bytes) AS BIGINT) AS total_bytes
FROM c
GROUP BY 1
ORDER BY merge_group
"""


DATASETOPS_QUERIES.update(
    {"zorder_layout": q_zorder_layout, "compaction_plan": q_compaction_plan}
)
DATASETOPS_ORACLES.update(
    {"zorder_layout": _zorder_oracle(), "compaction_plan": SQL_COMPACTION_PLAN}
)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two simulated corpus drops derived deterministically from
    the documents table: the 'old' snapshot is doc_id % 7 != 0 with
    doc_id % 5 == 0 rows content-mutated; 'new' is the full corpus."""
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    old = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v1"))
        ).otherwise(F.col("text")),
    )
    return datasetops.snapshot_diff(old, docs)


SQL_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT doc_id AS k,
         md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v1' ELSE text END)
           AS h_old
  FROM documents WHERE doc_id % 7 <> 0
),
new AS (SELECT doc_id AS k, md5(text) AS h_new FROM documents),
s AS (
  SELECT CASE WHEN h_old IS NULL THEN 'added'
              WHEN h_new IS NULL THEN 'removed'
              WHEN h_old <> h_new THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old FULL OUTER JOIN new USING (k)
)
SELECT status, CAST(count(*) AS BIGINT) AS n
FROM s GROUP BY status ORDER BY status
"""

DATASETOPS_QUERIES["snapshot_diff"] = q_snapshot_diff
DATASETOPS_ORACLES["snapshot_diff"] = SQL_SNAPSHOT_DIFF


# --------------------------------------------------------------------------
# round-5 additions: grouped top-k, cohort matrix, ntile histogram
# --------------------------------------------------------------------------

TOPK_K = 5


def q_grouped_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datasetops.grouped_topk(
        table(spark, sf_dir, "documents"), "source", "n_chars", "doc_id", TOPK_K
    )


SQL_GROUPED_TOPK_PER_SOURCE = f"""
WITH ranked AS (
  SELECT source, n_chars, doc_id,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id ASC)
              AS INTEGER) AS rank
  FROM documents
)
SELECT source, n_chars, doc_id, rank FROM ranked
WHERE rank <= {TOPK_K}
ORDER BY source, rank
"""


def q_events_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_cohort_matrix(
        ensure_parallelism(table(spark, sf_dir, "events"))
    )


SQL_EVENTS_COHORT_MATRIX = """
WITH uw AS (
  SELECT user_id, epoch_ms(ts) // 604800000 AS week FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
),
cells AS (
  SELECT DISTINCT uw.user_id, c.cohort_week,
         uw.week - c.cohort_week AS week_offset
  FROM uw JOIN cohort c ON uw.user_id = c.user_id
)
SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
FROM cells GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""

NTILE_TILES = 10


def q_events_histogram_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_value_ntile_histogram(
        ensure_parallelism(table(spark, sf_dir, "events")), NTILE_TILES
    )


SQL_EVENTS_HISTOGRAM_NTILE = f"""
WITH t AS (
  SELECT event_type, value,
         CAST(ntile({NTILE_TILES}) OVER (PARTITION BY event_type
                                         ORDER BY value ASC, event_id ASC)
              AS INTEGER) AS tile
  FROM events
)
SELECT event_type, tile,
       CAST(count(*) AS BIGINT) AS n,
       round(min(value), 4) AS lo,
       round(max(value), 4) AS hi,
       round(avg(value), 4) AS mean_value
FROM t GROUP BY event_type, tile
ORDER BY event_type, tile
"""


DATASETOPS_QUERIES.update(
    {
        "grouped_topk_per_source": q_grouped_topk_per_source,
        "events_cohort_matrix": q_events_cohort_matrix,
        "events_histogram_ntile": q_events_histogram_ntile,
    }
)

DATASETOPS_ORACLES.update(
    {
        "grouped_topk_per_source": SQL_GROUPED_TOPK_PER_SOURCE,
        "events_cohort_matrix": SQL_EVENTS_COHORT_MATRIX,
        "events_histogram_ntile": SQL_EVENTS_HISTOGRAM_NTILE,
    }
)


def q_events_user_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_user_lifespan(
        ensure_parallelism(table(spark, sf_dir, "events"))
    )


SQL_EVENTS_USER_LIFESPAN = """
WITH per_user AS (
  SELECT user_id,
         min(epoch_ms(ts)) // 86400000 AS first_day,
         max(epoch_ms(ts)) // 86400000 AS last_day,
         count(*) AS n_events
  FROM events GROUP BY user_id
)
SELECT last_day - first_day AS lifespan_days,
       CAST(count(*) AS BIGINT) AS n_users,
       round(avg(n_events), 2) AS avg_events
FROM per_user
GROUP BY lifespan_days
ORDER BY lifespan_days
"""


DATASETOPS_QUERIES.update({"events_user_lifespan": q_events_user_lifespan})
DATASETOPS_ORACLES.update({"events_user_lifespan": SQL_EVENTS_USER_LIFESPAN})


# --------------------------------------------------------------------------
# round-5: from-scratch distinct-count sketches (HLL + KMV), full oracles
# --------------------------------------------------------------------------

_HLL_P = 8
_HLL_M = 1 << _HLL_P
_KMV_K = 64
_SK_MD5 = "('0x' || substring(md5({x}), 1, 15))::BIGINT"


def q_approx_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import sketches

    return sketches.approx_distinct_hll(
        ensure_parallelism(table(spark, sf_dir, "events")),
        "event_type",
        "user_id",
        _HLL_P,
    )


def _hll_oracle() -> str:
    from bb_bigdata_log_tools_spark.operators.sketches import HASH_BITS, _alpha

    m = _HLL_M
    wbits = HASH_BITS - _HLL_P
    alpha_mm = _alpha(m) * m * m
    h = _SK_MD5.format(x="CAST(user_id AS VARCHAR)")
    return f"""
WITH hashes AS (
  SELECT event_type AS grp, {h} AS h FROM events
  WHERE user_id IS NOT NULL
),
regs AS (
  SELECT grp, h % {m} AS reg,
         max(CASE WHEN h // {m} = 0 THEN {wbits + 1}
                  ELSE {wbits} - length(bin(h // {m})) + 1 END) AS mx
  FROM hashes GROUP BY grp, h % {m}
),
agg AS (
  SELECT grp, sum(power(2.0, -mx)) AS s_present, count(*) AS present
  FROM regs GROUP BY grp
),
est AS (
  SELECT grp,
         {alpha_mm} / (s_present + ({m} - present)) AS raw,
         {m} - present AS zeros
  FROM agg
),
exact AS (
  SELECT event_type AS grp, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT est.grp AS event_type, exact.n_exact,
       round(CASE WHEN raw <= {2.5 * m} AND zeros > 0
                  THEN {float(m)} * ln({float(m)} / zeros)
                  ELSE raw END, 2) AS hll_estimate,
       round(abs(round(CASE WHEN raw <= {2.5 * m} AND zeros > 0
                            THEN {float(m)} * ln({float(m)} / zeros)
                            ELSE raw END, 2) - n_exact) / n_exact, 4)
         AS rel_error
FROM est JOIN exact ON est.grp = exact.grp
ORDER BY event_type
"""


def q_approx_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import sketches

    return sketches.approx_distinct_kmv(
        ensure_parallelism(table(spark, sf_dir, "events")),
        "event_type",
        "user_id",
        _KMV_K,
    )


def _kmv_oracle() -> str:
    from bb_bigdata_log_tools_spark.operators.sketches import HASH_BITS

    h = _SK_MD5.format(x="CAST(user_id AS VARCHAR)")
    hspace = float(1 << HASH_BITS)
    return f"""
WITH hashes AS (
  SELECT DISTINCT event_type AS grp, {h} AS h FROM events
  WHERE user_id IS NOT NULL
),
ranked AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
  FROM hashes
),
agg AS (
  SELECT grp, count(*) AS n_kept,
         max(CASE WHEN rk = {_KMV_K} THEN h END) AS kth
  FROM ranked WHERE rk <= {_KMV_K} GROUP BY grp
),
exact AS (
  SELECT event_type AS grp, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY event_type
)
SELECT agg.grp AS event_type, exact.n_exact,
       round(CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)
                  ELSE {float(_KMV_K - 1)} * {hspace} / kth END, 2)
         AS kmv_estimate,
       round(abs(round(CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)
                            ELSE {float(_KMV_K - 1)} * {hspace} / kth END, 2)
                 - n_exact) / n_exact, 4) AS rel_error
FROM agg JOIN exact ON agg.grp = exact.grp
ORDER BY event_type
"""


DATASETOPS_QUERIES.update(
    {
        "approx_distinct_hll": q_approx_distinct_hll,
        "approx_distinct_kmv": q_approx_distinct_kmv,
    }
)
DATASETOPS_ORACLES.update(
    {
        "approx_distinct_hll": _hll_oracle(),
        "approx_distinct_kmv": _kmv_oracle(),
    }
)


# thresholds tuned to the synthetic load so the gate checks a
# NON-EMPTY flagged set (max observed peak/min = 2, p90 total ≈ 78)
BOT_BURST = 2
BOT_TOTAL = 80


def q_events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_bot_detection(
        ensure_parallelism(table(spark, sf_dir, "events")), BOT_BURST, BOT_TOTAL
    )


SQL_EVENTS_BOT_DETECTION = f"""
WITH per_min AS (
  SELECT user_id, epoch_ms(ts) // 60000 AS minute,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         CAST(sum(n) AS BIGINT) AS total_events,
         CAST(max(n) AS BIGINT) AS peak_minute_events,
         CAST(count(*) AS BIGINT) AS active_minutes
  FROM per_min GROUP BY user_id
)
SELECT user_id, total_events, peak_minute_events, active_minutes,
       peak_minute_events >= {BOT_BURST} AS burst_flag,
       total_events >= {BOT_TOTAL} AS volume_flag
FROM per_user
WHERE peak_minute_events >= {BOT_BURST} OR total_events >= {BOT_TOTAL}
ORDER BY user_id
"""


DATASETOPS_QUERIES.update({"events_bot_detection": q_events_bot_detection})
DATASETOPS_ORACLES.update({"events_bot_detection": SQL_EVENTS_BOT_DETECTION})


ATTR_WINDOW_MS = 24 * 3600 * 1000


def q_events_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_conversion_attribution(
        ensure_parallelism(table(spark, sf_dir, "events")),
        "purchase",
        ATTR_WINDOW_MS,
    )


SQL_EVENTS_CONVERSION_ATTRIBUTION = f"""
WITH merged AS (
  SELECT user_id, epoch_ms(ts) AS ms,
         CASE WHEN event_type <> 'purchase' THEN event_type END AS touch_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS kind,
         event_id
  FROM events
),
attributed AS (
  SELECT *,
         last_value(touch_type IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ms, kind, event_id
           ROWS UNBOUNDED PRECEDING) AS last_touch,
         last_value(CASE WHEN kind = 0 THEN ms END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ms, kind, event_id
           ROWS UNBOUNDED PRECEDING) AS last_touch_ms
  FROM merged
),
convs AS (
  SELECT CASE WHEN last_touch_ms IS NOT NULL
                   AND ms - last_touch_ms <= {ATTR_WINDOW_MS}
              THEN last_touch ELSE '(none)' END AS touch_type,
         ms - last_touch_ms AS gap_ms,
         last_touch_ms IS NOT NULL
           AND ms - last_touch_ms <= {ATTR_WINDOW_MS} AS in_window
  FROM attributed WHERE kind = 1
)
SELECT touch_type,
       CAST(count(*) AS BIGINT) AS n_conversions,
       round(avg(CASE WHEN in_window THEN gap_ms / 60000.0 END), 2)
         AS avg_gap_min
FROM convs GROUP BY touch_type
ORDER BY touch_type
"""


DATASETOPS_QUERIES.update(
    {"events_conversion_attribution": q_events_conversion_attribution}
)
DATASETOPS_ORACLES.update(
    {"events_conversion_attribution": SQL_EVENTS_CONVERSION_ATTRIBUTION}
)


def q_events_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_rollup_cube(
        ensure_parallelism(table(spark, sf_dir, "events"))
    )


SQL_EVENTS_ROLLUP_CUBE = """
SELECT coalesce(event_type, '(all)') AS event_type,
       coalesce(dow, -1) AS dow,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS value_sum
FROM (
  SELECT event_type,
         (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
         value
  FROM events
)
GROUP BY CUBE (event_type, dow)
ORDER BY event_type, dow
"""

PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_user_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.events_user_pivot(
        ensure_parallelism(table(spark, sf_dir, "events")), PIVOT_TYPES
    )


SQL_EVENTS_USER_PIVOT = f"""
SELECT user_id,
       {", ".join(
           f"CAST(count(*) FILTER (event_type = '{t}') AS BIGINT) AS n_{t}"
           for t in PIVOT_TYPES
       )}
FROM events GROUP BY user_id
ORDER BY user_id
"""


DATASETOPS_QUERIES.update(
    {
        "events_rollup_cube": q_events_rollup_cube,
        "events_user_pivot": q_events_user_pivot,
    }
)
DATASETOPS_ORACLES.update(
    {
        "events_rollup_cube": SQL_EVENTS_ROLLUP_CUBE,
        "events_user_pivot": SQL_EVENTS_USER_PIVOT,
    }
)


SKEW_SHARDS = 16


def q_shard_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return datasetops.shard_skew_report(
        table(spark, sf_dir, "documents"), SKEW_SHARDS
    )


_SHARD_MD5 = "('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"

SQL_SHARD_SKEW_REPORT = f"""
WITH per_shard AS (
  SELECT CAST({_SHARD_MD5} % {SKEW_SHARDS} AS INTEGER) AS shard,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(n_chars) AS BIGINT) AS total_weight
  FROM documents GROUP BY 1
)
SELECT shard, n_rows, total_weight,
       CAST(NULL AS DOUBLE) AS row_skew, CAST(NULL AS DOUBLE) AS weight_skew
FROM per_shard
UNION ALL
SELECT -1, CAST(sum(n_rows) AS BIGINT), CAST(sum(total_weight) AS BIGINT),
       round(max(n_rows) * 1.0 / avg(n_rows), 4),
       round(max(total_weight) * 1.0 / avg(total_weight), 4)
FROM per_shard
ORDER BY shard
"""


DATASETOPS_QUERIES.update({"shard_skew_report": q_shard_skew_report})
DATASETOPS_ORACLES.update({"shard_skew_report": SQL_SHARD_SKEW_REPORT})


# --------------------------------------------------------------------------
# round-6: Count-Min frequency sketch (the third classical sketch family
# beside HLL and KMV — frequency estimation with mergeable counter state)
# --------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 256
_CMS_TOP = 20


def q_cms_freq_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import sketches

    return sketches.cms_freq_estimate(
        ensure_parallelism(table(spark, sf_dir, "events")),
        "user_id",
        _CMS_D,
        _CMS_W,
        _CMS_TOP,
    )


def _cms_oracle() -> str:
    h = _SK_MD5.format(x="'cms' || CAST(d AS VARCHAR) || ':' || v")
    return f"""
WITH vals AS (SELECT CAST(user_id AS VARCHAR) AS v FROM events
             WHERE user_id IS NOT NULL),
ds AS (SELECT unnest(range({_CMS_D})) AS d),
sketch AS (
  SELECT d, {h} % {_CMS_W} AS bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM vals CROSS JOIN ds GROUP BY 1, 2
),
exact AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_exact FROM vals GROUP BY v
),
top AS (SELECT v, n_exact FROM exact ORDER BY n_exact DESC, v LIMIT {_CMS_TOP}),
probes AS (
  SELECT v, n_exact, d, {h} % {_CMS_W} AS bucket FROM top CROSS JOIN ds
),
est AS (
  SELECT p.v, p.n_exact, min(s.cnt) AS cms_estimate
  FROM probes p JOIN sketch s USING (d, bucket)
  GROUP BY p.v, p.n_exact
)
SELECT v AS item, n_exact, cms_estimate,
       cms_estimate - n_exact AS overestimate
FROM est ORDER BY item
"""


DATASETOPS_QUERIES.update({"cms_freq_estimate": q_cms_freq_estimate})
DATASETOPS_ORACLES.update({"cms_freq_estimate": _cms_oracle()})


# --------------------------------------------------------------------------
# round-6: KMV set algebra — pairwise source overlap from sketches
# --------------------------------------------------------------------------

_OKMV_K = 64


def q_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import sketches

    return sketches.overlap_kmv(
        ensure_parallelism(table(spark, sf_dir, "events")),
        "event_type",
        "user_id",
        _OKMV_K,
    )


def _overlap_kmv_oracle() -> str:
    from bb_bigdata_log_tools_spark.operators.sketches import HASH_BITS

    h = _SK_MD5.format(x="CAST(user_id AS VARCHAR)")
    hspace = float(1 << HASH_BITS)
    k = _OKMV_K
    return f"""
WITH hashes AS (
  SELECT DISTINCT event_type AS grp, {h} AS h FROM events
  WHERE user_id IS NOT NULL
),
sk AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
    FROM hashes
  ) WHERE rk <= {k}
),
groups AS (SELECT DISTINCT grp FROM sk),
gp AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b
  FROM groups a JOIN groups b ON a.grp < b.grp
),
uni AS (
  SELECT grp_a, grp_b, h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM (
    SELECT gp.grp_a, gp.grp_b, s.h, 1 AS in_a, 0 AS in_b
    FROM gp JOIN sk s ON s.grp = gp.grp_a
    UNION ALL
    SELECT gp.grp_a, gp.grp_b, s.h, 0, 1
    FROM gp JOIN sk s ON s.grp = gp.grp_b
  ) GROUP BY grp_a, grp_b, h
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS rk
    FROM uni
  ) WHERE rk <= {k}
),
agg AS (
  SELECT grp_a, grp_b, CAST(count(*) AS BIGINT) AS n_kept,
         max(CASE WHEN rk = {k} THEN h END) AS kth,
         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_both
  FROM topk GROUP BY grp_a, grp_b
),
ep AS (
  SELECT grp_a, grp_b, h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM (
    SELECT gp.grp_a, gp.grp_b, hh.h, 1 AS in_a, 0 AS in_b
    FROM gp JOIN hashes hh ON hh.grp = gp.grp_a
    UNION ALL
    SELECT gp.grp_a, gp.grp_b, hh.h, 0, 1
    FROM gp JOIN hashes hh ON hh.grp = gp.grp_b
  ) GROUP BY grp_a, grp_b, h
),
ex AS (
  SELECT grp_a, grp_b, CAST(count(*) AS BIGINT) AS n_union_exact,
         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_inter_exact
  FROM ep GROUP BY grp_a, grp_b
)
SELECT a.grp_a, a.grp_b, ex.n_union_exact,
       round(CASE WHEN a.n_kept < {k} THEN CAST(a.n_kept AS DOUBLE)
                  ELSE {float(k - 1)} * {hspace} / a.kth END, 2) AS union_est,
       round(ex.n_inter_exact * 1.0 / ex.n_union_exact, 4) AS jaccard_exact,
       round(a.n_both * 1.0 / a.n_kept, 4) AS jaccard_est
FROM agg a JOIN ex ON a.grp_a = ex.grp_a AND a.grp_b = ex.grp_b
ORDER BY a.grp_a, a.grp_b
"""


DATASETOPS_QUERIES.update({"overlap_kmv": q_overlap_kmv})
DATASETOPS_ORACLES.update({"overlap_kmv": _overlap_kmv_oracle()})


# --------------------------------------------------------------------------
# round-6: mergeable quantile sketch — the fifth sketch family
# --------------------------------------------------------------------------

_QSK_QS = (0.5, 0.9, 0.99)
_QSK_SCALE = 1000


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import sketches

    return sketches.quantile_sketch(
        ensure_parallelism(table(spark, sf_dir, "events")),
        "event_type",
        "value",
        _QSK_QS,
        _QSK_SCALE,
    )


def _quantile_bins_ctes() -> str:
    """The WITH chain through ``est`` (bin build + navigate estimate)
    — the ONE SQL copy shared by the batch quantile_sketch oracle
    (which appends the exact side) and the streaming stream_quantile
    oracle (which reads ``est`` directly: the drained complete-mode
    bins equal the batch bins exactly, sum being associative)."""
    qlist = ", ".join(f"{q}::DOUBLE" for q in _QSK_QS)
    return f"""
WITH base AS (SELECT event_type AS grp, value AS v FROM events
              WHERE value IS NOT NULL),
binned AS (
  SELECT grp,
         CASE WHEN floor(v * {_QSK_SCALE}) < 0 THEN -1 ELSE 1 END AS s,
         abs(CAST(floor(v * {_QSK_SCALE}) AS BIGINT)) AS a
  FROM base
),
keys AS (
  SELECT grp, s,
         CASE WHEN a = 0 THEN 0 ELSE length(bin(a)) END AS o,
         CASE WHEN (CASE WHEN a = 0 THEN 0 ELSE length(bin(a)) END) >= 2
              THEN (a >> ((CASE WHEN a = 0 THEN 0
                                ELSE length(bin(a)) END) - 2)) & 1
              ELSE 0 END AS b
  FROM binned
),
sk AS (
  SELECT grp, s, o, b, s * (o * 2 + b) AS bin_key,
         CAST(count(*) AS BIGINT) AS cnt
  FROM keys GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin_key) AS cum,
         CASE WHEN o = 0 THEN 0.0
              WHEN o = 1 THEN s * 1.0
              ELSE s * (power(2, o - 1) + b * power(2, o - 2)
                        + power(2, o - 2) / 2) END / {_QSK_SCALE} AS mid
  FROM sk
),
qs AS (
  SELECT grp, n, q, CAST(ceil(q * n) AS BIGINT) AS r
  FROM (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n FROM sk GROUP BY grp)
  CROSS JOIN (SELECT unnest([{qlist}]) AS q)
),
est AS (
  SELECT qs.grp, qs.q, qs.n, min_by(c.mid, c.bin_key) AS est_raw
  FROM qs JOIN cum c ON qs.grp = c.grp AND c.cum >= qs.r
  GROUP BY 1, 2, 3
)"""


def _quantile_sketch_oracle() -> str:
    return _quantile_bins_ctes() + f""",
ranked AS (
  SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v) AS rn
  FROM base
),
ex AS (
  SELECT qs.grp, qs.q, r.v AS exact_raw
  FROM qs JOIN ranked r ON qs.grp = r.grp AND r.rn = qs.r
)
SELECT est.grp AS event_type, est.q AS q, est.n AS n,
       round(est.est_raw, 4) AS sketch_est,
       round(ex.exact_raw, 4) AS exact_val,
       round(abs(est.est_raw - ex.exact_raw), 4) AS abs_err
FROM est JOIN ex ON est.grp = ex.grp AND est.q = ex.q
ORDER BY event_type, q
"""


DATASETOPS_QUERIES.update({"quantile_sketch": q_quantile_sketch})
DATASETOPS_ORACLES.update({"quantile_sketch": _quantile_sketch_oracle()})


# --------------------------------------------------------------------------
# round-7: weighted sketch variants — token/byte-weighted corpus stats
# --------------------------------------------------------------------------

_WQS_QS = (0.5, 0.9, 0.99)


def q_weighted_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted document-length quantiles per language: 'the
    n_chars below which q of the corpus TOKENS lie' — the weighted
    statistic that drives packing/budget decisions."""
    from bb_bigdata_log_tools_spark.operators import sketches

    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    d = docs.select("lang", "n_chars", toks.cast("long").alias("n_tokens"))
    return sketches.quantile_sketch_weighted(
        d, "lang", "n_chars", "n_tokens", _WQS_QS, scale=1
    )


def _weighted_quantile_sketch_oracle() -> str:
    qlist = ", ".join(f"{q}::DOUBLE" for q in _WQS_QS)
    return f"""
WITH base AS (
  SELECT lang AS grp, n_chars AS v,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS w
  FROM documents
  WHERE n_chars IS NOT NULL
),
binned AS (
  SELECT grp, w,
         CASE WHEN floor(v * 1) < 0 THEN -1 ELSE 1 END AS s,
         abs(CAST(floor(v * 1) AS BIGINT)) AS a
  FROM base
),
keys AS (
  SELECT grp, w, s,
         CASE WHEN a = 0 THEN 0 ELSE length(bin(a)) END AS o,
         CASE WHEN (CASE WHEN a = 0 THEN 0 ELSE length(bin(a)) END) >= 2
              THEN (a >> ((CASE WHEN a = 0 THEN 0
                                ELSE length(bin(a)) END) - 2)) & 1
              ELSE 0 END AS b
  FROM binned
),
sk AS (
  SELECT grp, s, o, b, s * (o * 2 + b) AS bin_key,
         CAST(sum(w) AS BIGINT) AS cnt
  FROM keys GROUP BY 1, 2, 3, 4
),
cum AS (
  SELECT *,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin_key) AS cum,
         CASE WHEN o = 0 THEN 0.0
              WHEN o = 1 THEN s * 1.0
              ELSE s * (power(2, o - 1) + b * power(2, o - 2)
                        + power(2, o - 2) / 2) END / 1 AS mid
  FROM sk
),
qs AS (
  SELECT grp, w_total, q, CAST(ceil(q * w_total) AS BIGINT) AS r
  FROM (SELECT grp, CAST(sum(cnt) AS BIGINT) AS w_total FROM sk GROUP BY grp)
  CROSS JOIN (SELECT unnest([{qlist}]) AS q)
),
est AS (
  SELECT qs.grp, qs.q, qs.w_total, min_by(c.mid, c.bin_key) AS est_raw
  FROM qs JOIN cum c ON qs.grp = c.grp AND c.cum >= qs.r
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT grp, v, sum(w) OVER (PARTITION BY grp ORDER BY v) AS cw
  FROM base
),
ex AS (
  SELECT qs.grp, qs.q, min(r2.v) AS exact_raw
  FROM qs JOIN ranked r2 ON qs.grp = r2.grp AND r2.cw >= qs.r
  GROUP BY 1, 2
)
SELECT est.grp AS lang, est.q AS q, est.w_total AS w_total,
       round(est.est_raw, 4) AS sketch_est,
       round(CAST(ex.exact_raw AS DOUBLE), 4) AS exact_val,
       round(abs(est.est_raw - ex.exact_raw), 4) AS abs_err
FROM est JOIN ex ON est.grp = ex.grp AND est.q = ex.q
ORDER BY lang, q
"""


_WCMS_TOP = 20


def q_cms_weighted_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-weighted word heavy hitters: which words contribute the
    most characters to the corpus (weight = word length), estimated by
    a weighted Count-Min sketch with the exact mass alongside."""
    from bb_bigdata_log_tools_spark.operators import sketches

    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("wd")
    ).filter(F.col("wd") != "")
    wdf = words.select("wd", F.length("wd").cast("long").alias("wt"))
    return sketches.cms_weighted(
        wdf, "wd", "wt", _CMS_D, _CMS_W, _WCMS_TOP
    )


def _cms_weighted_oracle() -> str:
    h = _SK_MD5.format(x="'cms' || CAST(d AS VARCHAR) || ':' || v")
    return f"""
WITH vals AS (
  SELECT wd AS v, CAST(length(wd) AS BIGINT) AS w
  FROM (SELECT unnest(string_split(text, ' ')) AS wd FROM documents)
  WHERE wd <> ''
),
ds AS (SELECT unnest(range({_CMS_D})) AS d),
sketch AS (
  SELECT d, {h} % {_CMS_W} AS bucket, CAST(sum(w) AS BIGINT) AS cnt
  FROM vals CROSS JOIN ds GROUP BY 1, 2
),
exact AS (
  SELECT v, CAST(sum(w) AS BIGINT) AS w_exact FROM vals GROUP BY v
),
top AS (SELECT v, w_exact FROM exact ORDER BY w_exact DESC, v LIMIT {_WCMS_TOP}),
probes AS (
  SELECT v, w_exact, d, {h} % {_CMS_W} AS bucket FROM top CROSS JOIN ds
),
est AS (
  SELECT p.v, p.w_exact, min(coalesce(s.cnt, 0)) AS w_estimate
  FROM probes p LEFT JOIN sketch s USING (d, bucket)
  GROUP BY p.v, p.w_exact
)
SELECT v AS item, w_exact, CAST(w_estimate AS BIGINT) AS w_estimate,
       CAST(w_estimate - w_exact AS BIGINT) AS overestimate
FROM est ORDER BY item
"""


DATASETOPS_QUERIES.update(
    {
        "weighted_quantile_sketch": q_weighted_quantile_sketch,
        "cms_weighted_freq": q_cms_weighted_freq,
    }
)
DATASETOPS_ORACLES.update(
    {
        "weighted_quantile_sketch": _weighted_quantile_sketch_oracle(),
        "cms_weighted_freq": _cms_weighted_oracle(),
    }
)


# --------------------------------------------------------------------------
# round-7: strict inner as-of join — native SQL ASOF JOIN parity
# --------------------------------------------------------------------------

_ASOF2_LEFT, _ASOF2_RIGHT = "purchase", "click"


def q_events_asof_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner strict as-of join, oracled against DuckDB's NATIVE `ASOF
    JOIN` operator — an independent engine-level check of the union
    trick (events_asof_join's oracle is a hand-written LATERAL)."""
    return analytics.events_asof_inner_strict(
        ensure_parallelism(table(spark, sf_dir, "events")),
        _ASOF2_LEFT,
        _ASOF2_RIGHT,
    )


SQL_EVENTS_ASOF_STRICT = f"""
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = '{_ASOF2_LEFT}'),
r AS (SELECT max(event_id) AS event_id, user_id, ts FROM events
      WHERE event_type = '{_ASOF2_RIGHT}' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, l.ts,
       r.event_id AS matched_event_id, r.ts AS matched_ts,
       epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts > r.ts
ORDER BY l.event_id
"""


DATASETOPS_QUERIES.update({"events_asof_strict": q_events_asof_strict})
DATASETOPS_ORACLES.update({"events_asof_strict": SQL_EVENTS_ASOF_STRICT})
