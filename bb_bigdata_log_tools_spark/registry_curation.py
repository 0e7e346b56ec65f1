"""Registry part 7: corpus-curation queries — deterministic stratified
sampling, incremental dedup, PII scrub, URL domain stats, composite
quality filter, and IVF-flat ANN.

PII/URL probes: the synthetic documents corpus contains no PII or URLs,
so the queries inject deterministic doc_id-derived tokens with the SAME
expression on both engines, then run the real operators over the
augmented text — the patterns are exercised on every row and the oracle
stays exact (the established fixture-injection trick, in-plan instead
of on-disk).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.operators import curation, similarity
from bb_bigdata_log_tools_spark.session import ensure_parallelism, table

#: DuckDB rendering of functions.hashing.md5_long
_MD5_LONG = "('0x' || substring(md5({x}), 1, 15))::BIGINT"


# --------------------------------------------------------------------------
# stratified sampling
# --------------------------------------------------------------------------

SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.2}
SAMPLE_DEFAULT = 0.1


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        curation.sample_stratified(
            docs, "lang", SAMPLE_FRACTIONS, default_fraction=SAMPLE_DEFAULT
        )
        .select("doc_id", "lang", "source")
    )


_BUCKET_SQL = _MD5_LONG.format(x="lang || ':' || CAST(doc_id AS VARCHAR)") + " % 10000"

SQL_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang, source FROM documents
WHERE {_BUCKET_SQL} < CASE lang
  WHEN 'de' THEN {int(SAMPLE_FRACTIONS['de'] * 10000)}
  WHEN 'en' THEN {int(SAMPLE_FRACTIONS['en'] * 10000)}
  ELSE {int(SAMPLE_DEFAULT * 10000)} END
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# incremental dedup (batch vs seen corpus)
# --------------------------------------------------------------------------


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch = every 5th doc; seen = the rest. Emit the batch docs whose
    exact content is not already in the seen corpus."""
    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    seen = docs.filter(F.col("doc_id") % 5 != 0)
    return (
        curation.dedup_incremental(batch, seen)
        .select("doc_id", "lang", "source")
    )


SQL_DEDUP_INCREMENTAL = """
SELECT doc_id, lang, source FROM documents b
WHERE doc_id % 5 = 0
  AND md5(b.text) NOT IN (
    SELECT md5(s.text) FROM documents s WHERE doc_id % 5 <> 0)
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# PII scrub (deterministic in-plan injection)
# --------------------------------------------------------------------------


def _inject_pii(docs: DataFrame) -> DataFrame:
    i = F.col("doc_id")
    suffix = F.concat(
        F.lit(" contact u"), i.cast("string"),
        F.lit("@ex"), (i % 7).cast("string"), F.lit("mail.com via 10."),
        (i % 200).cast("string"), F.lit(".0."), (i % 100).cast("string"),
        F.lit(" call 555-"), (100 + i % 900).cast("string"),
        F.lit("-"), (1000 + i % 9000).cast("string"),
    )
    return docs.withColumn(
        "text2",
        F.when(i % 3 != 0, F.concat(F.col("text"), suffix)).otherwise(F.col("text")),
    )


_INJECT_SQL = """
CASE WHEN doc_id % 3 <> 0 THEN text
  || ' contact u' || CAST(doc_id AS VARCHAR)
  || '@ex' || CAST(doc_id % 7 AS VARCHAR) || 'mail.com via 10.'
  || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR)
  || ' call 555-' || CAST(100 + doc_id % 900 AS VARCHAR)
  || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
ELSE text END
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _inject_pii(table(spark, sf_dir, "documents"))
    out = curation.pii_scrub(docs, text_col="text2")
    return out.select(
        "doc_id",
        "pii_email",
        "pii_ipv4",
        "pii_phone",
        "pii_total",
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


_EMAIL = curation.PII_PATTERNS["email"]
_IPV4 = curation.PII_PATTERNS["ipv4"]
_PHONE = curation.PII_PATTERNS["phone"]

SQL_PII_SCRUB = f"""
WITH aug AS (SELECT doc_id, {_INJECT_SQL} AS text2 FROM documents)
SELECT doc_id,
  -- each kind counted on the progressively-scrubbed text, matching
  -- the operator (counts == emitted masks even when patterns overlap)
  CAST(len(regexp_extract_all(text2, '{_EMAIL}')) AS INTEGER) AS pii_email,
  CAST(len(regexp_extract_all(
      regexp_replace(text2, '{_EMAIL}', '<EMAIL>', 'g'),
      '{_IPV4}')) AS INTEGER) AS pii_ipv4,
  CAST(len(regexp_extract_all(
      regexp_replace(regexp_replace(text2, '{_EMAIL}', '<EMAIL>', 'g'),
                     '{_IPV4}', '<IPV4>', 'g'),
      '{_PHONE}')) AS INTEGER) AS pii_phone,
  CAST(len(regexp_extract_all(text2, '{_EMAIL}'))
     + len(regexp_extract_all(
         regexp_replace(text2, '{_EMAIL}', '<EMAIL>', 'g'), '{_IPV4}'))
     + len(regexp_extract_all(
         regexp_replace(regexp_replace(text2, '{_EMAIL}', '<EMAIL>', 'g'),
                        '{_IPV4}', '<IPV4>', 'g'),
         '{_PHONE}')) AS INTEGER) AS pii_total,
  md5(regexp_replace(regexp_replace(regexp_replace(text2,
      '{_EMAIL}', '<EMAIL>', 'g'),
      '{_IPV4}', '<IPV4>', 'g'),
      '{_PHONE}', '<PHONE>', 'g')) AS scrub_md5
FROM aug
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# URL domain stats (deterministic in-plan injection)
# --------------------------------------------------------------------------

URL_BLOCKLIST = ["cdn1.net"]


def _inject_urls(docs: DataFrame) -> DataFrame:
    i = F.col("doc_id")
    suffix = F.concat(
        F.lit(" see https://site"), (i % 5).cast("string"),
        F.lit(".example.com/p/"), i.cast("string"),
        F.lit(" and http://cdn"), (i % 3).cast("string"), F.lit(".net"),
    )
    return docs.withColumn(
        "text2",
        F.when(i % 4 != 0, F.concat(F.col("text"), suffix)).otherwise(F.col("text")),
    )


_INJECT_URL_SQL = """
CASE WHEN doc_id % 4 <> 0 THEN text
  || ' see https://site' || CAST(doc_id % 5 AS VARCHAR)
  || '.example.com/p/' || CAST(doc_id AS VARCHAR)
  || ' and http://cdn' || CAST(doc_id % 3 AS VARCHAR) || '.net'
ELSE text END
"""


def q_url_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _inject_urls(table(spark, sf_dir, "documents"))
    return curation.url_domain_stats(
        docs, text_col="text2", blocklist=URL_BLOCKLIST
    )


SQL_URL_DOMAIN_STATS = f"""
WITH aug AS (SELECT doc_id, {_INJECT_URL_SQL} AS text2 FROM documents),
urls AS (
  SELECT unnest(regexp_extract_all(text2, '{curation.URL_PATTERN}')) AS u FROM aug
),
doms AS (
  SELECT lower(regexp_extract(u, '{curation.URL_DOMAIN_PATTERN}', 1)) AS domain
  FROM urls
)
SELECT domain, count(*) AS n_occurrences,
       domain IN ('{URL_BLOCKLIST[0]}') AS blocked
FROM doms GROUP BY domain
ORDER BY domain
"""


# --------------------------------------------------------------------------
# composite quality filter
# --------------------------------------------------------------------------

QF = dict(min_chars=100, max_chars=100_000, min_tokens=20,
          max_mean_token_len=12.0, min_unique_ratio=0.45)


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        curation.quality_filter(docs, **QF)
        .select(
            "doc_id", "n_chars_q", "n_tokens_q", "mean_token_len",
            "unique_ratio", "fail_reason", "keep",
        )
    )


SQL_QUALITY_FILTER = f"""
WITH t AS (
  SELECT doc_id,
         CAST(strlen(text) AS INTEGER) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INTEGER)
           AS n_tokens,
         CAST(strlen(replace(text, ' ', '')) AS DOUBLE) AS sum_tok_len,
         CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))
           AS DOUBLE) AS n_uniq
  FROM documents
),
m AS (
  SELECT doc_id, n_chars, n_tokens,
         round(CASE WHEN n_tokens > 0 THEN sum_tok_len / n_tokens ELSE 0 END, 4)
           AS mean_token_len,
         round(CASE WHEN n_tokens > 0 THEN n_uniq / n_tokens ELSE 0 END, 4)
           AS unique_ratio
  FROM t
)
SELECT doc_id, n_chars AS n_chars_q, n_tokens AS n_tokens_q,
       mean_token_len, unique_ratio,
       CASE WHEN n_chars < {QF['min_chars']} THEN 'too_short'
            WHEN n_chars > {QF['max_chars']} THEN 'too_long'
            WHEN n_tokens < {QF['min_tokens']} THEN 'too_few_tokens'
            WHEN mean_token_len > {QF['max_mean_token_len']} THEN 'long_tokens'
            WHEN unique_ratio < {QF['min_unique_ratio']} THEN 'repetitive'
            ELSE 'ok' END AS fail_reason,
       CASE WHEN n_chars < {QF['min_chars']} THEN FALSE
            WHEN n_chars > {QF['max_chars']} THEN FALSE
            WHEN n_tokens < {QF['min_tokens']} THEN FALSE
            WHEN mean_token_len > {QF['max_mean_token_len']} THEN FALSE
            WHEN unique_ratio < {QF['min_unique_ratio']} THEN FALSE
            ELSE TRUE END AS keep
FROM m
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# IVF-flat ANN
# --------------------------------------------------------------------------

IVF = dict(n_queries=20, k=10, n_cells=8, n_probe=2)


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = ensure_parallelism(table(spark, sf_dir, "embeddings"))
    return similarity.ann_topk_ivf(emb, **IVF)


_COS = (
    "list_dot_product({a}, {b}) / sqrt(list_dot_product({a}, {a}))"
    " / sqrt(list_dot_product({b}, {b}))"
)

SQL_ANN_TOPK_IVF = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cen AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < {IVF['n_cells']}),
assign AS (
  SELECT e.vec_id, cen.c_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           {_COS.format(a='e.emb', b='cen.c_emb')} DESC, cen.c_id) AS rnk
  FROM e CROSS JOIN cen
),
cells AS (SELECT vec_id, c_id AS cell FROM assign WHERE rnk = 1),
probes AS (SELECT vec_id AS q_id, c_id AS cell FROM assign
           WHERE vec_id < {IVF['n_queries']} AND rnk <= {IVF['n_probe']}),
scored AS (
  SELECT p.q_id, c.vec_id AS n_id,
         round({_COS.format(a='qe.emb', b='ce.emb')}, 4) AS cos_sim
  FROM probes p
  JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.q_id
  JOIN e qe ON qe.vec_id = p.q_id
  JOIN e ce ON ce.vec_id = c.vec_id
),
ranked AS (
  SELECT q_id, n_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= {IVF['k']}
ORDER BY q_id, rank
"""


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------

#: every 25th document stands in for the held-out benchmark set.
DECON_BENCH_MOD = 25
DECON_N = 3


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    return curation.decontaminate(docs, bench, n=DECON_N)


# Same trigram construction as SQL_SHINGLES (registry_pipeline), with
# the benchmark side restricted to doc_id % mod == 0.
SQL_DECONTAMINATE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                                 i -> array_to_string(w[i:i+2], ' '))) AS s
    FROM words
  )
),
bench AS (
  SELECT doc_id AS bench_id, h FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0
),
hits AS (
  SELECT sh.doc_id,
         count(DISTINCT sh.h) AS n_shingle_hits,
         count(DISTINCT bench.bench_id) AS n_bench_docs
  FROM sh JOIN bench USING (h)
  GROUP BY sh.doc_id
)
SELECT d.doc_id,
       COALESCE(hits.n_shingle_hits, 0) AS n_shingle_hits,
       COALESCE(hits.n_bench_docs, 0) AS n_bench_docs,
       COALESCE(hits.n_shingle_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
ORDER BY d.doc_id
"""


# --------------------------------------------------------------------------
# context-window sequence packing
# --------------------------------------------------------------------------

PACK_WINDOW = 512


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return curation.pack_sequences(docs, window_tokens=PACK_WINDOW)


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_tok
  FROM t
)
SELECT doc_id, n_tokens,
       start_tok // {PACK_WINDOW} AS bin_id,
       start_tok % {PACK_WINDOW} AS bin_offset,
       (start_tok % {PACK_WINDOW}) + n_tokens > {PACK_WINDOW} AS crosses_boundary
FROM c
ORDER BY doc_id
"""


CURATION_QUERIES = {
    "sample_stratified": q_sample_stratified,
    "dedup_incremental": q_dedup_incremental,
    "pii_scrub": q_pii_scrub,
    "url_domain_stats": q_url_domain_stats,
    "quality_filter": q_quality_filter,
    "ann_topk_ivf": q_ann_topk_ivf,
    "decontaminate": q_decontaminate,
    "pack_sequences": q_pack_sequences,
}

CURATION_ORACLES = {
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "dedup_incremental": SQL_DEDUP_INCREMENTAL,
    "pii_scrub": SQL_PII_SCRUB,
    "url_domain_stats": SQL_URL_DOMAIN_STATS,
    "quality_filter": SQL_QUALITY_FILTER,
    "ann_topk_ivf": SQL_ANN_TOPK_IVF,
    "decontaminate": SQL_DECONTAMINATE,
    "pack_sequences": SQL_PACK_SEQUENCES,
}


# --------------------------------------------------------------------------
# domain mixing weights + unigram LM perplexity
# --------------------------------------------------------------------------

MIX_ALPHA = 0.3


def q_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return curation.domain_mix_weights(docs, alpha=MIX_ALPHA)


SQL_DOMAIN_MIX_WEIGHTS = f"""
WITH per_src AS (
  SELECT source,
         count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM per_src),
shared AS (
  SELECT source, n_docs, n_tokens,
         n_tokens / (SELECT tot_tokens FROM tot)::DOUBLE AS share
  FROM per_src
),
ps AS (SELECT sum(pow(share, {MIX_ALPHA})) AS pow_sum FROM shared)
SELECT source, n_docs, n_tokens,
       round(share, 6) AS token_share,
       round(pow(share, {MIX_ALPHA}) / (SELECT pow_sum FROM ps), 6) AS weight
FROM shared
ORDER BY source
"""


def q_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return curation.unigram_perplexity(docs)


SQL_UNIGRAM_PERPLEXITY = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM vocab),
per_doc AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         round(avg(-ln(v.cnt / (SELECT tot FROM tot))), 4) AS cross_entropy
  FROM toks t JOIN vocab v USING (token)
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, cross_entropy,
       round(exp(cross_entropy), 4) AS perplexity
FROM per_doc
ORDER BY doc_id
"""


CURATION_QUERIES.update(
    {
        "domain_mix_weights": q_domain_mix_weights,
        "unigram_perplexity": q_unigram_perplexity,
    }
)
CURATION_ORACLES.update(
    {
        "domain_mix_weights": SQL_DOMAIN_MIX_WEIGHTS,
        "unigram_perplexity": SQL_UNIGRAM_PERPLEXITY,
    }
)


# --------------------------------------------------------------------------
# int8 embedding quantization
# --------------------------------------------------------------------------


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # qvec is stringified (CSV) at the registry boundary: the external
    # gate canonicalizes result rows with pandas, which cannot hash
    # array-typed cells. The operator itself keeps its array output.
    emb = ensure_parallelism(table(spark, sf_dir, "embeddings"))
    out = similarity.embedding_quantize(emb)
    return out.select(
        "vec_id",
        "scale",
        F.array_join(F.col("qvec").cast("array<string>"), ",").alias("qvec_csv"),
        "max_abs_err",
    )


SQL_EMBEDDING_QUANTIZE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
s AS (
  SELECT vec_id, emb,
         list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
  FROM e
)
SELECT vec_id,
  round(scale, 6) AS scale,
  array_to_string(
    CASE WHEN scale = 0 THEN list_transform(emb, x -> 0)
         ELSE list_transform(emb, x -> CAST(greatest(-127.0,
                least(127.0, floor(x / scale + 0.5))) AS INTEGER)) END,
    ',') AS qvec_csv,
  CASE WHEN scale = 0 THEN 0.0
       ELSE round(list_max(list_transform(emb, x ->
              abs(greatest(-127.0, least(127.0, floor(x / scale + 0.5)))
                  * scale - x))), 4) END AS max_abs_err
FROM s
ORDER BY vec_id
"""


CURATION_QUERIES.update({"embedding_quantize": q_embedding_quantize})
CURATION_ORACLES.update({"embedding_quantize": SQL_EMBEDDING_QUANTIZE})


# --------------------------------------------------------------------------
# exact-count stratified sampling
# --------------------------------------------------------------------------

EXACT_N_PER_STRATUM = 20


def q_sample_exact_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        curation.sample_exact_stratified(docs, "lang", EXACT_N_PER_STRATUM)
        .select("doc_id", "lang", "source")
    )


SQL_SAMPLE_EXACT_STRATIFIED = f"""
WITH ranked AS (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {_MD5_LONG.format(x="lang || ':' || CAST(doc_id AS VARCHAR)")} % 10000,
                    doc_id
         ) AS sample_rank
  FROM documents
)
SELECT doc_id, lang, source FROM ranked
WHERE sample_rank <= {EXACT_N_PER_STRATUM}
ORDER BY doc_id
"""


CURATION_QUERIES.update({"sample_exact_stratified": q_sample_exact_stratified})
CURATION_ORACLES.update({"sample_exact_stratified": SQL_SAMPLE_EXACT_STRATIFIED})


# --------------------------------------------------------------------------
# Perplexity bucketing + OOV rate
# --------------------------------------------------------------------------


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return curation.perplexity_buckets(docs)


SQL_PERPLEXITY_BUCKETS = f"""
WITH ppl AS (
  SELECT doc_id, perplexity FROM ({SQL_UNIGRAM_PERPLEXITY}) t
),
c AS (
  SELECT floor(quantile_cont(perplexity, 1.0/3.0) * 10000 + 0.5) / 10000 AS c1,
         floor(quantile_cont(perplexity, 2.0/3.0) * 10000 + 0.5) / 10000 AS c2
  FROM ppl
)
SELECT doc_id, perplexity,
       CASE WHEN perplexity <= c1 THEN 'head'
            WHEN perplexity <= c2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ppl, c
ORDER BY doc_id
"""


OOV_VOCAB_SIZE = 256


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return curation.oov_rate(docs, OOV_VOCAB_SIZE)


SQL_OOV_RATE = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
vocab AS (
  SELECT token FROM (
    SELECT token, row_number() OVER (ORDER BY cnt DESC, token) AS rank
    FROM counts
  ) WHERE rank <= {OOV_VOCAB_SIZE}
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS oov_rate
FROM toks t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


CURATION_QUERIES.update(
    {"perplexity_buckets": q_perplexity_buckets, "oov_rate": q_oov_rate}
)
CURATION_ORACLES.update(
    {"perplexity_buckets": SQL_PERPLEXITY_BUCKETS, "oov_rate": SQL_OOV_RATE}
)


# --------------------------------------------------------------------------
# Token-budget quota planning
# --------------------------------------------------------------------------

BUDGET_FRAC = 0.5


def q_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return curation.token_budget_plan(docs, BUDGET_FRAC, MIX_ALPHA)


SQL_TOKEN_BUDGET_PLAN = f"""
WITH mix AS (
  SELECT source, n_docs, n_tokens, weight FROM ({SQL_DOMAIN_MIX_WEIGHTS}) m
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens FROM mix),
planned AS (
  SELECT source, n_docs, n_tokens, weight,
         CAST(floor(weight * corpus_tokens * {BUDGET_FRAC}) AS BIGINT)
           AS target_tokens
  FROM mix, tot
)
SELECT source, n_docs, n_tokens, weight, target_tokens,
       CASE WHEN n_tokens = 0 THEN 0
            ELSE least(n_docs,
                       CAST(floor(target_tokens / CAST(n_tokens AS DOUBLE)
                                  * n_docs) AS BIGINT))
       END AS quota_docs,
       CASE WHEN n_tokens = 0 THEN 0.0
            ELSE round(target_tokens / CAST(n_tokens AS DOUBLE), 4)
       END AS fill_ratio
FROM planned
ORDER BY source
"""


CURATION_QUERIES["token_budget_plan"] = q_token_budget_plan
CURATION_ORACLES["token_budget_plan"] = SQL_TOKEN_BUDGET_PLAN


def _inject_ips(docs: DataFrame) -> DataFrame:
    """Deterministic multi-prefix IPv4 injection: five /8s (10, 50, 90,
    172, 192) with doc_id-derived second octets, so the rollup exercises
    both private-range clauses AND public prefixes."""
    i = F.col("doc_id")
    o1 = F.element_at(
        F.array(F.lit(10), F.lit(50), F.lit(90), F.lit(172), F.lit(192)),
        (i % 5 + 1).cast("int"),
    )
    suffix = F.concat(
        F.lit(" peer "), o1.cast("string"),
        F.lit("."), (i % 40).cast("string"),
        F.lit(".0."), (i % 100).cast("string"),
    )
    return docs.withColumn("text2", F.concat(F.col("text"), suffix))


_INJECT_IP_SQL = """
text || ' peer ' || CAST([10, 50, 90, 172, 192][CAST(doc_id % 5 AS INTEGER) + 1] AS VARCHAR)
  || '.' || CAST(doc_id % 40 AS VARCHAR)
  || '.0.' || CAST(doc_id % 100 AS VARCHAR)
"""


def q_ip_prefix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _inject_ips(ensure_parallelism(table(spark, sf_dir, "documents")))
    return curation.ip_prefix_stats(docs, text_col="text2")


SQL_IP_PREFIX_STATS = f"""
WITH aug AS (SELECT doc_id, {_INJECT_IP_SQL} AS text2 FROM documents),
ips AS (
  SELECT unnest(regexp_extract_all(text2, '{_IPV4}')) AS ip FROM aug
),
parts AS (
  SELECT ip,
         CAST(string_split(ip, '.')[1] AS INTEGER) AS octet1,
         CAST(string_split(ip, '.')[2] AS INTEGER) AS octet2
  FROM ips
)
SELECT octet1,
       CAST(count(*) AS BIGINT) AS n_ips,
       CAST(count(DISTINCT ip) AS BIGINT) AS n_distinct,
       CAST(sum(CASE WHEN octet1 IN (10, 127)
                      OR (octet1 = 172 AND octet2 BETWEEN 16 AND 31)
                      OR (octet1 = 192 AND octet2 = 168)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_private
FROM parts
GROUP BY octet1
ORDER BY octet1
"""


CURATION_QUERIES["ip_prefix_stats"] = q_ip_prefix_stats
CURATION_ORACLES["ip_prefix_stats"] = SQL_IP_PREFIX_STATS


# --------------------------------------------------------------------------
# round-5: exact-N deterministic reservoir sample
# --------------------------------------------------------------------------

RESERVOIR_N = 100


def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    return (
        curation.sample_reservoir(docs, RESERVOIR_N)
        .select("doc_id", "lang", "source", "sample_rank")
    )


SQL_SAMPLE_RESERVOIR = f"""
SELECT doc_id, lang, source,
       CAST(row_number() OVER (
         ORDER BY {_MD5_LONG.format(x="'rs:' || CAST(doc_id AS VARCHAR)")},
                  doc_id) AS INTEGER) AS sample_rank
FROM documents
ORDER BY sample_rank
LIMIT {RESERVOIR_N}
"""


CURATION_QUERIES.update({"sample_reservoir": q_sample_reservoir})
CURATION_ORACLES.update({"sample_reservoir": SQL_SAMPLE_RESERVOIR})


# --------------------------------------------------------------------------
# round-5: embedding-space outlier QC (IVF-centroid distance)
# --------------------------------------------------------------------------

OUTLIER_N = 50
OUTLIER_CELLS = 8


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = ensure_parallelism(table(spark, sf_dir, "embeddings"))
    return similarity.embedding_outliers(emb, OUTLIER_CELLS, OUTLIER_N)


SQL_EMBEDDING_OUTLIERS = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
cen AS (SELECT vec_id AS c_id, emb AS c_emb FROM e WHERE vec_id < {OUTLIER_CELLS}),
assign AS (
  SELECT e.vec_id, cen.c_id AS cell,
         round({_COS.format(a='e.emb', b='cen.c_emb')}, 4) AS cell_cos,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           {_COS.format(a='e.emb', b='cen.c_emb')} DESC, cen.c_id) AS rnk
  FROM e CROSS JOIN cen
),
best AS (SELECT vec_id, cell, cell_cos FROM assign WHERE rnk = 1)
SELECT vec_id, cell, cell_cos,
       CAST(row_number() OVER (ORDER BY cell_cos ASC, vec_id ASC) AS INTEGER)
         AS outlier_rank
FROM best
ORDER BY outlier_rank
LIMIT {OUTLIER_N}
"""


CURATION_QUERIES.update({"embedding_outliers": q_embedding_outliers})
CURATION_ORACLES.update({"embedding_outliers": SQL_EMBEDDING_OUTLIERS})


# --------------------------------------------------------------------------
# round-5: bigram LM perplexity
# --------------------------------------------------------------------------

BIGRAM_K = 0.5


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.bigram_perplexity(
        ensure_parallelism(table(spark, sf_dir, "documents")), BIGRAM_K
    )


SQL_BIGRAM_PERPLEXITY = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(2, len(toks)),
                               i -> toks[i-1] || ' ' || toks[i])) AS bigram
  FROM t WHERE len(toks) >= 2
),
bc AS (SELECT bigram, count(*) AS c12 FROM bi GROUP BY bigram),
ctx AS (
  SELECT string_split(bigram, ' ')[1] AS w1, count(*) AS c1
  FROM bi GROUP BY 1
),
v AS (
  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v
  FROM (SELECT unnest(toks) AS tok FROM t)
),
per_doc AS (
  SELECT bi.doc_id,
         count(*) AS n_bigrams,
         round(avg(-ln((bc.c12 + {BIGRAM_K})
                       / (ctx.c1 + {BIGRAM_K} * (SELECT v FROM v)))), 4)
           AS cross_entropy
  FROM bi
  JOIN bc USING (bigram)
  JOIN ctx ON ctx.w1 = string_split(bi.bigram, ' ')[1]
  GROUP BY bi.doc_id
)
SELECT doc_id, n_bigrams, cross_entropy,
       round(exp(cross_entropy), 4) AS perplexity
FROM per_doc
ORDER BY doc_id
"""


CURATION_QUERIES.update({"bigram_perplexity": q_bigram_perplexity})
CURATION_ORACLES.update({"bigram_perplexity": SQL_BIGRAM_PERPLEXITY})


# --------------------------------------------------------------------------
# round-5: deterministic MLM mask preview
# --------------------------------------------------------------------------

MLM_DENOM = 7


def q_mlm_mask_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.mlm_mask_preview(
        table(spark, sf_dir, "documents"), MLM_DENOM
    )


_MASK_MD5 = _MD5_LONG.format(
    x="'mask:' || CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)"
)

SQL_MLM_MASK_PREVIEW = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
flags AS (
  SELECT doc_id, toks,
         list_transform(generate_series(1, len(toks)),
                        i -> {_MASK_MD5} % {MLM_DENOM} = 0) AS fl
  FROM t
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       CAST(len(list_filter(fl, m -> m)) AS INTEGER) AS n_masked,
       array_to_string(
         list_transform(generate_series(1, len(toks)),
                        i -> CASE WHEN fl[i] THEN '[MASK]' ELSE toks[i] END),
         ' ') AS corrupted_text,
       coalesce(array_to_string(
         list_filter(list_transform(generate_series(1, len(toks)),
                                    i -> CASE WHEN fl[i] THEN toks[i] END),
                     x -> x IS NOT NULL),
         ' '), '') AS targets
FROM flags
ORDER BY doc_id
"""


CURATION_QUERIES.update({"mlm_mask_preview": q_mlm_mask_preview})
CURATION_ORACLES.update({"mlm_mask_preview": SQL_MLM_MASK_PREVIEW})


# --------------------------------------------------------------------------
# round-6: bloom-filter decontamination (memory-constant benchmark probe)
# --------------------------------------------------------------------------

BLOOM_M = 4096
BLOOM_K = 3
_BLOOM_SHIFT = BLOOM_M.bit_length() - 1


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    return curation.bloom_decontaminate(
        docs, bench, n=DECON_N, m_bits=BLOOM_M, k_hashes=BLOOM_K
    )


SQL_BLOOM_DECONTAMINATE = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ('0x' || substring(md5(s), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                                 i -> array_to_string(w[i:i+2], ' '))) AS s
    FROM words
  )
),
bench AS (
  SELECT DISTINCT h FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0
),
ks AS (SELECT unnest(range({BLOOM_K})) AS k),
bloom AS (
  SELECT DISTINCT
         (h % {BLOOM_M} + k * ((h // {BLOOM_M}) % {BLOOM_M} * 2 + 1))
           % {BLOOM_M} AS pos
  FROM bench CROSS JOIN ks
),
probes AS (
  SELECT doc_id, h,
         (h % {BLOOM_M} + k * ((h // {BLOOM_M}) % {BLOOM_M} * 2 + 1))
           % {BLOOM_M} AS pos
  FROM sh CROSS JOIN ks
),
hit AS (
  SELECT doc_id, h,
         count(CASE WHEN pos IN (SELECT pos FROM bloom) THEN 1 END)
           = {BLOOM_K} AS bloom_hit
  FROM probes GROUP BY doc_id, h
),
bh AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
  FROM hit WHERE bloom_hit GROUP BY doc_id
),
eh AS (
  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_exact_hits
  FROM sh JOIN bench USING (h) GROUP BY sh.doc_id
)
SELECT d.doc_id,
       COALESCE(bh.n_bloom_hits, 0) AS n_bloom_hits,
       COALESCE(eh.n_exact_hits, 0) AS n_exact_hits,
       COALESCE(bh.n_bloom_hits, 0) > 0 AS flagged_bloom,
       COALESCE(eh.n_exact_hits, 0) > 0 AS flagged_exact,
       COALESCE(bh.n_bloom_hits, 0) > 0 AND COALESCE(eh.n_exact_hits, 0) = 0
         AS false_positive
FROM documents d
LEFT JOIN bh ON d.doc_id = bh.doc_id
LEFT JOIN eh ON d.doc_id = eh.doc_id
ORDER BY d.doc_id
"""

CURATION_QUERIES["bloom_decontaminate"] = q_bloom_decontaminate
CURATION_ORACLES["bloom_decontaminate"] = SQL_BLOOM_DECONTAMINATE


# --------------------------------------------------------------------------
# round-6: URL canonicalization dedup
# --------------------------------------------------------------------------

# Four spellings of the same resource per doc: mixed-case host, trailing
# slash, utm tracking query, fragment — canonicalization must collapse
# all four onto https://site<k>.example.com/p/<j>. The variant selector
# modulus (7) is COPRIME to the path/site classes (40, 5), so every
# canonical group sees multiple spellings (doc_id % 4 would be constant
# within a group since 4 | 40).
_URL_VARIANT_SPARK = (
    "CASE CAST(doc_id % 7 AS INT) "
    "WHEN 0 THEN 'https://Site' || CAST(doc_id % 5 AS STRING)"
    " || '.Example.com/p/' || CAST(doc_id % 40 AS STRING) "
    "WHEN 1 THEN 'https://site' || CAST(doc_id % 5 AS STRING)"
    " || '.example.com/p/' || CAST(doc_id % 40 AS STRING) || '/' "
    "WHEN 2 THEN 'https://site' || CAST(doc_id % 5 AS STRING)"
    " || '.example.com/p/' || CAST(doc_id % 40 AS STRING) || '?utm_source=feed' "
    "ELSE 'https://site' || CAST(doc_id % 5 AS STRING)"
    " || '.example.com/p/' || CAST(doc_id % 40 AS STRING) || '#frag' END"
)

_URL_VARIANT_SQL = (
    "CASE doc_id % 7 "
    "WHEN 0 THEN 'https://Site' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.Example.com/p/' || CAST(doc_id % 40 AS VARCHAR) "
    "WHEN 1 THEN 'https://site' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.example.com/p/' || CAST(doc_id % 40 AS VARCHAR) || '/' "
    "WHEN 2 THEN 'https://site' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.example.com/p/' || CAST(doc_id % 40 AS VARCHAR) || '?utm_source=feed' "
    "ELSE 'https://site' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.example.com/p/' || CAST(doc_id % 40 AS VARCHAR) || '#frag' END"
)


def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").withColumn(
        "text2", F.expr(f"text || ' ' || {_URL_VARIANT_SPARK}")
    )
    return curation.dedup_url(docs, text_col="text2")


SQL_DEDUP_URL = f"""
WITH aug AS (
  SELECT doc_id, text || ' ' || {_URL_VARIANT_SQL} AS text2 FROM documents
),
urls AS (
  SELECT unnest(regexp_extract_all(text2, '{curation.URL_PATTERN}')) AS url
  FROM aug
),
canon AS (
  SELECT url,
         lower(regexp_extract(url, '^(https?://[^/?#]+)', 1))
         || regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(url, '^https?://[^/?#]+', ''),
                  '#.*$', ''),
                '\\?utm_[^&#? ]*(&utm_[^&#? ]*)*$', ''),
              '/$', '') AS canonical_url
  FROM urls
)
SELECT canonical_url,
       CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM canon GROUP BY canonical_url
ORDER BY canonical_url
"""

CURATION_QUERIES["dedup_url"] = q_dedup_url
CURATION_ORACLES["dedup_url"] = SQL_DEDUP_URL


# --------------------------------------------------------------------------
# round-6 capstone: the end-to-end curation decision list
# --------------------------------------------------------------------------

_SPLIT_DENOM = 1_000_000
_SPLIT_VAL_CUT = int(0.05 * _SPLIT_DENOM)
_SPLIT_TEST_CUT = _SPLIT_VAL_CUT + int(0.05 * _SPLIT_DENOM)


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    return curation.corpus_curate(docs, bench, qf=QF, decon_n=DECON_N)


def _corpus_curate_oracle() -> str:
    from bb_bigdata_log_tools_spark.registry_pipeline import (
        SQL_MINHASH_PAIRS_CTES,
    )

    split_hash = (
        "('0x' || substring(md5('split:' || source || ':' ||"
        " CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
        f" % {_SPLIT_DENOM}"
    )
    return f"""
WITH RECURSIVE {SQL_MINHASH_PAIRS_CTES},
edges AS (
  SELECT doc_id1 AS a, doc_id2 AS b FROM pairs
  UNION
  SELECT doc_id2, doc_id1 FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
  SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
),
exact AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY md5(text)) AS exact_keeper
  FROM documents
),
qm AS (
  SELECT doc_id,
         strlen(text) AS n_chars,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         CAST(strlen(replace(text, ' ', '')) AS DOUBLE) AS sum_tok_len,
         CAST(len(list_distinct(list_filter(string_split(text, ' '),
                                            x -> x <> ''))) AS DOUBLE) AS n_uniq
  FROM documents
),
q AS (
  SELECT doc_id,
         CASE WHEN n_chars < {QF['min_chars']} THEN 'too_short'
              WHEN n_chars > {QF['max_chars']} THEN 'too_long'
              WHEN n_tokens < {QF['min_tokens']} THEN 'too_few_tokens'
              WHEN round(CASE WHEN n_tokens > 0 THEN sum_tok_len / n_tokens
                              ELSE 0 END, 4) > {QF['max_mean_token_len']}
                THEN 'long_tokens'
              WHEN round(CASE WHEN n_tokens > 0 THEN n_uniq / n_tokens
                              ELSE 0 END, 4) < {QF['min_unique_ratio']}
                THEN 'repetitive'
              ELSE 'ok' END AS fail_reason
  FROM qm
),
bench AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0),
decon AS (
  SELECT sh.doc_id, CAST(count(DISTINCT sh.h) AS BIGINT) AS n_shingle_hits
  FROM sh JOIN bench USING (h) GROUP BY sh.doc_id
),
spl AS (
  SELECT doc_id,
         CASE WHEN {split_hash} < {_SPLIT_VAL_CUT} THEN 'val'
              WHEN {split_hash} < {_SPLIT_TEST_CUT} THEN 'test'
              ELSE 'train' END AS split
  FROM documents
)
SELECT e.doc_id,
       CASE WHEN q.fail_reason <> 'ok' THEN 'quality'
            WHEN e.doc_id <> e.exact_keeper THEN 'dup_exact'
            WHEN c.cluster_id IS NOT NULL AND e.doc_id <> c.cluster_id
              THEN 'dup_near'
            WHEN COALESCE(d.n_shingle_hits, 0) > 0 THEN 'contaminated'
            ELSE 'kept' END AS decision,
       CASE WHEN q.fail_reason <> 'ok' THEN q.fail_reason
            WHEN e.doc_id <> e.exact_keeper
              THEN CAST(COALESCE(c.cluster_id, e.exact_keeper) AS VARCHAR)
            WHEN c.cluster_id IS NOT NULL AND e.doc_id <> c.cluster_id
              THEN CAST(c.cluster_id AS VARCHAR)
            WHEN COALESCE(d.n_shingle_hits, 0) > 0
              THEN CAST(d.n_shingle_hits AS VARCHAR)
            ELSE spl.split END AS detail
FROM exact e
JOIN q USING (doc_id)
LEFT JOIN clusters c ON e.doc_id = c.doc_id
LEFT JOIN decon d ON e.doc_id = d.doc_id
JOIN spl ON e.doc_id = spl.doc_id
ORDER BY e.doc_id
"""


CURATION_QUERIES["corpus_curate"] = q_corpus_curate
CURATION_ORACLES["corpus_curate"] = _corpus_curate_oracle()


# --------------------------------------------------------------------------
# round-7: exact-N weighted sample (integer ticketed min-hash draw)
# --------------------------------------------------------------------------

_SWX_N = 100
_SWX_CAP = 256


def q_sample_weighted_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-100 token-weighted corpus sample: long documents are
    proportionally more likely to be drawn (the sampling mode a
    token-budgeted training mix needs), with every draw reproducible
    in pure integer md5 arithmetic."""
    from bb_bigdata_log_tools_spark.operators.curation import sample_weighted_exact

    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    d = docs.select("doc_id", "source", toks.cast("long").alias("wt"))
    out = sample_weighted_exact(d, n=_SWX_N, max_tickets=_SWX_CAP)
    return out.select("sample_rank", "doc_id", "source", "wt", "draw_key")


SQL_SAMPLE_WEIGHTED_EXACT = f"""
WITH w AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS wt
  FROM documents
),
d AS (
  SELECT doc_id, source, wt,
         list_min(list_transform(
           range(1, CAST(least(wt, {_SWX_CAP}) AS INT) + 1),
           t -> ('0x' || substring(md5('wx:' || CAST(doc_id AS VARCHAR)
                                       || ':' || CAST(t AS VARCHAR)), 1, 15)
                )::BIGINT
         )) AS draw_key
  FROM w WHERE wt > 0
)
SELECT CAST(row_number() OVER (ORDER BY draw_key, doc_id) AS INTEGER)
         AS sample_rank,
       doc_id, source, wt, draw_key
FROM d
ORDER BY draw_key, doc_id
LIMIT {_SWX_N}
"""

CURATION_QUERIES["sample_weighted_exact"] = q_sample_weighted_exact
CURATION_ORACLES["sample_weighted_exact"] = SQL_SAMPLE_WEIGHTED_EXACT


# --------------------------------------------------------------------------
# round-7: exact-N-per-group weighted sample (stratified ticketed draw)
# --------------------------------------------------------------------------

_SWS_N = 20
_SWS_CAP = 256


def q_sample_weighted_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-20-per-source token-weighted sample: the per-stratum
    training-mix draw (N docs from EVERY source, long documents
    proportionally more likely within their source), reproducible in
    pure integer md5 arithmetic."""
    from bb_bigdata_log_tools_spark.operators.curation import (
        sample_weighted_stratified,
    )

    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    toks = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    d = docs.select("doc_id", "source", toks.cast("long").alias("wt"))
    out = sample_weighted_stratified(
        d, n_per_group=_SWS_N, group_col="source", max_tickets=_SWS_CAP
    )
    return out.select(
        "source", "sample_rank", "doc_id", "wt", "draw_key"
    )


SQL_SAMPLE_WEIGHTED_STRATIFIED = f"""
WITH w AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS wt
  FROM documents
),
d AS (
  SELECT doc_id, source, wt,
         list_min(list_transform(
           range(1, CAST(least(wt, {_SWS_CAP}) AS INT) + 1),
           t -> ('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)
                                       || ':' || CAST(t AS VARCHAR)), 1, 15)
                )::BIGINT
         )) AS draw_key
  FROM w WHERE wt > 0
),
r AS (
  SELECT source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY draw_key, doc_id) AS INTEGER)
           AS sample_rank,
         doc_id, wt, draw_key
  FROM d
)
SELECT source, sample_rank, doc_id, wt, draw_key
FROM r
WHERE sample_rank <= {_SWS_N}
ORDER BY source, sample_rank
"""

CURATION_QUERIES["sample_weighted_stratified"] = q_sample_weighted_stratified
CURATION_ORACLES["sample_weighted_stratified"] = SQL_SAMPLE_WEIGHTED_STRATIFIED
