"""Registry part 2: LLM-data-pipeline operators (SURVEY.md §2c) with
DuckDB oracles.

The minhash/simhash oracles embed the SAME permutation literals the
Spark side uses (generated from ``permutation_params``), so the entire
LSH pipeline — shingle hash → signature → band bucket → candidate join →
exact-Jaccard verify — reproduces bit-for-bit in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bb_bigdata_log_tools_spark.functions.hashing import MERSENNE_31, permutation_params
from bb_bigdata_log_tools_spark.operators import dedup, similarity, textqc
from bb_bigdata_log_tools_spark.session import ensure_parallelism, table

# Shared SQL fragments -----------------------------------------------------

# Distinct word-trigram shingle md5-int64 hashes per document.
SQL_SHINGLES = """
words AS (
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
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
"""

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(table(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_md5,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY keep_doc_id
"""


NGRAM_MAX_DF = 10_000  # shingle document-frequency cap (engine + oracle)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_ngram_jaccard(
        ensure_parallelism(table(spark, sf_dir, "documents")), 3, 0.6, NGRAM_MAX_DF
    )


# The oracle applies the SAME document-frequency cap before the
# inverted-index join (drop shingles with DF > NGRAM_MAX_DF; set sizes
# computed on the capped relation) — bounds the join fan-out of hot
# boilerplate shingles identically on both engines.
SQL_DEDUP_NGRAM_JACCARD = f"""WITH {SQL_SHINGLES},
hot AS (SELECT h FROM sh GROUP BY h HAVING count(*) > {NGRAM_MAX_DF}),
shc AS (SELECT * FROM sh WHERE h NOT IN (SELECT h FROM hot)),
csizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, count(*) AS common
  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id1, doc_id2,
       round(common / (sa.sz + sb.sz - common), 4) AS jaccard
FROM common
JOIN csizes sa ON doc_id1 = sa.doc_id
JOIN csizes sb ON doc_id2 = sb.doc_id
WHERE round(common / (sa.sz + sb.sz - common), 4) >= 0.6
ORDER BY doc_id1, doc_id2
"""


def _perm_values(num_perm: int = 64) -> str:
    rows = [
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(permutation_params(num_perm))
    ]
    return ",\n    ".join(rows)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_minhash_lsh(ensure_parallelism(table(spark, sf_dir, "documents")), 3, 64, 16, 0.6)


def _minhash_pairs_tail(sh_rel: str = "sh", sizes_rel: str = "sizes") -> str:
    """CTE tail (perms → … → pairs(doc_id1, doc_id2, jaccard)) over a
    caller-named shingle/sizes relation — one copy serving the
    production minhash oracle (uncapped ``sh``/``sizes``) and the
    recall-eval oracle (capped ``shc``/``csizes``, so truth and approx
    score the same Jaccard definition)."""
    return f"""perms(pid, a, b) AS (VALUES
    {_perm_values(64)}
),
mh AS (
  SELECT doc_id, pid,
         min((a * (h % {MERSENNE_31}) + b) % {MERSENNE_31}) AS mv
  FROM {sh_rel}, perms
  GROUP BY doc_id, pid
),
bandsigs AS (
  SELECT doc_id, pid // 4 AS band_idx,
         md5(string_agg(mv::VARCHAR, ',' ORDER BY pid)) AS band_sig
  FROM mh GROUP BY doc_id, pid // 4
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2
  FROM bandsigs a
  JOIN bandsigs b ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
                 AND a.doc_id < b.doc_id
),
common AS (
  SELECT c.doc_id1, c.doc_id2, count(*) AS common
  FROM candidates c
  JOIN {sh_rel} x ON x.doc_id = c.doc_id1
  JOIN {sh_rel} y ON y.doc_id = c.doc_id2 AND y.h = x.h
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_id1, doc_id2,
         round(common / (sa.sz + sb.sz - common), 4) AS jaccard
  FROM common
  JOIN {sizes_rel} sa ON doc_id1 = sa.doc_id
  JOIN {sizes_rel} sb ON doc_id2 = sb.doc_id
  WHERE round(common / (sa.sz + sb.sz - common), 4) >= 0.6
)"""


# CTE chain ending in `pairs(doc_id1, doc_id2, jaccard)` — shared by the
# minhash oracle and the recursive-closure clustering oracle.
SQL_MINHASH_PAIRS_CTES = f"""{SQL_SHINGLES},
{_minhash_pairs_tail()}"""

SQL_DEDUP_MINHASH_LSH = f"""
WITH {SQL_MINHASH_PAIRS_CTES}
SELECT doc_id1, doc_id2, jaccard FROM pairs
ORDER BY doc_id1, doc_id2
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_simhash(ensure_parallelism(table(spark, sf_dir, "documents")), 3)


SQL_DEDUP_SIMHASH = """
WITH tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
  GROUP BY doc_id, tok
),
th AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h, tf FROM tf
),
bits AS (
  SELECT doc_id, bit,
         CASE WHEN (h >> bit) & 1 = 1 THEN tf ELSE -tf END AS signed
  FROM th, generate_series(0, 59) t(bit)
),
s AS (SELECT doc_id, bit, sum(signed) AS s FROM bits GROUP BY doc_id, bit),
simhashes AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
  FROM s GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, simhash, ci, (simhash >> (15 * ci)) & 32767 AS cv
  FROM simhashes, generate_series(0, 3) t(ci)
)
SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM chunks a
JOIN chunks b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_id1, doc_id2
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.dedup_embedding(ensure_parallelism(table(spark, sf_dir, "embeddings")), 0.3)


SQL_DEDUP_EMBEDDING = """
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
SELECT a.vec_id AS vec_id1, b.vec_id AS vec_id2,
       round(list_dot_product(a.emb, b.emb)
             / sqrt(list_dot_product(a.emb, a.emb))
             / sqrt(list_dot_product(b.emb, b.emb)), 4) AS cos_sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb)
            / sqrt(list_dot_product(a.emb, a.emb))
            / sqrt(list_dot_product(b.emb, b.emb)), 4) >= 0.3
ORDER BY vec_id1, vec_id2
"""


def q_ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_topk_bruteforce(ensure_parallelism(table(spark, sf_dir, "embeddings")), 20, 10)


SQL_ANN_TOPK_BRUTEFORCE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 20),
scored AS (
  SELECT q.q_id, e.vec_id AS n_id,
         round(list_dot_product(q.q_emb, e.emb)
               / sqrt(list_dot_product(q.q_emb, q.q_emb))
               / sqrt(list_dot_product(e.emb, e.emb)), 4) AS cos_sim
  FROM e JOIN q ON e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, n_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, n_id) AS INTEGER) AS rank
  FROM scored
)
SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= 10
ORDER BY q_id, rank
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.text_lang_id(ensure_parallelism(table(spark, sf_dir, "documents")))


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in textqc.LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter(toks, t -> list_contains([{markers}], t))) AS INTEGER)"
        f" AS s_{lang}"
    )


SQL_TEXT_LANG_ID = f"""
WITH t AS (
  SELECT doc_id, lang,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
         {_lang_score_sql('de')},
         {_lang_score_sql('en')},
         {_lang_score_sql('es')},
         {_lang_score_sql('fr')},
         {_lang_score_sql('zh')}
  FROM t
),
g AS (
  SELECT *, greatest(s_de, s_en, s_es, s_fr, s_zh) AS best FROM scored
)
SELECT doc_id, lang,
       CASE WHEN best = 0 THEN 'und'
            WHEN s_de = best THEN 'de'
            WHEN s_en = best THEN 'en'
            WHEN s_es = best THEN 'es'
            WHEN s_fr = best THEN 'fr'
            ELSE 'zh' END AS lang_guess,
       best AS marker_hits
FROM g
ORDER BY doc_id
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.text_quality(ensure_parallelism(table(spark, sf_dir, "documents")))


SQL_TEXT_QUALITY = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
f AS (
  SELECT doc_id,
         CAST(length(text) AS INTEGER) AS n_chars,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS INTEGER) AS alpha_chars
  FROM t
)
SELECT doc_id, n_chars, n_tokens, n_distinct_tokens,
       round(n_distinct_tokens / greatest(n_tokens, 1), 4) AS diversity,
       round(alpha_chars / greatest(n_chars, 1), 4) AS alpha_ratio,
       round(0.4 * least(n_chars / 500.0, 1.0)
             + 0.3 * (n_distinct_tokens / greatest(n_tokens, 1))
             + 0.3 * (alpha_chars / greatest(n_chars, 1)), 4) AS quality_score
FROM f
ORDER BY doc_id
"""


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.text_token_count(ensure_parallelism(table(spark, sf_dir, "documents")))


SQL_TEXT_TOKEN_COUNT = f"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{textqc.BPE_TOKEN_RE}')) AS INTEGER) AS bpe_tokens
FROM documents
ORDER BY doc_id
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.text_fingerprint(ensure_parallelism(table(spark, sf_dir, "documents")))


SQL_TEXT_FINGERPRINT = f"""
WITH t AS (
  SELECT doc_id,
         regexp_replace(trim(text), ' +', ' ', 'g') AS norm,
         list_transform(list_filter(string_split(text, ' '), t -> t <> ''),
                        tok -> ('0x' || substring(md5(tok), 1, 15))::BIGINT
                               % {MERSENNE_31}) AS ths
  FROM documents
)
SELECT doc_id,
       ('0x' || substring(md5(norm), 1, 15))::BIGINT AS content_fp,
       list_reduce(list_prepend(0::BIGINT, ths),
                   (acc, h) -> (acc * 131 + h) % {MERSENNE_31}) AS rolling_fp
FROM t
ORDER BY doc_id
"""


PIPELINE_QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "ann_topk_bruteforce": q_ann_topk_bruteforce,
    "text_lang_id": q_text_lang_id,
    "text_quality": q_text_quality,
    "text_token_count": q_text_token_count,
    "text_fingerprint": q_text_fingerprint,
}

PIPELINE_ORACLES = {
    "dedup_exact": SQL_DEDUP_EXACT,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "dedup_minhash_lsh": SQL_DEDUP_MINHASH_LSH,
    "dedup_simhash": SQL_DEDUP_SIMHASH,
    "dedup_embedding": SQL_DEDUP_EMBEDDING,
    "ann_topk_bruteforce": SQL_ANN_TOPK_BRUTEFORCE,
    "text_lang_id": SQL_TEXT_LANG_ID,
    "text_quality": SQL_TEXT_QUALITY,
    "text_token_count": SQL_TEXT_TOKEN_COUNT,
    "text_fingerprint": SQL_TEXT_FINGERPRINT,
}


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_cluster(
        ensure_parallelism(table(spark, sf_dir, "documents")), 3, 64, 16, 0.6
    )


# Recursive transitive closure over the same pair graph: cluster_id is
# the minimum doc_id reachable from each node (matching min-label
# propagation's fixpoint).
SQL_DEDUP_CLUSTER = f"""
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
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id
FROM reach GROUP BY a
ORDER BY doc_id
"""

PIPELINE_QUERIES["dedup_cluster"] = q_dedup_cluster
PIPELINE_ORACLES["dedup_cluster"] = SQL_DEDUP_CLUSTER


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.text_repetition(ensure_parallelism(table(spark, sf_dir, "documents")))


SQL_TEXT_REPETITION = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS words
  FROM documents
),
b AS (
  SELECT doc_id,
         CASE WHEN len(words) >= 2
              THEN list_transform(generate_series(1, len(words) - 1),
                                  i -> words[i] || ' ' || words[i + 1])
              ELSE [] END AS bigrams
  FROM w
)
SELECT doc_id,
  CAST(len(bigrams) AS INTEGER) AS n_bigrams,
  round(CASE WHEN len(bigrams) > 0
             THEN 1 - len(list_distinct(bigrams)) / CAST(len(bigrams) AS DOUBLE)
             ELSE 0.0 END, 4) AS dup_bigram_ratio,
  round(CASE WHEN len(bigrams) > 0
             THEN list_max(list_transform(list_distinct(bigrams),
                    d -> len(list_filter(bigrams, x -> x = d))))
                  / CAST(len(bigrams) AS DOUBLE)
             ELSE 0.0 END, 4) AS top_bigram_frac
FROM b
ORDER BY doc_id
"""


PIPELINE_QUERIES.update({"text_repetition": q_text_repetition})
PIPELINE_ORACLES.update({"text_repetition": SQL_TEXT_REPETITION})


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_keep_best(
        ensure_parallelism(table(spark, sf_dir, "documents")), 3, 64, 16, 0.6
    )


SQL_DEDUP_KEEP_BEST = f"""
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
qt AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
q AS (
  SELECT doc_id,
         round(0.4 * least(length(text) / 500.0, 1.0)
               + 0.3 * (len(list_distinct(toks)) / greatest(len(toks), 1))
               + 0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        / greatest(length(text), 1)), 4) AS quality_score
  FROM qt
),
ranked AS (
  SELECT c.doc_id, c.cluster_id, q.quality_score,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY q.quality_score DESC, c.doc_id)
           AS rn
  FROM clusters c JOIN q USING (doc_id)
),
kept AS (
  SELECT cluster_id, doc_id AS kept_doc_id, quality_score AS kept_score
  FROM ranked WHERE rn = 1
)
SELECT r.doc_id, r.cluster_id, k.kept_doc_id, r.quality_score, k.kept_score
FROM ranked r JOIN kept k USING (cluster_id)
WHERE r.rn > 1
ORDER BY r.doc_id
"""

PIPELINE_QUERIES["dedup_keep_best"] = q_dedup_keep_best
PIPELINE_ORACLES["dedup_keep_best"] = SQL_DEDUP_KEEP_BEST


CROSS_SOURCE_PREFIX = 80


def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_cross_source(
        table(spark, sf_dir, "documents"), CROSS_SOURCE_PREFIX
    )


SQL_DEDUP_CROSS_SOURCE = f"""
WITH d AS (
  SELECT DISTINCT md5(substring(text, 1, {CROSS_SOURCE_PREFIX})) AS fp, source
  FROM documents
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2
ORDER BY source_a, source_b
"""

PIPELINE_QUERIES["dedup_cross_source"] = q_dedup_cross_source
PIPELINE_ORACLES["dedup_cross_source"] = SQL_DEDUP_CROSS_SOURCE


# --------------------------------------------------------------------------
# Levenshtein near-dup pairs + MinHash recall evaluation
# --------------------------------------------------------------------------

EDIT_MAX_DIST = 8
EDIT_PREFIX = 16
EDIT_LEN_BAND = 16
EDIT_MAX_BLOCK = 10_000


def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_edit_distance(
        ensure_parallelism(table(spark, sf_dir, "documents")),
        EDIT_MAX_DIST,
        EDIT_PREFIX,
        EDIT_LEN_BAND,
        max_block=EDIT_MAX_BLOCK,
    )


SQL_DEDUP_EDIT_DISTANCE = f"""
WITH blocked0 AS (
  SELECT doc_id, text,
         substring(text, 1, {EDIT_PREFIX}) AS blk_prefix,
         n_chars // {EDIT_LEN_BAND} AS blk_len
  FROM documents
),
hot AS (
  SELECT blk_prefix, blk_len FROM blocked0
  GROUP BY 1, 2 HAVING count(*) > {EDIT_MAX_BLOCK}
),
blocked AS (
  SELECT b.* FROM blocked0 b
  ANTI JOIN hot h USING (blk_prefix, blk_len)
)
SELECT least(a.doc_id, b.doc_id) AS doc_id1,
       greatest(a.doc_id, b.doc_id) AS doc_id2,
       CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
FROM blocked a
JOIN blocked b ON a.blk_prefix = b.blk_prefix
              AND b.blk_len - a.blk_len BETWEEN 0 AND 1
              AND (a.blk_len < b.blk_len OR a.doc_id < b.doc_id)
WHERE levenshtein(a.text, b.text) <= {EDIT_MAX_DIST}
ORDER BY doc_id1, doc_id2
"""


def q_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_recall_eval(
        ensure_parallelism(table(spark, sf_dir, "documents")),
        3, 0.6, 64, 16, NGRAM_MAX_DF,
    )


# Both sides over the SAME max_df-capped shingle relation (shc/csizes)
# — matching minhash_recall_eval, so truth and approx score one Jaccard
# definition and the eval measures LSH recall, not cap disagreements.
SQL_MINHASH_RECALL_EVAL = f"""
WITH {SQL_SHINGLES},
hot AS (SELECT h FROM sh GROUP BY h HAVING count(*) > {NGRAM_MAX_DF}),
shc AS (SELECT * FROM sh WHERE h NOT IN (SELECT h FROM hot)),
csizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY doc_id),
{_minhash_pairs_tail("shc", "csizes")},
truth AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2
  FROM shc a JOIN shc b ON a.h = b.h AND a.doc_id < b.doc_id
  JOIN csizes sa ON a.doc_id = sa.doc_id
  JOIN csizes sb ON b.doc_id = sb.doc_id
  GROUP BY a.doc_id, b.doc_id, sa.sz, sb.sz
  HAVING round(count(*) / (sa.sz + sb.sz - count(*)), 4) >= 0.6
),
approx AS (
  SELECT doc_id1, doc_id2 FROM pairs
),
j AS (
  SELECT coalesce(t.doc_id1, a.doc_id1) AS d1,
         t.doc_id1 IS NOT NULL AS in_truth,
         a.doc_id1 IS NOT NULL AS in_approx
  FROM truth t FULL OUTER JOIN approx a
    ON t.doc_id1 = a.doc_id1 AND t.doc_id2 = a.doc_id2
)
SELECT CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN in_approx THEN 1 ELSE 0 END) AS BIGINT) AS n_approx,
       CAST(sum(CASE WHEN in_truth AND in_approx THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       round(sum(CASE WHEN in_truth AND in_approx THEN 1 ELSE 0 END) * 1.0
             / greatest(sum(CASE WHEN in_truth THEN 1 ELSE 0 END), 1), 4)
         AS recall,
       round(sum(CASE WHEN in_truth AND in_approx THEN 1 ELSE 0 END) * 1.0
             / greatest(sum(CASE WHEN in_approx THEN 1 ELSE 0 END), 1), 4)
         AS precision
FROM j
"""

PIPELINE_QUERIES["dedup_edit_distance"] = q_dedup_edit_distance
PIPELINE_ORACLES["dedup_edit_distance"] = SQL_DEDUP_EDIT_DISTANCE
PIPELINE_QUERIES["minhash_recall_eval"] = q_minhash_recall_eval
PIPELINE_ORACLES["minhash_recall_eval"] = SQL_MINHASH_RECALL_EVAL


def q_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.shingle_novelty(
        ensure_parallelism(table(spark, sf_dir, "documents")), 3
    )


SQL_SHINGLE_NOVELTY = f"""WITH {SQL_SHINGLES},
first_seen AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS novelty
FROM sh s JOIN first_seen f USING (h)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""

PIPELINE_QUERIES["shingle_novelty"] = q_shingle_novelty
PIPELINE_ORACLES["shingle_novelty"] = SQL_SHINGLE_NOVELTY


def q_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.lang_id_eval(
        ensure_parallelism(table(spark, sf_dir, "documents"))
    )


SQL_LANG_ID_EVAL = f"""
WITH pred AS (SELECT lang, lang_guess FROM ({SQL_TEXT_LANG_ID}) t),
cells AS (
  SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY 1, 2
)
SELECT lang, lang_guess, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY lang), 4) AS share
FROM cells
ORDER BY lang, lang_guess
"""


def q_cluster_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.cluster_size_stats(
        ensure_parallelism(table(spark, sf_dir, "documents"))
    )


SQL_CLUSTER_SIZE_STATS = f"""
WITH c AS (SELECT * FROM ({SQL_DEDUP_CLUSTER}) t),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM c GROUP BY 1
)
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM sizes
GROUP BY 1
ORDER BY cluster_size
"""

PIPELINE_QUERIES["lang_id_eval"] = q_lang_id_eval
PIPELINE_ORACLES["lang_id_eval"] = SQL_LANG_ID_EVAL
PIPELINE_QUERIES["cluster_size_stats"] = q_cluster_size_stats
PIPELINE_ORACLES["cluster_size_stats"] = SQL_CLUSTER_SIZE_STATS


# --------------------------------------------------------------------------
# PageRank over the near-dup graph (fixed power iterations, unrolled SQL)
# --------------------------------------------------------------------------

PAGERANK_ITERS = 3
PAGERANK_DAMPING = 0.85


def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_pagerank(
        ensure_parallelism(table(spark, sf_dir, "documents")),
        iters=PAGERANK_ITERS,
        damping=PAGERANK_DAMPING,
    )


def _pagerank_oracle() -> str:
    d = PAGERANK_DAMPING
    its = []
    for i in range(1, PAGERANK_ITERS + 1):
        its.append(f"""r{i} AS (
  SELECT n.doc_id, (1.0 - {d}) / c + {d} * coalesce(s.in_sum, 0.0) AS rank
  FROM nodes n CROSS JOIN cnt
  LEFT JOIN (
    SELECT e.dst, sum(r.rank / dg.deg) AS in_sum
    FROM edges e
    JOIN r{i - 1} r ON e.src = r.doc_id
    JOIN deg dg ON e.src = dg.src
    GROUP BY e.dst
  ) s ON n.doc_id = s.dst
)""")
    its_sql = ",\n".join(its)
    return f"""
WITH {SQL_MINHASH_PAIRS_CTES},
edges AS (
  SELECT doc_id1 AS src, doc_id2 AS dst FROM pairs
  UNION ALL
  SELECT doc_id2, doc_id1 FROM pairs
),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
cnt AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT doc_id, 1.0 / c AS rank FROM nodes CROSS JOIN cnt),
{its_sql}
SELECT doc_id, round(rank, 6) AS rank
FROM r{PAGERANK_ITERS}
ORDER BY rank DESC, doc_id
"""


PIPELINE_QUERIES["dedup_pagerank"] = q_dedup_pagerank
PIPELINE_ORACLES["dedup_pagerank"] = _pagerank_oracle()


# --------------------------------------------------------------------------
# suffix-array-style duplicated-substring detection (Lee et al. 2021)
# --------------------------------------------------------------------------

SUBSTR_GRAM = 20
SUBSTR_MIN_LEN = 30
SUBSTR_MAX_DF = 64


def q_dedup_suffix_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_substring(
        ensure_parallelism(table(spark, sf_dir, "documents")),
        SUBSTR_GRAM,
        SUBSTR_MIN_LEN,
        SUBSTR_MAX_DF,
    )


# Same positional-gram / diagonal-islands construction in SQL. Spark's
# posexplode is 0-based while generate_series is 1-based; only run
# LENGTHS reach the output, which are offset-invariant.
SQL_DEDUP_SUFFIX_ARRAY = f"""
WITH pos AS (
  SELECT doc_id, i AS p,
         ('0x' || substring(md5(substr(text, i, {SUBSTR_GRAM})), 1, 15))::BIGINT AS h
  FROM documents, unnest(generate_series(1, len(text) - {SUBSTR_GRAM - 1})) AS u(i)
  WHERE len(text) >= {SUBSTR_GRAM}
),
hot AS (SELECT h FROM pos GROUP BY h HAVING count(*) > {SUBSTR_MAX_DF}),
kept AS (SELECT * FROM pos WHERE h NOT IN (SELECT h FROM hot)),
hits AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
         a.p AS p1, a.p - b.p AS diag
  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
),
runs AS (
  SELECT doc_id1, doc_id2, diag,
         p1 - row_number() OVER (PARTITION BY doc_id1, doc_id2, diag
                                 ORDER BY p1) AS grp,
         1 AS one
  FROM hits
),
rl AS (
  SELECT doc_id1, doc_id2, count(*) AS run
  FROM runs GROUP BY doc_id1, doc_id2, diag, grp
)
SELECT doc_id1, doc_id2,
       CAST(max(run) + {SUBSTR_GRAM - 1} AS BIGINT) AS lcs_len
FROM rl GROUP BY doc_id1, doc_id2
HAVING max(run) + {SUBSTR_GRAM - 1} >= {SUBSTR_MIN_LEN}
ORDER BY doc_id1, doc_id2
"""

PIPELINE_QUERIES["dedup_suffix_array"] = q_dedup_suffix_array
PIPELINE_ORACLES["dedup_suffix_array"] = SQL_DEDUP_SUFFIX_ARRAY


# --------------------------------------------------------------------------
# template-family detection (digit-masked content hash)
# --------------------------------------------------------------------------

TEMPLATE_MIN_DOCS = 2


def q_text_near_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bb_bigdata_log_tools_spark.operators import textprep

    return textprep.near_template_clusters(
        table(spark, sf_dir, "documents"), TEMPLATE_MIN_DOCS
    )


SQL_TEXT_NEAR_TEMPLATE = f"""
WITH t AS (
  SELECT doc_id, source,
         array_to_string(
           list_sort(list_distinct(
             string_split(regexp_replace(text, '[0-9]+', '#', 'g'), ' '))),
           ' ') AS tmpl
  FROM documents
)
SELECT md5(tmpl) AS template_md5,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       min(doc_id) AS min_doc_id,
       min(substr(tmpl, 1, 60)) AS template_preview
FROM t GROUP BY tmpl
HAVING count(*) >= {TEMPLATE_MIN_DOCS}
ORDER BY min_doc_id
"""

PIPELINE_QUERIES["text_near_template"] = q_text_near_template
PIPELINE_ORACLES["text_near_template"] = SQL_TEXT_NEAR_TEMPLATE


# --------------------------------------------------------------------------
# per-document banded minhash signatures (the reusable LSH artifact)
# --------------------------------------------------------------------------


def q_docs_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, band_idx, band_sig) relation itself — the artifact an
    incremental pipeline PERSISTS so tomorrow's crawl LSH-joins against
    yesterday's signatures without re-minhashing the archive
    (``dedup_incremental``'s input contract)."""
    sh = dedup.doc_shingle_hashes(
        ensure_parallelism(table(spark, sf_dir, "documents")), 3
    )
    return dedup.minhash_bands_from_hashes(sh, 64, 16)


SQL_DOCS_MINHASH_SIGNATURE = f"""
WITH {SQL_MINHASH_PAIRS_CTES}
SELECT doc_id, CAST(band_idx AS INTEGER) AS band_idx, band_sig
FROM bandsigs
ORDER BY doc_id, band_idx
"""

PIPELINE_QUERIES["docs_minhash_signature"] = q_docs_minhash_signature
PIPELINE_ORACLES["docs_minhash_signature"] = SQL_DOCS_MINHASH_SIGNATURE


# --------------------------------------------------------------------------
# round-5: tokenizer fertility by language + vocabulary Zipf fit
# --------------------------------------------------------------------------


def q_token_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.token_fertility_by_lang(table(spark, sf_dir, "documents"))


SQL_TOKEN_FERTILITY_BY_LANG = f"""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
            AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '{textqc.BPE_TOKEN_RE}')))
            AS BIGINT) AS bpe_tokens,
       round(sum(len(regexp_extract_all(text, '{textqc.BPE_TOKEN_RE}')))
             * 1.0 /
             sum(len(list_filter(string_split(text, ' '), t -> t <> ''))), 4)
         AS fertility
FROM documents
GROUP BY lang
ORDER BY lang
"""


def q_vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.vocab_zipf_fit(
        ensure_parallelism(table(spark, sf_dir, "documents"))
    )


SQL_VOCAB_ZIPF_FIT = """
WITH vocab AS (
  SELECT tok, count(*) AS cnt
  FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
        FROM documents)
  GROUP BY tok
),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
         ln(CAST(cnt AS DOUBLE)) AS y
  FROM vocab
),
s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_vocab,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
         AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
FROM s
"""

PIPELINE_QUERIES["token_fertility_by_lang"] = q_token_fertility_by_lang
PIPELINE_ORACLES["token_fertility_by_lang"] = SQL_TOKEN_FERTILITY_BY_LANG
PIPELINE_QUERIES["vocab_zipf_fit"] = q_vocab_zipf_fit
PIPELINE_ORACLES["vocab_zipf_fit"] = SQL_VOCAB_ZIPF_FIT


# --------------------------------------------------------------------------
# round-5 capstone: the per-doc quality feature matrix
# --------------------------------------------------------------------------


def q_quality_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.quality_feature_matrix(
        ensure_parallelism(table(spark, sf_dir, "documents"))
    )


SQL_QUALITY_FEATURE_MATRIX = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
q AS (
  SELECT doc_id,
         CAST(length(text) AS INTEGER) AS n_chars,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(len(list_distinct(toks)) AS INTEGER) AS n_distinct_tokens,
         round(len(list_distinct(toks)) / greatest(len(toks), 1), 4) AS diversity,
         round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               / greatest(length(text), 1), 4) AS alpha_ratio,
         round(0.4 * least(length(text) / 500.0, 1.0)
               + 0.3 * (len(list_distinct(toks)) / greatest(len(toks), 1))
               + 0.3 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        / greatest(length(text), 1)), 4) AS quality_score
  FROM t
),
b AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_transform(generate_series(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1])
              ELSE [] END AS bigrams
  FROM t
),
r AS (
  SELECT doc_id,
    round(CASE WHEN len(bigrams) > 0
               THEN 1 - len(list_distinct(bigrams)) / CAST(len(bigrams) AS DOUBLE)
               ELSE 0.0 END, 4) AS dup_bigram_ratio,
    round(CASE WHEN len(bigrams) > 0
               THEN list_max(list_transform(list_distinct(bigrams),
                      d -> len(list_filter(bigrams, x -> x = d))))
                    / CAST(len(bigrams) AS DOUBLE)
               ELSE 0.0 END, 4) AS top_bigram_frac
  FROM b
),
chars AS (
  SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS n
  FROM (SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents)
  WHERE c <> ''
  GROUP BY doc_id, c
),
ctot AS (
  SELECT doc_id, sum(n) AS len, count(*) AS n_distinct FROM chars GROUP BY doc_id
),
e AS (
  SELECT chars.doc_id,
         CAST(max(n_distinct) AS BIGINT) AS n_distinct_chars,
         round(-sum((n / len) * ln(n / len)), 4) AS char_entropy
  FROM chars JOIN ctot ON chars.doc_id = ctot.doc_id
  GROUP BY chars.doc_id
),
wtoks AS (
  SELECT doc_id, unnest(toks) AS token FROM t
),
vocab AS (SELECT token, count(*) AS cnt FROM wtoks GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM vocab),
p AS (
  SELECT w.doc_id,
         round(exp(round(avg(-ln(v.cnt / (SELECT tot FROM tot))), 4)), 4)
           AS unigram_ppl
  FROM wtoks w JOIN vocab v USING (token)
  GROUP BY w.doc_id
)
SELECT q.doc_id, q.n_chars, q.n_tokens, q.n_distinct_tokens, q.diversity,
       q.alpha_ratio, q.quality_score,
       r.dup_bigram_ratio, r.top_bigram_frac,
       e.n_distinct_chars, e.char_entropy,
       p.unigram_ppl
FROM q
JOIN r ON q.doc_id = r.doc_id
JOIN e ON q.doc_id = e.doc_id
JOIN p ON q.doc_id = p.doc_id
ORDER BY q.doc_id
"""

PIPELINE_QUERIES["quality_feature_matrix"] = q_quality_feature_matrix
PIPELINE_ORACLES["quality_feature_matrix"] = SQL_QUALITY_FEATURE_MATRIX


# --------------------------------------------------------------------------
# round-5: triangle census of the near-dup graph
# --------------------------------------------------------------------------


def q_dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_graph_triangles(
        ensure_parallelism(table(spark, sf_dir, "documents"))
    )


SQL_DEDUP_GRAPH_TRIANGLES = f"""
WITH {SQL_MINHASH_PAIRS_CTES},
edges AS (
  SELECT DISTINCT least(doc_id1, doc_id2) AS u,
         greatest(doc_id1, doc_id2) AS v
  FROM pairs
),
und AS (
  SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges
),
wedges AS (
  SELECT a.v AS w1, b.v AS w2
  FROM und a JOIN und b ON a.u = b.u AND a.v < b.v
),
closed AS (
  SELECT count(*) AS n_closed
  FROM wedges JOIN edges e ON wedges.w1 = e.u AND wedges.w2 = e.v
),
counts AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
         (SELECT CAST(count(*) AS BIGINT) FROM wedges) AS n_wedges,
         (SELECT n_closed FROM closed) AS n_closed
)
SELECT n_edges, n_wedges,
       CAST(n_closed // 3 AS BIGINT) AS n_triangles,
       CASE WHEN n_wedges > 0
            THEN round(n_closed * 1.0 / n_wedges, 4) ELSE 0.0 END
         AS clustering_coefficient
FROM counts
"""

PIPELINE_QUERIES["dedup_graph_triangles"] = q_dedup_graph_triangles
PIPELINE_ORACLES["dedup_graph_triangles"] = SQL_DEDUP_GRAPH_TRIANGLES


# --------------------------------------------------------------------------
# round-5: contrastive training triplets from the near-dup graph
# --------------------------------------------------------------------------

_NEG_MD5 = "('0x' || substring(md5('neg:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.contrastive_pairs(
        ensure_parallelism(table(spark, sf_dir, "documents"))
    )


SQL_CONTRASTIVE_PAIRS = f"""
WITH {SQL_MINHASH_PAIRS_CTES},
nd AS (SELECT count(*) AS n FROM documents),
ranked AS MATERIALIZED (
  SELECT doc_id,
         row_number() OVER (ORDER BY {_NEG_MD5}, doc_id) AS rk
  FROM documents
)
SELECT p.doc_id1 AS anchor_id, p.doc_id2 AS positive_id,
       CASE WHEN r1.doc_id <> p.doc_id1 AND r1.doc_id <> p.doc_id2
            THEN r1.doc_id
            WHEN r2.doc_id <> p.doc_id1 AND r2.doc_id <> p.doc_id2
            THEN r2.doc_id
            WHEN r3.doc_id <> p.doc_id1 AND r3.doc_id <> p.doc_id2
            THEN r3.doc_id END AS negative_id,
       p.jaccard
FROM pairs p
JOIN ranked ra ON p.doc_id1 = ra.doc_id
CROSS JOIN nd
JOIN ranked r1 ON r1.rk = ra.rk % nd.n + 1
JOIN ranked r2 ON r2.rk = (ra.rk + 1) % nd.n + 1
JOIN ranked r3 ON r3.rk = (ra.rk + 2) % nd.n + 1
ORDER BY anchor_id, positive_id
"""

PIPELINE_QUERIES["contrastive_pairs"] = q_contrastive_pairs
PIPELINE_ORACLES["contrastive_pairs"] = SQL_CONTRASTIVE_PAIRS


# --------------------------------------------------------------------------
# round-5: per-source quality roll-up
# --------------------------------------------------------------------------


def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textqc.source_quality_report(
        ensure_parallelism(table(spark, sf_dir, "documents"))
    )


SQL_SOURCE_QUALITY_REPORT = f"""
WITH qfm AS ({SQL_QUALITY_FEATURE_MATRIX.replace("ORDER BY q.doc_id", "")})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(qfm.quality_score), 4) AS mean_quality,
       round(avg(qfm.char_entropy), 4) AS mean_entropy,
       round(avg(qfm.dup_bigram_ratio), 4) AS mean_dup_bigrams,
       round(avg(qfm.unigram_ppl), 4) AS mean_unigram_ppl
FROM documents d JOIN qfm ON d.doc_id = qfm.doc_id
GROUP BY d.source
ORDER BY d.source
"""

PIPELINE_QUERIES["source_quality_report"] = q_source_quality_report
PIPELINE_ORACLES["source_quality_report"] = SQL_SOURCE_QUALITY_REPORT


# --------------------------------------------------------------------------
# round-5: winnowing (MOSS) fingerprint dedup
# --------------------------------------------------------------------------

WINNOW_K = 8
WINNOW_W = 4
WINNOW_T = 0.5
WINNOW_MAX_DF = 64


def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_winnowing(
        ensure_parallelism(table(spark, sf_dir, "documents")),
        WINNOW_K,
        WINNOW_W,
        WINNOW_T,
        WINNOW_MAX_DF,
    )


_GRAM_MD5 = "('0x' || substring(md5(substr(text, i, {k})), 1, 15))::BIGINT"

SQL_DEDUP_WINNOWING = f"""
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(text) - {WINNOW_K - 1}, 1)),
                        i -> {_GRAM_MD5.format(k=WINNOW_K)}) AS grams
  FROM documents
  WHERE len(text) >= {WINNOW_K + WINNOW_W - 1}
),
fps AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(
           list_transform(
             generate_series(1, greatest(len(grams) - {WINNOW_W - 1}, 1)),
             w -> list_min(grams[w : w + {WINNOW_W - 1}])))) AS fp
  FROM g
),
hot AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > {WINNOW_MAX_DF}),
kept AS (SELECT * FROM fps WHERE fp NOT IN (SELECT fp FROM hot)),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id1, doc_id2, n_shared,
       round(n_shared * 1.0 / least(sa.sz, sb.sz), 4) AS containment
FROM shared
JOIN sizes sa ON doc_id1 = sa.doc_id
JOIN sizes sb ON doc_id2 = sb.doc_id
WHERE round(n_shared * 1.0 / least(sa.sz, sb.sz), 4) >= {WINNOW_T}
ORDER BY doc_id1, doc_id2
"""

PIPELINE_QUERIES["dedup_winnowing"] = q_dedup_winnowing
PIPELINE_ORACLES["dedup_winnowing"] = SQL_DEDUP_WINNOWING


# --------------------------------------------------------------------------
# round-5 capstone: the end-to-end dedup drop list
# --------------------------------------------------------------------------


def q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_resolve(
        ensure_parallelism(table(spark, sf_dir, "documents"))
    )


SQL_DEDUP_RESOLVE = f"""
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
)
SELECT e.doc_id,
       CASE WHEN e.doc_id <> e.exact_keeper THEN 'exact'
            WHEN c.cluster_id IS NOT NULL AND e.doc_id <> c.cluster_id
              THEN 'near'
            ELSE 'kept' END AS decision,
       CASE WHEN e.doc_id <> e.exact_keeper
              THEN coalesce(c.cluster_id, e.exact_keeper)
            WHEN c.cluster_id IS NOT NULL AND e.doc_id <> c.cluster_id
              THEN c.cluster_id
            ELSE e.doc_id END AS keeper_doc_id
FROM exact e LEFT JOIN clusters c ON e.doc_id = c.doc_id
ORDER BY e.doc_id
"""

PIPELINE_QUERIES["dedup_resolve"] = q_dedup_resolve
PIPELINE_ORACLES["dedup_resolve"] = SQL_DEDUP_RESOLVE


# --------------------------------------------------------------------------
# round-6: LSH bucket-size tuning diagnostic
# --------------------------------------------------------------------------


def q_minhash_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_bucket_stats(
        ensure_parallelism(table(spark, sf_dir, "documents"))
    )


SQL_MINHASH_BUCKET_STATS = f"""
WITH {SQL_MINHASH_PAIRS_CTES},
bsz AS (
  SELECT band_idx, band_sig, CAST(count(*) AS BIGINT) AS sz
  FROM bandsigs GROUP BY band_idx, band_sig
)
SELECT CAST(band_idx AS INTEGER) AS band_idx,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       CAST(max(sz) AS BIGINT) AS max_bucket,
       CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_colliding,
       CAST(sum(sz * (sz - 1) // 2) AS BIGINT) AS candidate_pairs
FROM bsz GROUP BY band_idx ORDER BY band_idx
"""

PIPELINE_QUERIES["minhash_bucket_stats"] = q_minhash_bucket_stats
PIPELINE_ORACLES["minhash_bucket_stats"] = SQL_MINHASH_BUCKET_STATS


# --------------------------------------------------------------------------
# round-7: C4-style line-level corpus dedup (eighth lexical family)
# --------------------------------------------------------------------------

_LD_WORDS_PER_LINE = 8
_LD_B1 = "subscribe to our newsletter for updates"
_LD_B2 = "all rights reserved example corp"


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line dedup over a deterministically LINEIFIED corpus: the
    synthetic documents are single-line word streams, so the prep
    splits each into 8-word lines and plants two boilerplate lines on
    doc_id % 7 / % 11 (the _inject_urls fixture-enrichment pattern) —
    those repeat corpus-wide and must be stripped; every real line is
    unique at this vocabulary and must survive."""
    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.operators.dedup import dedup_lines

    docs = ensure_parallelism(table(spark, sf_dir, "documents"))
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    nlines = F.greatest(
        F.ceil(F.size(words) / F.lit(float(_LD_WORDS_PER_LINE))).cast("int"),
        F.lit(1),
    )
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(0), nlines - 1),
            lambda i: F.array_join(
                F.slice(words, i * _LD_WORDS_PER_LINE + 1, _LD_WORDS_PER_LINE),
                " ",
            ),
        ),
        "\n",
    )
    text2 = F.concat(
        F.when(F.col("doc_id") % 7 == 0, F.lit(_LD_B1 + "\n")).otherwise(F.lit("")),
        body,
        F.when(F.col("doc_id") % 11 == 0, F.lit("\n" + _LD_B2)).otherwise(F.lit("")),
    )
    aug = docs.select("doc_id", text2.alias("text2"))
    return dedup_lines(aug, min_count=2, text_col="text2")


SQL_DEDUP_LINES = f"""
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
  FROM documents
),
aug AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 7 = 0 THEN '{_LD_B1}' || chr(10) ELSE '' END)
         || list_aggr(
              list_transform(
                range(greatest(CAST(ceil(len(words) / {_LD_WORDS_PER_LINE}.0)
                                    AS INT), 1)),
                i -> array_to_string(
                       words[i * {_LD_WORDS_PER_LINE} + 1 :
                             i * {_LD_WORDS_PER_LINE} + {_LD_WORDS_PER_LINE}],
                       ' ')),
              'string_agg', chr(10))
         || (CASE WHEN doc_id % 11 = 0 THEN chr(10) || '{_LD_B2}' ELSE '' END)
           AS text2
  FROM w
),
l AS (
  SELECT doc_id, string_split(text2, chr(10))[i] AS line, i AS pos
  FROM aug, LATERAL (
    SELECT unnest(generate_series(1, len(string_split(text2, chr(10))))) AS i
  )
),
k AS (
  SELECT doc_id, line, pos,
         count(*) OVER (PARTITION BY lower(trim(line))) AS cnt
  FROM l
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(coalesce(length(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE cnt < 2)), 0) AS INTEGER)
         AS n_chars_kept,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
                    FILTER (WHERE cnt < 2), '')) AS kept_md5
FROM k GROUP BY doc_id ORDER BY doc_id
"""

PIPELINE_QUERIES["dedup_lines"] = q_dedup_lines
PIPELINE_ORACLES["dedup_lines"] = SQL_DEDUP_LINES
