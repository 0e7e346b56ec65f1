"""Streaming queries in the correctness gate.

The streaming operators (``streaming/ops.py``) were previously
tests-only; here they run as bounded streams — ``availableNow`` drains
the entire parquet fixture as a finite sequence of micro-batches and
stops — into a memory sink, whose table is returned as a batch
DataFrame for the driver's DuckDB-oracle comparison. This proves the
*streaming* plans (watermark, stateful agg) produce the same answers
as the batch oracles, which is the whole point of Structured
Streaming's unified model.

Determinism notes (what makes these gate-safe):

- ``stream_grep`` is stateless (filter): every input row appears
  exactly once in the sink regardless of micro-batch boundaries.
- ``stream_hourly_stats`` runs in COMPLETE output mode: the sink holds
  the full aggregation result after the final batch, identical to the
  batch groupBy — no dependence on watermark timing for emission.
- ``stream_sessionize`` (applyInPandasWithState) emits sessions closed
  by a LATER event of the same user. Trailing open sessions would be
  micro-batch/watermark dependent, so the bounded drain appends ONE
  sentinel event per user at ``global_max_ts + gap + 1s``: every real
  session is then closed deterministically by a strictly-later event,
  and the sentinel's own (single-event) session stays open in state and
  is never emitted. Output therefore equals batch sessionization
  exactly → FULL DuckDB oracle. Ordering safety: ``availableNow`` with
  no ``maxFilesPerTrigger`` drains all staged files in one micro-batch,
  and the per-user update sorts timestamps within the batch; the
  sentinel file is additionally written last (later mtime) so even a
  split drain cannot process it before the real events.

Scale: at 100 TB these same plans run unbounded (Kafka/file ingest) —
state is |components × open windows| or O(active users); the memory
sink here is gate plumbing, not the production sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.session import table
from bb_bigdata_log_tools_spark.sources.logs import EVENTS_AS_LOGS_SQL, events_as_logs
from bb_bigdata_log_tools_spark.streaming.ops import (
    stream_grep,
    stream_hourly_stats,
    stream_sessionize,
)

_LOGS_CTE = f"WITH logs AS ({EVENTS_AS_LOGS_SQL})"
GREP_REGEX = '"k": 4[0-9]}'


def _stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` over one fixture table with the same
    ts-normalization as :func:`session.table` (which also installs the
    nanosAsLong/UTC confs a raw reader needs)."""
    table(spark, sf_dir, name)  # conf side effects + schema sanity
    path = os.path.join(sf_dir, f"{name}.parquet")
    raw_schema = spark.read.parquet(path).schema
    # The fixture tables are single FILES; FileStreamSource globs a
    # directory, so stream the parent dir filtered to just this file.
    df = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _stream_table(spark, sf_dir, "events")


def _drain_to_memory(sdf: DataFrame, name: str, mode: str) -> DataFrame:
    """Run a bounded stream to completion into a memory-sink table."""
    spark = sdf.sparkSession
    # Re-run safe within one session (the gate and test_oracle run many
    # queries back-to-back): stop a stale active query of the same name
    # and drop the previous sink view.
    for active in spark.streams.active:
        if active.name == name:
            active.stop()
    if spark.catalog.tableExists(name):
        spark.catalog.dropTempView(name)
    # State-partition count = the session's core count, pinned for the
    # duration of the drain (guide §2.2: fewer, larger partitions; the
    # value is derived from the cluster, never a constant). Streaming
    # state ops take their partition count from spark.sql.shuffle.
    # partitions at query start; a caller-provided default session
    # leaves it at 200, and EVERY micro-batch then pays 200 state-store
    # commits + (for applyInPandasWithState) 200 Python worker group
    # invocations — pure fixed overhead at any scale, since stateful
    # keys hash-spread over however many partitions exist. Partition
    # count does not change what any query computes (state partitioning
    # is internal hash routing); sessions that already derive shuffle
    # partitions from the core count (session.get_spark) see no change.
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    return spark.table(name)


def q_stream_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = events_as_logs(_stream_events(spark, sf_dir))
    return _drain_to_memory(
        stream_grep(logs, GREP_REGEX), "stream_grep_sink", "append"
    )


SQL_STREAM_GREP = f"""{_LOGS_CTE}
SELECT ts, message, event_id, create_time, block_no, line_no
FROM logs
WHERE regexp_matches(message, '"k": 4[0-9]}}')
"""


def q_stream_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    logs = events_as_logs(_stream_events(spark, sf_dir)).select(
        F.timestamp_millis(F.col("ts")).alias("event_time"),
        F.split(F.col("message"), " ").getItem(0).alias("component"),
        "message",
    )
    return _drain_to_memory(
        stream_hourly_stats(logs), "stream_hourly_stats_sink", "complete"
    )


SQL_STREAM_HOURLY_STATS = f"""{_LOGS_CTE}
SELECT date_trunc('hour', epoch_ms(ts)::TIMESTAMP) AS window_start,
       date_trunc('hour', epoch_ms(ts)::TIMESTAMP) + INTERVAL 1 HOUR AS window_end,
       string_split(message, ' ')[1] AS component,
       count(*) AS line_count,
       CAST(sum(strlen(message)) AS BIGINT) AS total_bytes
FROM logs
GROUP BY 1, 2, 3
"""


SESSION_GAP_MS = 30 * 60 * 1000


def _parquet_footer_max(path: str, col: str):
    """Exact column max from parquet row-group footer statistics.

    Returns None when any file/row-group lacks min-max stats (caller
    falls back to a scan). Driver-side metadata-only reads — no Spark
    job, no data pages touched.
    """
    import glob

    import pyarrow.parquet as pq

    mx = None
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None
    for f in files:
        md = pq.ParquetFile(f).metadata
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            v = st.max
            mx = v if mx is None or v > mx else mx
    return mx


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded sessionize drain with a deterministic end-of-stream flush.

    Stages ``events`` plus one sentinel row per user at
    ``max(ts) + gap + 1s`` into a temp dir, streams it, and returns the
    drained sessions. The sentinel closes every user's final session
    (sentinel sessions themselves stay open in state, never emitted), so
    the output is exactly the batch sessionization — see module
    docstring for the determinism argument.
    """
    import datetime
    import shutil
    import tempfile

    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    stage = tempfile.mkdtemp(prefix="bb_stream_sessionize_")
    try:
        # Real events first, sentinels appended after (later mtime).
        # Stage as TIMESTAMP_MICROS: Spark's default INT96 timestamp
        # encoding writes NO column statistics, which would force the
        # footer-stats sentinel below back onto a full scan.
        ts_type_key = "spark.sql.parquet.outputTimestampType"
        prev_ts_type = spark.conf.get(ts_type_key, None)
        spark.conf.set(ts_type_key, "TIMESTAMP_MICROS")
        try:
            ev.write.mode("overwrite").parquet(stage)
        finally:
            if prev_ts_type is None:
                spark.conf.unset(ts_type_key)
            else:
                spark.conf.set(ts_type_key, prev_ts_type)
        # Global max(ts) from the staged parquet FOOTER statistics — the
        # file write just produced exact per-row-group min/max, so a
        # driver-side metadata read replaces what would otherwise be a
        # second full corpus scan before the stream starts (at 100× the
        # extra scan is the dominant cost of the drain setup).
        max_ts = _parquet_footer_max(stage, "ts")
        if max_ts is None:  # stats missing → scan fallback (scalar)
            max_ts = ev.agg(F.max("ts")).collect()[0][0]
        elif max_ts.tzinfo is not None:
            # pyarrow returns tz-aware UTC; normalize to the naive-in-UTC
            # form the scan path yields (session tz is UTC via table()).
            max_ts = max_ts.astimezone(datetime.timezone.utc).replace(
                tzinfo=None
            )
        sentinel_ts = max_ts + datetime.timedelta(
            milliseconds=SESSION_GAP_MS + 1000
        )
        (
            ev.select("user_id")
            .distinct()
            .withColumn("ts", F.lit(sentinel_ts))
            .write.mode("append")
            .parquet(stage)
        )
        sdf = (
            spark.readStream.schema(spark.read.parquet(stage).schema)
            .parquet(stage)
            .select("user_id", F.col("ts").alias("event_time"))
        )
        return _drain_to_memory(
            stream_sessionize(sdf), "stream_sessionize_sink", "append"
        )
    finally:
        # The memory sink materializes rows driver-side; the staged files
        # are not referenced by the returned DataFrame.
        shutil.rmtree(stage, ignore_errors=True)


SQL_STREAM_SESSIONIZE = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT *, sum(new_session)
                OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM g
)
SELECT user_id,
       CAST(min(epoch_ms(ts)) AS BIGINT) AS session_start,
       CAST(max(epoch_ms(ts)) AS BIGINT) AS session_end,
       count(*) AS n_events
FROM s
GROUP BY user_id, session_seq
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: running (content hash → canonical doc_id,
    copy count) state over an unbounded document feed. COMPLETE output
    mode makes the drained sink equal the batch groupBy — min/count are
    order-insensitive, so micro-batch boundaries cannot change it."""
    docs = _stream_table(spark, sf_dir, "documents")
    dedup = (
        docs.groupBy(F.md5(F.col("text")).alias("content_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    return _drain_to_memory(dedup, "stream_dedup_sink", "complete")


SQL_STREAM_DEDUP = """
SELECT md5(text) AS content_md5,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


STREAMING_QUERIES = {
    "stream_grep": q_stream_grep,
    "stream_hourly_stats": q_stream_hourly_stats,
    "stream_sessionize": q_stream_sessionize,
    "stream_dedup": q_stream_dedup,
}

STREAMING_ORACLES = {
    "stream_grep": SQL_STREAM_GREP,
    "stream_hourly_stats": SQL_STREAM_HOURLY_STATS,
    "stream_sessionize": SQL_STREAM_SESSIONIZE,
    "stream_dedup": SQL_STREAM_DEDUP,
}


def q_stream_funnel_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel completion over a streamed event feed. Append
    mode: completions emit at the completing event, so the bounded
    drain needs no sentinel — output equals the batch nested-EXISTS
    earliest-completion query exactly."""
    from bb_bigdata_log_tools_spark.streaming.ops import stream_funnel_match

    ev = _stream_events(spark, sf_dir).filter(
        F.col("event_type").isin(["signup", "click", "purchase"])
    )
    out = stream_funnel_match(ev)
    return _drain_to_memory(out, "stream_funnel_sink", "append")


SQL_STREAM_FUNNEL_MATCH = """
WITH s AS (SELECT user_id, ts FROM events WHERE event_type = 'signup'),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.user_id, min(epoch_us(p.ts)) AS completed_us
FROM p
WHERE EXISTS (
  SELECT 1 FROM c WHERE c.user_id = p.user_id AND c.ts < p.ts
  AND EXISTS (
    SELECT 1 FROM s WHERE s.user_id = c.user_id AND s.ts < c.ts))
GROUP BY p.user_id
ORDER BY p.user_id
"""


STREAMING_QUERIES["stream_funnel_match"] = q_stream_funnel_match
STREAMING_ORACLES["stream_funnel_match"] = SQL_STREAM_FUNNEL_MATCH


def q_stream_watermarked_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode windowed aggregation: rows emit exactly once when the
    watermark passes their window end (state evicted after emission —
    the bounded-state production shape). The bounded drain's emitted set
    is exactly the windows whose end ≤ max(ts) − 2h; the oracle applies
    the same cutoff. Empirically set-equal at sf0.001 (865 windows)."""
    from bb_bigdata_log_tools_spark.streaming.ops import stream_watermarked_counts

    ev = _stream_events(spark, sf_dir).select("ts", "event_type", "value")
    return _drain_to_memory(
        stream_watermarked_counts(ev), "stream_watermarked_sink", "append"
    )


SQL_STREAM_WATERMARKED_COUNTS = """
WITH m AS (SELECT max(ts) - INTERVAL 2 HOUR AS wm FROM events)
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n,
       round(sum(value), 4) AS total_value
FROM events, m
GROUP BY 1, 2, 3, m.wm
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= m.wm
"""

STREAMING_QUERIES["stream_watermarked_counts"] = q_stream_watermarked_counts
STREAMING_ORACLES["stream_watermarked_counts"] = SQL_STREAM_WATERMARKED_COUNTS


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static lookup join (stateless append): the user dimension
    is derived deterministically from the batch events table (first
    event type + lifetime value tier per user), broadcast into every
    micro-batch of the streamed fact feed."""
    from bb_bigdata_log_tools_spark.streaming.ops import stream_static_enrich

    ev_batch = table(spark, sf_dir, "events")
    dim = (
        ev_batch.groupBy("user_id")
        .agg(
            F.min("event_type").alias("first_type"),
            (F.floor(F.sum("value") / 1000).cast("long")).alias("value_tier"),
        )
    )
    stream = _stream_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    out = stream_static_enrich(stream, dim).select(
        "event_id", "user_id", "event_type", "first_type", "value_tier"
    )
    return _drain_to_memory(out, "stream_static_sink", "append")


SQL_STREAM_STATIC_ENRICH = """
WITH dim AS (
  SELECT user_id, min(event_type) AS first_type,
         CAST(floor(sum(value) / 1000) AS BIGINT) AS value_tier
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.event_type, d.first_type, d.value_tier
FROM events e LEFT JOIN dim d USING (user_id)
"""


STREAM_JOIN_WITHIN_MS = 3_600_000


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream click→purchase attribution. The
    bounded drain processes each side's single parquet file in one
    micro-batch, so no buffered candidate is ever evicted before its
    partner arrives — output equals the batch interval join exactly
    (same argument as the sessionize drain; the oracle is that batch
    join)."""
    from bb_bigdata_log_tools_spark.streaming.ops import stream_stream_join

    ev = _stream_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("l_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("l_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("r_ts"),
    )
    out = stream_stream_join(
        clicks, purchases, "user_id", STREAM_JOIN_WITHIN_MS
    ).select(
        F.col("l_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_millis("l_ts").alias("click_ts"),
        F.unix_millis("r_ts").alias("purchase_ts"),
    )
    return _drain_to_memory(out, "stream_stream_sink", "append")


SQL_STREAM_STREAM_JOIN = f"""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       epoch_ms(c.ts) AS click_ts,
       epoch_ms(p.ts) AS purchase_ts
FROM events c
JOIN events p ON c.user_id = p.user_id
             AND p.ts >= c.ts
             AND epoch_ms(p.ts) - epoch_ms(c.ts) <= {STREAM_JOIN_WITHIN_MS}
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


STREAMING_QUERIES["stream_static_enrich"] = q_stream_static_enrich
STREAMING_ORACLES["stream_static_enrich"] = SQL_STREAM_STATIC_ENRICH
STREAMING_QUERIES["stream_stream_join"] = q_stream_stream_join
STREAMING_ORACLES["stream_stream_join"] = SQL_STREAM_STREAM_JOIN


RATE_LIMIT = 1
RATE_WINDOW_MS = 86_400_000


def q_stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful per-user rate limiter (admit ≤1 event per user-day),
    drained bounded. The admit decision is a pure function of the
    per-(user, day) arrival rank, so the output equals the batch
    row_number query regardless of micro-batch boundaries."""
    from bb_bigdata_log_tools_spark.streaming.ops import stream_rate_limit

    ev = _stream_events(spark, sf_dir).select(
        "user_id", "event_id", F.col("ts").alias("event_time")
    )
    out = stream_rate_limit(ev, RATE_LIMIT, RATE_WINDOW_MS)
    return _drain_to_memory(out, "stream_rate_limit_sink", "append")


SQL_STREAM_RATE_LIMIT = f"""
WITH ranked AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
         (epoch_ms(ts) // {RATE_WINDOW_MS}) * {RATE_WINDOW_MS} AS win_start,
         row_number() OVER (
           PARTITION BY user_id, epoch_ms(ts) // {RATE_WINDOW_MS}
           ORDER BY epoch_ms(ts), event_id
         ) AS rnk
  FROM events
)
SELECT user_id, event_id, ts_ms, win_start
FROM ranked WHERE rnk <= {RATE_LIMIT}
"""

STREAMING_QUERIES["stream_rate_limit"] = q_stream_rate_limit
STREAMING_ORACLES["stream_rate_limit"] = SQL_STREAM_RATE_LIMIT


# --------------------------------------------------------------------------
# native session_window aggregation (round 5)
# --------------------------------------------------------------------------

SSW_GAP_MIN = 30
SSW_WATERMARK_MS = 2 * 3600 * 1000


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session_window (state-store window merge) over
    the bounded drain: append-mode sessions emit once the watermark
    passes ``last_event + gap``; the emitted set is exactly the sessions
    whose end ≤ max(ts) − delay, and the oracle applies the same cutoff
    (the stream_watermarked_counts discipline). Empirically set-equal to
    the batch sessionization at sf0.001 (943 sessions)."""
    from bb_bigdata_log_tools_spark.streaming.ops import stream_session_window

    ev = _stream_events(spark, sf_dir).select("user_id", "ts")
    out = stream_session_window(ev, SSW_GAP_MIN, "2 hours")
    return _drain_to_memory(out, "stream_session_window_sink", "append")


_SSW_GAP_MS = SSW_GAP_MIN * 60 * 1000

SQL_STREAM_SESSION_WINDOW = f"""
WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
mx AS (SELECT max(ms) AS max_ms FROM e),
lagged AS (
  SELECT user_id, ms, lag(ms) OVER (PARTITION BY user_id ORDER BY ms) AS prev
  FROM e
),
marks AS (
  SELECT user_id, ms,
         CASE WHEN prev IS NULL OR ms - prev >= {_SSW_GAP_MS} THEN 1 ELSE 0 END
           AS new_s
  FROM lagged
),
sess AS (
  SELECT user_id, ms,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
),
agg AS (
  SELECT user_id, min(ms) AS session_start,
         max(ms) + {_SSW_GAP_MS} AS session_end,
         CAST(count(*) AS BIGINT) AS n_events
  FROM sess GROUP BY user_id, sid
)
SELECT user_id, session_start, session_end, n_events
FROM agg CROSS JOIN mx
WHERE session_end <= max_ms - {SSW_WATERMARK_MS}
"""

STREAMING_QUERIES["stream_session_window"] = q_stream_session_window
STREAMING_ORACLES["stream_session_window"] = SQL_STREAM_SESSION_WINDOW


# --------------------------------------------------------------------------
# streaming HyperLogLog distinct (round 5): live mergeable registers
# --------------------------------------------------------------------------

_SHLL_P = 8
_SHLL_M = 1 << _SHLL_P


def q_stream_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL registers maintained as a COMPLETE-mode streaming aggregation
    (max is associative + idempotent → exact under any batch slicing);
    the estimate is computed from the drained register table with the
    same closed-form math as the batch sketch, so the batch HLL oracle
    applies verbatim."""
    from bb_bigdata_log_tools_spark.operators.sketches import _alpha
    from bb_bigdata_log_tools_spark.streaming.ops import stream_hll_registers

    ev = _stream_events(spark, sf_dir).select("event_type", "user_id")
    regs = _drain_to_memory(
        stream_hll_registers(ev, "event_type", "user_id", _SHLL_P),
        "stream_hll_sink",
        "complete",
    )
    m = _SHLL_M
    agg = regs.groupBy("grp").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mx"))).alias("s_present"),
        F.count(F.lit(1)).alias("present"),
    )
    s = F.col("s_present") + (F.lit(m) - F.col("present"))
    zeros = F.lit(m) - F.col("present")
    raw = F.lit(_alpha(m) * m * m) / s
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return (
        agg.select(
            F.col("grp").alias("event_type"),
            F.round(est, 2).alias("hll_estimate"),
        )
    )


def _stream_hll_oracle() -> str:
    from bb_bigdata_log_tools_spark.operators.sketches import HASH_BITS, _alpha

    m = _SHLL_M
    wbits = HASH_BITS - _SHLL_P
    alpha_mm = _alpha(m) * m * m
    h = "('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT"
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
)
SELECT grp AS event_type,
       round(CASE WHEN {alpha_mm} / (s_present + ({m} - present)) <= {2.5 * m}
                   AND {m} - present > 0
                  THEN {float(m)} * ln({float(m)} / ({m} - present))
                  ELSE {alpha_mm} / (s_present + ({m} - present)) END, 2)
         AS hll_estimate
FROM agg
ORDER BY event_type
"""


STREAMING_QUERIES["stream_approx_distinct"] = q_stream_approx_distinct
STREAMING_ORACLES["stream_approx_distinct"] = _stream_hll_oracle()


# --------------------------------------------------------------------------
# streaming Count-Min frequency sketch (round 6): live mergeable counters
# --------------------------------------------------------------------------

_SCMS_D = 4
_SCMS_W = 256
_SCMS_TOP = 20


def q_stream_cms_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS counters maintained as a COMPLETE-mode streaming aggregation
    (sum is associative → exact under any micro-batch slicing); the
    heavy-hitter estimates are computed from the drained counter table
    with the same min-over-depth closed form as the batch sketch, so
    the batch CMS oracle applies verbatim."""
    from bb_bigdata_log_tools_spark.operators.sketches import (
        cms_estimate_from_sketch,
    )
    from bb_bigdata_log_tools_spark.streaming.ops import stream_cms_buckets

    ev = _stream_events(spark, sf_dir).select("user_id")
    sketch = _drain_to_memory(
        stream_cms_buckets(ev, "user_id", _SCMS_D, _SCMS_W),
        "stream_cms_sink",
        "complete",
    )
    exact = (
        table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("string").alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    # the estimate step is the batch sketch's own (one copy of the hash
    # family / min-over-depth form — the oracle below is the batch one)
    return cms_estimate_from_sketch(
        sketch, exact, _SCMS_D, _SCMS_W, _SCMS_TOP
    )


def _stream_cms_oracle() -> str:
    # the drained streaming counters equal the batch sketch exactly
    # (sum is associative), so the batch CMS oracle applies verbatim —
    # import it rather than keeping a second SQL copy in lockstep.
    from bb_bigdata_log_tools_spark.registry_datasetops import (
        _CMS_D,
        _CMS_TOP,
        _CMS_W,
        _cms_oracle,
    )

    assert (_CMS_D, _CMS_W, _CMS_TOP) == (_SCMS_D, _SCMS_W, _SCMS_TOP)
    return _cms_oracle()


STREAMING_QUERIES["stream_cms_freq"] = q_stream_cms_freq
STREAMING_ORACLES["stream_cms_freq"] = _stream_cms_oracle()


# --------------------------------------------------------------------------
# round-7: streaming quantile sketch — live mergeable octave bins
# --------------------------------------------------------------------------


def q_stream_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch bins maintained as a COMPLETE-mode streaming
    aggregation (sum is associative → bins exact under any micro-batch
    slicing); the quantile estimates are navigated from the drained
    bin table with the batch sketch's own closed form (one shared
    copy: quantile_estimate_from_bins), so the batch oracle's bin CTEs
    apply verbatim. The exact side is deliberately absent — that is
    the production streaming deployment, where raw values are gone."""
    from bb_bigdata_log_tools_spark.operators.sketches import (
        quantile_estimate_from_bins,
    )
    from bb_bigdata_log_tools_spark.registry_datasetops import (
        _QSK_QS,
        _QSK_SCALE,
    )
    from bb_bigdata_log_tools_spark.streaming.ops import stream_quantile_bins

    ev = _stream_events(spark, sf_dir).select("event_type", "value")
    sk = _drain_to_memory(
        stream_quantile_bins(ev, "event_type", "value", _QSK_SCALE),
        "stream_quantile_sink",
        "complete",
    ).localCheckpoint()  # estimate self-joins the bin table (qrows ×
    # cum both derive from it): checkpoint the ≤256-bins-per-group
    # relation so the memory-sink view resolves on both sides
    est = quantile_estimate_from_bins(sk, _QSK_QS, _QSK_SCALE)
    return est.select(
        F.col("grp").alias("event_type"),
        "q",
        "n",
        F.round("est_raw", 4).alias("sketch_est"),
    )


def _stream_quantile_oracle() -> str:
    # the drained complete-mode bins equal the batch bins exactly (sum
    # is associative), so the batch oracle's bin CTEs apply verbatim —
    # import the one copy rather than keeping a second chain in
    # lockstep (the stream_cms_freq discipline).
    from bb_bigdata_log_tools_spark.registry_datasetops import (
        _quantile_bins_ctes,
    )

    return _quantile_bins_ctes() + """
SELECT est.grp AS event_type, est.q AS q, est.n AS n,
       round(est.est_raw, 4) AS sketch_est
FROM est
ORDER BY event_type, q
"""


STREAMING_QUERIES["stream_quantile"] = q_stream_quantile
STREAMING_ORACLES["stream_quantile"] = _stream_quantile_oracle()


# --------------------------------------------------------------------------
# round-7: per-key watermark skew as-of attribution (custom stateful)
# --------------------------------------------------------------------------

SKEW_ASOF_WITHIN_MS = 3_600_000


def q_stream_skew_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key-watermark as-of attribution (purchase → latest click
    within 1 h). Bounded drain: the per-key batch sort makes the
    output equal the batch LATERAL as-of exactly — FULL oracle; see
    streaming/ops.py:stream_skew_asof_join for the per-key eviction
    story the built-in stream-stream join cannot express."""
    from bb_bigdata_log_tools_spark.streaming.ops import stream_skew_asof_join

    ev = _stream_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").alias("event_time"),
    )
    out = stream_skew_asof_join(ev, SKEW_ASOF_WITHIN_MS)
    return _drain_to_memory(out, "stream_skew_asof_sink", "append")


SQL_STREAM_SKEW_ASOF = f"""
WITH c AS (SELECT user_id, event_id, ts FROM events
           WHERE event_type = 'click'),
p AS (SELECT user_id, event_id, ts FROM events
      WHERE event_type = 'purchase')
SELECT p.user_id, p.event_id AS purchase_id, m.event_id AS click_id,
       epoch_ms(p.ts) AS purchase_ts, epoch_ms(m.ts) AS click_ts,
       epoch_ms(p.ts) - epoch_ms(m.ts) AS lag_ms
FROM p JOIN LATERAL (
  SELECT c2.event_id, c2.ts FROM c c2
  WHERE c2.user_id = p.user_id AND c2.ts <= p.ts
    AND epoch_ms(p.ts) - epoch_ms(c2.ts) <= {SKEW_ASOF_WITHIN_MS}
  ORDER BY c2.ts DESC, c2.event_id DESC LIMIT 1
) m ON TRUE
ORDER BY purchase_id
"""


STREAMING_QUERIES["stream_skew_asof_join"] = q_stream_skew_asof_join
STREAMING_ORACLES["stream_skew_asof_join"] = SQL_STREAM_SKEW_ASOF
