"""Core log data-access operators: cat / grep / search / multisearch /
format-and-sort.

Parity targets (semantics only; Spark-first implementation):
- ``/root/reference/src/com/blackberry/logdriver/util/Cat.java`` — emit
  every line whose ``start <= ts < end``.
- ``.../util/Grep.java`` — Java-regex ``find()`` (unanchored) over the
  message, optional CASE_INSENSITIVE, same time window.
- ``.../util/Search.java`` + ``FastSearch.java`` — literal substring,
  case-sensitive byte-scan or unicode-aware case-insensitive match.
- ``.../util/MultiSearch.java`` — N terms, OR (any) or AND (all)
  semantics (``logdriver.search.and``), case-insensitivity as above.
- ``/root/reference/pig/formatAndSort.pg`` — null-split bad rows, format
  the timestamp (``--dateFormat``), prepend to message, total order by
  ``(time, createTime, blockNo, lineNo)``.

Every operator is a narrow ``filter``/``select`` chain: Catalyst pushes
the time-range predicate and (for parquet sources) the partition filters
down to the scan; there is **zero shuffle** until the optional final
sort, which is exactly the reference's map-only-job + Pig-ORDER shape —
but rendered declaratively so AQE can size the sort partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.functions.timestamps import format_timestamp
from bb_bigdata_log_tools_spark.operators.util import small_sort
from bb_bigdata_log_tools_spark.schema import LOG_COLUMNS
from bb_bigdata_log_tools_spark.sources.boom import SORT_KEYS


def _time_window(df: DataFrame, start_ms: int | None, end_ms: int | None) -> DataFrame:
    """Half-open window ``start <= ts < end`` (Cat.java:86)."""
    if start_ms is not None:
        df = df.filter(F.col("ts") >= F.lit(start_ms))
    if end_ms is not None:
        df = df.filter(F.col("ts") < F.lit(end_ms))
    return df


def _project(df: DataFrame) -> DataFrame:
    cols = [c for c in LOG_COLUMNS if c in df.columns]
    return df.select(*cols)


def cat(
    df: DataFrame,
    start_ms: int | None = None,
    end_ms: int | None = None,
) -> DataFrame:
    """logcat: all lines in the time window, with boom metadata columns."""
    return _project(_time_window(df, start_ms, end_ms))


def grep(
    df: DataFrame,
    regex: str,
    start_ms: int | None = None,
    end_ms: int | None = None,
    case_insensitive: bool = False,
) -> DataFrame:
    """loggrep: unanchored regex match (Java ``Matcher.find()`` ≙ rlike).

    ``rlike`` is evaluated JVM-side inside codegen; the ``(?i)`` inline
    flag reproduces ``Pattern.CASE_INSENSITIVE`` (both are java.util.regex
    underneath, so the dialect matches the reference exactly).
    """
    pattern = f"(?i){regex}" if case_insensitive else regex
    out = _time_window(df, start_ms, end_ms).filter(F.col("message").rlike(pattern))
    return _project(out)


def _contains_ci(message: Column, term: str, case_insensitive: bool) -> Column:
    if case_insensitive:
        return F.contains(F.lower(message), F.lower(F.lit(term)))
    return F.contains(message, F.lit(term))


def search(
    df: DataFrame,
    term: str,
    start_ms: int | None = None,
    end_ms: int | None = None,
    case_insensitive: bool = False,
) -> DataFrame:
    """logsearch: literal substring match.

    The reference has two physical strategies (Search.java's string
    contains vs FastSearch.java's raw-byte scan over undecoded avro
    blocks); both compute "message contains term". Here that is a single
    codegen'd ``Contains`` — Tungsten scans UTF-8 bytes directly, which
    IS the FastSearch trick, done by the engine. Case-insensitive mode
    lowercases both sides (unicode-aware, matching the reference's
    toLowerCase/toUpperCase dual check).
    """
    out = _time_window(df, start_ms, end_ms).filter(
        _contains_ci(F.col("message"), term, case_insensitive)
    )
    return _project(out)


def multisearch(
    df: DataFrame,
    terms: list[str],
    start_ms: int | None = None,
    end_ms: int | None = None,
    case_insensitive: bool = False,
    match_all: bool = False,
) -> DataFrame:
    """logmultisearch: N-term OR (any) / AND (all) literal search.

    The reference builds a byte-trie (Aho-Corasick-lite) to test all
    terms in one pass; declaratively that is a single OR/AND conjunction
    of Contains predicates, which Catalyst compiles into one generated
    loop over the row — same one-pass behavior without hand-rolled
    scanning.
    """
    if not terms:
        raise ValueError("multisearch requires at least one term")
    preds = [_contains_ci(F.col("message"), t, case_insensitive) for t in terms]
    combined = preds[0]
    for p in preds[1:]:
        combined = (combined & p) if match_all else (combined | p)
    return _project(_time_window(df, start_ms, end_ms).filter(combined))


def format_and_sort(
    df: DataFrame,
    date_format: str = "RFC5424",
    sort: bool = True,
) -> DataFrame:
    """formatAndSort.pg: drop rows with null ordering fields (the Pig
    script's ``bad_data`` split), render ``"<formatted-ts> <message>"``,
    total-order by (ts, create_time, block_no, line_no).

    The global sort is a range-partitioned shuffle (Spark samples key
    ranges — the same mechanism Pig's ORDER uses) and is the ONLY shuffle
    in the whole cat/grep/search pipeline. At 100 TB prefer
    ``sort=False`` + per-hour partition ordering where a total order
    isn't required.
    """
    good = df
    for c in SORT_KEYS:
        if c in df.columns:
            good = good.filter(F.col(c).isNotNull())
    out = good.withColumn(
        "line",
        F.concat_ws(" ", format_timestamp(F.col("ts"), date_format), F.col("message")),
    )
    if sort:
        sort_cols = [c for c in SORT_KEYS if c in out.columns]
        out = out.orderBy(*sort_cols)
    return out.select("line", *[c for c in LOG_COLUMNS if c in out.columns])


def bad_lines(df: DataFrame) -> DataFrame:
    """The Pig script's ``bad_data`` leg: rows with any null ordering field."""
    cond = (
        F.col("ts").isNull()
        | F.col("create_time").isNull()
        | F.col("block_no").isNull()
        | F.col("line_no").isNull()
    )
    return df.filter(cond)


def log_json_field_stats(logs: DataFrame, field: str = "k") -> DataFrame:
    """Structured-field analytics over semi-structured log lines of the
    form ``<type> <json-payload>``: split the leading type token, parse
    the numeric ``field`` from the JSON tail, and aggregate per type
    (line count, lines carrying the field, min/max/avg value).

    All built-in expressions (``substring_index`` + ``get_json_object``)
    — scan-parallel with one tiny per-type aggregate; the JSON parse is
    guarded on a ``{`` prefix so non-JSON tails count as field-absent
    instead of erroring (identical guard in the oracle).
    """
    typ = F.substring_index(F.col("message"), " ", 1)
    payload = F.expr("substring(message, instr(message, ' ') + 1)")
    val = F.when(
        payload.startswith("{"),
        F.get_json_object(payload, f"$.{field}").cast("long"),
    )
    return (
        logs.select(typ.alias("msg_type"), val.alias("v"))
        .groupBy("msg_type")
        .agg(
            F.count("*").alias("n_lines"),
            F.count("v").alias("n_with_field"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.round(F.avg("v"), 4).alias("avg_v"),
        )
        .orderBy("msg_type")
    )


def log_dedup_window(
    logs: DataFrame, gap_ms: int = 3_600_000, sort: bool = True
) -> DataFrame:
    """Syslog-style "last message repeated N times" suppression: group
    identical messages into bursts (consecutive repeats separated by
    ≤ ``gap_ms``), emit one row per burst with the repeat count.

    One shuffle partitions by message for the lag/burst-id windows
    (``event_id`` is the deterministic tiebreak for equal timestamps);
    the burst aggregate reuses the same partitioning — Catalyst plans
    a single exchange. ``ts`` is epoch-millis integer arithmetic, so
    burst boundaries are bit-stable cross-engine.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("message").orderBy("ts", "event_id")
    burst = (
        logs.select("ts", "event_id", "message")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_burst",
            F.when(
                F.col("prev_ts").isNull()
                | (F.col("ts") - F.col("prev_ts") > gap_ms),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "burst_id",
            F.sum("new_burst").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        burst.groupBy("message", "burst_id")
        .agg(
            F.min("ts").alias("burst_start"),
            F.min("event_id").alias("first_event_id"),
            F.count(F.lit(1)).alias("n_repeats"),
        )
        .drop("burst_id")
        .transform(
            lambda d: small_sort(d, "burst_start", "first_event_id")
            if sort
            else d
        )
    )


def log_grep_context(
    logs: DataFrame,
    regex: str,
    before: int = 2,
    after: int = 2,
    sort: bool = True,
) -> DataFrame:
    """grep -B/-A over log lines: emit every line within ``before``
    lines above or ``after`` lines below a regex match, with a
    ``is_match`` flag (reference parity: Grep.java matches lines only;
    context is the classic CLI companion).

    Line adjacency is per ``block_no`` (the reference's file/block
    unit) in (ts, line_no) order — one shuffle partitions by block, and
    the context flag is a windowed MAX of the match indicator over the
    [-after, +before] row frame (a line is emitted if some MATCH sits
    within ``after`` rows above it or ``before`` rows below it). No
    second pass, no self-join.
    """
    w = Window.partitionBy("block_no").orderBy("ts", "line_no")
    matched = logs.withColumn(
        "is_match", F.col("message").rlike(regex).cast("int")
    )
    in_context = F.max("is_match").over(w.rowsBetween(-after, before))
    return (
        matched.withColumn("keep", in_context)
        .filter(F.col("keep") == 1)
        .select(
            "ts",
            "block_no",
            "line_no",
            "message",
            (F.col("is_match") == 1).alias("is_match"),
        )
        .transform(
            lambda d: small_sort(d, "block_no", "ts", "line_no")
            if sort
            else d
        )
    )


def log_tail(
    logs: DataFrame, n: int = 10, sort: bool = True
) -> DataFrame:
    """tail -n per block: the last ``n`` lines of each ``block_no`` in
    (ts, line_no) order — the "what happened just now, per host" view.

    One shuffle on block_no; the rank window prunes to n rows per block
    map-side partial-sort style (row_number over the descending order),
    so the output is |blocks|·n regardless of volume.
    """
    w = Window.partitionBy("block_no").orderBy(
        F.desc("ts"), F.desc("line_no")
    )
    return (
        logs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .select(
            "block_no",
            "ts",
            "line_no",
            "message",
            F.col("rn").alias("lines_from_end"),
        )
        .transform(
            lambda d: small_sort(d, "block_no", "ts", "line_no")
            if sort
            else d
        )
    )


def log_templates(logs: DataFrame, top_n: int | None = None) -> DataFrame:
    """Drain-style log template mining: mask the variable parts of each
    message (numbers → ``<N>``, hex runs → ``<H>``), group by the
    masked template, and report each template's volume, time span, and
    an example line — the "what KINDS of lines does this service emit"
    view that turns a terabyte of logs into a few hundred rows, and the
    standard first step of log-anomaly work (a template seen 3 times
    among millions IS the incident lead).

    Output: (template, n_lines, n_blocks, first_ts, last_ts,
    example_message), highest-volume first.

    100 TB shape: one scan → regexp_replace (codegen'd) → single
    partial-agg groupBy on the template string; output is bounded by
    |templates|, which is what makes the operator useful.
    """
    tmpl = F.regexp_replace(
        F.regexp_replace(F.col("message"), "0x[0-9a-fA-F]+", "<H>"),
        "[0-9]+",
        "<N>",
    )
    out = (
        logs.select(
            tmpl.alias("template"),
            "message",
            "ts",
            "block_no",
        )
        .groupBy("template")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("block_no").alias("n_blocks"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.min("message").alias("example_message"),
        )
        .transform(
            lambda d: small_sort(d, F.desc("n_lines"), F.asc("template"))
        )
    )
    return out.limit(top_n) if top_n else out


def log_volume_trend(logs: DataFrame) -> DataFrame:
    """Day-over-day volume trend per component: daily line counts with
    the previous day's count and the delta ratio — the ops report that
    catches a service going quiet (shipper broke) or exploding (error
    loop) without anyone reading a single line.

    Day and ratio are integer epoch-day arithmetic + a 4dp-rounded
    ratio, bit-stable cross-engine. The lag window runs over the tiny
    (component, day) aggregate — never the raw lines.
    """
    comp = F.split(F.col("message"), " ").getItem(0)
    day = F.floor(F.col("ts") / F.lit(86_400_000))
    daily = (
        logs.select(comp.alias("component"), day.alias("day"))
        .groupBy("component", "day")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    w = Window.partitionBy("component").orderBy("day")
    return (
        daily.withColumn("prev_lines", F.lag("n_lines").over(w))
        .select(
            "component",
            "day",
            "n_lines",
            "prev_lines",
            F.when(
                F.col("prev_lines").isNotNull() & (F.col("prev_lines") > 0),
                F.round(F.col("n_lines") / F.col("prev_lines"), 4),
            ).alias("ratio"),
        )
        .transform(lambda d: small_sort(d, "component", "day"))
    )


def events_variant_extract(events: DataFrame) -> DataFrame:
    """Semi-structured props through Spark's VARIANT type (new in Spark
    4): ``parse_json`` once into the binary variant encoding, then
    typed ``variant_get`` path extraction + ``schema_of_variant`` —
    the modern replacement for repeated ``get_json_object`` string
    re-parsing (variant parses each value ONCE and every extraction
    reads the binary encoding; on parquet it also stores shredded).

    Output per event: (event_id, k_value, k_bucket, props_schema,
    is_valid_json). Malformed/non-JSON props yield NULL k (try
    semantics), flagged not dropped.

    100 TB shape: pure per-row column work — one parse, n extractions,
    no shuffle; exactly the scan-stage shape repeated JSON string
    parsing bloats by re-tokenizing per field.
    """
    v = F.try_parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        events.select(
            "event_id",
            k.alias("k_value"),
            # floor division, not cast-truncation: for negative k the
            # double-divide cast rounds toward zero (-5/10 → 0) while the
            # oracle's // floors (-5//10 → -1); floor matches all ints.
            F.floor(k / F.lit(10)).cast("long").alias("k_bucket"),
            F.when(v.isNotNull(), F.schema_of_variant(v)).alias("props_schema"),
            v.isNotNull().alias("is_valid_json"),
        )
        .transform(lambda d: small_sort(d, "event_id"))
    )
