"""The parquet log store is planned without a Spark job: the driver
reads the Spark row schema from one part file's footer, and Spark still
discovers and types the ``date``/``hour`` partition columns. A store
without Spark's schema key is read with Spark's own inference."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from bb_bigdata_log_tools_spark.sources import logs

T0 = 1791158400000  # 2026-10-05 00:00 UTC


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_read_log_store_runs_no_job(spark, tmp_path):
    """On a ``write_log_store`` store spanning two days, ``read_log_store``
    runs no job and has ``spark.read.parquet``'s schema (int partition
    columns included) and rows."""
    store = str(tmp_path / "store")
    lines = spark.createDataFrame(
        [(T0 + i * 977_000, f"m{i} é", i, T0, i // 10, i % 10) for i in range(200)],
        "ts long, message string, event_id int, create_time long, block_no long, "
        "line_no long",
    )
    logs.write_log_store(lines, store)
    sc, group = spark.sparkContext, "read-log-store"
    sc.setJobGroup(group, "read_log_store")
    try:
        got = logs.read_log_store(spark, store)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert logs._footer_schema(store) is not None
    want = spark.read.parquet(store)
    assert got.schema == want.schema
    assert dict(got.dtypes)["date"] == "int" and dict(got.dtypes)["hour"] == "int"
    assert _rows(got) == _rows(want)


def test_read_log_store_falls_back_without_spark_schema(spark, tmp_path):
    """A part file written by pyarrow carries no Spark schema key: the
    store is read with inference, as ``spark.read.parquet`` reads it. A
    directory with no part file has no footer schema either."""
    store = tmp_path / "store"
    part = store / "date=20261005" / "hour=3"
    part.mkdir(parents=True)
    (store / "_SUCCESS").write_text("")
    pq.write_table(
        pa.table({"ts": [T0 + 1, T0 + 2], "message": ["a", "b"]}), part / "part-0.parquet"
    )
    assert logs._footer_schema(str(store)) is None
    assert logs._footer_schema(str(tmp_path / "nothing")) is None
    got = logs.read_log_store(spark, str(store))
    want = spark.read.parquet(str(store))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want) == [(T0 + 1, "a", 20261005, 3), (T0 + 2, "b", 20261005, 3)]
