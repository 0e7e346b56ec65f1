"""SQL entry surface: register the fixture tables as temp views and run
ANSI-ish SQL through ``spark.sql`` unchanged.

The DataFrame operators are the primary API, but a LogTools user coming
from Pig/Hive scripts gets a direct SQL path: ``register_views`` exposes
every fixture table (with the same ts normalization ``session.table``
applies), and ``sql`` executes a query against them. Queries written in
the portable subset (date_trunc/year/round/CAST/window functions/
INTERVAL literals) run unchanged on DuckDB — the correctness gate
exploits exactly that by using the SAME string as its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bb_bigdata_log_tools_spark.session import load_tables


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Create a temp view per fixture table present in ``sf_dir``;
    returns the registered names."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return list(tables)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Register views, then run ``query`` via ``spark.sql``."""
    register_views(spark, sf_dir)
    return spark.sql(query)
