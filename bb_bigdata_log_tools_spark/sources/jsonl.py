"""JSONL shard sink + reader for training-data export.

The standard hand-off format from a curation pipeline to a trainer is
a directory of JSON-lines shards. ``write_jsonl_shards`` pairs with
:func:`~bb_bigdata_log_tools_spark.operators.datasetops.shuffle_shards`:
the deterministic shard id becomes the physical file, and the
deterministic intra-shard order becomes the line order — so the whole
export is bit-reproducible across runs, retries, and cluster sizes.

Scale notes (100 TB): the write is ``repartition(n_shards, shard)`` +
``sortWithinPartitions`` — exactly ONE shuffle (the same one any
shard-file layout needs), one task per shard, no driver involvement.
Spark's native ``df.write.json`` handles encoding/compression; each
shard lands as its own ``shard=N`` partition directory so a trainer
(or a downstream Spark job) can read any subset with partition
pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark.operators.datasetops import shuffle_shards
from bb_bigdata_log_tools_spark.sources import spark_paths


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 32,
    key_col: str = "doc_id",
) -> int:
    """Export ``df`` as ``n_shards`` deterministically-shuffled JSONL
    shards under ``path`` (directory layout ``shard=N/*.json``).

    Returns the number of rows written. Row order within a shard is
    the md5 ``shard_pos`` order — reproducible end-to-end.
    """
    layout = shuffle_shards(df, n_shards, key_col, sort=False).join(
        df, key_col
    )
    # Sort by (shard, shard_pos) — a prefix-match with the writer's
    # required partition-column ordering, so FileFormatWriter does NOT
    # inject its own (non-stable) re-sort and line order is preserved.
    # shard_pos stays in the payload: it is the document's global
    # position in the shuffled corpus, useful to trainers for resume.
    (
        layout.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "shard_pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .json(path)
    )
    # count from the written output — verifies the files, not the plan
    return df.sparkSession.read.json(spark_paths(os.path.join(path, "shard=*"))).count()


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read a JSONL directory (or glob). With ``schema`` the read is a
    single pass; otherwise Spark samples to infer (fine interactively,
    pass a schema in production to avoid the inference scan)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
