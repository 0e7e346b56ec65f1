"""WebDataset-style tar-shard source.

The de-facto layout for large multimodal training corpora is a set of
``.tar`` shards whose members group by basename: ``000123.jpg`` +
``000123.txt`` + ``000123.json`` form one sample (the WebDataset
convention, https://github.com/webdataset/webdataset). This source
reads such shards into a DataFrame of (shard, sample key, extension,
payload) rows — the binary-column + typed-metadata model the
multimodal operators consume.

Scale notes (100 TB): shards are the parallelism unit — Spark's
``binaryFile`` source assigns whole tar files to tasks (one shard ≈
one task, the same contract WebDataset's own loader uses), so a
10k-shard corpus fans out across the cluster with zero coordination.
Tar parsing runs executor-side over Arrow batches (``mapInPandas``);
member payloads never pass through the driver. Sample reassembly
(grouping rows by key) is a narrow per-shard operation because a
sample's members are contiguous within one shard by construction —
``samples_from_members`` groups WITHOUT a shuffle using
``shard, key`` partitioning only when asked to.
"""

from __future__ import annotations

import io
import os
import tarfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bb_bigdata_log_tools_spark.sources import spark_paths

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.StringType()),
        T.StructField("sample_key", T.StringType()),
        T.StructField("ext", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def read_webdataset(spark: SparkSession, path: str) -> DataFrame:
    """Read ``.tar`` shards under ``path`` (glob ok) into one row per
    tar member: (shard, sample_key, ext, n_bytes, payload).

    ``sample_key`` is the member basename up to the FIRST dot and
    ``ext`` everything after it (WebDataset's split rule, so
    ``x.seg.png`` → key ``x``, ext ``seg.png``). Directories and
    non-regular members are skipped.
    """
    shards = spark.read.format("binaryFile").load(spark_paths(path))

    def parse(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in ("shard", "sample_key", "ext", "n_bytes", "payload")}
            for shard_path, blob in zip(pdf["path"], pdf["content"]):
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                    for m in tf:
                        if not m.isreg():
                            continue
                        base = os.path.basename(m.name)
                        key, dot, ext = base.partition(".")
                        f = tf.extractfile(m)
                        payload = f.read() if f is not None else b""
                        out["shard"].append(shard_path)
                        out["sample_key"].append(key)
                        out["ext"].append(ext if dot else "")
                        out["n_bytes"].append(len(payload))
                        out["payload"].append(payload)
            yield pd.DataFrame(out)

    return shards.select("path", "content").mapInPandas(parse, MEMBER_SCHEMA)


def samples_from_members(members: DataFrame) -> DataFrame:
    """Reassemble member rows into one row per SAMPLE:
    (shard, sample_key, exts array, payloads map ext→binary).

    The groupBy keys on (shard, sample_key); at scale, members of a
    sample are adjacent in one shard, so with shard-partitioned input
    this aggregation is map-side dominant (each task sees whole
    samples).
    """
    return (
        members.groupBy("shard", "sample_key")
        .agg(
            F.sort_array(F.collect_list("ext")).alias("exts"),
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(F.struct(F.col("ext"), F.col("payload")))
                )
            ).alias("payloads"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )


def write_webdataset_local(
    rows: list[tuple[str, str, bytes]], out_dir: str, shard_size: int = 1000
) -> list[str]:
    """Fixture/test helper: write (sample_key, ext, payload) triples
    into ``.tar`` shards of ``shard_size`` SAMPLES each, members
    grouped by key in insertion order (the layout real WebDataset
    writers produce). Driver-local by design — production shard
    writing belongs to the data-producing job."""
    os.makedirs(out_dir, exist_ok=True)
    by_key: dict[str, list[tuple[str, bytes]]] = {}
    order: list[str] = []
    for key, ext, payload in rows:
        if key not in by_key:
            by_key[key] = []
            order.append(key)
        by_key[key].append((ext, payload))
    paths = []
    for s in range(0, len(order), shard_size):
        path = os.path.join(out_dir, f"shard-{s // shard_size:06d}.tar")
        with tarfile.open(path, "w") as tf:
            for key in order[s : s + shard_size]:
                for ext, payload in by_key[key]:
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(payload)
                    tf.addfile(info, io.BytesIO(payload))
        paths.append(path)
    return paths


def write_webdataset(
    members: DataFrame,
    out_dir: str,
    n_shards: int = 8,
    key_col: str = "sample_key",
    ext_col: str = "ext",
    payload_col: str = "payload",
) -> DataFrame:
    """DISTRIBUTED WebDataset export: write member rows into ``n_shards``
    ``.tar`` shards, executor-side — the training-corpus sink that pairs
    with :func:`read_webdataset` (the driver-local
    ``write_webdataset_local`` is for fixtures only).

    Guarantees:
    - every member of a sample lands in the SAME shard (shard =
      seeded md5 of the sample key — the ``shuffle_shards``
      determinism discipline: retries and re-runs are bit-identical);
    - members within a shard are written sorted by (key, ext), with
      zeroed mtime/uid/gid, so shard BYTES are deterministic (tested);
    - one executor task writes one shard — the only exchange is the
      hash partition on shard id that shard-writing needs anyway.

    Returns the manifest DataFrame: (shard_id, path, n_samples,
    n_members, total_bytes). ``out_dir`` must be storage every executor
    can reach (shared FS / object-store mount; local FS on local mode).
    """
    import pandas as pd

    from bb_bigdata_log_tools_spark.functions.hashing import md5_long
    from bb_bigdata_log_tools_spark.sources.boom import published

    os.makedirs(out_dir, exist_ok=True)
    shard = F.pmod(
        md5_long(F.concat(F.lit("wds:"), F.col(key_col).cast("string"))),
        F.lit(n_shards),
    ).cast("int")
    tagged = members.select(
        shard.alias("shard_id"),
        F.col(key_col).alias("sample_key"),
        F.col(ext_col).alias("ext"),
        F.col(payload_col).alias("payload"),
    )

    manifest_schema = T.StructType(
        [
            T.StructField("shard_id", T.IntegerType()),
            T.StructField("path", T.StringType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("n_members", T.LongType()),
            T.StructField("total_bytes", T.LongType()),
        ]
    )

    def write_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        sid = int(pdf["shard_id"].iloc[0])
        path = os.path.join(out_dir, f"shard-{sid:06d}.tar")
        rows = sorted(
            zip(pdf["sample_key"], pdf["ext"], pdf["payload"]),
            key=lambda r: (r[0], r[1]),
        )
        total = 0
        with published(path) as tmp, tarfile.open(tmp, "w", format=tarfile.USTAR_FORMAT) as tf:
            for key, ext, payload in rows:
                payload = bytes(payload)
                info = tarfile.TarInfo(name=f"{key}.{ext}" if ext else str(key))
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                tf.addfile(info, io.BytesIO(payload))
                total += len(payload)
        return pd.DataFrame(
            {
                "shard_id": [sid],
                "path": [path],
                "n_samples": [len({r[0] for r in rows})],
                "n_members": [len(rows)],
                "total_bytes": [total],
            }
        )

    return (
        tagged.repartition(n_shards, "shard_id")
        .groupBy("shard_id")
        .applyInPandas(write_shard, schema=manifest_schema)
    )
