"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

#: Above this many rows the "small result" assumption is wrong and the
#: single-partition sort would bottleneck on one task — spill to a
#: distributed range sort instead.
SMALL_SORT_SPILL_ROWS = 2_000_000


def counted_checkpoint(df):
    """``(checkpointed df, row count)`` from ONE job.

    The input is local-checkpointed, so its (often expensive) parent plan
    runs exactly once, and its row count is OBSERVED during that same
    job (``Observation`` metrics fire on the eager checkpoint's action —
    r13 optimization round; a separate ``count()`` paid one extra job +
    driver-planning gap, ~0.1-0.3 s, on every sorted result).
    """
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    return out, obs.get["n"]


def small_sort(df, *cols):
    """Deterministic order for small result sets WITHOUT a range sort.

    ``orderBy`` range-partitions: the partitioner SAMPLES the input,
    re-running the (often expensive) parent stage a second time. For
    operator outputs that are small by construction (near-dup pairs,
    top-k lists, per-group aggregates), shuffling to one partition and
    sorting within it is one pass and exact.

    GUARD: "small by construction" can fail — a boilerplate-heavy corpus
    makes the near-dup pair set itself quadratic. The input goes through
    :func:`counted_checkpoint`; above :data:`SMALL_SORT_SPILL_ROWS`
    observed rows (read at call time) the sort falls back to a
    distributed ``orderBy`` over the checkpointed blocks instead of
    funneling everything through one task. Both branches produce the
    same totally-ordered rows — the guard picks a physical strategy,
    never a result.

    Returns a DataFrame, for callers that go on computing or writing in
    Spark: the operators (their ``sort`` option) and the CLI's ``--out``.
    The CLI's stdout path orders small results on the driver instead
    (``cli._emit``). Gate keys do not sort their result: the gate
    compares rows as a multiset.
    """
    out, n = counted_checkpoint(df)
    if n > SMALL_SORT_SPILL_ROWS:
        return out.orderBy(*cols)
    # repartition(1), not coalesce(1): measured head-to-head (r13) the
    # narrow coalesce was NET NEUTRAL — it drops the tiny shuffle and
    # one AQE stage but serializes the checkpoint-block reads into the
    # single sort task, losing the map side's parallel block reads.
    return out.repartition(1).sortWithinPartitions(*cols)
