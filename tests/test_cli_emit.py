"""The CLI's delivery to stdout on the Spark executor (``--r``): a small
result is fetched once as Arrow and ordered on the driver, a large one is
range-sorted by Spark, and both print exactly what
``logops.format_and_sort`` orders, ties on the timestamp included. A
call to stdout runs two jobs and no shuffle; the same call on the driver
executor runs none."""

from __future__ import annotations

import os

import pytest

from bb_bigdata_log_tools_spark import cli
from bb_bigdata_log_tools_spark.operators import logops, util
from bb_bigdata_log_tools_spark.sources.boom import read_boom, write_boom_local
from test_cli_single_scan import HOUR, T0, TREE, _argv, _run

WINDOW = (T0, T0 + HOUR)


@pytest.fixture(scope="module")
def tie_tree(tmp_path_factory):
    """One hour with two files holding the same timestamps under
    different create times, so ``create_time`` breaks ties on ``ts``;
    within a file, three lines share each millisecond of a block, so
    ``line_no`` decides. No two lines tie on all four keys. The file
    with the later create time is the larger, so the scan reads it first
    (``fan_out`` packs the largest range first): an order that ignored
    ``create_time`` would print its lines first."""
    root = str(tmp_path_factory.mktemp("tie_tree"))
    dc, svc, comp = TREE
    data = os.path.join(root, dc, svc, "logs", "20261005", "00", comp, "data")
    os.makedirs(data)
    for name, create_time in (("part-00000.bm", 20), ("part-00001.bm", 10)):
        lines = []
        for s in range(40):
            t = T0 + 60_000 + s * 1000
            pad = " padding" * (create_time // 10)
            lines += [(t + 5, f"c{create_time} s{s} {word}{pad}", i)
                      for i, word in enumerate(("zulu", "alpha", "mike"))]
            lines.append((t + 900, f"c{create_time} s{s} late{pad}", 9))
        write_boom_local(os.path.join(data, name), lines, create_time=create_time)
    return root, data


@pytest.mark.parametrize(
    "spill, out",
    [(False, False), (True, False), (False, True), (True, True)],
    ids=["driver_sort", "range_sort", "driver_sort_out", "range_sort_out"],
)
def test_stdout_order_equals_format_and_sort(spark, monkeypatch, tmp_path, tie_tree, spill, out):
    """logcat's stdout, and the concatenated part files of ``--out``,
    equal ``format_and_sort`` (``orderBy`` on ts, create_time, block_no,
    line_no), on the small-result sort and, with the spill threshold
    below the row count, on Spark's range sort."""
    root, data = tie_tree
    if spill:
        monkeypatch.setattr(util, "SMALL_SORT_SPILL_ROWS", 1)
    want = [
        r["line"]
        for r in logops.format_and_sort(logops.cat(read_boom(spark, data), *WINDOW)).collect()
    ]
    assert len(want) == 320 and len({line.split(" ", 1)[0] for line in want}) == 80
    if not out:
        assert _run(spark, monkeypatch, "logcat", _argv(root, *WINDOW, "--r")) == want
        return
    target = str(tmp_path / "out")
    assert _run(spark, monkeypatch, "logcat",
                _argv(root, *WINDOW, f"--out={target}", "--r")) == []
    got = []
    for name in sorted(n for n in os.listdir(target) if n.startswith("part-")):
        with open(os.path.join(target, name), encoding="utf-8") as f:
            got += f.read().splitlines()
    assert got == want


def test_stdout_call_runs_two_jobs_and_no_shuffle(spark, monkeypatch, tie_tree):
    """A logcat to stdout runs the checkpoint-and-count job and the Arrow
    fetch, nothing else, and writes no shuffle bytes."""
    root, _data = tie_tree
    sc, group = spark.sparkContext, "emit-jobs"
    sc.setJobGroup(group, "logcat")
    try:
        assert _run(spark, monkeypatch, "logcat", _argv(root, *WINDOW, "--r"))
    finally:
        sc._jsc.clearJobGroup()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = list(tracker.getJobIdsForGroup(group))
    assert len(jobs) == 2, jobs
    shuffle = 0
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None and info.numTasks:
                shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
    assert shuffle == 0


def test_stdout_call_on_driver_runs_no_job(spark, monkeypatch, tie_tree):
    """The same logcat without ``--r`` runs on the driver executor: no
    Spark job, and the same lines in the same order."""
    root, _data = tie_tree
    sc, group = spark.sparkContext, "emit-local"
    sc.setJobGroup(group, "logcat")
    try:
        got = _run(spark, monkeypatch, "logcat", _argv(root, *WINDOW))
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert got == _run(spark, monkeypatch, "logcat", _argv(root, *WINDOW, "--r"))
    assert len(got) == 320
