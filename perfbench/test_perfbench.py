"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The Spark-backed tests start one local session for the module and write
tiny trees through the program's writers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

import gen
import layers
import measure
import procstat
import spans
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def spark():
    from bb_bigdata_log_tools_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    s = get_spark("perfbench-test")
    yield s
    s.stop()


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads.NeedleSearch, "HOURS", 3)
    monkeypatch.setattr(workloads.NeedleSearch, "LINES_PER_HOUR", 400)
    monkeypatch.setattr(workloads, "OTHER_LINES_PER_HOUR", 20)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _needle_tree(spark, seed: int, workdir: Path) -> workloads.NeedleSearch:
    workdir.mkdir()
    wl = workloads.NeedleSearch(spark, seed, str(workdir), spans.NullTracer())
    wl.build()
    return wl


def test_generator_is_deterministic():
    a = gen.generate(7, gen.COMPONENTS, 2, 300)
    assert a == gen.generate(7, gen.COMPONENTS, 2, 300)
    assert a != gen.generate(8, gen.COMPONENTS, 2, 300)
    lines = a[gen.COMPONENTS[0]]
    assert [ln[0] for ln in lines] == sorted(ln[0] for ln in lines)
    assert any(not ln[1].isascii() for ln in lines)


def test_same_seed_same_files(spark, tiny, tmp_path):
    first = _digest(_needle_tree(spark, 3, tmp_path / "a").root)
    again = _digest(_needle_tree(spark, 3, tmp_path / "b").root)
    other = _digest(_needle_tree(spark, 4, tmp_path / "c").root)
    assert first and first == again
    assert first != other


def test_fixture_is_what_write_boom_tree_writes(spark, tiny, tmp_path):
    from bb_bigdata_log_tools_spark.sources.boom import write_boom_tree

    wl = _needle_tree(spark, 6, tmp_path / "t")
    df = spark.createDataFrame(wl.lines, "ts long, message string, event_id int")
    write_boom_tree(df, str(tmp_path / "w"), gen.DC, gen.SVC, gen.LOG_TYPE, workloads.QUERY_COMP)
    fixture = {p: d for p, d in _digest(wl.root).items() if workloads.QUERY_COMP in p}
    assert fixture and fixture == _digest(str(tmp_path / "w"))


def test_oracle_agrees_with_read_boom_local(spark, tiny, tmp_path):
    from bb_bigdata_log_tools_spark import cli
    from bb_bigdata_log_tools_spark.sources.boom import read_boom_local

    wl = _needle_tree(spark, 5, tmp_path / "t")
    start, end = gen.T0_MS, gen.T0_MS + wl.HOURS * gen.HOUR_MS
    dirs = cli.resolve_paths(wl.root, gen.DC, gen.SVC, workloads.QUERY_COMP, start, end)
    read = [row for f in workloads.bm_files(dirs) for row in read_boom_local(f)]
    assert sorted(r[:3] for r in read) == sorted(wl.lines)

    for call in wl.cycle(0):
        if call.tool == "logsearch":
            pred = gen.search_pred(call.terms[0], call.ci)
        elif call.tool == "loggrep":
            pred = gen.grep_pred(call.regex, call.ci)
        else:
            pred = gen.multisearch_pred(call.terms, call.ci, call.match_all)
        hits = sorted(
            (r for r in read if call.start_ms <= r[0] < call.end_ms and pred(r[1])),
            key=lambda r: r[0],
        )
        assert gen.check_output(gen.formatted(hits), call.want) is None


def test_check_output_rejects_disorder_and_mismatch():
    lines = gen.formatted([(gen.T0_MS + 5, "a", 0), (gen.T0_MS + 9, "b", 0)])
    want = Counter(lines)
    assert gen.check_output(lines, want) is None
    assert gen.check_output(lines[::-1], want) is not None
    assert gen.check_output(lines[:1], want) is not None
    assert gen.check_output([lines[0], lines[0]], want) is not None


def test_steal_share_is_stolen_over_wanted_cpu_time():
    before = [100, 0, 50, 900, 0, 0, 0, 10]
    # 30 busy ticks, 10 stolen, 60 idle: a quarter of the time wanted was stolen
    after = [120, 0, 60, 960, 0, 0, 0, 20]
    assert procstat.steal_share(before, after) == 0.25
    assert procstat.steal_pct(before, after) == 10.0
    assert procstat.steal_share(before, before) == 0.0


def test_printer_emits_every_listed_metric():
    r = workloads.Result("shape", 1.5, 0.5, 100, 3, None)
    e2e = measure.end_to_end(12.0, [r, r], 900.0)
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(e2e)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == {
        n: u for n, (_v, u) in e2e.items()
    }
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == layers.UNITS

    for metrics, listed in ((e2e, "end_to_end"), (
        {n: (0.0, u) for n, u in layers.UNITS.items()}, "per_layer"
    )):
        line = json.loads(measure.result_line(metrics, [r]))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == {m["name"] for m in BENCHMARK[listed]}
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(workloads.WORKLOADS)


def test_run_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".work", "out"))
    p = subprocess.run(
        [sys.executable, *BENCHMARK["command"][1:], "--workload", "needle_search",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
