"""The hourly tree (``bb_bigdata_log_tools_spark.tree``): one validity rule
for date and hour directories, one rule for the hours a window touches,
shared by the ``.bm`` tree and the parquet log store, and tools that skip
what is not part of the tree instead of crashing on it."""

from __future__ import annotations

import contextlib
import io
import json
import os
import random
import re
import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bb_bigdata_log_tools_spark import cli, cli_admin, tree
from bb_bigdata_log_tools_spark.sources import logs
from bb_bigdata_log_tools_spark.sources.boom import read_boom, write_boom_local, write_boom_tree

HOUR = 3600 * 1000
T0 = 1791158400000  # 2026-10-05 00:00 UTC


def test_hour_start_ms_is_the_validity_rule():
    """8 ASCII digits naming a UTC day and 2 naming an hour 00-23 are an
    hour of the tree; everything else is not."""
    assert tree.hour_start_ms("20261005") == T0
    assert tree.hour_start_ms("20261005", "23") == T0 + 23 * HOUR
    assert tree.hour_start_ms("20240229", "00") == 1709164800000
    for date, hour in [("20240230", "00"), ("20230229", "00"), ("00000101", "00"),
                       ("2026105", "00"), ("202610050", "00"), ("2026-10-", "00"),
                       ("２０２６１００５", "00"), ("20261005", "24"), ("20261005", "3"),
                       ("20261005", "+3"), ("20261005", "٠٣"), ("12345678", "00")]:
        assert tree.hour_start_ms(date, hour) is None, (date, hour)


def test_hour_stamp_round_trips_hour_start_ms():
    rng = random.Random(7)
    for _ in range(500):
        ms = rng.randint(0, 4102444800000)  # 1970 .. 2100
        stamp = tree.hour_stamp(ms)
        start = tree.hour_start_ms(stamp[:8], stamp[8:])
        assert start <= ms < start + HOUR, (ms, stamp)


# ---------------------------------------------------------------------------
# one window rule for both stores
# ---------------------------------------------------------------------------

DC, SVC, TYPE, COMP = "dc1", "svc1", "logs", "comp1"
#: 30 hours of lines from 18:00 the day before T0, crossing midnight.
_RNG = random.Random(3)
LINES = sorted((T0 - 6 * HOUR + _RNG.randrange(30 * HOUR), f"m{i} é", i) for i in range(600))
SPAN = (T0 - 8 * HOUR, T0 + 26 * HOUR)


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """LINES written by ``write_boom_tree`` and by ``write_log_store``."""
    base = tmp_path_factory.mktemp("window_rule")
    df = spark.createDataFrame(
        [(ts, m, e, 0, 0, 0) for ts, m, e in LINES],
        "ts long, message string, event_id int, create_time long, block_no long, "
        "line_no long",
    )
    root, store = str(base / "tree"), str(base / "store")
    assert write_boom_tree(df, root, DC, SVC, TYPE, COMP) == len(LINES)
    logs.write_log_store(df, store)
    return root, store


def _partitions_read(df) -> list[tuple[str, str]]:
    """``(date, hour)`` of the partitions the file scan of ``df`` reads,
    as the driver selects them by its ``PartitionFilters``.
    (``DataFrame.inputFiles`` lists the whole store, pruned or not.)"""
    scan = df._jdf.queryExecution().sparkPlan().collectLeaves().apply(0)
    return sorted(
        re.search(r"date=([0-9]+)/hour=([0-9]+)/", d.files().head().getPath().toString()).groups()
        for d in scan.selectedPartitions().partitionDirectories()
    )


EDGE = st.one_of(
    st.integers(*SPAN),
    st.integers(SPAN[0] // HOUR, SPAN[1] // HOUR).map(lambda h: h * HOUR),
    st.sampled_from([ts for ts, *_ in LINES]),
)


@settings(max_examples=15, deadline=None)
@given(EDGE, st.one_of(EDGE, st.integers(-2 * HOUR, 2 * HOUR)))
def test_one_window_rule_for_both_stores(spark, stores, start_ms, end):
    """For windows with sub-hour and hour edges, across midnight, short,
    long and empty (``end <= start``): the (date, hour) of the directories
    ``resolve_paths`` returns are the partitions ``cat_by_time``'s scan reads,
    and both stores return exactly the lines a plain ``ts`` filter keeps."""
    root, store = stores
    end_ms = end if end >= SPAN[0] else start_ms + end
    want = sorted(ln for ln in LINES if start_ms <= ln[0] < end_ms)
    dirs = cli.resolve_paths(root, DC, SVC, COMP, start_ms, end_ms)
    hours = [tuple(p.split(os.sep)[-4:-2]) for p in dirs]
    df = logs.cat_by_time(spark, store, start_ms, end_ms)
    assert hours == _partitions_read(df)
    assert sorted(tuple(r)[:3] for r in df.collect()) == want
    if dirs:
        bm = read_boom(spark, dirs).filter(f"ts >= {start_ms} AND ts < {end_ms}")
        assert sorted(tuple(r)[:3] for r in bm.collect()) == want
    else:
        assert want == []


def test_cat_by_time_prunes_hours(spark, stores):
    """A two-hour window from 22:30 reads the partitions of the three
    hours it touches, and the scan shows the hour in ``PartitionFilters``."""
    _root, store = stores
    df = logs.cat_by_time(spark, store, T0 - 90 * 60_000, T0 + 30 * 60_000)
    assert _partitions_read(df) == [("20261004", "22"), ("20261004", "23"), ("20261005", "00")]
    plan = df._jdf.queryExecution().executedPlan().toString()
    filters = re.search(r"PartitionFilters: \[(.*?)\]", plan).group(1)
    assert "hour" in filters and "date" in filters


# ---------------------------------------------------------------------------
# entries that are not part of the tree
# ---------------------------------------------------------------------------

def _hour_dir(root: str, date: str, hour: str) -> str:
    d = os.path.join(root, DC, SVC, TYPE, date, hour, COMP, "data")
    os.makedirs(d)
    return d


def _capture(tool, argv: list[str]) -> list[str]:
    out = io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
        tool(argv)
    return out.getvalue().splitlines()


def test_stray_entries_are_skipped(spark, monkeypatch, tmp_path):
    """A regular file ``12345678`` in a type directory, a ``20240230``
    date directory and a ``24`` hour directory, each holding lines, are
    not part of the tree: ``tree.hours`` skips them, ``logcat`` prints
    exactly the valid hours' lines and exits 0, and ``indexlogs`` gives
    the index of the tree without them."""
    root = str(tmp_path / "service")
    t = 1709247600000  # 2024-02-29 23:00 UTC
    valid = {("20240229", "23"): t, ("20240301", "00"): t + HOUR}
    for (date, hour), ms in valid.items():
        write_boom_local(os.path.join(_hour_dir(root, date, hour), "part-0.bm"),
                         [(ms + i * 60_000, f"{date}{hour} line {i}", i) for i in range(5)])
    clean = str(tmp_path / "clean")
    shutil.copytree(root, clean)
    for date, hour in [("20240230", "00"), ("20240301", "24")]:
        write_boom_local(os.path.join(_hour_dir(root, date, hour), "part-0.bm"),
                         [(t + 30 * 60_000, f"stray {date}/{hour}", 0)])
    with open(os.path.join(root, DC, SVC, TYPE, "12345678"), "w") as f:
        f.write("not a directory")

    got = [h[4:6] for h in tree.hours(root)]
    assert got == list(valid)
    monkeypatch.setattr(cli, "_spark", lambda: spark)
    argv = [f"-dc={DC}", f"-svc={SVC}", f"-comp={COMP}", f"-start={t - HOUR}",
            f"-end={t + 3 * HOUR}", "--silent"]
    lines = _capture(cli.logcat, [*argv, f"-root={root}"])
    assert len(lines) == 10 and not any("stray" in ln for ln in lines)
    assert lines == _capture(cli.logcat, [*argv, f"-root={clean}"])
    index = _capture(cli_admin.indexlogs, [f"-r={root}"])
    assert index == _capture(cli_admin.indexlogs, [f"-r={clean}"])
    assert list(json.loads(index[0])[DC][SVC][TYPE]) == [COMP]
