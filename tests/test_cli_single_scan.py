"""The CLI reads every hour of a window in ONE scan, on the driver
executor or, with ``--r``, in one ``read_boom``: on both, its output
equals a per-hour read + plain Spark filter, loading runs no Spark job
(the driver lists the files, however many hours the window has), and the
CLI behaves like a Unix filter at its edges."""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import subprocess
import sys
from functools import reduce

import pytest

from pyspark.sql import functions as F

from bb_bigdata_log_tools_spark import cli
from bb_bigdata_log_tools_spark.operators import logops
from bb_bigdata_log_tools_spark.sources.boom import read_boom, write_boom_local
from boom_damage import damage_block

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = 1791158400000  # 2026-10-05 00:00 UTC
HOUR = 3600 * 1000
HOURS = 36  # more than Spark's parallelPartitionDiscovery.threshold (32)
LINES_PER_HOUR = 30
WORDS = ["disk ok", "disk FAIL", "net timeout", "ÉCHEC-DISQUE sda", "user login"]
TREE = ("dc1", "svc1", "comp1")


def _write_tree(root: str, hours: int, lines_per_hour: int) -> list[str]:
    """An hourly .bm tree in the reference layout; returns its files."""
    dc, svc, comp = TREE
    files = []
    for h in range(hours):
        t = T0 + h * HOUR
        day, hh = divmod(h, 24)
        d = os.path.join(
            root, dc, svc, "logs", f"202610{5 + day:02d}", f"{hh:02d}", comp, "data"
        )
        os.makedirs(d)
        lines = [
            (t + i * (HOUR // lines_per_hour) + i % 7,
             f"h{h} i{i} {WORDS[(h + i) % len(WORDS)]}", i)
            for i in range(lines_per_hour)
        ]
        files.append(os.path.join(d, "part-00000.bm"))
        write_boom_local(files[-1], lines)
    return files


@pytest.fixture(scope="module")
def trees(tmp_path_factory):
    """An intact tree and a copy with one damaged hour."""
    base = tmp_path_factory.mktemp("single_scan")
    good = str(base / "good")
    files = _write_tree(good, HOURS, LINES_PER_HOUR)
    bad = str(base / "bad")
    shutil.copytree(good, bad)
    damaged = files[HOURS // 2].replace(good, bad, 1)
    damage_block(damaged)
    strings = str(base / "strings.txt")
    with open(strings, "w", encoding="utf-8") as f:
        f.write("net timeout\r\nÉCHEC-DISQUE\n")
    return {"good": good, "bad": bad, "damaged": damaged, "strings": strings}


def _argv(root: str, start_ms: int, end_ms: int, *extra: str) -> list[str]:
    dc, svc, comp = TREE
    return [f"-dc={dc}", f"-svc={svc}", f"-comp={comp}", f"-start={start_ms}",
            f"-end={end_ms}", f"-root={root}", *extra]


def _run(spark, monkeypatch, tool: str, argv: list[str]) -> list[str]:
    monkeypatch.setattr(cli, "_spark", lambda: spark)
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        cli.TOOLS[tool](argv)
    return out.getvalue().splitlines()


@pytest.mark.parametrize("skip_corrupt, executor", [
    pytest.param(False, [], id="False"),
    pytest.param(True, [], id="True"),
    pytest.param(False, ["--r"], id="False-r"),
    pytest.param(True, ["--r"], id="True-r"),
])
def test_single_scan_equals_per_hour_filter(spark, monkeypatch, trees, skip_corrupt, executor):
    """logsearch / loggrep / logmultisearch over a >32-hour window equal
    the plain Spark filter over a per-hour read_boom of each directory,
    on the driver executor and on Spark (``--r``); with --skipCorrupt,
    also over a tree with one damaged hour. Loading the window starts no
    Spark job."""
    root = trees["bad" if skip_corrupt else "good"]
    flags = (["--skipCorrupt"] if skip_corrupt else []) + executor
    # seconds-granular epoch bounds; the window cuts into the first hour
    start_ms, end_ms = T0 + 30 * 60_000, T0 + HOURS * HOUR
    dc, svc, comp = TREE
    paths = cli.resolve_paths(root, dc, svc, comp, start_ms, end_ms)
    assert len(paths) == HOURS > 32

    sc, group = spark.sparkContext, f"single-scan-load-{skip_corrupt}-{executor}"
    sc.setJobGroup(group, "cli._load")
    try:
        with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(io.StringIO()):
            cli._load(
                cli.parse_args(_argv(root, start_ms, end_ms, "-string=x", *flags)),
                "logsearch", ["string"], ["x"],
            )
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    per_hour = reduce(
        lambda a, b: a.unionByName(b),
        [read_boom(spark, p, skip_corrupt=skip_corrupt) for p in paths],
    )
    window = per_hour.filter((F.col("ts") >= start_ms) & (F.col("ts") < end_ms))
    msg = F.col("message")
    cases = [
        ("logsearch", ["-string=disk FAIL"], msg.contains("disk FAIL")),
        ("loggrep", ["-regex=h1[0-9] i[0-9]+ (net|user)"],
         msg.rlike("h1[0-9] i[0-9]+ (net|user)")),
        ("loggrep", ["-regex=disk (FAIL|ok)", "--i"], msg.rlike("(?i)disk (FAIL|ok)")),
        ("logmultisearch", [f"-strings={trees['strings']}"],
         msg.contains("net timeout") | msg.contains("ÉCHEC-DISQUE")),
    ]
    for tool, extra, pred in cases:
        want = [
            r["line"]
            for r in logops.format_and_sort(window.filter(pred)).collect()
        ]
        got = _run(spark, monkeypatch, tool,
                   _argv(root, start_ms, end_ms, *extra, *flags))
        assert want, tool
        assert got == want, tool


def test_strict_decode_error_names_file(spark, trees):
    """A strict read of a >32-hour window fails naming the damaged file,
    though its task decodes many packed files."""
    dc, svc, comp = TREE
    paths = cli.resolve_paths(trees["bad"], dc, svc, comp, T0, T0 + HOURS * HOUR)
    assert len(paths) > 32
    with pytest.raises(Exception) as err:
        read_boom(spark, paths).collect()
    assert trees["damaged"] in str(err.value)


def test_invalid_regex_fails_before_any_job(spark, monkeypatch, trees):
    sc = spark.sparkContext
    sc.setJobGroup("bad-regex", "loggrep")
    try:
        with pytest.raises(SystemExit) as err:
            _run(spark, monkeypatch, "loggrep",
                 _argv(trees["good"], T0, T0 + HOUR, "-regex=disk (FAIL"))
    finally:
        sc._jsc.clearJobGroup()
    msg = str(err.value)
    assert msg.startswith(";******************** ERROR: invalid regex: disk (FAIL")
    assert "\n" not in msg
    assert list(sc.statusTracker().getJobIdsForGroup("bad-regex")) == []


def test_parse_time_ten_digits_is_epoch_seconds():
    """A 10-digit value is epoch seconds (there is no yyyyMMddHH form)."""
    assert cli.parse_time("2026101703") == 2026101703 * 1000


def _cli_proc(*args: str, **kw) -> subprocess.Popen:
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="2")
    return subprocess.Popen(
        [sys.executable, "-m", "bb_bigdata_log_tools_spark", *args],
        stderr=subprocess.PIPE, text=True, env=env, **kw,
    )


@pytest.mark.slow
def test_invalid_regex_one_error_line_no_java_trace(trees):
    proc = _cli_proc(
        "loggrep", *_argv(trees["good"], T0, T0 + HOUR, "-regex=[abc"),
        stdout=subprocess.PIPE,
    )
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 1, err[-2000:]
    assert out == ""
    errors = [line for line in err.splitlines() if "ERROR" in line]
    assert len(errors) == 1 and "invalid regex: [abc" in errors[0], err[-2000:]
    for trace in ("Traceback", "PatternSyntaxException", "\tat "):
        assert trace not in err, err[-2000:]


@pytest.mark.slow
def test_hfind_invalid_regex_one_error_line(tmp_path):
    """``hfind -regex=`` checks its pattern like ``loggrep``: one error
    line, exit 1, no Java trace."""
    proc = _cli_proc("hfind", str(tmp_path), "-regex=(unclosed", stdout=subprocess.PIPE)
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 1, err[-2000:]
    assert out == ""
    errors = [line for line in err.splitlines() if "ERROR" in line]
    assert len(errors) == 1, err[-2000:]
    assert errors[0].startswith(";******************** ERROR: invalid regex: (unclosed")
    for trace in ("Traceback", "PatternSyntaxException", "\tat "):
        assert trace not in err, err[-2000:]


def test_parse_args_single_dash_flags():
    """A single-dash argument without ``=`` is a flag, as its ``--``
    form; a lone ``-`` stays a positional."""
    opts = cli.parse_args(["-p", "--d", "-", "-k='v'", "--x='y'", "pos"])
    assert opts == {"flags": {"p", "d"}, "k": "v", "x": "'y'", "positional": ["-", "pos"]}


@pytest.mark.slow
def test_closed_pipe_exits_quietly(tmp_path):
    """`logcat ... | head -1`: once the reader closes the pipe the CLI
    stops delivering and exits 0 with no traceback and no progress bar.
    The output (~1 MB) is far larger than the pipe buffer, so the write
    after the close must fail."""
    root = str(tmp_path / "tree")
    _write_tree(root, 1, 10_000)
    proc = _cli_proc("logcat", *_argv(root, T0, T0 + HOUR), stdout=subprocess.PIPE)
    first = proc.stdout.readline()
    assert first.rstrip("\n").endswith("h0 i0 disk ok")
    proc.stdout.close()
    err = proc.stderr.read()
    assert proc.wait(timeout=300) == 0, err[-2000:]
    for noise in ("Traceback", "BrokenPipeError", "Exception", "[Stage"):
        assert noise not in err, err[-2000:]


_NO_SESSION = (
    "import sys\n"
    "from bb_bigdata_log_tools_spark import cli\n"
    "def _no_session():\n"
    "    sys.stderr.write('session started\\n')\n"
    "    sys.exit(3)\n"
    "cli._spark = _no_session\n"
    "cli.logmultisearch(sys.argv[1:])\n"
)


@pytest.mark.parametrize("kind", ["missing", "empty", "blank", "empty_dir"])
def test_multisearch_bad_strings_fail_before_session(tmp_path, kind):
    """A -strings path that is missing or holds no terms after dos2unix
    stripping fails with one error line and starts no Spark session,
    though the window resolves to a directory."""
    root = str(tmp_path / "tree")
    _write_tree(root, 1, 5)
    strings = tmp_path / "strings"
    if kind == "empty":
        strings.write_text("")
    elif kind == "blank":
        strings.write_text("\r\n  \r\n\n")
    elif kind == "empty_dir":
        strings.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", _NO_SESSION,
         *_argv(root, T0, T0 + HOUR, f"-strings={strings}")],
        capture_output=True, text=True, env=dict(os.environ, PYTHONPATH=REPO),
        timeout=120,
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    assert proc.stdout == ""
    lines = proc.stderr.splitlines()
    assert len(lines) == 1, proc.stderr[-2000:]
    assert lines[0].startswith(";******************** ERROR:")
    assert str(strings) in lines[0]
