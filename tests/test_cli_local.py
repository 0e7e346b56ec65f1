"""The CLI's driver executor: a small slice of the .bm tree is read, sorted
and formatted in this process, with no Spark job, and prints byte for
byte what the Spark executor (``--r``) prints. Its pool of read workers
prints what one bin read in this process prints, its Python formatter
equals ``format_timestamp``, its literal ``loggrep`` equals ``rlike``,
and a damaged file ends it, and the Spark executor, with one error line
naming the file."""

from __future__ import annotations

import contextlib
import io
import os
import re
import subprocess
import sys
import tempfile

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from bb_bigdata_log_tools_spark import cli
from bb_bigdata_log_tools_spark.functions.timestamps import (
    PY_END_MS,
    PY_MIN_MS,
    format_timestamp,
    ms_formatter,
)
from bb_bigdata_log_tools_spark.operators import logops
from bb_bigdata_log_tools_spark.schema import LOG_COLUMNS
from bb_bigdata_log_tools_spark.sources import boom
from bb_bigdata_log_tools_spark.sources.boom import (
    LINE_FIELDS,
    _matcher,
    iter_blocks,
    read_boom,
    write_boom_local,
)
from boom_damage import damage_block
from test_cli_single_scan import HOUR, T0, TREE, _argv

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORDS = ["needle", "NEEDLE", "Needle-Beta", "disk ok", "ÉCHEC-DISQUE", "échec",
         "Straße", "STRASSE", "İstanbul", "\u212a", "k", "ΣΟΦΟΣ", "σοφος", "注文", "x"]


@pytest.fixture(scope="module")
def run(spark):
    """``run(tool, argv) -> (exit code, stdout, stderr)`` of one in-process
    call, on the test session when the call needs Spark."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cli, "_spark", lambda: spark)

        def call(tool: str, argv: list[str]) -> tuple[int, str, str]:
            out, err = io.StringIO(), io.StringIO()
            code = 0
            with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                try:
                    cli.TOOLS[tool](argv)
                except SystemExit as exc:  # cli.fail's message is its error line
                    code = 1 if isinstance(exc.code, str) else exc.code or 0
                    if isinstance(exc.code, str):
                        err.write(exc.code + "\n")
            return code, out.getvalue(), err.getvalue()

        yield call


def _jobs(spark, group: str, fn) -> list:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _write_hour(root: str, hour: int, files: list[list[tuple]]) -> list[str]:
    """``files`` into hour ``hour`` of a tree, file ``k`` with create time
    ``10 * (hour * 4 + k + 1)``: no two files share one, so no two lines
    tie on all four sort keys."""
    dc, svc, comp = TREE
    data = os.path.join(root, dc, svc, "logs", "20261005", f"{hour:02d}", comp, "data")
    os.makedirs(data, exist_ok=True)
    paths = []
    for k, lines in enumerate(files):
        paths.append(os.path.join(data, f"part-{k:05d}.bm"))
        write_boom_local(paths[-1], lines, create_time=10 * (hour * 4 + k + 1))
    return paths


LINE = st.tuples(
    # lines up to half an hour outside their hour; few distinct values,
    # so timestamps tie across files and within seconds
    st.integers(min_value=-1800, max_value=5400).map(lambda s: s * 1000)
    | st.sampled_from([0, 1, 999, 1000, 1500, 3_599_999]),
    st.lists(st.sampled_from(WORDS), min_size=1, max_size=3).map(" ".join),
    st.integers(min_value=0, max_value=9),
)
TREES = st.lists(  # hours, files an hour, lines a file
    st.lists(st.lists(LINE, min_size=0, max_size=12), min_size=1, max_size=3),
    min_size=1, max_size=3,
)
CALLS = st.sampled_from([
    ("logcat", []),
    ("logsearch", ["-string=needle"]),
    ("logsearch", ["-string=échec"]),
    ("logsearch", ["-string=\u212a"]),
    ("logmultisearch", ["needle", "ÉCHEC-DISQUE"]),
    ("logmultisearch", ["Straße", "x"]),
    ("logmultisearch", ["σοφος", "k"]),
    ("loggrep", ["-regex=needle(-beta|-BETA)?"]),  # a repeat: Spark only
    ("loggrep", ["-regex=needle-(beta|Beta)|注文"]),
    ("loggrep", ["-regex=k|STRA(SS|ß)E"]),
])
FLAGS = st.fixed_dictionaries({
    "i": st.booleans(),
    "a": st.booleans(),
    "format": st.sampled_from(["RFC5424", "RFC3164", "RFC822", "raw"]),
    "skip_corrupt": st.booleans(),
})


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(TREES, CALLS, FLAGS, st.integers(0, 3 * HOUR), st.integers(1, 3 * HOUR))
@example([[[(5, "needle x", 1), (5, "NEEDLE", 2)], [(5, "needle", 3)]]],
         ("logsearch", ["-string=needle"]), {"i": True, "a": False, "format": "RFC5424",
                                             "skip_corrupt": False}, 0, HOUR)
def test_local_equals_spark(run, tree, call, flags, start, length):
    """For random trees (several files an hour, unicode messages, lines
    outside their hour, ties on ``ts``), sub-second windows, every tool
    and every flag the driver executor takes, ``--l``'s stdout equals
    ``--r``'s byte for byte; ``--raw``'s as a multiset, as Spark's
    ``--raw`` prints in partition order. ``--skipCorrupt`` reads a copy
    with one damaged block."""
    tool, arg = call
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "tree")
        files = []
        for hour, hour_files in enumerate(tree):
            shifted = [[(T0 + hour * HOUR + ts, m, e) for ts, m, e in f] for f in hour_files]
            files += _write_hour(root, hour, shifted)
        extra = []
        if flags["skip_corrupt"]:
            extra.append("--skipCorrupt")
            for path in files:
                with open(path, "rb") as f:
                    blocks = sum(1 for _ in iter_blocks(f.read()))
                if blocks:
                    damage_block(path, blocks // 2)
                    break
        if tool == "logmultisearch":
            strings = os.path.join(d, "strings.txt")
            with open(strings, "w", encoding="utf-8") as f:
                f.write("\n".join(arg) + "\n")
            arg = [f"-strings={strings}"]
        extra += arg + ["--i"] * flags["i"] + ["--a"] * flags["a"]
        extra.append("--raw" if flags["format"] == "raw" else f"--dateFormat={flags['format']}")
        argv = _argv(root, T0 + start, T0 + start + length, *extra)
        local = run(tool, [*argv, "--l", "--v"])
        spark = run(tool, [*argv, "--r"])
    want_executor = "spark" if tool == "loggrep" and "?" in arg[0] else "driver"
    assert local[2].startswith((f"; executor={want_executor} ",
                                "; no matching log directories")), local[2]
    assert local[0] == spark[0] == 0, (local, spark)
    if flags["format"] == "raw":
        assert sorted(local[1].splitlines()) == sorted(spark[1].splitlines())
    else:
        assert local[1] == spark[1]


#: Times within a minute of the first and the last one formatted, of 1970
#: and of 2026: sorted runs of them cross second, minute, year and range
#: edges.
NEAR_EDGES = st.sampled_from([PY_MIN_MS, 0, 1_767_225_600_000, PY_END_MS]).flatmap(
    lambda edge: st.integers(max(PY_MIN_MS, edge - 61_000), min(PY_END_MS - 1, edge + 61_000)))


@settings(max_examples=40, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=PY_MIN_MS, max_value=PY_END_MS - 1) | NEAR_EDGES,
                min_size=1, max_size=40))
@example([PY_MIN_MS, PY_END_MS - 1, -1, 0, -999, -1000, -12_219_292_800_001,
          -30_610_224_000_001, 1_330_423_201_123])
@example([PY_MIN_MS, PY_MIN_MS + 999, PY_MIN_MS + 1000, PY_MIN_MS + 60_000, -60_001, -60_000,
          -1001, -1000, -1, 0, 1_767_225_599_999, 1_767_225_600_000, 1_767_225_600_000,
          PY_END_MS - 60_001, PY_END_MS - 1000, PY_END_MS - 1])
def test_python_formatter_equals_format_timestamp(spark, values):
    """``ms_formatter`` equals Spark's ``format_timestamp`` for the three
    named formats over years 1-9999, pre-1970 times included, over
    sorted times in runs that cross second, minute, year and range
    edges, as the driver executor formats them, and over each time alone."""
    names = ("RFC5424", "RFC3164", "RFC822")
    values = sorted(values)
    df = spark.createDataFrame([(v,) for v in values], "ts long")
    got = [tuple(r) for r in df.select(*[format_timestamp("ts", n) for n in names]).collect()]
    formatters = [ms_formatter(n) for n in names]
    assert got == [tuple(fmt(v) for fmt in formatters) for v in values]
    assert got == [tuple(ms_formatter(n)(v) for n in names) for v in values]


GREP_MESSAGES = ["cooled to 4 \u212a", "KELVIN k", "İstanbul", "istanbul", "ISTANBUL",
                 "Straße", "STRASSE", "ÉCHEC-DISQUE", "échec-disque", "Échec", "ÿ Ÿ",
                 "a{b", "x.y", "needle-BETA", "needle-delta", "plain"]


@pytest.mark.parametrize("regex", ["k", "K", "i", "İ", "I", "ß|SS", "é|É", "ÿ",
                                   "(?:échec|ÉCHEC)-disque", "needle-(beta|delta)",
                                   r"x\.y", "İstanbul|kelvin"])
def test_literal_grep_equals_rlike(spark, run, tmp_path, regex):
    """A literal-subset ``loggrep``, with and without ``--i``, prints on
    the driver what ``rlike`` keeps on Spark: ``--i`` folds ASCII letters
    only, as Java's ``CASE_INSENSITIVE`` does, so the KELVIN SIGN is no
    ``k``, ``İ`` no ``i`` and ``É`` no ``é``."""
    data = _write_hour(str(tmp_path), 0, [[(T0 + i * 1000, m, i)
                                            for i, m in enumerate(GREP_MESSAGES)]])
    plain = read_boom(spark, os.path.dirname(data[0]))
    for ci in (False, True):
        want = [r["line"] for r in logops.format_and_sort(
            logops.grep(plain, regex, case_insensitive=ci)).collect()]
        code, out, err = run("loggrep", _argv(str(tmp_path), T0, T0 + HOUR, f"-regex={regex}",
                                             "--v", *["--i"] * ci))
        assert code == 0 and err.startswith("; executor=driver "), err
        assert out.splitlines() == want, (regex, ci)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from(["k", "K", "\u212a", "i", "I", "İ", "ı", "ß", "S", "é", "É",
                                 "x", "|", "(", ")", "\\.", "."]), min_size=1, max_size=8)
       .map("".join),
       st.lists(st.text(alphabet="kKi\u212aIİıßSséÉx.|()", max_size=8), max_size=10))
def test_literal_grep_matcher_equals_rlike(spark, regex, messages):
    """Over random regexes of those characters, a regex that
    :func:`cli.grep_literals` expands is matched by ``_matcher``'s
    ASCII-folding line test exactly where ``rlike`` matches, with and
    without ``(?i)``."""
    literals = cli.grep_literals(regex)
    if literals is None:
        return
    df = spark.createDataFrame([(m,) for m in messages], "message string")
    for ci in (False, True):
        pattern = f"(?i){regex}" if ci else regex
        want = [r[0] for r in df.filter(df.message.rlike(pattern)).collect()]
        _, line_ok = _matcher(literals, False, ci, ascii_case=True)
        assert [m for m in messages if line_ok(0, m)] == want, (regex, literals, ci)


@pytest.mark.parametrize("regex", ["a{", r"\d", ".", "(?i)x", "[ab]", "a*", "^a", "(?<n>a)"])
def test_other_regexes_go_to_spark(regex):
    """A regex outside the literal subset, or one Java and Python parse
    differently (``a{``, which Java rejects), is no literal search."""
    assert cli.grep_literals(regex) is None


def test_line_fields_are_the_log_columns():
    """The driver executor sorts lines by their ``LINE_FIELDS`` indexes,
    and the Spark read builds its frames with ``LOG_COLUMNS``: the same
    names in the same order."""
    assert list(LINE_FIELDS) == LOG_COLUMNS


def test_executor_reasons(tmp_path):
    """``_executor`` picks the driver for a small slice with a named
    format or ``--raw`` (or ``--l``), and Spark for ``--r``, ``--out``, a
    custom ``--dateFormat``, a window outside years 1-9999, a regex
    outside the literal subset and a slice over ``LOCAL_MAX_BYTES``."""
    data = _write_hour(str(tmp_path), 0, [[(T0, "x", 0)]])
    paths, window = [os.path.dirname(data[0])], (T0, T0 + HOUR)
    size = os.path.getsize(data[0])

    def pick(*args, spark_only=None, window=window):
        ranges, reason = cli._executor(cli.parse_args(list(args)), paths, *window, spark_only)
        return ("spark" if ranges is None else "driver"), reason

    plan = f"files=1 bytes={size}"
    assert pick() == ("driver", f"{plan} <= LOCAL_MAX_BYTES={cli.LOCAL_MAX_BYTES}")
    assert pick("--dateFormat=RFC822")[0] == pick("--raw", "--dateFormat=yyyy")[0] == "driver"
    assert pick("--r") == ("spark", "reason=--r")
    assert pick("--out=/x") == ("spark", "reason=--out")
    assert pick("--dateFormat=yyyy") == ("spark", "reason=--dateFormat")
    assert pick(window=(T0, PY_END_MS + 1))[0] == "spark"
    assert pick(spark_only="regex") == ("spark", "reason=regex")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cli, "LOCAL_MAX_BYTES", size - 1)
        assert pick() == ("spark", f"{plan} > LOCAL_MAX_BYTES={size - 1}")
        assert pick("--l") == ("driver", f"reason=--l {plan}")


def test_verbose_names_the_executor(spark, run, tmp_path):
    """With ``--v`` a call writes one stderr line naming its executor and
    why, before the data markers; without it, only the markers. A
    driver call runs no Spark job."""
    _write_hour(str(tmp_path), 0, [[(T0 + 1000, "hello", 0)]])
    argv = _argv(str(tmp_path), T0, T0 + HOUR)
    got = {}
    jobs = _jobs(spark, "local-v", lambda: got.update(
        quiet=run("logcat", argv), verbose=run("logcat", [*argv, "--v"])))
    assert jobs == []
    assert got["quiet"] == (0, "2026-10-05T00:00:01.000+00:00 hello\n",
                            f"{cli.DATA_MARKER}\n{cli.DATA_MARKER}\n")
    code, out, err = got["verbose"]
    assert (code, out) == got["quiet"][:2]
    assert err.splitlines()[0].startswith("; executor=driver workers=1 files=1 bytes=")
    assert err.splitlines()[1:] == [cli.DATA_MARKER] * 2
    code, out, err = run("logcat", [*argv, "--v", "--r"])
    assert (code, out) == got["quiet"][:2]
    assert err.splitlines() == ["; executor=spark reason=--r"] + [cli.DATA_MARKER] * 2


def _damaged_tree(tmp_path) -> tuple[str, str]:
    """A two-hour tree whose second file has a damaged block: its root
    and the damaged file."""
    root = str(tmp_path / "tree")
    for hour in range(2):
        lines = [(T0 + hour * HOUR + s * 1000, f"line {s}", 0) for s in range(20)]
        path = _write_hour(root, hour, [lines])[0]
    damage_block(path)
    return root, path


def _logcat(root: str, *extra: str) -> subprocess.CompletedProcess:
    """A fresh ``logcat`` process over the two hours of ``root``."""
    return subprocess.run(
        [sys.executable, "-m", "bb_bigdata_log_tools_spark", "logcat",
         *_argv(root, T0, T0 + 2 * HOUR), *extra],
        capture_output=True, text=True, timeout=300, env=dict(os.environ, PYTHONPATH=REPO),
    )


def test_damaged_file_one_error_line(tmp_path):
    """On the driver executor a damaged file ends the call with exit 1
    and exactly one error line naming the file, whichever worker read it."""
    root, path = _damaged_tree(tmp_path)
    res = _logcat(root)
    assert res.returncode == 1 and res.stdout == ""
    errors = res.stderr.splitlines()
    assert len(errors) == 1, res.stderr
    assert errors[0].startswith(f";******************** ERROR: cannot decode .bm file {path}: ")


#: What the JVM and Spark's logging print on stderr while any Spark call
#: starts, before the program can set a log level.
JVM_START = re.compile(r"WARNING: Using incubator modules: |Using Spark's default log4j profile: "
                       r"|Setting default log level to |To adjust logging level use "
                       r"|\d\d/\d\d/\d\d \d\d:\d\d:\d\d WARN NativeCodeLoader: ")


@pytest.mark.slow
def test_damaged_file_one_error_line_on_spark(tmp_path):
    """On the Spark executor a damaged file ends the call with exit 1 and
    the driver executor's one error line: no traceback and no task log,
    only the notices of the JVM's start before it."""
    root, _ = _damaged_tree(tmp_path)
    res = _logcat(root, "--r")
    assert res.returncode == 1 and res.stdout == ""
    errors = [e for e in res.stderr.splitlines() if not JVM_START.match(e)]
    assert errors == _logcat(root).stderr.splitlines(), res.stderr


def _tie_tree(root: str) -> None:
    """Three hours of two files each, every file with the same create time
    and the same times: every line ties on all of ``SORT_KEYS`` with its
    twins in the other files, so only the read order breaks the ties."""
    dc, svc, comp = TREE
    for hour in range(3):
        data = os.path.join(root, dc, svc, "logs", "20261005", f"{hour:02d}", comp, "data")
        os.makedirs(data)
        for k in range(2):
            lines = [(T0 + (i // 3) * 250, f"{WORDS[i % len(WORDS)]} h{hour} f{k} #{i}", i)
                     for i in range(60)]
            write_boom_local(os.path.join(data, f"part-{k:05d}.bm"), lines, create_time=7)


@pytest.mark.parametrize("extra", [[], ["--raw"], ["--dateFormat=RFC3164"], ["--skipCorrupt"],
                                   ["-string=needle"]],
                         ids=["logcat", "raw", "RFC3164", "skipCorrupt", "logsearch"])
def test_pool_equals_one_bin(run, tmp_path, extra):
    """The pooled read prints byte for byte what a read of one bin in this
    process prints, ties across files, ``--raw``'s read order and a
    salvaged block included."""
    root = str(tmp_path)
    _tie_tree(root)
    if "--skipCorrupt" in extra:
        damage_block(os.path.join(root, *TREE[:2], "logs", "20261005", "01", TREE[2], "data",
                                  "part-00001.bm"))
    tool = "logsearch" if any(a.startswith("-string=") for a in extra) else "logcat"
    argv = [*_argv(root, T0, T0 + 3 * HOUR), *extra, "--v", "--silent"]
    got = {}
    for bins in (1, 3):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(boom, "local_bins", lambda ranges, n=bins: boom._pack(ranges, n))
            got[bins] = run(tool, argv)
    assert got[3][2].startswith("; executor=driver workers=3 files=6 "), got[3][2]
    assert got[1][2].startswith("; executor=driver workers=1 files=6 "), got[1][2]
    assert got[1][0] == got[3][0] == 0
    assert got[1][1] == got[3][1] and got[1][1].count("\n") >= 24


def test_pool_damaged_file_one_error_line(run, tmp_path, monkeypatch):
    """A damaged file read by a worker ends the call with exactly one
    error line naming it."""
    root = str(tmp_path)
    _tie_tree(root)
    path = os.path.join(root, *TREE[:2], "logs", "20261005", "02", TREE[2], "data",
                        "part-00000.bm")
    damage_block(path)
    monkeypatch.setattr(boom, "local_bins", lambda ranges: boom._pack(ranges, 3))
    code, out, err = run("logcat", _argv(root, T0, T0 + 3 * HOUR))
    assert (code, out) == (1, "")
    assert len(err.splitlines()) == 1, err
    assert err.startswith(f";******************** ERROR: cannot decode .bm file {path}: ")


def _exit_in_worker(*args, parent: int = os.getpid(), **kwargs):
    if os.getpid() == parent:
        raise AssertionError("read in the test process")
    os._exit(3)


def test_pool_dead_worker_one_error_line(run, tmp_path, monkeypatch):
    """A worker that dies ends the call with one error line, and the next
    call forks a new pool."""
    root = str(tmp_path)
    _tie_tree(root)
    argv = _argv(root, T0, T0 + 3 * HOUR, "--silent")
    monkeypatch.setattr(boom, "local_bins", lambda ranges: boom._pack(ranges, 3))
    monkeypatch.setattr(boom, "_POOL", None)  # a pool forked with the patch below
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(boom, "range_lines", _exit_in_worker)
        code, out, err = run("logcat", argv)
    assert (code, out) == (1, "")
    assert err.splitlines() == [";******************** ERROR: a read worker died: A process in "
                                "the process pool was terminated abruptly while the future was "
                                "running or pending."]
    assert boom._POOL is None
    try:
        code, out, err = run("logcat", argv)
    finally:
        boom._POOL.shutdown()
    assert code == 0 and out.count("\n") == 360


@pytest.mark.slow
def test_pooled_call_releases_its_pipes(tmp_path):
    """A fresh ``bin/logsearch`` over several hours reaches stdout's end
    and exits within the timeout: no worker outlives the call holding
    stdout or stderr open."""
    root = str(tmp_path)
    _tie_tree(root)
    res = subprocess.run(
        [os.path.join(REPO, "bin", "logsearch"), *_argv(root, T0, T0 + 3 * HOUR),
         "-string=needle", "--v"],
        capture_output=True, text=True, timeout=60,
    )
    assert res.returncode == 0, res.stderr
    workers = min(6, len(os.sched_getaffinity(0)))
    assert res.stderr.startswith(f"; executor=driver workers={workers} files=6 "), res.stderr
    assert len(res.stdout.splitlines()) == 24
