"""The CLI's entry: every ``bin/`` tool is a symlink to the one dispatcher,
``bin/logdriver``, which runs from any working directory, and a call that
fails on its arguments, finds no data, or needs no cluster (a small
search runs on the driver executor) imports no pyspark."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from bb_bigdata_log_tools_spark import __version__
from bb_bigdata_log_tools_spark.sources.boom import write_boom_local

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BIN = os.path.join(REPO, "bin")
TOOLS = ("hfind", "indexlogs", "logcat", "loggrep", "logmaintenance",
         "logmultisearch", "logsearch", "queryindex", "readboom")


def test_bin_tools_run_from_any_directory(tmp_path):
    """``bin/logdriver version`` and ``bin/queryindex`` work from a
    directory outside the repository with no PYTHONPATH set, and every
    tool in ``bin/`` is a symlink to ``logdriver``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    ver = subprocess.run([os.path.join(BIN, "logdriver"), "version"],
                         capture_output=True, text=True, cwd=tmp_path, env=env, timeout=60)
    assert ver.returncode == 0, ver.stderr
    assert ver.stdout.strip() == __version__
    q = subprocess.run([os.path.join(BIN, "queryindex"), f"-r={tmp_path / 'none'}"],
                       capture_output=True, text=True, cwd=tmp_path, env=env, timeout=60)
    assert q.returncode == 0, q.stderr
    assert "Matched components: 0" in q.stdout
    assert sorted(os.listdir(BIN)) == sorted([*TOOLS, "logdriver"])
    assert all(os.readlink(os.path.join(BIN, t)) == "logdriver" for t in TOOLS)


@pytest.mark.parametrize("case", ["bad_logsearch", "logcat_no_dirs", "logsearch_two_hours",
                                  "readboom", "queryindex",
                                  "maintenance_bad_days", "maintenance_bad_wait",
                                  "hfind_bad_size", "maintenance_missing_filters",
                                  "maintenance_filters_not_mapping"])
def test_tool_imports_no_pyspark(tmp_path, case):
    """``python -X importtime`` lists every module a call imports: a
    ``logsearch`` missing its arguments, a ``logcat`` whose window
    matches no directory, a ``logsearch`` over a two-hour tree,
    ``readboom`` of a file, ``queryindex``, and an admin tool given a
    number that is not one import no ``pyspark`` module; the search
    prints its lines, and the bad number, and a ``--filters`` file that
    is missing or holds no mapping, exit 1 with one error line naming
    the option."""
    none = str(tmp_path / "none")
    bm = str(tmp_path / "f.bm")
    write_boom_local(bm, [(1500, "hello", 7), (2500, "world", 8)])
    tree = tmp_path / "tree"
    for hour, lines in (("00", [(3_600_000 - 1, "hello late", 0), (1000, "hi", 1)]),
                        ("01", [(3_600_000, "hello next", 2), (7_199_999, "bye", 3)])):
        data = tree / "dc" / "svc" / "logs" / "19700101" / hour / "comp" / "data"
        data.mkdir(parents=True)
        write_boom_local(str(data / "part-0.bm"), lines)
    search = ["logsearch", "-dc=dc", "-svc=svc", "-comp=comp", "-start=0", "-end=7200",
              f"-root={tree}", "-string=hello"]
    listing = tmp_path / "list.yaml"
    listing.write_text("- keepall\n- dropall\n")
    maintenance = ["logmaintenance", "dc", "svc", f"--root={none}"]
    args, code, out_lines, error = {
        "bad_logsearch": (["logsearch", "-dc=x"], 1, 0, None),
        "logcat_no_dirs": (["logcat", "-dc=x", "-svc=y", "-comp=z", "-start=0",
                            "-end=100", f"-root={none}"], 0, 0, None),
        "logsearch_two_hours": (search, 0, 2, None),
        "readboom": (["readboom", bm], 0, 2, None),
        "queryindex": (["queryindex", f"-r={none}"], 0, 2, None),
        "maintenance_bad_days": ([*maintenance, "--days-before-archive=x"], 1, 0,
                                 "days-before-archive"),
        "maintenance_bad_wait": ([*maintenance, "--wait-min=ten"], 1, 0, "wait-min"),
        "hfind_bad_size": (["hfind", none, "-size=abc"], 1, 0, "size"),
        "maintenance_missing_filters": ([*maintenance, f"--filters={none}.yaml"], 1, 0,
                                        "filters"),
        "maintenance_filters_not_mapping": ([*maintenance, f"--filters={listing}"], 1, 0,
                                            "filters"),
    }[case]
    res = subprocess.run(
        [sys.executable, "-X", "importtime", "-m", "bb_bigdata_log_tools_spark", *args],
        capture_output=True, text=True, cwd=tmp_path, timeout=60,
        env=dict(os.environ, PYTHONPATH=REPO),
    )
    assert res.returncode == code, res.stderr[-2000:]
    assert len(res.stdout.splitlines()) == out_lines, res.stdout
    imported = [line.rsplit("|", 1)[-1].strip() for line in res.stderr.splitlines()
                if line.startswith("import time:")]
    assert "bb_bigdata_log_tools_spark.cli" in imported
    assert [m for m in imported if m.split(".")[0] == "pyspark"] == []
    if case == "logsearch_two_hours":
        assert res.stdout == ("1970-01-01T00:59:59.999+00:00 hello late\n"
                              "1970-01-01T01:00:00.000+00:00 hello next\n")
    if error:
        errors = [line for line in res.stderr.splitlines()
                  if not line.startswith("import time:")]
        assert len(errors) == 1, errors
        assert errors[0].startswith(";******************** ERROR: ") and error in errors[0]
