"""The benchmark's workloads: fixtures, the calls of one cycle, how a call
is run and timed, and the oracle check of its output.

Every workload is a closed loop with one client: a call starts only after
the previous one has returned and been checked. A cycle is a fixed list of
call shapes; the seed picks the data and where each window falls, never
the mix, so every run does the same kind of work.
"""

from __future__ import annotations

import bisect
import contextlib
import io
import itertools
import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

import gen
import procstat

from bb_bigdata_log_tools_spark import cli
from bb_bigdata_log_tools_spark.operators import logops
from bb_bigdata_log_tools_spark.sources import boom, logs

HOUR = gen.HOUR_MS
QUERY_COMP, OTHER_COMP = gen.COMPONENTS

#: Lines an hour of OTHER_COMP, written beside each hour of the .bm tree
#: so path resolution has directories to skip.
OTHER_LINES_PER_HOUR = 100


@dataclass
class Call:
    shape: str
    start_ms: int
    end_ms: int
    want: Counter | None = None  # oracle multiset of output lines
    argv: list[str] = field(default_factory=list)
    tool: str = ""
    terms: list[str] = field(default_factory=list)  # literal search terms
    ci: bool = False
    match_all: bool = False
    regex: str | None = None
    out_dir: str | None = None


@dataclass
class Result:
    """One call. ``seconds`` and ``first_s`` are its wall times with the
    steal share taken out (``wall * (1 - steal)``); ``wall_s`` is its raw
    wall time."""

    shape: str
    seconds: float
    first_s: float  # time until the first stdout line, or the whole call if none
    work_lines: int  # lines this call scanned, delivered or wrote
    out_lines: int
    error: str | None
    wall_s: float = 0.0
    steal: float = 0.0  # share of the CPU time wanted during the call that was stolen


class _Capture(io.TextIOBase):
    """Stands in for stdout during a CLI call and stamps the first write."""

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.first: float | None = None

    def write(self, s: str) -> int:
        if self.first is None:
            self.first = time.perf_counter()
        self.parts.append(s)
        return len(s)

    def lines(self) -> list[str]:
        text = "".join(self.parts)
        return text.split("\n")[:-1] if text else []


def _window(rng: random.Random, hours: int, total_hours: int) -> tuple[int, int]:
    """A ``hours``-long window inside the ``total_hours`` generated,
    starting on a whole minute."""
    start = gen.T0_MS + rng.randrange((total_hours - hours) * 60 + 1) * 60_000
    return start, start + hours * HOUR


def bm_files(dirs: list[str]) -> list[str]:
    """The .bm files in ``dirs``, sorted."""
    return sorted(
        os.path.join(d, f) for d in dirs for f in os.listdir(d) if f.endswith(".bm")
    )


class _ReadWorkload:
    """Shared by the two read workloads: the generated lines of QUERY_COMP
    (``HOURS`` hours of ``LINES_PER_HOUR`` lines) and their oracle."""

    HOURS: int
    LINES_PER_HOUR: int
    #: Untimed cycles before the loop.
    WARM_CYCLES: int

    def __init__(self, spark, seed: int, workdir: str, tracer) -> None:
        self.spark, self.seed, self.workdir, self.tr = spark, seed, workdir, tracer
        self.lines = gen.generate(
            seed, gen.COMPONENTS[:1], self.HOURS, self.LINES_PER_HOUR
        )[QUERY_COMP]
        self.ts = [ln[0] for ln in self.lines]
        self.fmt = gen.formatted(self.lines)

    def warm_up(self) -> list[Call]:
        """The untimed calls before the loop. A fresh JVM runs the first
        cycles of calls up to twice as slowly as later ones while the
        engine's hot paths compile, so the loop starts after a fixed amount
        of the same work."""
        return [
            call
            for k in range(self.WARM_CYCLES)
            for call in self.cycle(-1 - k)
        ]

    def _slice(self, start: int, end: int) -> tuple[int, int]:
        return bisect.bisect_left(self.ts, start), bisect.bisect_left(self.ts, end)

    def _want(self, start: int, end: int, pred=None) -> Counter:
        i0, i1 = self._slice(start, end)
        if pred is None:
            return Counter(self.fmt[i0:i1])
        return Counter(
            f for f, ln in zip(self.fmt[i0:i1], self.lines[i0:i1]) if pred(ln[1])
        )

    def execute(self, call: Call) -> Result:
        cap = _Capture()
        error = None
        watch = procstat.Stopwatch()
        try:
            with contextlib.redirect_stdout(cap):
                self._invoke(call)
        except (Exception, SystemExit) as e:  # a failed call is counted, not fatal
            error = f"{type(e).__name__}: {e}"
        wall, steal = watch.stop()
        got = cap.lines()
        if error is None and call.out_dir is not None:
            try:
                got = self._read_out(call.out_dir)
            except OSError as e:  # --out left no readable directory
                error = f"{type(e).__name__}: {e}"
        if error is None:
            error = gen.check_output(got, call.want)
        # a call that prints nothing on stdout (no hits, or --out) gives
        # the user its first line, or the news that there is none, when it
        # returns
        first = cap.first - watch.t0 if cap.first is not None else wall
        kept = 1.0 - steal
        return Result(call.shape, wall * kept, first * kept, self._work(call, got), len(got),
                      error, wall, steal)

    @staticmethod
    def _read_out(out_dir: str) -> list[str]:
        got = []
        for name in sorted(os.listdir(out_dir)):
            if name.startswith("part-"):
                with open(os.path.join(out_dir, name), encoding="utf-8") as f:
                    got.extend(f.read().split("\n")[:-1])
        shutil.rmtree(out_dir)
        return got


class NeedleSearch(_ReadWorkload):
    """CLI ``logsearch``/``loggrep``/``logmultisearch`` over an hourly .bm tree.

    Why: path resolution, plan building over many hourly directories, one
    task per file and Python decode do almost all the work; sort, format
    and delivery do almost none, since terms hit at most 0.1 % of lines.
    A decoder, pushdown or single-scan loading change shows here and in no
    other read workload.
    """

    name = "needle_search"
    # many hourly files of modest size: per-hour path resolution, plan
    # building and per-file tasks scale with the hour count
    HOURS = 48
    LINES_PER_HOUR = 1_000
    #: Length of one warm cycle on 4 cores; turns --seconds into a cycle count.
    NOMINAL_CYCLE_S = 14.0
    WARM_CYCLES = 1
    # (tool, terms or regex, --i, --a, window hours, None for the whole
    # tree): the three tools, OR and AND, with and without --i, a
    # non-ASCII term under --i, and windows from 6 h to the whole tree
    SHAPES = (
        ("logmultisearch", ["needle-gamma", "ÉCHEC-DISQUE"], True, False, 6),
        ("loggrep", "needle-(beta|delta)", True, False, 12),
        ("logsearch", ["needle-alpha"], False, False, None),
        ("logmultisearch", list(gen.PAIR), False, True, 6),
    )

    def build(self) -> None:
        self.root = os.path.join(self.workdir, "tree")
        # write_boom_tree writes each hour with write_boom_local after
        # sorting its lines; doing the same here gives the same files
        # without the seconds of a Spark job in every run (the traced run
        # times write_boom_tree itself). OTHER_COMP's thin hourly files
        # only give path pruning directories to skip.
        other = gen.generate(self.seed, gen.COMPONENTS[1:], self.HOURS, OTHER_LINES_PER_HOUR)
        for comp, lines in ((QUERY_COMP, self.lines), (OTHER_COMP, other[OTHER_COMP])):
            for hour, group in itertools.groupby(lines, lambda ln: ln[0] // HOUR):
                d = datetime.fromtimestamp(hour * 3600, tz=timezone.utc)
                data = os.path.join(self.root, gen.DC, gen.SVC, gen.LOG_TYPE,
                                    f"{d:%Y%m%d}", f"{d:%H}", comp, "data")
                os.makedirs(data)
                boom.write_boom_local(
                    os.path.join(data, f"part-00000.{d:%Y%m%d-%H}.bm"), sorted(group)
                )
        self.terms_files = {}
        for i, (tool, terms, *_rest) in enumerate(self.SHAPES):
            if tool == "logmultisearch":
                path = os.path.join(self.workdir, f"terms-{i}.txt")
                with open(path, "w", encoding="utf-8") as f:
                    f.write("\n".join(terms) + "\n")
                self.terms_files[i] = path

    def cycle(self, k: int) -> list[Call]:
        rng = random.Random(f"{self.seed}:needle:{k}")
        calls = []
        for i, (tool, arg, ci, match_all, hours) in enumerate(self.SHAPES):
            hours = min(hours or self.HOURS, self.HOURS)
            start, end = _window(rng, hours, self.HOURS)
            argv = [
                f"-dc={gen.DC}", f"-svc={gen.SVC}", f"-comp={QUERY_COMP}",
                f"-start={start}", f"-end={end}", f"--root={self.root}", "--silent",
            ]
            if ci:
                argv.append("--i")
            flags = " --i" * ci + " --a" * match_all
            call = Call(f"{tool}{flags} {hours}h", start, end, argv=argv, tool=tool, ci=ci,
                        match_all=match_all)
            if tool == "logsearch":
                argv.append(f"-string={arg[0]}")
                call.terms, pred = arg, gen.search_pred(arg[0], ci)
            elif tool == "loggrep":
                argv.append(f"-regex={arg}")
                call.regex, pred = arg, gen.grep_pred(arg, ci)
            else:
                argv.append(f"-strings={self.terms_files[i]}")
                if match_all:
                    argv.append("--a")
                call.terms, pred = arg, gen.multisearch_pred(arg, ci, match_all)
            call.want = self._want(start, end, pred)
            calls.append(call)
        return calls

    def _invoke(self, call: Call) -> None:
        cli.TOOLS[call.tool](call.argv)

    def _work(self, call: Call, got: list[str]) -> int:
        i0, i1 = self._slice(call.start_ms, call.end_ms)
        return i1 - i0


class WindowCat(_ReadWorkload):
    """``logcat`` and a high-hit ``loggrep`` over 2- to 8-hour windows of the
    parquet log store, through ``cli._emit``: RFC5424 formatting, a full
    sort, delivery to stdout through ``toLocalIterator`` or to ``--out``.

    Why: no .bm decode and few files, so format, sort and delivery
    dominate. A decoder change should not move this workload; a sort or
    delivery change should.
    """

    name = "window_cat"
    HOURS = 8
    LINES_PER_HOUR = 8_000
    NOMINAL_CYCLE_S = 4.5
    WARM_CYCLES = 2
    # (operator, regex, --i, window hours, --out)
    SHAPES = (
        ("cat", None, False, 2, False),
        ("grep", "ERROR|WARN", False, 4, False),
        ("cat", None, False, 4, True),
        ("cat", None, False, 6, False),
        ("grep", "status=(404|500)|error", True, 8, False),
    )

    def build(self) -> None:
        import pandas as pd

        self.store = os.path.join(self.workdir, "store")
        pdf = pd.DataFrame(self.lines, columns=["ts", "message", "event_id"])
        pdf["create_time"] = 0
        pdf["block_no"] = pdf["ts"] // 1000 - pdf["ts"].iloc[0] // 1000
        pdf["line_no"] = 0
        df = self.spark.createDataFrame(
            pdf,
            "ts long, message string, event_id int, create_time long, block_no long, line_no long",
        )
        logs.write_log_store(df, self.store)

    def cycle(self, k: int) -> list[Call]:
        rng = random.Random(f"{self.seed}:window:{k}")
        calls = []
        for i, (op, regex, ci, hours, to_out) in enumerate(self.SHAPES):
            start, end = _window(rng, hours, self.HOURS)
            pred = gen.grep_pred(regex, ci) if regex else None
            flags = " --i" * ci + " --out" * to_out
            call = Call(f"{op}{flags} {hours}h", start, end,
                        tool=op, regex=regex, ci=ci, want=self._want(start, end, pred))
            call.argv = ["--silent"]
            if to_out:
                call.out_dir = os.path.join(self.workdir, f"out-{k}-{i}")
                call.argv.append(f"--out={call.out_dir}")
            calls.append(call)
        return calls

    def _invoke(self, call: Call) -> None:
        with self.tr.span("sources.logs.cat_by_time"):
            df = logs.cat_by_time(self.spark, self.store, call.start_ms, call.end_ms)
        if call.tool == "cat":
            out = logops.cat(df, call.start_ms, call.end_ms)
        else:
            out = logops.grep(df, call.regex, call.start_ms, call.end_ms, call.ci)
        cli._emit(out, cli.parse_args(call.argv))

    def _work(self, call: Call, got: list[str]) -> int:
        return len(got)


WORKLOADS: dict[str, Callable] = {
    w.name: w for w in (NeedleSearch, WindowCat)
}

#: The end-to-end metrics under the names they carry on each workload.
ALIASES = {
    "needle_search": {"query_p50_s": "call_p50_s", "first_line_p50_s": "first_line_p50_s",
                      "scan_lines_per_s": "lines_per_s"},
    "window_cat": {"query_p50_s": "call_p50_s", "first_line_p50_s": "first_line_p50_s",
                   "out_lines_per_s": "lines_per_s"},
}
