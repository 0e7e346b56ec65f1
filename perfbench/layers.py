"""Per-layer metrics of a traced run.

Each layer is named after the program module it measures. Spark-side
layers are timed by rebinding the module functions the CLI path calls
(``Tracer.wrap``) for the length of a traced call; the single-process
``sources.boom`` probes call the decoder and encoder directly, outside any
timed call. A layer a workload never calls reports 0.
"""

from __future__ import annotations

import os
import shutil
import time

import gen
import spans
import workloads
from spans import median

from bb_bigdata_log_tools_spark import cli, session
from bb_bigdata_log_tools_spark.operators import logops, util
from bb_bigdata_log_tools_spark.sources import boom

#: Every per-layer metric with its unit, in the order printed.
UNITS = {
    "session.get_spark_s": "s",
    "cli.resolve_paths_s": "s",
    "cli.resolve_paths.dirs": "count",
    "cli.load_s": "s",
    "cli.emit_s": "s",
    "cli.emit.deliver_s": "s",
    "cli.emit.lines": "count",
    "operators.logops.filter_s": "s",
    "operators.logops.format_sort_s": "s",
    "sources.boom.decode_lines_per_s": "lines/s",
    "sources.boom.scan_lines_per_s": "lines/s",
    "sources.boom.prefilter_precision": "ratio",
    "sources.boom.write_lines_per_s": "lines/s",
    "sources.boom.bytes_per_message_byte": "ratio",
    "sources.boom.write_tree_s": "s",
    "sources.logs.cat_by_time_s": "s",
    "engine.jobs": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "engine.shuffle_bytes": "bytes",
    "trace.overhead_s": "s",
}

FILTERS = ("search", "grep", "multisearch", "cat")


class LayerProbe:
    """Runs traced calls and turns their spans and counters into metrics."""

    def __init__(self, spark, wl, tr: spans.Tracer) -> None:
        self.spark, self.wl, self.tr = spark, wl, tr
        self.counters = spans.SparkCounters(spark.sparkContext)
        self.engine: dict[int, dict] = {}
        self.filter_s: dict[int, float] = {}
        self.dirs: dict[int, int] = {}
        self.frames: dict[int, object] = {}
        self.calls: list[tuple[int, workloads.Call, workloads.Result]] = []
        tr.wrap(session, "get_spark", "session.get_spark")
        tr.wrap(cli, "resolve_paths", "cli.resolve_paths", self._record_dirs)
        tr.wrap(cli, "_load", "cli.load")
        tr.wrap(cli, "_emit", "cli.emit")
        for fn in FILTERS:
            tr.wrap(logops, fn, f"operators.logops.{fn}", self._record_frame)
        tr.wrap(logops, "format_and_sort", "operators.logops.format_and_sort")
        tr.wrap(util, "small_sort", "operators.util.small_sort")

    def _record_dirs(self, rec, args, kwargs, out) -> None:
        self.dirs[self.tr.call_id] = self.dirs.get(self.tr.call_id, 0) + len(out)

    def _record_frame(self, rec, args, kwargs, out) -> None:
        self.frames[self.tr.call_id] = out

    def execute(self, call: workloads.Call) -> workloads.Result:
        cid = len(self.calls) + 1
        group = f"perfbench-{cid}"
        self.tr.call_id = cid
        try:
            with self.counters.group(group), self.tr.patched():
                r = self.wl.execute(call)
        finally:
            self.tr.call_id = None
        self.engine[cid] = self.counters.read(group)
        frame = self.frames.pop(cid, None)
        if frame is not None:
            # the filtered frame alone, run to the noop sink outside the call
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            self.filter_s[cid] = time.perf_counter() - t0
        self.calls.append((cid, call, r))
        return r

    def metrics(self, untraced: list, traced: list) -> dict[str, tuple[float, str]]:
        tr = self.tr
        setup = next(s for s in tr.spans if s["name"] == "session.get_spark")
        fs, ss = tr.per_call("operators.logops.format_and_sort"), tr.per_call("operators.util.small_sort")
        lines = {cid: r.out_lines for cid, _c, r in self.calls}
        emit = tr.per_call("cli.emit", self_time=False)
        m = {
            "session.get_spark_s": setup["end"] - setup["start"],
            "cli.resolve_paths_s": median(tr.per_call("cli.resolve_paths").values()),
            "cli.resolve_paths.dirs": median(self.dirs.values()),
            "cli.load_s": median(tr.per_call("cli.load").values()),
            "cli.emit_s": median(emit.values()),
            "cli.emit.deliver_s": median(tr.per_call("cli.emit").values()),
            "cli.emit.lines": median(lines[c] for c in emit),
            "operators.logops.filter_s": median(self.filter_s.values()),
            "operators.logops.format_sort_s": median(
                fs.get(c, 0.0) + ss[c] - self.filter_s.get(c, 0.0) for c in ss
            ),
            "sources.logs.cat_by_time_s": median(
                tr.per_call("sources.logs.cat_by_time").values()
            ),
            "engine.jobs": median(e["jobs"] for e in self.engine.values()),
            "engine.tasks": median(e["tasks"] for e in self.engine.values()),
            "engine.failed_tasks": sum(e["failed_tasks"] for e in self.engine.values()),
            "engine.shuffle_bytes": median(e["shuffle_bytes"] for e in self.engine.values()),
            "trace.overhead_s": median(r.seconds for r in traced)
            - median(r.seconds for r in untraced),
        }
        m.update(self._boom_probes())
        return {name: (float(m.get(name, 0.0)), unit) for name, unit in UNITS.items()}

    def _boom_probes(self) -> dict[str, float]:
        if isinstance(self.wl, workloads.NeedleSearch):
            return {**self._read_probes(), **self._write_probe(self.wl.lines),
                    **self._tree_probe(self.wl.lines)}
        return {}

    def _read_probes(self) -> dict[str, float]:
        """Single-process decode and pushed-down scan of the files the
        traced calls queried."""
        wl = self.wl
        files_of = {
            cid: workloads.bm_files(cli.resolve_paths(
                wl.root, gen.DC, gen.SVC, workloads.QUERY_COMP, c.start_ms, c.end_ms))
            for cid, c, _r in self.calls
        }
        blobs = {}
        for files in files_of.values():
            for f in files:
                if f not in blobs:
                    with open(f, "rb") as fh:
                        blobs[f] = fh.read()
        t0 = time.perf_counter()
        lines_in = {
            f: sum(1 for _ in boom.flatten_log_blocks(boom.read_container(b)))
            for f, b in blobs.items()
        }
        decode_s = time.perf_counter() - t0

        literal = [(cid, c) for cid, c, _r in self.calls if c.terms]
        scan_lines = scan_s = 0.0
        for cid, c in literal:
            t0 = time.perf_counter()
            for f in files_of[cid]:
                for _ in boom.scan_boom_bytes(blobs[f], c.terms, c.match_all, c.ci,
                                              c.start_ms, c.end_ms):
                    pass
            scan_s += time.perf_counter() - t0
            scan_lines += sum(lines_in[f] for f in files_of[cid])
        passed, useful = self._prefilter_counts(literal, files_of, blobs)

        msg_bytes = sum(len(m.encode("utf-8")) for _t, m, _e in wl.lines)
        tree_bytes = sum(
            os.path.getsize(f)
            for f in workloads.bm_files(cli.resolve_paths(
                wl.root, gen.DC, gen.SVC, workloads.QUERY_COMP,
                gen.T0_MS, gen.T0_MS + wl.HOURS * gen.HOUR_MS))
        )
        return {
            "sources.boom.decode_lines_per_s": sum(lines_in.values()) / decode_s,
            "sources.boom.scan_lines_per_s": scan_lines / scan_s if scan_s else 0.0,
            "sources.boom.prefilter_precision": useful / passed if passed else 0.0,
            "sources.boom.bytes_per_message_byte": tree_bytes / msg_bytes,
        }

    @staticmethod
    def _prefilter_counts(literal, files_of, blobs) -> tuple[int, int]:
        """Blocks the byte prefilter let through, and those of them that
        yielded a matching line. ``scan_boom_bytes`` builds one record
        decoder per file plus one per block that passes the prefilter."""
        made = 0
        base = boom._Decoder

        class Counting(base):
            def __init__(self, buf):
                nonlocal made
                made += 1
                super().__init__(buf)

        passed = useful = 0
        boom._Decoder = Counting
        try:
            for cid, c in literal:
                for f in files_of[cid]:
                    made = 0
                    hit_blocks = {
                        row[4]
                        for row in boom.scan_boom_bytes(blobs[f], c.terms, c.match_all,
                                                        c.ci, c.start_ms, c.end_ms)
                    }
                    passed += made - 1
                    useful += len(hit_blocks)
        finally:
            boom._Decoder = base
        return passed, useful

    def _tree_probe(self, lines: list[tuple]) -> dict[str, float]:
        """One ``write_boom_tree`` call of the queried component's lines
        into a scratch tree."""
        import pandas as pd

        pdf = pd.DataFrame(lines, columns=["ts", "message", "event_id"])
        df = self.spark.createDataFrame(pdf, "ts long, message string, event_id int")
        root = os.path.join(self.wl.workdir, "probe-tree")
        with self.tr.span("sources.boom.write_boom_tree") as rec:
            boom.write_boom_tree(df, root, gen.DC, gen.SVC, gen.LOG_TYPE, workloads.QUERY_COMP)
        shutil.rmtree(root)
        return {"sources.boom.write_tree_s": rec["end"] - rec["start"]}

    def _write_probe(self, lines: list[tuple]) -> dict[str, float]:
        """Single-process ``write_boom_local`` of each hour of ``lines``."""
        hours: dict[int, list] = {}
        for ln in lines:
            hours.setdefault(ln[0] // gen.HOUR_MS, []).append(ln)
        path = os.path.join(self.wl.workdir, "probe.bm")
        t0 = time.perf_counter()
        for hour_lines in hours.values():
            boom.write_boom_local(path, hour_lines)
        write_s = time.perf_counter() - t0
        os.remove(path)
        return {"sources.boom.write_lines_per_s": len(lines) / write_s}
