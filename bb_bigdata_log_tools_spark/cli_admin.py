"""Admin / maintenance command-line tools: ``logmaintenance``,
``readboom``, ``indexlogs``, ``queryindex``, ``hfind`` — counterparts
of the reference's remaining bin/ wrappers (``/root/reference/bin/``):

- ``readboom`` (``util/ReadBoom.java``): decode .bm files (or stdin)
  to ``ts<TAB>message<TAB>eventId<TAB>createTime<TAB>blockNo<TAB>lineNo``
  lines — a pure client-side streaming decode, no cluster needed.
- ``indexlogs`` (``util/IndexLogs.java``): walk the hourly log tree and
  build the per-(dc, service, type, component) index of date ranges and
  data/incoming/archive sizes; emits the reference's nested-JSON shape,
  CSV, or a human listing.
- ``queryindex`` (``util/QueryIndex.java`` + ``bin/queryindex`` usage):
  filter/serve that index by DC/service/type/component regexes, with
  ``-p -d -s -l -t start end`` output options.
- ``hfind`` (``admin/HFind.java``): find(1) over a file tree with
  name/regex/type/size/mtime/depth predicates, evaluated as a DataFrame
  by :func:`bb_bigdata_log_tools_spark.sources.hfind.hfind`.
- ``logmaintenance`` (``admin/LogMaintenance.java`` + bin wrapper):
  one retention/merge/filter-archive sweep via
  :func:`bb_bigdata_log_tools_spark.maintenance.log_maintenance`.
"""

from __future__ import annotations

import json
import os
import re
import sys
from datetime import datetime, timezone

from bb_bigdata_log_tools_spark.cli import closed_pipe, parse_args, parse_time


def _spark():
    from bb_bigdata_log_tools_spark.session import get_spark

    return get_spark("logadmin")


# ---------------------------------------------------------------------------
# readboom
# ---------------------------------------------------------------------------


def readboom(argv: list[str]) -> None:
    """Decode .bm files to tab-separated flat lines (ReadBoom.java).
    With no args (or ``-``) reads stdin. A file streams through an mmap
    (:func:`scan_boom_range`), so it is never held in memory. A closed
    pipe ends the run quietly; a missing or damaged file prints one
    error line naming it and exits 1, after the lines already printed."""
    from bb_bigdata_log_tools_spark.sources.boom import scan_boom_bytes, scan_boom_range

    for file in [a for a in argv if not a.startswith("--")] or ["-"]:
        try:
            rows = (
                scan_boom_bytes(sys.stdin.buffer.read(), None)
                if file == "-"
                else scan_boom_range(file)
            )
            for row in rows:
                sys.stdout.write("\t".join(map(str, row)) + "\n")
            sys.stdout.flush()
        except BrokenPipeError:
            closed_pipe()
        except Exception as exc:  # noqa: BLE001 — any read failure names its file
            name = "<stdin>" if file == "-" else file
            raise SystemExit(
                f";******************** ERROR: cannot read {name}: "
                f"{getattr(exc, 'strerror', None) or exc}"
            ) from None


# ---------------------------------------------------------------------------
# indexlogs / queryindex
# ---------------------------------------------------------------------------

_STATE_DIRS = ("data", "incoming", "archive")


def build_index(root: str) -> dict:
    """Walk ``<root>/<dc>/<service>/<type>/<yyyyMMdd>/<HH>/<component>/
    {data,incoming,archive}`` and aggregate the IndexLogs component
    records: start/end/archive dates (epoch ms of yyyyMMdd) + sizes."""
    out: dict = {}
    if not os.path.isdir(root):
        return out
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        parts = rel.split(os.sep)
        # .../<dc>/<service>/<type>/<date>/<hour>/<component>/<state>
        if len(parts) != 7 or parts[6] not in _STATE_DIRS:
            continue
        dc, service, log_type, date_s, hour_s, component, state = parts
        if not (re.fullmatch(r"\d{8}", date_s) and re.fullmatch(r"\d{2}", hour_s)):
            continue
        date_ms = int(
            datetime.strptime(date_s, "%Y%m%d")
            .replace(tzinfo=timezone.utc)
            .timestamp()
            * 1000
        )
        size = sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in filenames
            if f != "_READY"
        )
        comp = (
            out.setdefault(dc, {})
            .setdefault(service, {})
            .setdefault(log_type, {})
            .setdefault(
                component,
                {
                    "startDate": date_ms,
                    "endDate": date_ms,
                    "archiveDate": 0,
                    "totalSize": 0.0,
                    "dataSize": 0.0,
                    "archiveSize": 0.0,
                    "incomingSize": 0.0,
                },
            )
        )
        comp["startDate"] = min(comp["startDate"], date_ms)
        comp["endDate"] = max(comp["endDate"], date_ms)
        comp["totalSize"] += size
        if state == "data":
            comp["dataSize"] += size
        elif state == "incoming":
            comp["incomingSize"] += size
        else:
            comp["archiveSize"] += size
            comp["archiveDate"] = max(comp["archiveDate"], date_ms)
    return out


def _fmt_date(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc).strftime("%Y-%m-%d")


def indexlogs(argv: list[str]) -> None:
    """Build and emit the component index. Options: ``-r=<root>``
    (default /service), ``-o=<file>`` (write instead of stdout),
    ``--format=json|csv|human`` (default json)."""
    opts = parse_args(argv)
    root = opts.get("r", opts.get("root", "/service"))
    fmt = opts.get("format", "json")
    data = build_index(root)
    if fmt == "json":
        text = json.dumps(data, sort_keys=True)
    elif fmt == "csv":
        rows = ["DC,Service,Type,Component,Start Date,End Date,Archive Date,"
                "Total Size,Data Size,Archive Size,Incoming Size"]
        for dc, svcs in sorted(data.items()):
            for svc, types in sorted(svcs.items()):
                for t, comps in sorted(types.items()):
                    for c, v in sorted(comps.items()):
                        rows.append(
                            f"{dc},{svc},{t},{c},{_fmt_date(v['startDate'])},"
                            f"{_fmt_date(v['endDate'])},{_fmt_date(v['archiveDate'])},"
                            f"{v['totalSize']:.0f},{v['dataSize']:.0f},"
                            f"{v['archiveSize']:.0f},{v['incomingSize']:.0f}"
                        )
        text = "\n".join(rows)
    else:
        lines = []
        for dc, svcs in sorted(data.items()):
            for svc, types in sorted(svcs.items()):
                for t, comps in sorted(types.items()):
                    for c, v in sorted(comps.items()):
                        lines.append(
                            f"{dc}/{svc}/{t}/{c}: {_fmt_date(v['startDate'])}"
                            f"..{_fmt_date(v['endDate'])} "
                            f"total={v['totalSize']:.0f}B data={v['dataSize']:.0f}B "
                            f"incoming={v['incomingSize']:.0f}B "
                            f"archive={v['archiveSize']:.0f}B"
                        )
        text = "\n".join(lines)
    target = opts.get("o", opts.get("out"))
    if target:
        with open(target, "w", encoding="utf-8") as f:
            f.write(text + "\n")
        sys.stderr.write(f"; index written to {target}\n")
    else:
        sys.stdout.write(text + "\n")


def queryindex(argv: list[str]) -> None:
    """Filter/serve the index (QueryIndex + bin/queryindex usage):

    ``queryindex [options] [DC] [service] [type] [component]`` — each
    positional is a regex. ``-r=<root>`` walks the tree directly,
    ``-f=<index.json>`` reads a saved index. Options: ``-p`` print
    matched components, ``-d`` add date ranges, ``-s`` add sizes,
    ``-l`` one line per component, ``-t start end`` keep components
    whose [startDate, endDate] overlaps the window.
    """
    opts = parse_args(argv)
    flags = opts["flags"]
    pos = opts.get("positional", [])
    t_window = None
    if "t" in opts:
        # parse_args puts '-t=START' form in opts; bin/queryindex passes
        # two positionals after -t — accept both
        t_window = (parse_time(opts["t"]), parse_time(pos.pop(0)) if pos else None)
    regexes = [*pos, *[".*"] * (4 - len(pos))][:4]
    if "f" in opts:
        with open(opts["f"], encoding="utf-8") as f:
            data = json.load(f)
    else:
        data = build_index(opts.get("r", opts.get("root", "/service")))

    total = 0.0
    n = 0
    start_min, end_max = None, None
    matched = []
    for dc, svcs in sorted(data.items()):
        if not re.fullmatch(regexes[0], dc):
            continue
        for svc, types in sorted(svcs.items()):
            if not re.fullmatch(regexes[1], svc):
                continue
            for t, comps in sorted(types.items()):
                if not re.fullmatch(regexes[2], t):
                    continue
                for c, v in sorted(comps.items()):
                    if not re.fullmatch(regexes[3], c):
                        continue
                    if t_window is not None:
                        t0, t1 = t_window
                        if v["endDate"] < t0 or (
                            t1 is not None and v["startDate"] > t1
                        ):
                            continue
                    matched.append((dc, svc, t, c, v))
                    total += v["totalSize"]
                    n += 1
                    start_min = (
                        v["startDate"]
                        if start_min is None
                        else min(start_min, v["startDate"])
                    )
                    end_max = (
                        v["endDate"] if end_max is None else max(end_max, v["endDate"])
                    )

    sys.stdout.write(f"Matched components: {n}\n")
    sys.stdout.write(f"Total size: {total:.0f}B\n")
    if start_min is not None:
        sys.stdout.write(
            f"Date range: {_fmt_date(start_min)}..{_fmt_date(end_max)}\n"
        )
    if "p" in flags:
        for dc, svc, t, c, v in matched:
            bits = [f"{dc}/{svc}/{t}/{c}"]
            if "d" in flags:
                bits.append(f"{_fmt_date(v['startDate'])}..{_fmt_date(v['endDate'])}")
            if "s" in flags:
                bits.append(f"{v['totalSize']:.0f}B")
            sep = " " if "l" in flags else "\n  "
            sys.stdout.write(sep.join(bits) + "\n")


# ---------------------------------------------------------------------------
# hfind
# ---------------------------------------------------------------------------


def hfind_cli(argv: list[str]) -> None:
    """find(1)-style CLI (HFind.java): ``hfind <path>... [predicates]``.

    Predicates: ``-name=<glob>`` ``-regex=<re>`` ``-type=f|d``
    ``-size=[+-]N`` (bytes) ``-mmin=[+-]N`` ``-mtime=[+-]N``
    ``-maxdepth=N``. ``+N`` = more than N, ``-N`` = less than N
    (find semantics); mtime in days, mmin in minutes.
    """
    import time as _time

    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.sources.hfind import hfind

    opts = parse_args(argv)
    paths = opts.get("positional") or ["."]
    now_ms = int(_time.time() * 1000)

    def window(spec: str, unit_ms: int):
        """find-style +N/-N/N → (mtime_after, mtime_before) in ms."""
        if spec.startswith("+"):  # older than N units
            return (None, now_ms - int(spec[1:]) * unit_ms)
        if spec.startswith("-"):  # younger than N units
            return (now_ms - int(spec[1:]) * unit_ms, None)
        n = int(spec)
        return (now_ms - (n + 1) * unit_ms, now_ms - n * unit_ms)

    spark = _spark()
    for path in paths:
        kwargs: dict = {}
        if "name" in opts:
            kwargs["name_glob"] = opts["name"]
        if "type" in opts:
            kwargs["file_type"] = opts["type"]
        if "maxdepth" in opts:
            kwargs["max_depth"] = int(opts["maxdepth"])
        if "size" in opts:
            spec = opts["size"]
            if spec.startswith("+"):
                kwargs["min_size"] = int(spec[1:]) + 1
            elif spec.startswith("-"):
                kwargs["max_size"] = int(spec[1:]) - 1
            else:
                kwargs["min_size"] = kwargs["max_size"] = int(spec)
        for key, unit in (("mmin", 60 * 1000), ("mtime", 24 * 3600 * 1000)):
            if key in opts:
                after, before = window(opts[key], unit)
                if after is not None:
                    kwargs["mtime_after_ms"] = after
                if before is not None:
                    kwargs["mtime_before_ms"] = before
        df = hfind(spark, path, **kwargs)
        if "regex" in opts:
            df = df.filter(F.col("path").rlike(opts["regex"]))
        for row in df.select("path").toLocalIterator():
            sys.stdout.write(row["path"] + "\n")


# ---------------------------------------------------------------------------
# logmaintenance
# ---------------------------------------------------------------------------


def logmaintenance(argv: list[str]) -> None:
    """One maintenance sweep:

    ``logmaintenance <dc> <service> [date [hour]] --root=<dir>
    [--logdir=logs] [--days-before-archive=N] [--days-before-delete=N]
    [--filters=<yaml>] [--wait-min=10] [--now-ms=<ms>] [--no-merge]``

    Mirrors ``bin/logmaintenance``'s per-service invocation of
    LogMaintenance (user/principal/keytab plumbing dropped — no
    Kerberos here); days-before-* match DAYS_BEFORE_ARCHIVE /
    DAYS_BEFORE_DELETE environment config.
    """
    from bb_bigdata_log_tools_spark.maintenance import (
        MaintenanceLockHeld,
        log_maintenance,
    )

    opts = parse_args(argv)
    pos = opts.get("positional", [])
    if len(pos) < 2:
        sys.stderr.write(
            "usage: logmaintenance <dc> <service> [date [hour]] --root=DIR\n"
            "       [--logdir=logs] [--days-before-archive=N]\n"
            "       [--days-before-delete=N] [--filters=FILE.yaml]\n"
            "       [--wait-min=10] [--now-ms=MS] [--no-merge]\n"
        )
        raise SystemExit(1)
    dc, service = pos[0], pos[1]
    date = pos[2] if len(pos) > 2 else None
    hour = pos[3] if len(pos) > 3 else None
    root = opts.get("root")
    if not root:
        sys.stderr.write("; --root is required (service root dir)\n")
        raise SystemExit(1)

    try:
        report = log_maintenance(
            _spark(),
            root,
            dc,
            service,
        logdir=opts.get("logdir", "logs"),
        date=date,
        hour=hour,
            days_before_archive=(
                int(opts["days-before-archive"])
                if "days-before-archive" in opts
                else None
            ),
            days_before_delete=(
                int(opts["days-before-delete"])
                if "days-before-delete" in opts
                else None
            ),
            filters_conf=opts.get("filters"),
            now_ms=int(opts["now-ms"]) if "now-ms" in opts else None,
            wait_time_ms=int(opts.get("wait-min", "10")) * 60 * 1000,
            do_merge="no-merge" not in opts["flags"],
        )
    except MaintenanceLockHeld as e:
        # Same outcome as the reference's ZK lock.acquire() losing the
        # race: this runner yields; the winner's sweep covers the tree.
        sys.stdout.write(f"skipped: {e}\n")
        return
    sys.stdout.write(report.summary() + "\n")


TOOLS = {
    "readboom": readboom,
    "indexlogs": indexlogs,
    "queryindex": queryindex,
    "hfind": hfind_cli,
    "logmaintenance": logmaintenance,
}
