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

from bb_bigdata_log_tools_spark import tree
from bb_bigdata_log_tools_spark.cli import (
    check_regex,
    fail,
    parse_args,
    parse_time,
)


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
            raise  # a closed stdout, not a damaged file: cli.main ends quietly
        except Exception as exc:  # noqa: BLE001 — any read failure names its file
            name = "<stdin>" if file == "-" else file
            fail(f"cannot read {name}: {getattr(exc, 'strerror', None) or exc}")


# ---------------------------------------------------------------------------
# indexlogs / queryindex
# ---------------------------------------------------------------------------


def build_index(root: str) -> dict:
    """Aggregate the IndexLogs component records over the state
    directories of the tree under ``root`` (:func:`tree.hours`):
    start/end/archive dates (epoch ms of the date directory) + sizes."""
    out: dict = {}
    for path, dc, service, log_type, date_s, _hour, component, state in tree.hours(root):
        date_ms = tree.hour_start_ms(date_s)
        with os.scandir(path) as it:
            size = sum(e.stat().st_size for e in it if e.is_file() and e.name != "_READY")
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
        comp[f"{state}Size"] += size
        if state == "archive":
            comp["archiveDate"] = max(comp["archiveDate"], date_ms)
    return out


def _components(index: dict) -> list[tuple[str, str, str, str, dict]]:
    """``(dc, service, type, component, record)`` of every component of
    an index, sorted by name."""
    return sorted(
        (dc, svc, t, c, v)
        for dc, svcs in index.items()
        for svc, types in svcs.items()
        for t, comps in types.items()
        for c, v in comps.items()
    )


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
        text = "\n".join([
            "DC,Service,Type,Component,Start Date,End Date,Archive Date,"
            "Total Size,Data Size,Archive Size,Incoming Size",
            *(f"{dc},{svc},{t},{c},{_fmt_date(v['startDate'])},"
              f"{_fmt_date(v['endDate'])},{_fmt_date(v['archiveDate'])},"
              f"{v['totalSize']:.0f},{v['dataSize']:.0f},"
              f"{v['archiveSize']:.0f},{v['incomingSize']:.0f}"
              for dc, svc, t, c, v in _components(data)),
        ])
    else:
        text = "\n".join(
            f"{dc}/{svc}/{t}/{c}: {_fmt_date(v['startDate'])}"
            f"..{_fmt_date(v['endDate'])} "
            f"total={v['totalSize']:.0f}B data={v['dataSize']:.0f}B "
            f"incoming={v['incomingSize']:.0f}B "
            f"archive={v['archiveSize']:.0f}B"
            for dc, svc, t, c, v in _components(data)
        )
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
    if "t" in flags and pos:  # -t START END (bin/queryindex), as -t=START END
        opts["t"] = pos.pop(0)
    t0 = t1 = None
    if "t" in opts:
        t0, t1 = parse_time(opts["t"]), (parse_time(pos.pop(0)) if pos else None)
    if "f" in opts:
        with open(opts["f"], encoding="utf-8") as f:
            data = json.load(f)
    else:
        data = build_index(opts.get("r", opts.get("root", "/service")))

    matched = [
        (dc, svc, t, c, v)
        for dc, svc, t, c, v in _components(data)
        if all(re.fullmatch(r, name) for r, name in zip(pos, (dc, svc, t, c)))
        and (t0 is None or v["endDate"] >= t0)
        and (t1 is None or v["startDate"] <= t1)
    ]
    sys.stdout.write(f"Matched components: {len(matched)}\n")
    sys.stdout.write(f"Total size: {sum(v['totalSize'] for *_, v in matched):.0f}B\n")
    if matched:
        start = min(v["startDate"] for *_, v in matched)
        end = max(v["endDate"] for *_, v in matched)
        sys.stdout.write(f"Date range: {_fmt_date(start)}..{_fmt_date(end)}\n")
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


def _numbers(opts: dict, *keys: str) -> dict[str, int]:
    """The values of the options ``keys`` that are given, as ints, read
    before any session starts. A value that is not a whole number
    (find's ``+N``/``-N`` included) ends the run with one error line
    naming its option."""
    for key in keys:
        if key in opts and not re.fullmatch(r"[+-]?[0-9]+", opts[key]):
            fail(f"{key} must be a whole number: {opts[key]}")
    return {key: int(opts[key]) for key in keys if key in opts}


def hfind_cli(argv: list[str]) -> None:
    """find(1)-style CLI (HFind.java): ``hfind <path>... [predicates]``.

    Predicates: ``-name=<glob>`` ``-regex=<re>`` ``-type=f|d``
    ``-size=[+-]N`` (bytes) ``-mmin=[+-]N`` ``-mtime=[+-]N``
    ``-maxdepth=N``. ``+N`` = more than N, ``-N`` = less than N
    (find semantics); mtime in days, mmin in minutes.
    """
    import time as _time

    opts = parse_args(argv)
    n = _numbers(opts, "size", "mmin", "mtime", "maxdepth")
    paths = opts.get("positional") or ["."]
    now_ms = int(_time.time() * 1000)
    kwargs: dict = {}
    if "name" in opts:
        kwargs["name_glob"] = opts["name"]
    if "type" in opts:
        kwargs["file_type"] = opts["type"]
    if "maxdepth" in n:
        kwargs["max_depth"] = n["maxdepth"]
    if "size" in n:
        sign, size = opts["size"][0], abs(n["size"])
        if sign == "+":
            kwargs["min_size"] = size + 1
        elif sign == "-":
            kwargs["max_size"] = size - 1
        else:
            kwargs["min_size"] = kwargs["max_size"] = size
    for key, unit_ms in (("mmin", 60 * 1000), ("mtime", 24 * 3600 * 1000)):
        if key in n:
            sign, age = opts[key][0], abs(n[key]) * unit_ms
            if sign != "-":  # +N: more than N units ago; N: N units ago
                kwargs["mtime_before_ms"] = now_ms - age
            if sign != "+":  # -N: less than N units ago; N: within the unit before
                kwargs["mtime_after_ms"] = now_ms - age - (0 if sign == "-" else unit_ms)

    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.sources.hfind import hfind

    spark = _spark()
    if "regex" in opts:
        check_regex(spark, opts["regex"])
    for path in paths:
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
    n = _numbers(opts, "days-before-archive", "days-before-delete", "now-ms", "wait-min")
    from bb_bigdata_log_tools_spark.maintenance import (
        MaintenanceLockHeld,
        log_maintenance,
        parse_filters,
    )

    filters = None
    if "filters" in opts:  # read once, before the session starts
        try:
            with open(opts["filters"], encoding="utf-8") as f:
                filters = parse_filters(f.read())
        except (OSError, ValueError) as exc:
            reason = getattr(exc, "strerror", None) or exc
            fail(f"cannot use --filters={opts['filters']}: {reason}")

    try:
        report = log_maintenance(
            _spark(),
            root,
            dc,
            service,
            logdir=opts.get("logdir", "logs"),
            date=date,
            hour=hour,
            days_before_archive=n.get("days-before-archive"),
            days_before_delete=n.get("days-before-delete"),
            filters_conf=filters,
            now_ms=n.get("now-ms"),
            wait_time_ms=n.get("wait-min", 10) * 60 * 1000,
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
