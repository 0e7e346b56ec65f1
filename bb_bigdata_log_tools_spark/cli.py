"""Command-line tools: ``logcat``, ``loggrep``, ``logsearch``,
``logmultisearch`` — argument-compatible with the reference's bin/
wrappers (``/root/reference/src/com/blackberry/logtools/logcat.java``
etc. and the usage text in the reference README).

Shared argument surface::

    REQUIRED: -dc=DC -svc=SERVICE -comp=COMPONENT -start=T -end=T
    tool-specific: -string=S (logsearch) | -regex=R (loggrep) |
                   -strings=FILE_OR_DIR (logmultisearch)
    OPTIONS: --out=DIR  --i (case-insensitive)  --a (AND multisearch)
             --dateFormat=RFC822|RFC3164|RFC5424|<pattern>
             --fieldSeparator=X (separator for --raw intermediate-format
             output; default U+001F)  --raw (emit the reference's
             intermediate separator-joined fields, unformatted/unsorted)
             --silent  --v  --r/--l (accepted and ignored: the CLI picks
             a local or remote sort itself, by the observed row count —
             a small result is ordered on the driver, a large one by a
             distributed range sort)
             --skipCorrupt (salvage damaged .bm trees: resync past
             corrupt container blocks instead of failing the run)

Times accept epoch seconds, epoch millis, ``now``, or common date
strings (``Feb 28, 2012 10:00``, ISO). Order of arguments does not
matter (reference README: "Order of arguments do not matter").

Data goes to stdout (between the reference's data markers), notices to
stderr — same stream discipline as the reference, so shell pipelines
keep working. pyspark and the operators are imported only once the
arguments are checked and the window resolves to a directory, so a bad
call fails before they load.
"""

from __future__ import annotations

import os
import re
import sys
import time
from datetime import datetime, timezone
from typing import TYPE_CHECKING, NoReturn

from bb_bigdata_log_tools_spark import tree

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

DATA_MARKER = ";#################### DATA MARKER ####################"

DATE_FORMATS = [
    "%b %d, %Y %H:%M",
    "%b %d, %Y %H:%M:%S",
    "%Y-%m-%d %H:%M",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%dT%H:%M:%S",
    "%Y/%m/%d %H:%M",
]


def fail(message: str) -> NoReturn:
    """End the run with exit status 1 and one error line on stderr."""
    raise SystemExit(f";******************** ERROR: {message}") from None


def parse_time(value: str) -> int:
    """Flexible time → epoch ms (reference LogTools.parseDate)."""
    value = value.strip()
    if value == "now":
        return int(time.time() * 1000)
    if re.fullmatch(r"\d{13}", value):
        return int(value)
    if re.fullmatch(r"\d{1,11}", value):
        return int(value) * 1000
    for fmt in DATE_FORMATS:
        try:
            return int(
                datetime.strptime(value, fmt)
                .replace(tzinfo=timezone.utc)
                .timestamp()
                * 1000
            )
        except ValueError:
            continue
    fail(f"cannot parse time: {value}")


def resolve_paths(
    root: str, dc: str, svc: str, comp: str, start_ms: int, end_ms: int
) -> list[str]:
    """CatByTime-style path pruning of a .bm tree (parquet tables get it
    from Catalyst): the ``data`` directories of ``comp`` in the hours the
    window ``[start_ms, end_ms)`` touches, in (type, date, hour) order,
    by the rules of :mod:`bb_bigdata_log_tools_spark.tree`."""
    return [
        path
        for path, *_, state in tree.hours(root, dc, svc, comp, start_ms, end_ms)
        if state == "data"
    ]


def parse_args(argv: list[str]) -> dict:
    """``-k=v``/``--k=v`` options (a ``-k=`` value loses its quotes),
    ``-f``/``--f`` flags, and positionals, a lone ``-`` included."""
    opts: dict = {"flags": set()}
    for arg in argv:
        if not arg.startswith("-") or arg == "-":
            opts.setdefault("positional", []).append(arg)
        elif "=" in arg:
            k, v = arg.split("=", 1)
            opts[k.lstrip("-")] = v if arg.startswith("--") else v.strip("'\"")
        else:
            opts["flags"].add(arg[2:] if arg.startswith("--") else arg[1:])
    return opts


def check_regex(spark: SparkSession, regex: str) -> None:
    """End the run with one error line unless ``regex`` compiles in
    ``java.util.regex``, ``rlike``'s dialect: before any job runs."""
    from pyspark.errors import IllegalArgumentException

    try:
        spark._jvm.java.util.regex.Pattern.compile(regex)
    except IllegalArgumentException as exc:  # PatternSyntaxException
        fail(f"invalid regex: {regex} ({str(exc).splitlines()[0]})")


def _require(opts: dict, tool: str, keys: list[str]) -> list[str]:
    missing = [k for k in keys if k not in opts]
    if missing:
        sys.stderr.write(";****************************************\n")
        sys.stderr.write(f"          NOT ENOUGH ARGUMENTS\n")
        sys.stderr.write(
            f"\n  USAGE: {tool} [REQUIRED ARGUMENTS] [OPTIONS] (Order does not matter)\n"
        )
        sys.stderr.write(
            "  REQUIRED ARGUMENTS:\n"
            "    -dc=[DATACENTER]  -svc=[SERVICE]  -comp=[COMPONENT]\n"
            "    -start=[START]    -end=[END]\n"
        )
        sys.stderr.write(f"  MISSING: {', '.join('-' + m for m in missing)}\n")
        sys.stderr.write(";****************************************\n")
        raise SystemExit(1)
    return [opts[k] for k in keys]


def _emit(df: DataFrame, opts: dict) -> None:
    from pyspark.sql import functions as F

    from bb_bigdata_log_tools_spark.operators import logops, util
    from bb_bigdata_log_tools_spark.schema import DEFAULT_FIELD_SEPARATOR, LOG_COLUMNS

    date_format = opts.get("dateFormat", "RFC5424")
    target = opts.get("out")
    local = None  # the driver-sorted line column, when the result is small
    if "raw" in opts["flags"]:
        # the reference's INTERMEDIATE file format: separator-joined raw
        # fields (ts<SEP>message<SEP>eventId<SEP>createTime<SEP>blockNo
        # <SEP>lineNo), --fieldSeparator default U+001F
        sep = opts.get("fieldSeparator", DEFAULT_FIELD_SEPARATOR)
        cols = [c for c in LOG_COLUMNS if c in df.columns]
        out = df.select(
            F.concat_ws(sep, *[F.col(c).cast("string") for c in cols]).alias("line")
        )
    else:
        # the reference's --l/--r pick a local or remote sort
        # (src/com/blackberry/logtools/LogTools.java); here they are
        # accepted and ignored, and the observed row count picks: one
        # job checkpoints the result and counts it; a small result is
        # then fetched by one Arrow job and ordered on the driver (no
        # shuffle), a large one gets the distributed orderBy and is
        # streamed back. --out keeps small_sort's DataFrame for its
        # distributed sink.
        out = logops.format_and_sort(df, date_format=date_format, sort=False)
        keys = [c for c in logops.SORT_KEYS if c in out.columns]
        if target:
            out = util.small_sort(out, *keys)
        else:
            out, n = util.counted_checkpoint(out)
            if n <= util.SMALL_SORT_SPILL_ROWS:
                local = (
                    out.select(*keys, "line")
                    .toArrow()
                    .sort_by([(k, "ascending") for k in keys])
                    .column("line")
                )
            else:
                out = out.orderBy(*keys)
    silent = "silent" in opts["flags"]
    if not silent:
        sys.stderr.write(DATA_MARKER + "\n")
    if target:
        # FirstItemOnlyStoreFunc-style distributed sink: only the line
        # column lands, results never funnel through the driver, and
        # sorted range partitions arrive as lexicographically ordered
        # part files, so `cat part-*` preserves the total order
        from bb_bigdata_log_tools_spark.sources.logs import write_first_item_text

        write_first_item_text(out, target, col="line")
        sys.stderr.write(f"; results written to {target}\n")
    else:
        sc = out.sparkSession.sparkContext
        tag = f"logtools-deliver-{id(out)}"
        try:
            if local is not None:
                for chunk in local.chunks:
                    if len(chunk):  # an empty batch prints no empty line
                        sys.stdout.write("\n".join(chunk.to_pylist()) + "\n")
            else:
                # stream partitions through the driver one at a time
                # (bounded memory on huge result sets, reference parity:
                # the client streams job output to stdout)
                sc.addJobTag(tag)
                try:
                    for row in out.select("line").toLocalIterator():
                        sys.stdout.write(row["line"] + "\n")
                finally:
                    sc.removeJobTag(tag)
            sys.stdout.flush()
        except BrokenPipeError:
            sc.cancelJobsWithTag(tag)  # main() then ends the run quietly
            raise
    if not silent:
        sys.stderr.write(DATA_MARKER + "\n")


def closed_pipe() -> NoReturn:
    """The reader of stdout went away (`| head`): stop like a Unix
    filter, exit 0 with no traceback. stdout goes to /dev/null so the
    interpreter's exit-time flush cannot fail again."""
    os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
    raise SystemExit(0) from None


def _load(opts: dict, tool: str, extra: list[str]) -> tuple:
    """Validate args and resolve paths BEFORE starting the JVM — bad
    invocations fail in milliseconds, not after a Spark session boot."""
    dc, svc, comp, start_s, end_s, *values = _require(
        opts, tool, ["dc", "svc", "comp", "start", "end", *extra]
    )
    start_ms, end_ms = parse_time(start_s), parse_time(end_s)
    if end_ms <= start_ms:
        fail("end must be after start")
    root = opts.get("root", "/service")
    paths = resolve_paths(root, dc, svc, comp, start_ms, end_ms)
    if not paths:
        sys.stderr.write("; no matching log directories\n")
        raise SystemExit(0)
    from bb_bigdata_log_tools_spark.sources.boom import read_boom

    spark = _spark()
    # --skipCorrupt: salvage damaged .bm trees (sync-marker resync past
    # corrupt blocks) instead of failing the run — see read_boom
    skip_corrupt = "skipCorrupt" in opts["flags"]
    df = read_boom(spark, paths, skip_corrupt=skip_corrupt)
    return df, start_ms, end_ms, values


def _spark() -> SparkSession:
    from bb_bigdata_log_tools_spark.session import get_spark

    return get_spark("logtools")


def logcat(argv: list[str]) -> None:
    opts = parse_args(argv)
    df, start_ms, end_ms, _ = _load(opts, "logcat", [])
    from bb_bigdata_log_tools_spark.operators import logops

    _emit(logops.cat(df, start_ms, end_ms), opts)


def logsearch(argv: list[str]) -> None:
    opts = parse_args(argv)
    df, start_ms, end_ms, (term,) = _load(opts, "logsearch", ["string"])
    from bb_bigdata_log_tools_spark.operators import logops

    _emit(
        logops.search(df, term, start_ms, end_ms, "i" in opts["flags"]),
        opts,
    )


def loggrep(argv: list[str]) -> None:
    opts = parse_args(argv)
    df, start_ms, end_ms, (regex,) = _load(opts, "loggrep", ["regex"])
    from bb_bigdata_log_tools_spark.operators import logops

    check_regex(df.sparkSession, regex)
    _emit(
        logops.grep(df, regex, start_ms, end_ms, "i" in opts["flags"]),
        opts,
    )


def _read_terms(strings_path: str) -> list[str]:
    """The search terms of ``-strings``: one per non-blank line of the
    file, or of every file in the directory in name order, dos2unix
    normalized as the reference does for Windows files. Read on the
    driver before any session starts: a bad path fails in milliseconds."""
    terms: list[str] = []
    try:
        paths = (
            [os.path.join(strings_path, f) for f in sorted(os.listdir(strings_path))]
            if os.path.isdir(strings_path)
            else [strings_path]
        )
        for p in paths:
            with open(p, encoding="utf-8") as f:
                terms.extend(
                    line.strip().replace("\r", "") for line in f if line.strip()
                )
    except (OSError, UnicodeDecodeError) as exc:
        fail(
            f"cannot read -strings={strings_path}: "
            f"{getattr(exc, 'strerror', None) or exc}"
        )
    if not terms:
        fail(f"no search terms in -strings={strings_path}")
    return terms


def logmultisearch(argv: list[str]) -> None:
    opts = parse_args(argv)
    terms = _read_terms(opts["strings"]) if "strings" in opts else []
    df, start_ms, end_ms, _ = _load(opts, "logmultisearch", ["strings"])
    from bb_bigdata_log_tools_spark.operators import logops

    _emit(
        logops.multisearch(
            df,
            terms,
            start_ms,
            end_ms,
            case_insensitive="i" in opts["flags"],
            match_all="a" in opts["flags"],
        ),
        opts,
    )


TOOLS = {
    "logcat": logcat,
    "logsearch": logsearch,
    "loggrep": loggrep,
    "logmultisearch": logmultisearch,
}


def main() -> None:
    """Run ``<tool> [args]`` from ``sys.argv`` (``python -m
    bb_bigdata_log_tools_spark``, which ``bin/logdriver`` and every
    ``bin/<tool>`` symlink to it run): the search tools here and the
    admin tools of ``cli_admin``, the one table of tools. ``help`` (or
    no tool) lists them, ``version`` prints the version, and an unknown
    tool exits 2. A closed stdout ends any tool quietly
    (:func:`closed_pipe`)."""
    from bb_bigdata_log_tools_spark import __version__
    from bb_bigdata_log_tools_spark.cli_admin import TOOLS as ADMIN_TOOLS

    tools = {**TOOLS, **ADMIN_TOOLS}
    tool = sys.argv[1] if len(sys.argv) > 1 else "help"
    try:
        if tool in tools:
            tools[tool](sys.argv[2:])
        elif tool == "version":
            print(__version__)
        elif tool in ("help", "-h", "--help"):
            print("usage: logdriver <tool> [args...]")
            print(f"tools: {' '.join(tools)} version")
        else:
            sys.stderr.write(f"logdriver: unknown tool '{tool}'\n")
            raise SystemExit(2)
        sys.stdout.flush()  # a pipe closed after the last write fails here
    except BrokenPipeError:
        closed_pipe()
