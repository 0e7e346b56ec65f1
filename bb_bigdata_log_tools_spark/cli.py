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
             --silent  --v (one stderr line naming the executor and why)
             --l (run on the driver whatever the slice's size)
             --r (run on Spark)
             --skipCorrupt (salvage damaged .bm trees: resync past
             corrupt container blocks instead of failing the run)

Two executors run a call, as the reference's ``LogTools.java`` picks a
local or a remote sort. A stdout ``logcat``, ``logsearch`` or
``logmultisearch``, or a ``loggrep`` whose regex is a literal search
(:func:`grep_literals`), with a named ``--dateFormat`` or ``--raw``,
whose ``.bm`` files total at most :data:`LOCAL_MAX_BYTES`, runs on the
driver executor: the same ranges, per-range reader and predicates as
the Spark read (``boom.read_lines``), sorted and formatted in this
process, with no pyspark import and no JVM. Every other call, and any
call with ``--r``, reads on Spark (``boom.read_boom``), where the
observed row count picks the sort: a small result is ordered on the
driver, a large one by a distributed range sort.

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

import itertools
import operator
import os
import re
import sys
import time
from datetime import datetime, timezone
from re import _parser
from re._constants import BRANCH, IN, LITERAL, SUBPATTERN
from typing import TYPE_CHECKING, NoReturn

from bb_bigdata_log_tools_spark import tree

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

DATA_MARKER = ";#################### DATA MARKER ####################"

#: ``--raw``'s default field separator: U+001F INFORMATION SEPARATOR ONE
#: (reference README: --fieldSeparator default).
DEFAULT_FIELD_SEPARATOR = "\x1f"

#: The most bytes of ``.bm`` files a call reads on the driver executor;
#: ``--l`` lifts it. On a 20k-lines-an-hour tree, fresh processes of
#: ``--l`` beat ``--r`` in wall time and peak RSS for every call measured
#: up to 64 hours (67.9 MB), a ``logcat`` of all 1.28M lines included; at
#: 96 hours ``logcat`` tied, and a search returning 30% of the lines lost
#: from 128 hours on (CHANGES.md).
LOCAL_MAX_BYTES = 65 * 2**20

#: The most literals a ``loggrep`` regex expands to as a literal search.
GREP_MAX_LITERALS = 32

#: A backslash before ASCII punctuation: that character, in Java and Python.
_ESCAPED_PUNCT = re.compile(r"\\[!-/:-@\[-`{-~]")
#: What else may differ between the two dialects, or is no literal.
_NOT_LITERAL = re.compile(r"[\[\]{}.^$\\]|\(\?(?!:)")

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


def grep_literals(regex: str) -> list[str] | None:
    """The strings a ``loggrep`` regex matches as substrings, when it is
    made of literals, concatenation, alternation and plain or ``(?:``
    groups, and expands to at most :data:`GREP_MAX_LITERALS` of them (the
    literal query of Cox, "Regular Expression Matching with a Trigram
    Index", exact here); otherwise None. Only a subset that
    ``java.util.regex`` (``rlike``) and Python's parser read alike
    qualifies: no ``[]{}.^$``, no ``(?`` but ``(?:``, and no backslash
    but before ASCII punctuation. So ``a{`` (which Java rejects), ``\\d``,
    ``.`` and ``(?i)x`` give None."""
    if _NOT_LITERAL.search(_ESCAPED_PUNCT.sub("", regex)):
        return None
    try:
        regex.encode("utf-8")
        literals = _expand(_parser.parse(regex))
    except (UnicodeEncodeError, re.error):
        return None
    return None if literals is None else list(dict.fromkeys(literals))


def _expand(items) -> list[str] | None:
    """The strings a parsed regex of literals, groups and alternations
    matches, or None past :data:`GREP_MAX_LITERALS` or on any other
    node. The parser turns an alternation of single characters into a
    set of literals."""
    out = [""]
    for op, av in items:
        if op is LITERAL:
            alts = [chr(av)]
        elif op is IN and all(o is LITERAL for o, _ in av):
            alts = [chr(v) for _, v in av]
        elif op is SUBPATTERN and not av[1] and not av[2]:  # no flags
            alts = _expand(av[3])
        elif op is BRANCH:
            parts = [_expand(branch) for branch in av[1]]
            alts = None if None in parts else [x for part in parts for x in part]
        else:
            return None
        if alts is None or len(out) * len(alts) > GREP_MAX_LITERALS:
            return None
        out = [a + b for a in out for b in alts]
    return out


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
    from bb_bigdata_log_tools_spark.schema import LOG_COLUMNS

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
        # the observed row count picks the sort: one job checkpoints the
        # result and counts it; a small result is then fetched by one
        # Arrow job and ordered on the driver (no shuffle), a large one
        # gets the distributed orderBy and is streamed back. --out keeps
        # small_sort's DataFrame for its distributed sink.
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


def _load(
    opts: dict,
    tool: str,
    extra: list[str],
    terms: list[str] | None = None,
    match_all: bool = False,
    ascii_case: bool = False,
    spark_only: str | None = None,
) -> tuple | None:
    """Validate args and resolve paths BEFORE starting the JVM — bad
    invocations fail in milliseconds, not after a Spark session boot.
    Then run the call's scan: its ``terms`` (match-any, or every one with
    ``match_all``), ``--i`` (folding ASCII letters only with
    ``ascii_case``) and window go into the decoder on either executor
    (:func:`_executor`). The driver executor writes the output itself and
    this returns None; otherwise it returns ``(df, start_ms, end_ms,
    values)`` for the tool's ``logops`` filter and :func:`_emit`.
    ``spark_only`` names why a call must run on Spark whatever its size."""
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
    from bb_bigdata_log_tools_spark.sources import boom

    # --skipCorrupt: salvage damaged .bm trees (sync-marker resync past
    # corrupt blocks) instead of failing the run — see read_boom
    skip_corrupt = "skipCorrupt" in opts["flags"]
    scan = dict(search_terms=terms, match_all=match_all,
                case_insensitive="i" in opts["flags"], skip_corrupt=skip_corrupt,
                start_ms=start_ms, end_ms=end_ms, ascii_case=ascii_case)
    ranges, reason = _executor(opts, paths, start_ms, end_ms, spark_only)
    if "v" in opts["flags"]:
        sys.stderr.write(f"; executor={'spark' if ranges is None else 'driver'} {reason}\n")
    if ranges is not None:
        try:
            lines = boom.read_lines(ranges, **scan)
        except ValueError as exc:  # read_ranges names the damaged file
            fail(str(exc))
        _write_local(lines, opts)
        return None
    return boom.read_boom(_spark(), paths, **scan), start_ms, end_ms, values


def _executor(
    opts: dict, paths: list[str], start_ms: int, end_ms: int, spark_only: str | None
) -> tuple[list | None, str]:
    """``(ranges, reason)``: the ``.bm`` ranges the driver executor reads
    (``boom.container_ranges``), or None for Spark, and why."""
    from bb_bigdata_log_tools_spark.functions.timestamps import PY_END_MS, PY_FORMATS, PY_MIN_MS
    from bb_bigdata_log_tools_spark.sources.boom import container_ranges

    flags = opts["flags"]
    if "r" in flags:
        return None, "reason=--r"
    if "out" in opts:
        return None, "reason=--out"
    if "raw" not in flags:
        if opts.get("dateFormat", "RFC5424") not in PY_FORMATS:
            return None, "reason=--dateFormat"
        if not PY_MIN_MS <= start_ms < end_ms <= PY_END_MS:
            return None, "reason=window outside years 1-9999"
    if spark_only:
        return None, f"reason={spark_only}"
    ranges = container_ranges(paths)
    size = sum(end - start for _, start, end in ranges)
    plan = f"files={len(ranges)} bytes={size}"
    if "l" in flags:
        return ranges, f"reason=--l {plan}"
    if size > LOCAL_MAX_BYTES:
        return None, f"{plan} > LOCAL_MAX_BYTES={LOCAL_MAX_BYTES}"
    return ranges, f"{plan} <= LOCAL_MAX_BYTES={LOCAL_MAX_BYTES}"


def _write_local(lines: list[tuple], opts: dict) -> None:
    """The driver executor's output of flattened ``.bm`` lines: as
    :func:`_emit` writes them to stdout, ``"<formatted ts> <message>"``
    in ``SORT_KEYS`` order, or with ``--raw`` the separator-joined fields
    in read order, between the data markers."""
    from bb_bigdata_log_tools_spark.functions.timestamps import format_ms
    from bb_bigdata_log_tools_spark.sources.boom import LINE_FIELDS, SORT_KEYS

    if "raw" in opts["flags"]:
        sep = opts.get("fieldSeparator", DEFAULT_FIELD_SEPARATOR)
        out = (sep.join(map(str, line)) for line in lines)
    else:
        date_format = opts.get("dateFormat", "RFC5424")
        lines.sort(key=operator.itemgetter(*(LINE_FIELDS.index(k) for k in SORT_KEYS)))
        out = (f"{format_ms(line[0], date_format)} {line[1]}" for line in lines)
    silent = "silent" in opts["flags"]
    if not silent:
        sys.stderr.write(DATA_MARKER + "\n")
    while chunk := list(itertools.islice(out, 4096)):  # no one string of the whole output
        sys.stdout.write("\n".join(chunk) + "\n")
    sys.stdout.flush()
    if not silent:
        sys.stderr.write(DATA_MARKER + "\n")


def _spark() -> SparkSession:
    from bb_bigdata_log_tools_spark.session import get_spark

    return get_spark("logtools")


def logcat(argv: list[str]) -> None:
    opts = parse_args(argv)
    loaded = _load(opts, "logcat", [])
    if loaded:
        df, start_ms, end_ms, _ = loaded
        from bb_bigdata_log_tools_spark.operators import logops

        _emit(logops.cat(df, start_ms, end_ms), opts)


def logsearch(argv: list[str]) -> None:
    opts = parse_args(argv)
    loaded = _load(opts, "logsearch", ["string"], [opts.get("string", "")])
    if loaded:
        df, start_ms, end_ms, (term,) = loaded
        from bb_bigdata_log_tools_spark.operators import logops

        _emit(
            logops.search(df, term, start_ms, end_ms, "i" in opts["flags"]),
            opts,
        )


def loggrep(argv: list[str]) -> None:
    opts = parse_args(argv)
    literals = grep_literals(opts.get("regex", ""))
    loaded = _load(opts, "loggrep", ["regex"], literals, ascii_case=True,
                   spark_only="regex" if literals is None else None)
    if loaded:
        df, start_ms, end_ms, (regex,) = loaded
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
    match_all = "a" in opts["flags"]
    loaded = _load(opts, "logmultisearch", ["strings"], terms, match_all)
    if loaded:
        df, start_ms, end_ms, _ = loaded
        from bb_bigdata_log_tools_spark.operators import logops

        _emit(
            logops.multisearch(
                df,
                terms,
                start_ms,
                end_ms,
                case_insensitive="i" in opts["flags"],
                match_all=match_all,
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
