"""Golden parity tests: decode the reference repo's own .bm test file and
reproduce the expected outputs of its logsearch test script
(``/root/reference/testcases/logsearch/logsearch.test.script.sh``) against
``reference-files/*.txt`` byte-for-byte.
"""

from __future__ import annotations

import os

import pytest

from bb_bigdata_log_tools_spark.operators import logops
from bb_bigdata_log_tools_spark.sources.boom import (
    read_boom,
    read_boom_local,
    write_boom_local,
)

REF = "/root/reference/testcases/logsearch"
BM_FILE = (
    f"{REF}/logsearch-testservice/logs/20120228/10/logsearch-test/data/"
    "part-m-00000.00000.2012-02-28-10.bm"
)
# Feb 28 2012 10:00 .. 11:00 UTC
START = 1330423200000
END = 1330426800000

pytestmark = [pytest.mark.slow,  # heavy tier, see pytest.ini
              pytest.mark.skipif(
    not os.path.exists(BM_FILE), reason="reference testdata not present"
)]


def golden(name: str) -> list[str]:
    with open(f"{REF}/reference-files/{name}", encoding="utf-8") as f:
        return [line.rstrip("\n") for line in f if line.strip()]


def fmt(rows) -> list[str]:
    """RFC5424-format sorted rows the way the reference pipeline does."""
    from datetime import datetime, timezone

    out = []
    for ts, message, *_ in sorted(rows):
        dt = datetime.fromtimestamp(ts / 1000, tz=timezone.utc)
        ms = ts % 1000
        out.append(
            dt.strftime("%Y-%m-%dT%H:%M:%S") + f".{ms:03d}+00:00 " + message.rstrip("\n")
        )
    return out


def test_boom_local_decode_matches_logcat_golden():
    rows = read_boom_local(BM_FILE)
    assert len(rows) > 0
    assert fmt(rows) == golden("logcat-reference.txt")


def test_boom_spark_read_matches_local(spark):
    sdf = read_boom(spark, os.path.dirname(BM_FILE))
    srows = sorted(tuple(r) for r in sdf.collect())
    assert srows == sorted(read_boom_local(BM_FILE))


def _search_script_outputs(rows, searches) -> list[str]:
    out = []
    for term, ci in searches:
        matched = [
            r
            for r in rows
            if (term.lower() in r[1].lower() if ci else term in r[1])
            and START <= r[0] < END
        ]
        out.extend(fmt(matched))
    return out


def test_search_semantics_match_logsearch_golden():
    """Replays every logtoolsearch invocation of the reference test
    script (same terms, same case flags) and compares the concatenated
    output to logsearch-reference.txt."""
    rows = read_boom_local(BM_FILE)
    searches = [
        ("test", False), ("TEST", False), ("ä", False), ("Ä", False),
        ("ä", True), ("fenêtre", False), ("FENÊTRE", False), ("feNêtRe", True),
        ("человек", False), ("ЧЕЛОВЕК", False), ("ЧЕЛовЕК", True),
        ("رجل", False), ("رجل", True), ("αβγδε", False), ("ΑΒΓΔΕ", False),
        ("αβγΔΕ", True), ("#!A", False), ("#!a", True), ("^X", False),
        ("^x", True), ("3.14159265358979", False), ("1.602E-19", False),
        ("1.602x10^-19", False), ("123,456,789.00", False),
        ("2012-02-28T10:00:01Z", False),
    ]
    assert _search_script_outputs(rows, searches) == golden("logsearch-reference.txt")


def test_spark_search_matches_golden_subset(spark):
    """Same searches through the actual Spark operator (not the local
    replay) for a representative unicode subset."""
    df = read_boom(spark, os.path.dirname(BM_FILE))
    for term, ci, expect_count in [
        ("test", False, 1), ("ЧЕЛовЕК", True, 2), ("fenêtre", False, 1),
        ("#!a", True, 1),
    ]:
        got = logops.search(df, term, START, END, case_insensitive=ci).collect()
        assert len(got) == expect_count, (term, ci, len(got))


def test_grep_semantics_match_loggrep_golden(spark):
    df = read_boom(spark, os.path.dirname(BM_FILE))
    greps = [
        ("^THIS IS A TEST MESSAGE", True),
        ("^This", False),
        ("c?n", False),
        ("c*n", False),
        ("αβγδε|человек|fenêtre|ä|رجل", False),
    ]
    out = []
    for regex, ci in greps:
        rows = [tuple(r) for r in logops.grep(df, regex, START, END, ci).collect()]
        out.extend(fmt(rows))
    assert out == golden("loggrep-reference.txt")


def test_multisearch_semantics_match_golden(spark):
    df = read_boom(spark, os.path.dirname(BM_FILE))

    def terms(fname):
        with open(f"{REF}/{fname}", encoding="utf-8") as f:
            return [line.strip() for line in f if line.strip()]

    out = []
    for fname, ci, match_all in [
        ("logmultisearch-strings-OR.txt", False, False),
        ("logmultisearch-strings-OR.txt", True, False),
        ("logmultisearch-strings-AND.txt", False, True),
        ("logmultisearch-strings-AND.txt", True, True),
    ]:
        rows = [
            tuple(r)
            for r in logops.multisearch(
                df, terms(fname), START, END, ci, match_all
            ).collect()
        ]
        out.extend(fmt(rows))
    assert out == golden("logmultisearch-reference.txt")


def test_boom_write_roundtrip(tmp_path):
    rows = read_boom_local(BM_FILE)
    out = tmp_path / "roundtrip.bm"
    write_boom_local(str(out), [(r[0], r[1], r[2]) for r in rows])
    back = read_boom_local(str(out))
    assert [(r[0], r[1], r[2]) for r in back] == sorted(
        (r[0], r[1], r[2]) for r in rows
    )


def test_compact_boom_dir(spark, tmp_path):
    from bb_bigdata_log_tools_spark.sources.boom import compact_boom_dir

    n = compact_boom_dir(spark, os.path.dirname(BM_FILE), str(tmp_path / "merged.bm"))
    merged = read_boom_local(str(tmp_path / "merged.bm"))
    orig = read_boom_local(BM_FILE)
    assert n == len(orig)
    assert [(r[0], r[1]) for r in merged] == sorted((r[0], r[1]) for r in orig)


def test_compact_boom_dir_multi_partition(spark, tmp_path):
    """Compaction over several part files with interleaved seconds: the
    merged file must be totally (ts, message)-ordered with monotonically
    increasing block numbers, and the executor-side streaming writer
    must produce one block per distinct second."""
    from bb_bigdata_log_tools_spark.sources.boom import (
        compact_boom_dir,
        read_container,
        write_boom_local,
    )

    src = tmp_path / "parts"
    src.mkdir()
    all_lines = []
    for i in range(4):
        lines = [
            (1000 * (i + 4 * j) + (j * 37) % 1000, f"msg-{i}-{j}", j)
            for j in range(50)
        ]
        write_boom_local(str(src / f"part-{i:05d}.bm"), lines)
        all_lines.extend(lines)

    out = tmp_path / "merged.bm"
    n = compact_boom_dir(spark, str(src), str(out))
    assert n == len(all_lines)
    merged = read_boom_local(str(out))
    assert [(r[0], r[1], r[2]) for r in merged] == sorted(
        (ts, m, e) for ts, m, e in all_lines
    )
    with open(out, "rb") as f:
        blocks = list(read_container(f.read()))
    assert [b["blockNumber"] for b in blocks] == list(range(len(blocks)))
    assert [b["second"] for b in blocks] == sorted({ts // 1000 for ts, _, _ in all_lines})


def test_pushdown_scan_equals_read_then_filter():
    """FastSearch-parity pushdown (block byte-scan before record decode)
    must return EXACTLY the read-everything-then-filter rows for every
    term/flag combination the golden search script exercises, including
    the unicode case-insensitive fallback path."""
    from bb_bigdata_log_tools_spark.sources.boom import scan_boom_bytes

    with open(BM_FILE, "rb") as f:
        data = f.read()
    rows = read_boom_local(BM_FILE)
    cases = [
        (["test"], False, False), (["TEST"], False, True),
        (["ä"], False, True), (["fenêtre"], False, False),
        (["ЧЕЛовЕК"], False, True), (["#!a"], False, True),
        (["line", "case"], True, False), (["contains", "Greek"], False, False),
        (["3.14159265358979"], False, False), (["nosuchterm"], False, False),
    ]
    for terms, match_all, ci in cases:
        agg = all if match_all else any
        want = sorted(
            r for r in rows
            if agg(
                (t.upper() in r[1].upper()) if ci else (t in r[1])
                for t in terms
            )
        )
        got = sorted(
            scan_boom_bytes(
                data, terms, match_all=match_all, case_insensitive=ci
            )
        )
        assert got == want, (terms, match_all, ci, len(got), len(want))


def test_pushdown_time_bounds_match_reference_semantics():
    """start/end bound on block seconds, [start, end) on second*1000 —
    logdriver.search.start.time/end.time semantics."""
    from bb_bigdata_log_tools_spark.sources.boom import scan_boom_bytes

    with open(BM_FILE, "rb") as f:
        data = f.read()
    rows = read_boom_local(BM_FILE)
    matches = sorted(r for r in rows if "line" in r[1])
    # cut strictly above the first match's second so the bound excludes it
    mid = (matches[0][0] // 1000) * 1000 + 1000
    got = sorted(scan_boom_bytes(data, ["line"], start_ms=mid))
    want = sorted(
        r for r in matches if (r[0] // 1000) * 1000 >= mid
    )
    assert got == want and 0 < len(got) < len(matches)


def test_spark_pushdown_read_matches_unpushed(spark):
    """The distributed read with search_terms= must equal read-then-
    filter through the DataFrame API (drop-in accelerator contract)."""
    d = os.path.dirname(BM_FILE)
    base = read_boom(spark, d)
    for terms, ci in [(["test"], False), (["ЧЕЛовЕК"], True)]:
        pushed = sorted(
            tuple(r)
            for r in read_boom(
                spark, d, search_terms=terms, case_insensitive=ci
            ).collect()
        )
        import pyspark.sql.functions as F

        cond = None
        for t in terms:
            c = (
                F.lower(F.col("message")).contains(t.lower())
                if ci
                else F.col("message").contains(t)
            )
            cond = c if cond is None else (cond | c)
        want = sorted(tuple(r) for r in base.filter(cond).collect())
        assert pushed == want and len(pushed) > 0, (terms, ci)


def test_sync_split_ranges_partition_all_blocks(tmp_path):
    """Every (start, end) range partition of a multi-block .bm must
    reproduce the full decode exactly — including splits landing inside
    blocks, inside sync markers, and at block boundaries — and the
    pushed search must agree with read-then-filter through the ranged
    path."""
    from bb_bigdata_log_tools_spark.sources.boom import (
        read_boom_local,
        scan_boom_range,
        write_boom_stream,
    )

    path = str(tmp_path / "big.bm")
    lines = [
        (1_700_000_000_000 + s * 1000 + (i % 1000),
         f"second {s} line {i} payload {'x' * (i % 37)}", i)
        for s in range(60)
        for i in range(25)
    ]
    write_boom_stream(path, iter(lines), create_time=7)
    want = sorted(read_boom_local(path))
    size = __import__("os").path.getsize(path)

    for split in [size, size // 2, 1024, 777, 131]:
        got = []
        start = 0
        n_ranges = 0
        while start < size:
            end = min(start + split, size)
            got.extend(scan_boom_range(path, start, end))
            n_ranges += 1
            start += split
        assert sorted(got) == want, (split, len(got), len(want))
        if split == 131:
            assert n_ranges > 20  # genuinely many ranges

    # pushdown through ranges == read-then-filter
    term = "line 7 "
    got = []
    start = 0
    while start < size:
        got.extend(
            scan_boom_range(path, start, min(start + 997, size),
                            search_terms=[term])
        )
        start += 997
    assert sorted(got) == sorted(r for r in want if term in r[1])


def test_read_boom_split_distributed(spark, tmp_path, max_partition_bytes):
    """read_boom under a small maxPartitionBytes equals the whole-file
    read on the same tree and actually fans a single large file across
    multiple tasks."""
    from bb_bigdata_log_tools_spark.sources.boom import (
        read_boom,
        write_boom_stream,
    )

    d = tmp_path / "data"
    d.mkdir()
    path = str(d / "part-00000.bm")
    lines = [
        (1_700_000_000_000 + s * 1000, f"s{s} line {i}", i)
        for s in range(40)
        for i in range(20)
    ]
    write_boom_stream(path, iter(lines))
    full = sorted(tuple(r) for r in read_boom(spark, str(d)).collect())
    max_partition_bytes(1500)
    split = read_boom(spark, str(d))
    got = sorted(tuple(r) for r in split.collect())
    assert got == full and len(got) == len(lines)
    assert split.rdd.getNumPartitions() > 3


def test_read_boom_skip_corrupt_salvages_blocks(spark, tmp_path):
    """skip_corrupt=True resyncs past a damaged container block via the
    Avro sync markers (block-granularity ignoreCorruptFiles): the four
    intact blocks' lines survive, the wrecked block's are dropped, and
    the strict default still fails loudly. A header-wrecked file
    yields zero rows instead of killing the task."""
    import pytest

    from bb_bigdata_log_tools_spark.sources.boom import (
        read_boom,
        write_boom_local,
    )
    from boom_damage import damage_block

    d = tmp_path / "tree"
    d.mkdir()
    p = d / "t.bm"
    lines = [
        (s * 1000 + i, f"line s{s} i{i}", s * 10 + i)
        for s in range(5)
        for i in range(3)
    ]
    write_boom_local(str(p), lines)
    damage_block(str(p))  # wreck block 3's count/size varints
    # strict default: the decode task fails loudly
    with pytest.raises(Exception):
        read_boom(spark, str(d)).collect()
    # salvage: 12 of 15 lines, exactly the intact seconds
    rows = read_boom(spark, str(d), skip_corrupt=True).collect()
    msgs = {r["message"] for r in rows}
    assert len(rows) == 12
    assert not any(" s2 " in m for m in msgs)
    for s in (0, 1, 3, 4):
        for i in range(3):
            assert any(f"s{s} i{i}" in m for m in msgs)
    # salvage + search: the salvaged lines that hold the term
    found = read_boom(spark, str(d), search_terms=["i1"], skip_corrupt=True).collect()
    assert sorted(tuple(r) for r in found) == sorted(
        tuple(r) for r in rows if "i1" in r["message"])
    assert len(found) == 4
    # unreadable header: zero rows under salvage
    p.write_bytes(b"Obj\x01" + b"\x00" * 10)
    assert read_boom(spark, str(d), skip_corrupt=True).count() == 0


def test_cli_logcat_skip_corrupt_flag(tmp_path):
    """--skipCorrupt lets logcat serve a tree containing one damaged
    .bm (salvaging the intact blocks); the strict default fails."""
    import os
    import subprocess
    import sys

    from bb_bigdata_log_tools_spark.sources.boom import (
        write_boom_local,
    )
    from boom_damage import damage_block

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = tmp_path / "service"
    d = root / "99" / "svc" / "logs" / "20240105" / "10" / "comp" / "data"
    d.mkdir(parents=True)
    base_ms = 1704448800000  # 2024-01-05T10:00Z
    lines = [
        (base_ms + s * 1000 + i, f"line s{s} i{i}", s * 10 + i)
        for s in range(5)
        for i in range(3)
    ]
    p = d / "x.bm"
    write_boom_local(str(p), lines)
    damage_block(str(p))
    from test_cli_streaming_misc import run_tools_batch

    args = [
        "logcat", "-dc=99", "-svc=svc", "-comp=comp",
        "-start=Jan 5, 2024 09:00", "-end=Jan 5, 2024 11:00",
        f"-root={root}",
    ]
    # one subprocess, both legs (strict then salvage) — JVM startup
    # was most of the two per-leg subprocesses' wall time
    strict, salvage = run_tools_batch([args, args + ["--skipCorrupt"]])
    assert strict["code"] != 0  # loud failure by default
    assert salvage["code"] == 0, salvage["err"][-1500:]
    out = [ln for ln in salvage["out"].splitlines() if ln.strip()]
    assert len(out) == 12
    assert not any(" s2 " in ln for ln in out)
