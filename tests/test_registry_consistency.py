"""Registry integrity: the merged QUERIES/ORACLES dicts must not
silently shadow keys, every auxiliary list must reference real keys,
and no registry function ends in a sort."""

from __future__ import annotations

import ast
import glob
import os

import bb_bigdata_log_tools_spark.registry as R


def _parts():
    from bb_bigdata_log_tools_spark.registry_analytics2 import ANALYTICS2_QUERIES
    from bb_bigdata_log_tools_spark.registry_avro import AVRO_QUERIES
    from bb_bigdata_log_tools_spark.registry_boom import BOOM_QUERIES
    from bb_bigdata_log_tools_spark.registry_curation import CURATION_QUERIES
    from bb_bigdata_log_tools_spark.registry_datasetops import DATASETOPS_QUERIES
    from bb_bigdata_log_tools_spark.registry_misc import MISC_QUERIES
    from bb_bigdata_log_tools_spark.registry_pipeline import PIPELINE_QUERIES
    from bb_bigdata_log_tools_spark.registry_sinks import SINK_QUERIES
    from bb_bigdata_log_tools_spark.registry_streaming import STREAMING_QUERIES
    from bb_bigdata_log_tools_spark.registry_textprep import TEXTPREP_QUERIES

    return [
        PIPELINE_QUERIES, BOOM_QUERIES, MISC_QUERIES, ANALYTICS2_QUERIES,
        AVRO_QUERIES, CURATION_QUERIES, TEXTPREP_QUERIES, DATASETOPS_QUERIES,
        STREAMING_QUERIES, SINK_QUERIES,
    ]


def test_no_cross_part_key_shadowing():
    parts = _parts()
    seen: dict[str, int] = {}
    dupes = []
    for i, p in enumerate(parts):
        for k in p:
            if k in seen:
                dupes.append((k, seen[k], i))
            seen[k] = i
    assert not dupes, f"keys defined in multiple registry parts: {dupes}"


def test_merged_registry_complete():
    parts = _parts()
    part_keys = set().union(*[set(p) for p in parts])
    # 13 core keys live directly in registry.py
    assert part_keys <= set(R.QUERIES)
    assert len(R.QUERIES) == len(part_keys) + 13


def test_every_query_has_oracle_and_vice_versa():
    assert set(R.QUERIES) == set(R.ORACLES)


def test_window_priority_and_bench_reference_real_keys():
    import bench

    assert set(R._WINDOW_PRIORITY) <= set(R.QUERIES)
    assert set(bench.BENCH_QUERIES) <= set(R.QUERIES)
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)
    assert len(set(R._WINDOW_PRIORITY)) == len(R._WINDOW_PRIORITY)


#: Calls that order a DataFrame.
_SORTS = {"small_sort", "orderBy", "sort", "sortWithinPartitions"}


def _is_sort(node) -> bool:
    """``node`` is a call to a sort, or a ``.transform(lambda d: <sort>)``."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    if name == "transform" and node.args and isinstance(node.args[0], ast.Lambda):
        return _is_sort(node.args[0].body)
    return name in _SORTS


def _own_returns(fn):
    """The ``return`` statements of ``fn`` itself, not of functions nested in it."""
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        if isinstance(node, ast.Return):
            yield node
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            stack.extend(ast.iter_child_nodes(node))


def test_no_registry_function_ends_in_a_sort():
    """The gate compares each key's rows as a multiset, so a sort as the
    last step of a registry function costs a job and a shuffle that no
    reader sees. An operator's own ordering, and a ``.limit`` after a
    sort (the sort then picks the rows), stay."""
    pkg = os.path.dirname(R.__file__)
    found = []
    for path in sorted(glob.glob(os.path.join(pkg, "registry*.py"))):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                found += [
                    f"{os.path.basename(path)}:{r.lineno} {fn.name}"
                    for r in _own_returns(fn) if _is_sort(r.value)
                ]
    assert not found, "registry functions that end in a sort:\n" + "\n".join(found)
