"""One benchmark run in a fresh process; started by ``run.py``.

Set-up (``setup_s``) runs from the parent's stamp taken just before this
process was started until ``session.get_spark`` has returned and one
warm-up ``mapInPandas`` job has finished. Then the workload builds its
fixtures and runs its untimed warm-up cycles, and the closed loop runs
the number of whole cycles that takes about ``--seconds`` on 4 cores.
Every call's output is checked against the oracle; a call that raises or
differs is counted in ``failed`` and the run goes on.

Every time reported is wall time with the interval's steal share taken
out (``procstat``): ``wall * (1 - steal)``. The raw wall times are
printed beside them.

A traced run (``--trace 1``) runs every call twice, traced and not, in
alternating order, over half the cycles: the traced calls give the
per-layer metrics, and the difference between the two medians is the
tracing overhead. Its spans are written to ``perfbench/out/`` when the
run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import procstat
from spans import mean, median


def _identity(batches):
    yield from batches


def peak_rss_mb(jvm_pid: int) -> float:
    """Summed ``VmHWM`` of the Spark JVM and its live descendants (the
    Python workers)."""
    return sum(
        procstat.status_mb(p, "VmHWM:") for p in [jvm_pid, *procstat.descendants(jvm_pid)]
    )


def live_memory_mb(sc) -> tuple[float, float]:
    """Memory the JVM holds at the end of the run: its heap in use after a
    full GC plus its non-heap in use. Unlike the JVM's ``VmHWM``, which
    moves by a fifth from run to run with the collector's heap sizing,
    this moves only when the program keeps more (caches, retained state).
    The Python workers are left out: Spark stops a worker idle for a
    minute, so how many are alive at the end follows the run's length."""
    bean = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # a full GC frees the objects that Spark's cleaner thread releases
    # (broadcast blocks, shuffle state) only once it has run, so collect
    # again until the heap stops shrinking
    heap = float("inf")
    for _ in range(10):
        sc._jvm.java.lang.System.gc()
        now = bean.getHeapMemoryUsage().getUsed()
        if now > 0.99 * heap:
            break
        heap = now
        time.sleep(0.2)
    return min(heap, now) / 2**20, bean.getNonHeapMemoryUsage().getUsed() / 2**20


def run_cycles(wl, execute, count: int) -> None:
    """Run ``count`` whole cycles of ``wl``'s calls, ``execute(i, call)``
    for each; whole cycles keep every run's mix the same."""
    for k in range(count):
        for i, call in enumerate(wl.cycle(k)):
            execute(i, call)


def by_shape(results: list, attr: str) -> dict[str, list[float]]:
    """``{shape: [attr of each call]}``."""
    out: dict[str, list[float]] = {}
    for r in results:
        out.setdefault(r.shape, []).append(getattr(r, attr))
    return out


def shape_p50(results: list, attr: str) -> float:
    """The mean over call shapes of each shape's median ``attr``. A cycle's
    shapes take from one to fifteen seconds, so a median over all calls
    would jump between shapes; the mean of per-shape medians does not."""
    return mean(median(xs) for xs in by_shape(results, attr).values())


def end_to_end(setup_s: float, results: list, memory_mb: float) -> dict[str, tuple[float, str]]:
    """The end-to-end metrics of an untraced run, ``{name: (value, unit)}``.
    Call times are ``Result.seconds`` and ``Result.first_s``, which have
    the steal share taken out."""
    secs = [r.seconds for r in results]
    return {
        "setup_s": (setup_s, "s"),
        "call_p50_s": (shape_p50(results, "seconds"), "s"),
        "first_line_p50_s": (shape_p50(results, "first_s"), "s"),
        "lines_per_s": (sum(r.work_lines for r in results) / sum(secs) if secs else 0.0,
                        "lines/s"),
        "memory_mb": (memory_mb, "MB"),
    }


def result_line(metrics: dict[str, tuple[float, str]], results: list) -> str:
    """The JSON object printed as the run's last line."""
    failed = sum(1 for r in results if r.error)
    return json.dumps({
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    })


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--stat0", required=True, help="the parent's /proc/stat reading at --t0")
    p.add_argument("--workdir", required=True)
    p.add_argument("--outdir", required=True)
    a = p.parse_args()
    cpu0 = [int(x) for x in a.stat0.split(",")]

    from bb_bigdata_log_tools_spark import session

    import layers
    import spans
    import workloads

    tr = spans.Tracer() if a.trace else spans.NullTracer()
    with tr.span("session.get_spark"):
        spark = session.get_spark("perfbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    cpus = sc.defaultParallelism
    spark.range(0, 64 * cpus, numPartitions=cpus).mapInPandas(
        _identity, "id long"
    ).write.format("noop").mode("overwrite").save()
    setup_wall = time.time() - a.t0
    setup_steal = procstat.steal_share(cpu0, procstat.cpu_times())
    setup_s = setup_wall * (1.0 - setup_steal)

    t_build = time.perf_counter()
    os.makedirs(a.workdir, exist_ok=True)
    wl = workloads.WORKLOADS[a.workload](spark, a.seed, a.workdir, tr)
    wl.build()
    t_warm = time.perf_counter()
    probe = layers.LayerProbe(spark, wl, tr) if a.trace else None

    # untimed warm-up calls: the first call of each tool in a fresh JVM
    # pays for compiling the engine's hot paths
    for call in wl.warm_up():
        r = wl.execute(call)
        if r.error:
            print(f"warm-up call failed: {r.shape}: {r.error}", file=sys.stderr)

    results, traced_results = [], []

    def measured(i, call):
        runs = [(wl.execute, results)]
        if probe is not None:
            # each call once traced and once not, in alternating order
            runs.append((probe.execute, traced_results))
            if i % 2:
                runs.reverse()
        for execute, sink in runs:
            r = execute(call)
            sink.append(r)
            if r.error:
                print(f"FAILED {r.shape}: {r.error}", file=sys.stderr)

    # a fixed number of cycles for a given --seconds, so a slower machine
    # (or commit) does the same work, not fewer and less warmed-up cycles;
    # a traced run makes every call twice, so it runs half of them
    k = max(1, round(a.seconds / wl.NOMINAL_CYCLE_S) // (2 if a.trace else 1))
    t_loop, cpu_loop = time.perf_counter(), procstat.cpu_times()
    run_cycles(wl, measured, k)
    loop_s = time.perf_counter() - t_loop
    loop_cpu_s = procstat.busy_s(cpu_loop, procstat.cpu_times())

    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    rss = peak_rss_mb(jvm_pid)
    heap, nonheap = live_memory_mb(sc)
    mem = heap + nonheap
    steal = procstat.steal_pct(cpu0, procstat.cpu_times())
    layer_metrics = probe.metrics(results, traced_results) if probe else {}
    spark.stop()

    everything = results + traced_results
    failed = sum(1 for r in everything if r.error)
    e2e = end_to_end(setup_s, results, mem)

    print(f"workload={a.workload} seed={a.seed} cycles={k} build_s={t_warm - t_build:.3f} "
          f"warm_up_s={t_loop - t_warm:.3f} loop_s={loop_s:.3f} loop_cpu_s={loop_cpu_s:.3f} "
          f"steal_pct={steal:.3f} setup_steal={setup_steal:.3f} "
          f"call_steal_p50={median(r.steal for r in results):.3f}")
    print(f"calls={len(results)} traced_calls={len(traced_results)} failed={failed} "
          f"failed_frac={failed / max(1, len(everything))}")
    for name, (value, unit) in e2e.items():
        print(f"{name} = {value} {unit}")
    print(f"peak_rss_mb = {rss} MB")
    print(f"memory.heap_mb = {heap} MB")
    print(f"memory.nonheap_mb = {nonheap} MB")
    # the same times as measured, steal included
    print(f"wall.setup_s = {setup_wall} s")
    print(f"wall.call_p50_s = {shape_p50(results, 'wall_s')} s")
    walls = by_shape(results, "wall_s")
    for shape, secs in by_shape(results, "seconds").items():
        print(f"  {shape}: n={len(secs)} p50={median(secs):.3f} s wall p50={median(walls[shape]):.3f} s")
    for alias, name in workloads.ALIASES[a.workload].items():
        print(f"{alias} = {e2e[name][0]} {e2e[name][1]}  (n={len(results)})")
    for name, (value, unit) in layer_metrics.items():
        print(f"{name} = {value} {unit}")
    if probe:
        os.makedirs(a.outdir, exist_ok=True)
        path = os.path.join(a.outdir, f"trace-{a.workload}-{a.seed}.json")
        tr.dump(path, {"workload": a.workload, "seed": a.seed,
                       "metrics": {n: v for n, (v, _u) in layer_metrics.items()}})
        print(f"spans written to {path}")

    print(result_line(layer_metrics if a.trace else e2e, everything))
    return 0


if __name__ == "__main__":
    sys.exit(main())
