"""Benchmark of the rule engine: request path, table rules and vt DML.

Usage (from the repository root)::

    python3 perfbench/run.py --workload req_small --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload in turn
    python3 perfbench/selftest.py                         # input generators only

Workloads (closed loop, one client): ``req_small``, ``table_rules`` and
``vt_dml`` (listed in BENCHMARK.json), plus ``req_bulk`` (run by hand;
see ``workloads.py``). One run makes its inputs from ``--seed``, starts
Spark at ``local[N]`` with N the usable cores, sets the workload up three
times (``setup_s`` is session start plus the median repetition), warms
up, then runs ops until ``--seconds`` of op time has passed and the
workload's op mix has completed whole cycles, at least a fixed number of
them per workload. Every answer is checked
against DuckDB afterwards; a wrong or failed op counts in ``failed``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is the
traced run: it covers at least two cycles, every other op records spans
around the engine's public calls and tags its Spark jobs, and the
per-layer metrics come from those ops (spans are written to
``.perfbench_out/``). The untraced ops of the same run give
``trace.overhead_ms``.

Everything a run writes stays under the checkout: input tables, Spark
local dirs and the ``vt`` table live in ``.perfbench_work/<run>/`` and
are deleted at exit. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
print every metric by name and unit, plus the host and run notes.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ["req_small", "req_bulk", "table_rules", "vt_dml"]
SETUP_REPS = 3
# Driver JVM heap: at most a quarter of host RAM (the engine's own default
# is 32g), fixed and pre-touched so peak RSS does not depend on when the
# garbage collector chose to grow the heap.
DRIVER_MEMORY_CAP_MB = 1024


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"cpus": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024}


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples above it, or the
    median when that percentile would lie below it (fewer than 21 samples)."""
    ordered = sorted(values)
    n = len(ordered)
    if n < 21:
        return statistics.median(ordered), "p50"
    return ordered[n - 11], f"p{100 * (n - 10) / n:.0f}"


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set of this Python process and of the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        jvm_kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return py_kb / 1024, jvm_kb / 1024


def start_spark(work: str, cpus: int, driver_mb: int):
    from dynamicqueryengine_spark import get_spark

    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_mb}m"
    os.environ["TMPDIR"] = tmp
    return get_spark("perfbench", cpus=cpus, extra_conf={
        "spark.local.dir": local,
        # fixed, pre-touched heap (see DRIVER_MEMORY_CAP_MB); no hsperfdata
        # file, which the JVM would write under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{driver_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Loop:
    """Closed loop over ops ``0, 1, …`` until ``seconds`` of op time have
    passed, the last cycle of the workload's op mix is complete and at
    least ``min_cycles`` cycles have run (two when traced), so a run
    measures the same mix, and on a steady host the same number of ops,
    whatever the seed.

    With a tracer, every other op is traced; for an even cycle length the
    alternation flips from one cycle to the next, so over two cycles each
    op of the mix is seen both traced and untraced."""

    def __init__(self, wl, spark, tracer=None) -> None:
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.wall: list[float] = []
        self.traced: list[bool] = []
        self.errors: set[int] = set()

    def is_traced(self, i: int) -> bool:
        cycle = self.wl.cycle
        return self.tracer is not None and (i + (i // cycle if cycle % 2 == 0 else 0)) % 2 == 1

    def run(self, seconds: float) -> None:
        wl, tracer = self.wl, self.tracer
        sc = self.spark.sparkContext
        min_ops = wl.cycle * (max(wl.min_cycles, 2) if tracer is not None else wl.min_cycles)
        busy, i = 0.0, 0
        while busy < seconds or i % wl.cycle or i < min_ops:
            traced = self.is_traced(i)
            wl.prepare_op(i)
            if tracer is not None:
                sc.setJobGroup(f"op-{i}", "perfbench op", False)
            if traced:
                tracer.begin_op(i, wl.root_span(i))
            t0 = time.perf_counter()
            try:
                wl.run_op(i)
                ok = True
            except Exception as exc:  # a failed op is counted, the loop goes on
                ok = False
                print(f"op {i} ({wl.kind(i)}) failed: {exc!r}"[:500], file=sys.stderr)
            t1 = time.perf_counter()
            if traced:
                tracer.end_op()
            if ok:
                wl.after_op(i)
            else:
                self.errors.add(i)
            self.wall.append(t1 - t0)
            self.traced.append(traced)
            busy += t1 - t0
            i += 1


def end_to_end(loop: Loop, wl, setup_s: float, rss: tuple[float, float]) -> tuple[dict, dict]:
    ms = [w * 1000 for w in loop.wall]
    busy = sum(loop.wall)
    p_tail, label = tail(ms)
    metrics = {
        "setup_s": (setup_s, "s"),
        "p50_ms": (statistics.median(ms), "ms"),
        "p_tail_ms": (p_tail, "ms"),
        "ops_per_s": (len(ms) / busy, "1/s"),
        "rows_per_s": (sum(wl.rows(i) for i in range(len(ms))) / busy, "rows/s"),
        "peak_rss_mb": (sum(rss), "MB"),
    }
    notes = {"ops": len(ms), "p_tail_percentile": label,
             "peak_rss_mb_python_jvm": [round(r, 1) for r in rss]}
    return metrics, notes


def vt_metrics(loop: Loop, wl) -> dict:
    """vt_dml's write and read medians over untraced ops, and space
    amplification; zero on the other workloads."""
    if wl.name != "vt_dml":
        return {"write_p50_ms": (0.0, "ms"), "read_p50_ms": (0.0, "ms"), "space_amp": (0.0, "ratio")}
    steps = [wl.steps_ms[i] for i in wl.steps_ms if not loop.traced[i]]
    return {
        "write_p50_ms": (statistics.median(s[0] for s in steps), "ms"),
        "read_p50_ms": (statistics.median(r for s in steps for r in s[1:]), "ms"),
        "space_amp": (wl.space_amp, "ratio"),
    }


def per_layer(loop: Loop, wl, tracer, counters: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced ops, and notes on the trace."""
    from tracing import SELF_TIME_METRICS, self_times

    spans = tracer.op_spans()
    ok = [i for i in range(len(loop.wall)) if i not in loop.errors]
    traced = [i for i in ok if loop.traced[i]]
    n = max(len(traced), 1)
    selfs = {i: self_times(spans[i]) for i in traced}
    out = {}
    for metric, names in SELF_TIME_METRICS.items():
        out[metric] = (sum(selfs[i].get(nm, 0.0) for i in traced for nm in names) / n, "ms")
    for key, metric, unit in (("jobs", "spark.jobs_per_op", "count"),
                              ("stages", "spark.stages_per_op", "count"),
                              ("tasks", "spark.tasks_per_op", "count"),
                              ("run_ms", "spark.executor_run_ms_per_op", "ms"),
                              ("input_bytes", "spark.input_bytes_per_op", "bytes"),
                              ("shuffle_bytes", "spark.shuffle_bytes_per_op", "bytes")):
        out[metric] = (sum(counters[f"op-{i}"][key] for i in traced) / n, unit)

    def mean(values: list[float]) -> float:
        return sum(values) / len(values) if values else 0.0

    def named(i: int, name: str) -> list[dict]:
        return [s for s in spans[i] if s["name"] == name]

    def ms(span: dict) -> float:
        return (span["end"] - span["start"]) * 1000

    for kind in ("update", "delete", "merge"):
        out[f"sources.vt_{kind}_ms"] = (mean(
            [sum(map(ms, named(i, f"sources.vt_{kind}"))) for i in traced if wl.kind(i) == kind]), "ms")
    # scan plans of the reads (writes plan their own file scans too)
    reads = {s["id"] for i in traced for s in named(i, "sources.vt_read")}
    read_plans = [s for i in traced for s in named(i, "sources.vt_scan_plan") if s["parent"] in reads]
    out["sources.vt_read_plan_ms"] = (sum(map(ms, read_plans)) / max(len(reads), 1), "ms")
    out["sources.vt_files_kept_ratio"] = (
        sum(s["files_kept"] for s in read_plans) / max(sum(s["files_total"] for s in read_plans), 1),
        "ratio")
    writes = list(getattr(wl, "write_stats", {}).values())
    out["sources.vt_files_rewritten_per_write"] = (mean([w["files_rewritten"] for w in writes]), "count")
    out["sources.vt_bytes_written_per_write"] = (mean([w["bytes_written"] for w in writes]), "bytes")
    out.update(vt_metrics(loop, wl))

    # overhead: per op kind, traced median minus untraced median; the
    # median of those differences over the kinds seen both ways
    by_kind: dict[str, tuple[list, list]] = {}
    for i in ok:
        by_kind.setdefault(wl.kind(i), ([], []))[loop.traced[i]].append(loop.wall[i] * 1000)
    diffs = [statistics.median(t) - statistics.median(u) for u, t in by_kind.values() if u and t]
    out["trace.overhead_ms"] = (statistics.median(diffs) if diffs else 0.0, "ms")
    wall = sum(loop.wall[i] for i in traced) * 1000
    roots = sum(selfs[i].get(spans[i][0]["name"], 0.0) for i in traced)
    attributed = sum(sum(selfs[i].values()) for i in traced) - roots
    out["trace.attributed_ratio"] = (attributed / wall if wall else 0.0, "ratio")
    notes = {"traced_ops": len(traced),
             "self_sum_over_op_wall": round(sum(sum(v.values()) for v in selfs.values()) / wall, 4)
             if wall else None}
    return out, notes


def write_trace(path: str, loop: Loop, wl, tracer, counters: dict) -> None:
    """Spans, then one record per traced op with its wall time and Spark counters."""
    tracer.write(path)
    with open(path, "a") as f:
        for i, traced in enumerate(loop.traced):
            if traced:
                f.write(json.dumps({"op_index": i, "kind": wl.kind(i),
                                    "wall_ms": loop.wall[i] * 1000,
                                    "counters": counters[f"op-{i}"]}) + "\n")


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import dynamicqueryengine_spark  # noqa: F401  (the engine under test)
    except ImportError as exc:
        print(f"error: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import pyspark

    info = host_info()
    driver_mb = min(DRIVER_MEMORY_CAP_MB, info["ram_mb"] // 4)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, HERE)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, info["cpus"], driver_mb)
        phases = {"session": time.perf_counter() - t0}
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](spark, args.seed, work)
        t = time.perf_counter()
        wl.prepare()
        phases["prepare"] = time.perf_counter() - t
        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            reps.append(time.perf_counter() - t)
            if rep < SETUP_REPS - 1:
                wl.release(rep)
        setup_s = phases["session"] + statistics.median(reps)
        t = time.perf_counter()
        wl.warmup()
        phases["warmup"] = time.perf_counter() - t

        tracer = None
        if args.trace:
            from tracing import Tracer, instrument

            tracer = Tracer()
            sc = spark.sparkContext
            instrument(tracer, lambda: sc.setJobGroup(f"op-{tracer.op}", "perfbench op", False))
            wl.track_writes = True
        loop = Loop(wl, spark, tracer)
        t = time.perf_counter()
        loop.run(args.seconds)
        phases["measure"] = time.perf_counter() - t
        rss = peak_rss_mb(spark)
        t = time.perf_counter()
        wrong = wl.check(len(loop.wall))
        phases["check"] = time.perf_counter() - t
        for i in sorted(wrong - loop.errors):
            print(f"op {i} ({wl.kind(i)}) gave a wrong answer", file=sys.stderr)
        failed = loop.errors | wrong
        attempted = len(loop.wall)

        metrics, notes = end_to_end(loop, wl, setup_s, rss)
        shown = {**metrics, **vt_metrics(loop, wl)}
        reported = metrics
        if args.trace:
            from tracing import spark_counters

            counters = spark_counters(spark, [f"op-{i}" for i, t in enumerate(loop.traced) if t])
            reported, trace_notes = per_layer(loop, wl, tracer, counters)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.jsonl")
            write_trace(trace_path, loop, wl, tracer, counters)
            notes.update(trace_notes, trace_file=os.path.relpath(trace_path, ROOT))
            shown.update(reported)
        notes.update(
            workload=args.workload, seed=args.seed, cpus=info["cpus"], ram_mb=info["ram_mb"],
            spark=pyspark.__version__, master=f"local[{info['cpus']}]",
            driver_memory=f"{driver_mb}m", error_rate=len(failed) / attempted,
            setup_reps_s=[round(r, 4) for r in reps],
            phases_s={k: round(v, 2) for k, v in phases.items()},
        )
        for key, value in notes.items():
            print(f"# {key}: {value}")
        for name, (value, unit) in shown.items():
            print(f"{name:40s} {value:14.4f} {unit}")
        print(json.dumps({
            "correct": not failed,
            "attempted": attempted,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in reported.items()},
        }))
        return 0
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(work_root):
            os.rmdir(work_root)


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    status = 0
    for name in WORKLOAD_NAMES:
        print(f"== {name}", flush=True)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, check=False,
        )
        status = status or proc.returncode
    return status


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=8)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
