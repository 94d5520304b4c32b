"""Benchmark launcher.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The launcher pins the
run environment (cores, driver heap, Spark local and temp directories,
the package on the Python workers' path), starts one local Spark session
on all cores and drives one workload as a closed loop with one client.

With ``--trace 0`` it measures the end-to-end metrics. With ``--trace 1``
it alternates untraced and traced operations (for the tracing overhead),
runs the layer attribution suite, writes the spans to
``.perfbench_work/traces/`` and reports the per-layer metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "ndl_core_data_pipeline_spark"


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def pin_environment(work: str) -> dict:
    """Environment every run uses, set before the JVM starts (worker
    processes inherit it). Returns what was pinned, for the record."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(2048, _mem_total_mb() // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap sized once, at start: left to grow, the collector grows it
    # at a point that depends on GC timing, and pass times drop by ~20%
    # when it does, so runs split into a slow and a fast group
    java_opts = f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ]
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
        ),
        "TMPDIR": tmp,
        "TZ": "UTC",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(pinned)
    return pinned


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("standard", "tiny"), default="standard",
                    help="input sizes; tiny is for the benchmark's own tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    # the engine measured is the one in this checkout, never an installed copy
    try:
        pkg = __import__(PACKAGE)
    except ImportError as exc:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        print(f"perfbench: {PACKAGE} imported from {pkg.__file__}, not {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work)
    try:
        result, info = run(args, work, base)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench": {**info, "env": env}}, sort_keys=True))
    print(json.dumps(result))
    return 0


def run(args, work: str, base: str) -> tuple[dict, dict]:
    import workloads as W

    ctx = W.Context(work, args.seed, args.size)
    w = W.WORKLOADS[args.workload](ctx)
    t0 = time.perf_counter()
    try:
        metrics, info = _measure_run(args, ctx, w, base)
    finally:
        if ctx.spark is not None:
            shutdown(ctx.spark)
    info["wall_s"]["total"] = round(time.perf_counter() - t0, 3)
    units = metric_units()
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, info


def _measure_run(args, ctx, w, base: str) -> tuple[dict, dict]:
    import harness
    from ndl_core_data_pipeline_spark import contract, session

    wall = [("start", time.perf_counter())]
    w.generate()
    wall.append(("generate", time.perf_counter()))

    # set-up, once, as a fresh process pays it: session start (which
    # launches the JVM), registry build, then the workload's one-time
    # preparation (the search index build) and warm-up
    t0 = time.perf_counter()
    ctx.spark = session.get_spark()
    t1 = time.perf_counter()
    ctx.registry = contract.build_registry()
    t2 = time.perf_counter()
    w.prepare()
    w.warmup()
    t3 = time.perf_counter()
    setup_s = t3 - t0
    w.after_setup()
    ctx.jobs = harness.JobCounter(ctx.spark)
    wall.append(("setup", time.perf_counter()))

    for _ in range(2):  # compile and warm the probe
        harness.calibrate(ctx.spark)
    calib = [harness.calibrate(ctx.spark)]
    ticks = harness.cpu_ticks()
    phases = None
    if args.trace:
        ctx.tracer = harness.Tracer()
        restore = harness.instrument(ctx.tracer)
        metrics = {
            "session.get_spark_s": t1 - t0,
            "contract.build_registry_s": t2 - t1,
            "warmup_s": t3 - t2,
        }
        try:
            plain, traced, exec_counts = measure(w, ctx, args.seconds, trace=True)
            calib.append(harness.calibrate(ctx.spark))
            wall.append(("loop", time.perf_counter()))
            ctx.tracer.enabled = True
            ctx.tracer.request_id = "suite"
            try:
                layer, phases = suite(ctx)
                metrics.update(layer)
            except Exception as exc:  # noqa: BLE001 — a failed suite is a result
                traceback.print_exc()
                ctx.record(False, f"suite: {type(exc).__name__}: {exc}"[:300])
            wall.append(("suite", time.perf_counter()))
        finally:
            restore()
        # none of these when every operation failed
        if exec_counts:
            metrics.update({f"exec.{k}": median([c[k] for c in exec_counts]) for k in exec_counts[0]})
        if plain and traced:
            metrics["trace.overhead_frac"] = median(traced) / median(plain) - 1.0
        metrics["host.calib_s"] = median(calib)
        lat = plain + traced
    else:
        lat, _, _ = measure(w, ctx, args.seconds)
        calib.append(harness.calibrate(ctx.spark))
        wall.append(("loop", time.perf_counter()))
        metrics = {"setup_s": setup_s}
        if lat:  # none when every operation failed
            med = median(lat)
            metrics["op_median_ms"] = med * 1e3
            metrics["items_per_s"] = w.items_per_op / med
        metrics["ok_frac"] = 1.0 - ctx.failed / max(ctx.attempted, 1)
        metrics["peak_mem_mb"] = harness.peak_mem_mb(ctx.spark)
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(lat),
        "op_ms": [round(x * 1e3, 1) for x in lat],
        "items_per_op": w.items_per_op,
        "host_calib_s": calib,
        "host_steal_frac": harness.steal_frac(ticks, harness.cpu_ticks()),
        "failures": ctx.failures,
        "wall_s": {k: round(t - wall[i][1], 3) for i, (k, t) in enumerate(wall[1:])},
    }
    if args.trace:
        # where the traced operations of the loop spent their time
        info["loop_self_share"] = {
            k: round(v, 4) for k, v in ctx.tracer.self_shares("op").items()
        }
        path = os.path.join(base, "traces", f"{args.workload}-{args.seed}.json")
        ctx.tracer.dump(path, {"info": info, "metrics": metrics, "phases": phases})
        info["trace_file"] = os.path.relpath(path, ROOT)
    return metrics, info


def measure(w, ctx, seconds: float, trace: bool = False):
    """Operations back to back, one client, until ``seconds`` of
    operation time are measured. Each operation's correctness check runs
    after it, outside its timing. With ``trace``, every other operation
    runs with spans on and its Spark jobs counted, so drift over the run
    affects both halves alike. Returns (untraced latencies, traced
    latencies, per traced operation job counts)."""
    from contextlib import ExitStack

    plain: list[float] = []
    traced: list[float] = []
    counts: list[dict] = []
    failures = i = 0
    while sum(plain) + sum(traced) < seconds or not plain or (trace and not traced):
        on = trace and i % 2 == 1
        if trace:
            ctx.tracer.enabled = on
            ctx.tracer.request_id = f"op{i}"
        with ExitStack() as stack:
            if on:
                c = stack.enter_context(ctx.jobs.phase(w.name))
                stack.enter_context(ctx.tracer.span(w.name, "exec"))
            try:
                dt = w.op(i)
            except Exception as exc:  # noqa: BLE001 — a failed operation is a result
                traceback.print_exc()
                ctx.record(False, f"{w.name}: op {i}: {type(exc).__name__}: {exc}"[:300])
                dt = None
        i += 1
        if dt is None:
            failures += 1
            if failures > 3:
                break
            continue
        try:
            w.after_op(i - 1)
        except Exception as exc:  # noqa: BLE001 — a check that cannot run fails
            traceback.print_exc()
            ctx.record(False, f"{w.name}: check {i - 1}: {type(exc).__name__}: {exc}"[:300])
        (traced if on else plain).append(dt)
        if on:
            counts.append(dict(c))
    return plain, traced, counts


def suite(ctx) -> tuple[dict, dict]:
    """Every per-layer metric, at the benchmark's standard sizes."""
    import workloads as W

    out = W.kernel_metrics(ctx)
    refine, phases = W.refine_metrics(ctx)
    out.update(refine)
    out.update(W.search_metrics(ctx))
    out.update(W.analytics_metrics(ctx))
    return out, phases


def _gateway_proc():
    """The JVM process PySpark launched (it execs the ``java`` binary)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    proc = _gateway_proc()
    try:
        spark.stop()
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — make sure it is gone
                proc.kill()
                proc.wait()


def metric_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
