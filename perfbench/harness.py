"""Measurement plumbing: spans, layer instrumentation, Spark job counts,
host calibration and peak memory.

Spans are kept in memory as plain lists and written out once, at the
end of a traced run. A span is (name, layer, start, end, parent, request
id); self time is a span's duration minus its children's.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager

PACKAGE = "ndl_core_data_pipeline_spark"

# Layer entry points wrapped in a traced run, by layer name. Only
# driver-side functions are listed: a function that is pickled into a
# Python worker (a UDF body, classify.embed_texts inside embed_chunks)
# must stay unwrapped, or the wrapper would travel with it.
LAYER_ENTRY_POINTS = {
    "session": ("session", ["get_spark"]),
    "contract": ("contract", ["build_registry"]),
    "io": ("io", ["load"]),
    "sources": ("sources.pdfs", ["scan_pdfs"]),
    "pipeline": (
        "pipeline",
        ["process", "canonicalize", "dedup_first_wins", "filter_supported", "anonymize"],
    ),
    "rag": ("rag", ["build_index", "build_chunks", "embed_chunks"]),
    "search": ("search", ["search", "cosine_topk", "elbow_cut", "neighbor_merge"]),
    "sinks": ("sinks", ["write_parquet"]),
}
LAYERS = (
    "session", "contract", "io", "sources", "functions", "classify",
    "pipeline", "rag", "search", "sinks", "operators", "exec",
)


class Tracer:
    """Collects spans. ``span`` is a context manager; nesting follows
    the call stack of the one driver thread."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.request_id: str = ""
        self.enabled = True

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [name, layer, time.perf_counter(), None, parent, self.request_id]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[3] = time.perf_counter()
            self._stack.pop()

    def self_times(self, request_prefix: str = "") -> dict[str, float]:
        """Seconds of self time per layer over the closed spans whose
        request id starts with ``request_prefix``."""
        child = [0.0] * len(self.spans)
        for name, layer, t0, t1, parent, _ in self.spans:
            if parent >= 0 and t1 is not None:
                child[parent] += t1 - t0
        out = dict.fromkeys(LAYERS, 0.0)
        for i, (name, layer, t0, t1, parent, rid) in enumerate(self.spans):
            if t1 is not None and rid.startswith(request_prefix):
                out[layer] = out.get(layer, 0.0) + (t1 - t0) - child[i]
        return out

    def self_shares(self, request_prefix: str = "") -> dict[str, float]:
        """Each layer's share of the self time, for the layers that have any."""
        st = self.self_times(request_prefix)
        total = sum(st.values())
        return {k: v / total for k, v in st.items() if v > 0} if total else {}

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("name", "layer", "start", "end", "parent", "request_id")
        with open(path, "w") as f:
            json.dump(
                {"spans": [dict(zip(keys, s)) for s in self.spans],
                 "self_s": self.self_times(), **extra},
                f,
            )


def _wrap(fn, tracer: Tracer, layer: str, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced


def instrument(tracer: Tracer):
    """Wrap every entry point in LAYER_ENTRY_POINTS, in its own module
    and in every package module that imported it by name. Returns a
    function that restores the originals."""
    undo: list[tuple[object, str, object]] = []
    for layer, (mod_name, names) in LAYER_ENTRY_POINTS.items():
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        for name in names:
            orig = getattr(mod, name)
            wrapped = _wrap(orig, tracer, layer, f"{mod_name}.{name}")
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(PACKAGE):
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)
                        undo.append((m, attr, orig))

    def restore() -> None:
        for m, attr, orig in reversed(undo):
            setattr(m, attr, orig)

    return restore


def wrap_queries(queries: dict, tracer: Tracer) -> dict:
    """Registry query callables traced as the ``operators`` layer."""
    return {k: _wrap(fn, tracer, "operators", k) for k, fn in queries.items()}


class JobCounter:
    """Spark job, stage and task counts per phase, read from the public
    status tracker under a per-phase job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.n = 0

    @contextmanager
    def phase(self, label: str):
        self.n += 1
        group = f"perfbench-{self.n}-{label}"
        counts = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
        self.sc.setJobGroup(group, label)
        try:
            yield counts
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            counts.update(self.count(group))

    def count(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for job in jobs:
            info = st.getJobInfo(job)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numTasks:
                    stages += 1
                    tasks += s.numTasks
                    failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}


def calibrate(spark) -> float:
    """A fixed numpy loop plus a fixed ``spark.range`` aggregate; its
    wall time tracks how busy the host is, not the engine."""
    import numpy as np

    t0 = time.perf_counter()
    rng = np.random.default_rng(0)
    a = rng.standard_normal((160, 160))
    for _ in range(40):
        a = np.tanh(a @ a.T / 160.0)
    np.sort(rng.standard_normal(400_000))
    spark.range(0, 3_000_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat;
    time stolen by other guests of a shared host is the usual cause of
    a run that is slow everywhere at once."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def steal_frac(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_mem_mb(spark) -> float:
    """Peak memory the program needed, in MiB: the VmHWM of this driver
    process, plus the JVM's peak old-generation heap use and its
    non-heap use, from its memory MXBeans. The JVM's resident size is
    not used: its heap is sized once at start, so that figure is set by
    the launcher; the young generation's peak is likewise the size the
    collector gave it. The old generation holds what the program
    retained and its large objects."""
    mx = spark._jvm.java.lang.management.ManagementFactory
    old = sum(
        p.getPeakUsage().getUsed()
        for p in mx.getMemoryPoolMXBeans()
        if str(p.getType()) == "Heap memory"
        and not any(k in str(p.getName()) for k in ("Eden", "Survivor"))
    )
    non_heap = mx.getMemoryMXBean().getNonHeapMemoryUsage().getUsed()
    return _vm_hwm_kb("self") / 1024.0 + (old + non_heap) / 2.0**20
