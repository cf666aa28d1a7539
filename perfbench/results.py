"""Operation log and result assembly shared by the workloads."""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def declared_metrics(trace: bool) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool = True
    note: str = ""


@dataclass
class OpLog:
    """Every measured operation of a run, in order. ``planned`` holds the
    operations the run still intends to make; the watchdog counts them as
    failed when it ends the run early."""

    ops: list[Op] = field(default_factory=list)
    planned: list[str] = field(default_factory=list)

    def run(self, dog, name: str, timeout: float, fn, *a, **kw):
        """Run ``fn`` as one guarded, timed operation; returns its result
        (None if it raised, which counts the operation as failed)."""
        if name in self.planned:
            self.planned.remove(name)
        with dog.guard(name, timeout):
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            except Exception as e:  # a failed operation is a measurement, not a crash
                self.ops.append(Op(name, time.perf_counter() - t0, False, repr(e)[:300]))
                return None
            self.ops.append(Op(name, time.perf_counter() - t0))
        return out

    def fail(self, name: str, note: str) -> None:
        for op in self.ops:
            if op.name == name and op.ok:
                op.ok = False
                op.note = note
                return

    @property
    def failed(self) -> int:
        return sum(not op.ok for op in self.ops)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def live_heap_mb(spark, max_rounds: int = 8) -> float:
    """Driver JVM heap in use after full GCs: what the program keeps alive
    (cached data, broadcasts, status), not garbage or blocks still being
    removed. Python's collector runs first so dropped py4j references
    release their JVM objects; the JVM then collects, with pauses for the
    asynchronous clean-up of unpersisted blocks, until a reading no longer
    drops, and the lowest reading is reported."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    best = float("inf")
    for _ in range(max_rounds):
        jvm.System.gc()
        mb = (rt.totalMemory() - rt.freeMemory()) / float(1 << 20)
        if mb > best - 1.0:
            return min(best, mb)
        best = mb
        time.sleep(0.5)
    return best


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def zero_fill(values: dict, trace: bool, absent) -> None:
    """Layers that do not run on a workload report 0 for their per-layer
    metrics; ``absent(name)`` tells which metrics those are."""
    for name in declared_metrics(trace):
        if absent(name):
            values.setdefault(name, 0.0)


def result(log: OpLog, checked: bool, values: dict[str, float], trace: bool) -> dict:
    """The JSON result line. ``checked`` is False when outputs could not
    all be verified (a stall or a failed operation)."""
    units = declared_metrics(trace)
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": bool(checked and log.failed == 0),
        "attempted": len(log.ops),
        "failed": log.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def stall_result(log: OpLog, name: str, values: dict[str, float], trace: bool) -> dict:
    """Result when the watchdog ends the run during ``name``: that
    operation and every planned one not yet run count as failed."""
    rest = [n for n in log.planned if n != name]
    units = declared_metrics(trace)
    return {
        "correct": False,
        "attempted": len(log.ops) + 1 + len(rest),
        "failed": log.failed + 1 + len(rest),
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
