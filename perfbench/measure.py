"""Pure measurement helpers: percentiles, spans and self times, and the
per-op Spark status-store deltas folded into per-layer metrics.

Nothing here touches Spark or the clock except ``Tracer``, which reads
``time.perf_counter``; the functions are unit-tested directly.
"""

from __future__ import annotations

import contextlib
import math
import statistics
import time

MIN_BEYOND = 10   # samples required beyond a reported percentile


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def supports_percentile(n: int, q: float) -> bool:
    """True when a sample of ``n`` has at least ``MIN_BEYOND`` values
    beyond its ``q`` percentile (p90 needs 100 samples, p99 1000)."""
    return n - math.ceil(q * n) >= MIN_BEYOND


def median(values) -> float:
    return statistics.median(values)


def core_busy_share(task_run_s: float, wall_s: float, cores: int) -> float:
    """Share of the task slots kept busy: Σ task run time ÷ (wall × cores).
    A low share means the driver or the scheduler is the bottleneck."""
    if wall_s <= 0 or cores <= 0:
        raise ValueError("core_busy_share needs a positive wall time and "
                         "core count")
    return task_run_s / (wall_s * cores)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its
    interval that its children cover (overlapping children count once,
    and a child running past its parent is clipped to the parent)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Σ self time per span name."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


class Tracer:
    """In-memory span recorder. Spans nest by call order on the one
    client thread; spans of one op share its ``op`` id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "parent": parent["id"] if parent else None,
               "name": name, "op": op if op is not None else
               (parent["op"] if parent else None),
               "start": time.perf_counter(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


class NullTracer:
    """Tracing off: the same interface, recording nothing."""

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        yield None


# Stage fields read from the status store for every stage of an op.
STAGE_FIELDS = {
    "executorRunTime": "run_ms", "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms", "inputBytes": "input_bytes",
    "inputRecords": "input_records", "shuffleWriteBytes": "shuffle_write",
    "shuffleReadBytes": "shuffle_read", "shuffleFetchWaitTime": "fetch_ms",
    "memoryBytesSpilled": "spill_mem", "diskBytesSpilled": "spill_disk",
    "numTasks": "tasks", "numFailedTasks": "failed_tasks",
}


def fold_stages(stages: list[dict]) -> dict:
    """Sum one op's stage records (``STAGE_FIELDS`` values plus
    ``skipped``) into the op's execution delta."""
    out = {v: 0 for v in STAGE_FIELDS.values()}
    out["stages"] = len(stages)
    out["skipped"] = sum(1 for s in stages if s.get("skipped"))
    for s in stages:
        if s.get("skipped"):
            continue
        for k in STAGE_FIELDS.values():
            out[k] += s.get(k, 0)
    return out


def exec_metrics(deltas: list[dict], op_wall_s: list[float],
                 cores: int) -> dict[str, float]:
    """``exec.*`` per-layer metrics from the per-op status-store deltas
    (each delta is ``fold_stages`` output plus ``jobs``)."""
    n = len(deltas)
    if n == 0:
        raise ValueError("exec_metrics needs at least one op")
    tot = {k: sum(d[k] for d in deltas) for k in deltas[0]}
    run_s = tot["run_ms"] / 1e3
    return {
        "exec.jobs_per_op": tot["jobs"] / n,
        "exec.stages_per_op": tot["stages"] / n,
        "exec.tasks_per_op": tot["tasks"] / n,
        "exec.task_run_s_per_op": run_s / n,
        "exec.task_cpu_s_per_op": tot["cpu_ns"] / 1e9 / n,
        "exec.core_busy_share": core_busy_share(run_s, sum(op_wall_s), cores),
        "exec.gc_s_per_op": tot["gc_ms"] / 1e3 / n,
        "exec.spill_bytes_per_op": (tot["spill_mem"] + tot["spill_disk"]) / n,
        "exec.shuffle_write_bytes_per_op": tot["shuffle_write"] / n,
        "exec.shuffle_read_bytes_per_op": tot["shuffle_read"] / n,
        "exec.shuffle_fetch_wait_s_per_op": tot["fetch_ms"] / 1e3 / n,
        "exec.stage_reuse_share": (tot["skipped"] / tot["stages"]
                                   if tot["stages"] else 0.0),
        "exec.failed_tasks": float(tot["failed_tasks"]),
        "sources.input_bytes_per_op": tot["input_bytes"] / n,
        "sources.input_records_per_op": tot["input_records"] / n,
    }
