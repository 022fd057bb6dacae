"""Measurement helpers: percentiles, progress phases, the status store,
memory, host state and in-memory spans.

Everything here observes the engine from outside: Structured Streaming
progress reports (``durationMs``, ``stateOperators``), Spark's status
store, ``/proc`` and timers around public calls.
"""

from __future__ import annotations

import contextlib
import datetime
import math
import os
import statistics
import threading
import time

# Progress phases in the order MicroBatchExecution runs them: the offset
# log (walCommit) is written before the batch runs, the commit log
# (commitOffsets) after it.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
PHASE_LAYER = {
    "latestOffset": "sources",
    "getBatch": "sources",
    "queryPlanning": "planning",
    "addBatch": "process",
    "walCommit": "checkpoint",
    "commitOffsets": "checkpoint",
}


# -- percentiles -------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def nearest_rank(values, q: float) -> float:
    s = sorted(values)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def batch_percentile(per_batch: dict[int, list[float]], q: float):
    """Percentile ``q`` of task values grouped by batch, or None.

    Tasks of one batch share its end time, so the support of a
    percentile is counted in batches: at least ten batches must lie
    beyond it, so p50 needs 20 batches and p90 needs 100.
    """
    batches = [b for b, v in per_batch.items() if v]
    if len(batches) * (1 - q) < 10 - 1e-9:
        return None
    return nearest_rank([x for b in batches for x in per_batch[b]], q)


def window_drift(values: list[float]) -> float:
    """Median of the second half of a window over that of the first
    half: about 1.0 when the query is warm, below 1.0 while warming."""
    h = len(values) // 2
    if h == 0:
        return 1.0
    first, second = median(values[:h]), median(values[-h:])
    return second / first if first else 1.0


# -- progress ---------------------------------------------------------------


def progress_start_ms(p: dict) -> float:
    dt = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    return dt.timestamp() * 1000.0


def progress_end_ms(p: dict) -> float:
    return progress_start_ms(p) + p["durationMs"].get("triggerExecution", 0)


def by_batch(progress: list[dict]) -> dict[int, dict]:
    """Last progress report per batch id (a batch reports once)."""
    return {p["batchId"]: p for p in progress}


def phase_spans(p: dict) -> list[tuple[str, float, float]]:
    """The batch's phases laid end to end from its start, in run order."""
    t = progress_start_ms(p)
    out = []
    for name in PHASES:
        ms = p["durationMs"].get(name)
        if ms is not None:
            out.append((name, t, t + ms))
            t += ms
    return out


def state_ops(p: dict) -> dict:
    ops = p.get("stateOperators") or []
    keys = ("allUpdatesTimeMs", "commitTimeMs", "numRowsTotal", "memoryUsedBytes")
    return {k: sum(o.get(k, 0) or 0 for o in ops) for k in keys}


# -- status store -----------------------------------------------------------


def batch_job_stats(spark, batch_ids: set[int]) -> dict[int, dict]:
    """Jobs, stages and task metrics of each streaming batch, from the
    live status store (populated with the UI off). A job belongs to the
    batch its description names (``batch = N``)."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = {b: {"jobs": 0, "stages": 0, "run_ms": 0, "gc_ms": 0, "shuffle_write": 0} for b in batch_ids}
    it = jobs.iterator()
    while it.hasNext():
        job = it.next()
        desc = job.description()
        desc = desc.get() if desc.isDefined() else ""
        bid = _batch_of(desc)
        if bid not in out:
            continue
        rec = out[bid]
        rec["jobs"] += 1
        sit = job.stageIds().iterator()
        while sit.hasNext():
            sid = sit.next()
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if str(stage.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["run_ms"] += stage.executorRunTime()
            rec["gc_ms"] += stage.jvmGcTime()
            rec["shuffle_write"] += stage.shuffleWriteBytes()
    return out


def _batch_of(desc: str) -> int | None:
    for line in desc.splitlines():
        line = line.strip()
        if line.startswith("batch = "):
            try:
                return int(line[len("batch = "):])
            except ValueError:
                return None
    return None


# -- memory -----------------------------------------------------------------


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def retained_mb(spark, offheap_state_bytes: int) -> dict:
    """Driver heap in use after a full collection, plus the RSS of the
    Python workers under the JVM, plus off-heap state-store memory."""
    jvm = spark._jvm
    # the first collection queues weak and soft references and finalizable
    # objects; the second one frees what they held
    for _ in range(2):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    pid = jvm_pid(spark)
    workers_kb = sum(_status_kb(c, "VmRSS") for c in descendants(pid))
    total = heap / 2**20 + workers_kb / 1024 + offheap_state_bytes / 2**20
    return {"retained_mb": total, "heap_mb": heap / 2**20, "workers_mb": workers_kb / 1024}


def peak_rss_mb(spark) -> float:
    """VmHWM of this process, its JVM and the JVM's descendants."""
    pid = jvm_pid(spark)
    pids = [os.getpid(), pid, *descendants(pid)]
    return sum(_status_kb(p, "VmHWM") for p in set(pids)) / 1024


# -- host state -------------------------------------------------------------


def cpu_canary_ms(rounds: int = 3) -> float:
    """Best-of-three wall of a fixed pure-Python loop: it runs no engine
    code, so it moves only when the host does."""
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def host_state() -> dict:
    steal, total = _cpu_ticks()
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": [float(x) for x in load],
        "steal_ticks": steal,
        "total_ticks": total,
        "canary_ms": round(cpu_canary_ms(), 3),
    }


def steal_frac(before: dict, after: dict) -> float:
    dt = after["total_ticks"] - before["total_ticks"]
    return (after["steal_ticks"] - before["steal_ticks"]) / dt if dt > 0 else 0.0


# -- spans ------------------------------------------------------------------


class Tracer:
    """In-memory spans, recorded only while ``enabled``.

    A span is ``(trace_id, name, layer, start_ms, end_ms, parent)``;
    the trace id is the batch id (the writer file's index for the
    generator). Spans are kept in memory and written when the run ends.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.current = None  # trace id of the batch being served
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()  # the open-loop writer adds from its own thread

    def add(self, trace, name, layer, start_ms, end_ms, parent=None) -> int:
        span = {"trace": trace, "name": name, "layer": layer,
                "start": start_ms, "end": end_ms, "parent": parent}
        with self._lock:
            self.spans.append(span)
            return len(self.spans) - 1

    @contextlib.contextmanager
    def span(self, trace, name, layer):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = self.add(trace, name, layer, time.time() * 1000.0, 0.0, parent)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time() * 1000.0

    def wrap(self, fn, name, layer):
        """``fn`` with a span around each call, in the current trace."""

        def wrapped(*args, **kw):
            with self.span(self.current, name, layer):
                return fn(*args, **kw)

        return wrapped


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per-layer self time of each trace: a span's duration minus the
    part of it that its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, dict] = {}
    for i, s in enumerate(spans):
        covered = _union_within(kids.get(i, []), s["start"], s["end"])
        own = max(0.0, s["end"] - s["start"] - covered)
        layer = out.setdefault(s["layer"], {})
        layer[s["trace"]] = layer.get(s["trace"], 0.0) + own
    return out


def _union_within(ivals, lo, hi) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in ivals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
