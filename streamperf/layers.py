"""Per-layer metrics of a traced run.

A traced run measures three windows after warm-up: untraced, traced,
untraced. Metrics from progress reports and the status store come from
the two untraced windows; metrics from spans come from the traced one;
``trace.overhead_ms`` compares the two.
"""

from __future__ import annotations

import json
import os

from streamperf import measure
from streamperf.measure import median

SELF_LAYERS = ("engine", "sources", "planning", "checkpoint", "process",
               "subscription", "operators", "sinks")


def batch_spans(wl, prog: dict, traced: list[int]) -> list[dict]:
    """The traced batches' spans: the batch with its progress phases as
    children, and the benchmark's own spans under the addBatch phase."""
    spans: list[dict] = []
    add_batch = {}
    for b in traced:
        p = prog[b]
        spans.append({"trace": b, "name": "batch", "layer": "engine",
                      "start": measure.progress_start_ms(p), "end": measure.progress_end_ms(p),
                      "parent": None})
        root = len(spans) - 1
        for name, start, end in measure.phase_spans(p):
            spans.append({"trace": b, "name": name, "layer": measure.PHASE_LAYER[name],
                          "start": start, "end": end, "parent": root})
            if name == "addBatch":
                add_batch[b] = len(spans) - 1
    base = len(spans)
    for s in wl.tracer.spans:
        s = dict(s)
        if s["parent"] is not None:
            s["parent"] += base
        elif s["trace"] in add_batch:
            s["parent"] = add_batch[s["trace"]]
        spans.append(s)
    return spans


def _per_batch(spans, traced, pick) -> list[float]:
    out = {b: 0.0 for b in traced}
    for s in spans:
        if s["trace"] in out and pick(s):
            out[s["trace"]] += s["end"] - s["start"]
    return list(out.values())


def per_layer(wl, obs, chk, windows, drift, root) -> dict:
    prog = obs["progress"]
    untraced, traced = windows[0] + windows[2], windows[1]
    tasks = sum(chk["delivered"].get(b, 0) for b in untraced) or 1
    dur = lambda ids, k: [prog[b]["durationMs"].get(k, 0) for b in ids]  # noqa: E731
    jobs = obs["jobs"]
    spans = batch_spans(wl, prog, traced)
    selfs = measure.self_times(spans)
    add_batch = {b: prog[b]["durationMs"].get("addBatch", 0) for b in traced}
    inner = _per_batch(spans, traced, lambda s: s["name"] in ("process_fn", "Pipeline.apply"))
    has_sub = any(s["name"] == "foreachBatch" for s in wl.tracer.spans)
    top_ops = [s for s in spans if s["layer"] == "operators"
               and (s["parent"] is None or spans[s["parent"]]["layer"] != "operators")]
    ops = _per_batch(top_ops, traced, lambda s: True)
    sinks = _per_batch(spans, traced, lambda s: s["layer"] == "sinks")
    trig = {w: median(dur(windows[w], "triggerExecution")) for w in range(3)}
    cpus = obs["cpus"]
    gen_self = selfs.get("generator", {})
    out = {
        "session.get_spark_s": obs["get_spark_s"],
        "session.first_batch_s": (measure.progress_end_ms(prog[0]) - obs["t0_ms"]) / 1000.0 - obs["get_spark_s"],
        "session.peak_rss_mb": obs["peak_rss_mb"],
        "sources.input_rows_per_task": sum(prog[b]["numInputRows"] for b in untraced) / tasks,
        "sources.latest_offset_ms": median(dur(untraced, "latestOffset")),
        "sources.get_batch_ms": median(dur(untraced, "getBatch")),
        "planning.query_planning_ms": median(dur(untraced, "queryPlanning")),
        "engine.trigger_ms_p50": median(dur(untraced, "triggerExecution")),
        "engine.window_drift": drift,
        "subscription.self_ms": median([add_batch[b] - x for b, x in zip(traced, inner)]) if has_sub else 0.0,
        "operators.construct_ms": median(ops),
        "process.jobs_per_batch": median([jobs[b]["jobs"] for b in untraced]),
        "process.stages_per_batch": median([jobs[b]["stages"] for b in untraced]),
        "process.shuffle_write_bytes_per_task": sum(jobs[b]["shuffle_write"] for b in untraced) / tasks,
        "process.executor_busy_frac": sum(jobs[b]["run_ms"] for b in untraced)
        / max(1.0, cpus * sum(dur(untraced, "addBatch"))),
        "process.gc_ms_per_batch": median([jobs[b]["gc_ms"] for b in untraced]),
        "sinks.write_ms": median(sinks),
        "sinks.bytes_per_task": sum(chk["sink_bytes"].get(b, 0) for b in untraced) / tasks,
        "stateful.update_ms": median([measure.state_ops(prog[b])["allUpdatesTimeMs"] for b in untraced]),
        "stateful.commit_ms": median([measure.state_ops(prog[b])["commitTimeMs"] for b in untraced]),
        "stateful.rows_total": obs["state_last"]["numRowsTotal"],
        "stateful.memory_bytes": obs["state_last"]["memoryUsedBytes"],
        "checkpoint.wal_ms": median(dur(untraced, "walCommit")),
        "checkpoint.commit_offsets_ms": median(dur(untraced, "commitOffsets")),
        "meters.scrape_ms": obs.get("scrape_ms", 0.0),
        "trace.overhead_ms": trig[1] - (trig[0] + trig[2]) / 2,
    }
    for layer in SELF_LAYERS:
        per = selfs.get(layer, {})
        out[f"self.{layer}_ms"] = median([per.get(b, 0.0) for b in traced])
    # the generator's spans are per file written, not per batch
    out["self.generator_ms"] = sum(gen_self.values()) / max(1, wl.files_written)
    out.update(wl.layer_extras(obs, chk, traced) if hasattr(wl, "layer_extras") else {})
    write_trace(root, wl, spans, selfs)
    return {k: {"value": float(v), "unit": unit_of(k)} for k, v in out.items()}


UNITS = {
    "session.get_spark_s": "s", "session.first_batch_s": "s", "session.peak_rss_mb": "MB",
    "sources.input_rows_per_task": "rows/task", "process.jobs_per_batch": "jobs/batch",
    "process.stages_per_batch": "stages/batch", "process.shuffle_write_bytes_per_task": "bytes/task",
    "process.executor_busy_frac": "fraction", "sinks.bytes_per_task": "bytes/task",
    "stateful.rows_total": "rows", "stateful.memory_bytes": "bytes", "engine.window_drift": "ratio",
    "io.slot_efficiency": "fraction", "generator.backlog_tasks_max": "tasks",
}


def unit_of(name: str) -> str:
    return UNITS.get(name, "ms")


def write_trace(root, wl, spans, selfs) -> None:
    """Spans and per-layer self time, written when the run ends."""
    d = os.path.join(root, ".streamperf", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{wl.name}-seed{wl.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": spans,
                   "self_ms": {k: {str(t): v for t, v in per.items()} for k, per in selfs.items()}},
                  f, default=str)
