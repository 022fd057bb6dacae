"""Streaming task-path benchmark for decaton_spark.

    python3 streamperf/run.py --workload drain_topology --seed 1 --seconds 16 --trace 0

Each run is one fresh process: it generates the workload's seeded
inputs, sets up a cold session with ``get_spark``, runs the query to the
end of a measured window counted in batches, checks every sink against
the generator's record, and prints one JSON result as its last line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Everything it writes stays under ``.streamperf/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4
DRIVER_MEM = "2g"
RUN_TIMEOUT_S = 150.0
DRIFT_BAND = (0.9, 1.1)
STEAL_WARN = 0.02  # runs with more steal than this were measurably slower


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the engine writes inside the checkout, and let the
    Python workers import the engine and this package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def execute(wl) -> dict:
    """Set up, run and tear down one workload; returns raw observations."""
    from streamperf import measure

    wl.prepare()
    t0 = time.time()
    from decaton_spark.session import get_spark

    spark = get_spark("streamperf", cpus=CPUS)
    obs = {"get_spark_s": time.time() - t0, "t0_ms": t0 * 1000.0, "cpus": CPUS}
    try:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        query = wl.start(spark)
        wl.drive(query, RUN_TIMEOUT_S - (time.time() - t0))
        progress = [json.loads(p.json) for p in query.recentProgress]
        obs["progress"] = {
            b: p for b, p in measure.by_batch(progress).items() if "addBatch" in p["durationMs"]
        }
        last = obs["progress"].get(wl.total_batches - 1) or {}
        state = measure.state_ops(last)
        provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "") or ""
        offheap = state["memoryUsedBytes"] if "RocksDB" in provider else 0
        obs["memory"] = measure.retained_mb(spark, offheap)
        obs["state_last"] = state
        if wl.trace:
            obs["jobs"] = measure.batch_job_stats(spark, set(obs["progress"]))
            obs["peak_rss_mb"] = measure.peak_rss_mb(spark)
            if getattr(wl, "metrics", None) is not None:
                from decaton_spark.meters import scrape

                s0 = time.perf_counter()
                scrape(wl.metrics.registry)
                obs["scrape_ms"] = (time.perf_counter() - s0) * 1000.0
    finally:
        stop_spark(spark)
    return obs


def metric(value, unit):
    return {"value": float(value), "unit": unit}


def end_to_end(wl, obs, chk, ids) -> dict:
    from streamperf import measure

    prog = obs["progress"]
    anchor = ids[0] - 1
    wall_s = (measure.progress_end_ms(prog[ids[-1]]) - measure.progress_end_ms(prog[anchor])) / 1000.0
    delivered = sum(chk["delivered"].get(b, 0) for b in ids)
    setup_s = (measure.progress_end_ms(prog[0]) - obs["t0_ms"]) / 1000.0
    out = {
        "setup_s": metric(setup_s, "s"),
        "tasks_per_s": metric(delivered / wall_s, "tasks/s"),
        "retained_mb": metric(obs["memory"]["retained_mb"], "MB"),
    }
    if hasattr(wl, "latencies"):
        # open loop only: on a backlog, latency is just the drain time
        lat = wl.latencies(prog, ids)
        for q in (0.5, 0.9):
            v = measure.batch_percentile(lat, q)
            if v is None:
                print(f"PROBLEM: {len(ids)} batches are too few for p{round(q * 100)}")
            else:
                out[f"task_latency_ms_p{round(q * 100)}"] = metric(v, "ms")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "decaton_spark")):
        print(f"streamperf: no decaton_spark package under {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from streamperf import measure
    from streamperf.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"streamperf: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".streamperf", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    host_before = measure.host_state()
    wl = WORKLOADS[args.workload](work, args.seed, args.seconds, bool(args.trace))
    try:
        obs = execute(wl)
        chk = wl.check()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host_after = measure.host_state()
    steal = measure.steal_frac(host_before, host_after)
    print("host", json.dumps({"before": host_before, "after": host_after, "steal_frac": steal}))
    if steal > STEAL_WARN:
        print(f"PROBLEM: {steal:.1%} of CPU time was stolen by other tenants: the host was contended")

    windows = [wl.window_ids(w) for w in range(wl.windows)]
    prog = obs["progress"]
    missing = [b for b in range(wl.total_batches) if b not in prog]
    if missing:
        print(f"PROBLEM: batches {missing[:5]} have no progress report", flush=True)
        return 1
    trig = [prog[b]["durationMs"]["triggerExecution"] for w in windows for b in w]
    drift = measure.window_drift(trig)
    print(f"engine.window_drift {drift:.4f} over {len(trig)} batches; trigger ms by batch:",
          [prog[b]["durationMs"]["triggerExecution"] for b in range(wl.total_batches)])
    if not DRIFT_BAND[0] <= drift <= DRIFT_BAND[1]:
        print(f"PROBLEM: engine.window_drift {drift:.3f} is outside {DRIFT_BAND}: the window is not warm")
    print("memory", json.dumps(obs["memory"]))
    if chk["failed"]:
        print(f"PROBLEM: {chk['failed']} of {chk['attempted']} tasks failed the output check")

    if args.trace:
        from streamperf.layers import per_layer

        metrics = per_layer(wl, obs, chk, windows, drift, ROOT)
    else:
        metrics = end_to_end(wl, obs, chk, windows[0])
    print(json.dumps({
        "correct": chk["failed"] == 0,
        "attempted": chk["attempted"],
        "failed": chk["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
