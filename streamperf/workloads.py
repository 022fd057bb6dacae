"""The three workloads: inputs, the query each runs through the engine's
public streaming surface, and an independent check of every sink.

Why each exists, with probe numbers, is in ``NOTES.md``.
"""

from __future__ import annotations

import glob
import os
import time
from collections import defaultdict

import numpy as np
import pyarrow.parquet as pq

from streamperf import gen, iosim
from streamperf.measure import Tracer, progress_end_ms

TASKS_PER_FILE = 10_000  # SubscriptionConfig.max_pending_records' default
N_KEYS = 10_000
BLOCKLIST = ["2", "9"]
QUOTA_PER_S = 20.0  # per key, over the 10 s shaping window: 200 tasks
QUOTA_WINDOW_MS = 10_000
LINGER_MS = 3_600_000
RETRY_BACKOFF_MS = 100
MALFORMED_P = 0.01
FAIL_P = 0.05


def read_sink(path: str, columns: list[str]) -> dict[int, dict]:
    """Committed batches of an ``idempotent_parquet_sink``: batch id to
    columns (numpy arrays)."""
    out = {}
    for d in glob.glob(os.path.join(path, "batch_id=*")):
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            continue
        bid = int(d.rsplit("=", 1)[1])
        parts = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
        tables = [pq.read_table(p, columns=columns) for p in parts]
        out[bid] = {
            c: np.concatenate([t.column(c).to_numpy(zero_copy_only=False) for t in tables])
            if tables else np.array([])
            for c in columns
        }
        out[bid]["_bytes"] = sum(os.path.getsize(p) for p in parts)
    return out


def count_failed(expected: dict, got: dict[int, list]) -> int:
    """Tasks whose sink rows are not exactly their one expected row:
    lost, duplicated, misrouted, out of order or altered."""
    bad = sum(1 for o, rows in got.items() if rows != [expected.get(o)])
    return bad + sum(1 for o in expected if o not in got)


class Workload:
    """One workload run: ``prepare`` writes inputs before set-up starts,
    ``start`` builds and starts the query, ``drive`` runs it to the end
    of the window, ``check`` reads every sink back."""

    name = ""
    warmup = 0
    batches_per_s = 1.0  # nominal pace that turns --seconds into a batch count
    min_measured = 4

    def __init__(self, work: str, seed: int, seconds: int, trace: bool) -> None:
        self.work, self.seed, self.trace = work, seed, trace
        measured = max(self.min_measured, round(seconds * self.batches_per_s))
        # a traced run measures three half-size windows: untraced, traced, untraced
        self.windows = 3 if trace else 1
        self.measured = -(-measured // 2) if trace else measured
        self.tracer = Tracer()
        self.src = os.path.join(work, "src")
        self.ckpt = os.path.join(work, "ckpt")

    @property
    def total_batches(self) -> int:
        return 1 + self.warmup + self.windows * self.measured

    def window_ids(self, w: int) -> list[int]:
        first = 1 + self.warmup + w * self.measured
        return list(range(first, first + self.measured))

    def sink_path(self, name: str) -> str:
        return os.path.join(self.work, "out", name)

    def _trace_batch(self, fn):
        """``fn(df, batch_id)`` that first makes its batch the current
        trace; the tracer records only in the traced window."""
        traced = set(self.window_ids(1)) if self.trace else set()

        def wrapped(df, batch_id):
            self.tracer.enabled = batch_id in traced
            self.tracer.current = batch_id
            return fn(df, batch_id)

        return wrapped



class BacklogWorkload(Workload):
    """A fixed backlog, one file per batch, drained with ``availableNow``."""

    gen_args: dict = {}

    def prepare(self) -> None:
        t0 = time.time() * 1000.0
        self.truths = gen.write_backlog(
            self.src, self.seed, self.name, self.total_batches, TASKS_PER_FILE, N_KEYS,
            **self.gen_args,
        )
        self.tracer.add(("backlog", 0), "writer.backlog", "generator", t0, time.time() * 1000.0)

    @property
    def files_written(self) -> int:
        return self.total_batches

    def stream(self, spark):
        return (
            spark.readStream.schema(gen.TASK_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )

    def drive(self, query, timeout_s: float) -> None:
        if not query.awaitTermination(timeout_s):
            query.stop()
            raise TimeoutError(f"{self.name}: backlog not drained in {timeout_s:.0f} s")
        if query.exception() is not None:
            raise RuntimeError(f"{self.name}: query failed: {query.exception()}")


class DrainTopology(BacklogWorkload):
    """Blocklist, invalid-payload discard, per-key quota split, retry
    split and compaction, through one metered Subscription into three
    sinks."""

    name = "drain_topology"
    warmup = 8
    batches_per_s = 0.5
    gen_args = {"malformed_p": MALFORMED_P, "fail_p": FAIL_P}
    SINKS = ("main", "retry", "shaping")

    def start(self, spark):
        from pyspark.sql import functions as F

        from decaton_spark.meters import Metrics
        from decaton_spark.operators import (
            Pipeline, compact_tasks, discard_invalid, ignore_keys, split_retry, split_shaping,
        )
        from decaton_spark.streaming.subscription import (
            Subscription, SubscriptionConfig, idempotent_parquet_sink,
        )

        span = self.tracer.wrap if self.trace else (lambda fn, name, layer: fn)
        blocklist = span(lambda df: ignore_keys(df, BLOCKLIST), "ignore_keys", "operators")
        # Spark 4.1's from_json keeps malformed JSON as a non-null struct,
        # so payloads parse as a map, which does come back null.
        discard = span(
            lambda df: discard_invalid(df, payload_schema="MAP<STRING, STRING>"),
            "discard_invalid", "operators",
        )
        pipeline = Pipeline().then_process(blocklist, "ignore_keys").then_process(discard, "discard_invalid")
        if self.trace:
            pipeline.apply = span(pipeline.apply, "Pipeline.apply", "operators")
        shaping = span(split_shaping, "split_shaping", "operators")
        retrying = span(split_retry, "split_retry", "operators")
        compact = span(compact_tasks, "compact_tasks", "operators")
        sinks = {n: span(idempotent_parquet_sink(self.sink_path(n)), f"sink.{n}", "sinks") for n in self.SINKS}

        def process(df, batch_id):
            to_process, to_shape = shaping(df, QUOTA_PER_S)
            ok, to_retry = retrying(
                to_process, F.col("payload")["fail"] == "1", backoff_millis=RETRY_BACKOFF_MS
            )
            sinks["main"](compact(ok), batch_id)
            sinks["retry"](to_retry, batch_id)
            sinks["shaping"](to_shape, batch_id)

        self.metrics = Metrics()
        self.sub = Subscription(
            spark, self.stream(spark), pipeline=pipeline,
            process_fn=span(process, "process_fn", "subscription"),
            config=SubscriptionConfig(checkpoint_location=self.ckpt),
            meters=self.metrics,
        )
        if self.trace:
            self.sub._foreach_batch = self._trace_batch(
                span(self.sub._foreach_batch, "foreachBatch", "subscription")
            )
        return self.sub.start("streamperf-drain-topology")

    def model(self, b: int, truth: dict) -> dict:
        """Independent model of the topology on one file: offset to
        ``(batch, sink, fields)`` for every task a sink should hold."""
        keys, offs, ts = truth["key"], truth["offset"], truth["ts"]
        keep = ~np.isin(keys, BLOCKLIST) & ~truth["malformed"]
        per_window = defaultdict(int)
        for k, t in zip(keys[keep], ts[keep]):
            per_window[(k, t // QUOTA_WINDOW_MS)] += 1
        out, survivors = {}, {}
        for k, o, t, f in zip(keys[keep], offs[keep], ts[keep], truth["fail"][keep]):
            o, t = int(o), int(t)
            if per_window[(k, t // QUOTA_WINDOW_MS)] / (QUOTA_WINDOW_MS / 1000) >= QUOTA_PER_S:
                out[o] = (b, "shaping", (gen.TOPIC + "-shaping",))
            elif f:
                out[o] = (b, "retry", (1, t + RETRY_BACKOFF_MS, gen.TOPIC + "-retry"))
            else:
                slot = (k, t // LINGER_MS)
                if slot not in survivors or (t, o) > survivors[slot]:
                    survivors[slot] = (t, o)
        for _, o in survivors.values():
            out[o] = (b, "main", ())
        return out

    def check(self) -> dict:
        expected = {}
        for b, truth in enumerate(self.truths):
            expected.update(self.model(b, truth))
        got = defaultdict(list)
        cols = {
            "main": ["offset"],
            "retry": ["offset", "meta_retry_count", "meta_scheduled_time_millis", "topic"],
            "shaping": ["offset", "topic"],
        }
        committed, sink_bytes = defaultdict(int), defaultdict(int)
        for sink, names in cols.items():
            for bid, c in read_sink(self.sink_path(sink), names).items():
                committed[bid] += 1
                sink_bytes[bid] += c["_bytes"]
                fields = list(zip(*(c[n].tolist() for n in names[1:]))) or [()] * len(c["offset"])
                for o, rest in zip(c["offset"].tolist(), fields):
                    got[o].append((bid, sink, tuple(rest)))
        # a batch counts as delivered once all three of its sink partitions committed
        sizes = [len(t["offset"]) for t in self.truths]
        delivered = {b: sizes[b] for b, n in committed.items() if n == len(self.SINKS)}
        return {
            "attempted": sum(sizes),
            "failed": count_failed(expected, got)
            + sum(n for b, n in enumerate(sizes) if b not in delivered),
            "delivered": delivered,
            "sink_bytes": sink_bytes,
        }


class KeyedOrdered(BacklogWorkload):
    """Per-key ordered processing through ``ordered_process`` into one
    sink. ``Subscription.start`` hard-codes ``outputMode("update")``,
    which Spark rejects for this operator, so the query is started with
    ``writeStream.foreachBatch`` directly."""

    name = "keyed_ordered"
    warmup = 1
    batches_per_s = 0.5

    def start(self, spark):
        from decaton_spark.streaming.stateful import ordered_process
        from decaton_spark.streaming.subscription import idempotent_parquet_sink

        sink = idempotent_parquet_sink(self.sink_path("ordered"))
        if self.trace:
            sink = self._trace_batch(self.tracer.wrap(sink, "sink.ordered", "sinks"))
        return (
            ordered_process(self.stream(spark))
            .writeStream.queryName("streamperf-keyed-ordered")
            .foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def check(self) -> dict:
        """Decaton's processing guarantees: every task exactly once, in
        its key's order, with the previous offset of its key."""
        expected, last = {}, {}
        for b, truth in enumerate(self.truths):
            for k, o in zip(truth["key"].tolist(), truth["offset"].tolist()):
                expected[o] = (b, k, last.get(k, -1), False)
                last[k] = o
        got = defaultdict(list)
        delivered = {}
        rows = read_sink(self.sink_path("ordered"), ["key", "offset", "prev_offset", "regressed"])
        for bid, c in rows.items():
            delivered[bid] = len(c["offset"])
            for k, o, p, r in zip(c["key"].tolist(), c["offset"].tolist(),
                                  c["prev_offset"].tolist(), c["regressed"].tolist()):
                got[o].append((bid, k, p, r))
        return {
            "attempted": len(expected),
            "failed": count_failed(expected, got),
            "delivered": delivered,
            "sink_bytes": {b: c["_bytes"] for b, c in rows.items()},
        }


class OpenLoopIO(Workload):
    """Decaton's benchmark task offered at a constant rate by a writer on
    a fixed schedule, through a metered Subscription triggered as soon
    as possible, into one ``mapInPandas`` I/O stage and one sink."""

    name = "open_loop_io"
    warmup = 20
    batches_per_s = 2.5
    min_measured = 20
    RATE = 1000.0  # tasks/s
    TICK_S = 0.1

    def prepare(self) -> None:
        self.writer = gen.OpenLoopWriter(self.src, self.seed, self.RATE, self.TICK_S, self.tracer)

    def start(self, spark):
        from decaton_spark.meters import Metrics
        from decaton_spark.streaming.subscription import (
            Subscription, SubscriptionConfig, idempotent_parquet_sink,
        )

        span = self.tracer.wrap if self.trace else (lambda fn, name, layer: fn)
        sink = span(idempotent_parquet_sink(self.sink_path("io")), "sink.io", "sinks")

        def process(df, batch_id):
            sink(df.mapInPandas(iosim.process, iosim.OUT_DDL), batch_id)

        stream = spark.readStream.schema(gen.IO_DDL).parquet(self.src)
        self.metrics = Metrics()
        self.sub = Subscription(
            spark, stream, process_fn=span(process, "process_fn", "subscription"),
            config=SubscriptionConfig(
                checkpoint_location=self.ckpt, trigger={"processingTime": "0 seconds"}
            ),
            meters=self.metrics,
        )
        if self.trace:
            self.sub._foreach_batch = self._trace_batch(
                span(self.sub._foreach_batch, "foreachBatch", "subscription")
            )
        self.writer.start()
        return self.sub.start("streamperf-open-loop-io")

    def drive(self, query, timeout_s: float) -> None:
        deadline = time.monotonic() + timeout_s
        last = self.total_batches - 1
        try:
            while True:
                p = query.lastProgress
                if p is not None and p["batchId"] >= last and "addBatch" in p["durationMs"]:
                    break
                if query.exception() is not None:
                    raise RuntimeError(f"{self.name}: query failed: {query.exception()}")
                if time.monotonic() > deadline:
                    raise TimeoutError(f"{self.name}: {last + 1} batches not done in {timeout_s:.0f} s")
                time.sleep(0.05)
        finally:
            self.writer.stop()
        query.processAllAvailable()
        query.stop()

    def check(self) -> dict:
        rows = read_sink(self.sink_path("io"), ["offset", "produced_us", "io_wall_ms", "io_floor_ms"])
        expected = {o: o for o in range(self.writer.tasks_written)}
        got = defaultdict(list)
        delivered, self.produced_us, self.io = {}, {}, {}
        for bid, c in rows.items():
            delivered[bid] = len(c["offset"])
            self.produced_us[bid] = c["produced_us"]
            # one row per task carries its chunk's wall and floor; weight by task
            self.io[bid] = (float(c["io_floor_ms"].sum()), float(c["io_wall_ms"].sum()))
            for o in c["offset"].tolist():
                got[o].append(o)
        return {
            "attempted": len(expected),
            "failed": count_failed(expected, got),
            "delivered": delivered,
            "sink_bytes": {b: c["_bytes"] for b, c in rows.items()},
        }

    @property
    def files_written(self) -> int:
        # only files written while tracing have spans
        return sum(1 for s in self.tracer.spans if s["layer"] == "generator")

    def layer_extras(self, obs, chk, batches: list[int]) -> dict:
        prog = obs["progress"]
        ends = sorted((progress_end_ms(prog[b]), chk["delivered"].get(b, 0)) for b in prog)
        backlog, done, i = 0, 0, 0
        for k, _, written_ms in self.writer.writes:
            while i < len(ends) and ends[i][0] <= written_ms:
                done += ends[i][1]
                i += 1
            backlog = max(backlog, (k + 1) * self.writer.per_file - done)
        floor = sum(self.io[b][0] for b in batches if b in self.io)
        wall = sum(self.io[b][1] for b in batches if b in self.io)
        return {
            "io.slot_efficiency": floor / wall if wall else 0.0,
            "generator.late_ms_max": max(w - d for _, d, w in self.writer.writes),
            "generator.backlog_tasks_max": backlog,
        }

    def latencies(self, progress_by_batch: dict, batches: list[int]) -> dict[int, list[float]]:
        """Per batch: each task's time from its scheduled send to the end
        of the batch that committed it."""
        out = {}
        for b in batches:
            end = progress_end_ms(progress_by_batch[b])
            out[b] = (end - (self.writer.t0_ms + self.produced_us.get(b, np.array([])) / 1000.0)).tolist()
        return out


WORKLOADS = {w.name: w for w in (DrainTopology, KeyedOrdered, OpenLoopIO)}
