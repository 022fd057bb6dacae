"""Seeded task generators: backlog files and the open-loop writer.

Every file is a pure function of ``(seed, workload, file index)``, so the
same seed gives byte-identical parquet. The engine only ever sees the
files; the checkers get the generator's own record of what it wrote.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS_MS = 1_700_000_000_000  # a multiple of 10 s, so windows align to files
TOPIC = "tasks"
ZIPF_S = 1.0

TASK_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("topic", pa.string()),
        ("timestamp", pa.timestamp("ms", tz="UTC")),
        ("meta_timestamp_millis", pa.int64()),
        ("meta_retry_count", pa.int32()),
        ("meta_scheduled_time_millis", pa.int64()),
        ("value", pa.string()),
    ]
)
TASK_DDL = (
    "key STRING, partition INT, offset BIGINT, topic STRING, timestamp TIMESTAMP, "
    "meta_timestamp_millis BIGINT, meta_retry_count INT, "
    "meta_scheduled_time_millis BIGINT, value STRING"
)

IO_SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("offset", pa.int64()),
        ("produced_us", pa.int64()),
        ("process_latency_ms", pa.int32()),
        ("latency_count", pa.int32()),
    ]
)
IO_DDL = "key STRING, offset BIGINT, produced_us BIGINT, process_latency_ms INT, latency_count INT"

WORKLOAD_IDS = {"drain_topology": 1, "keyed_ordered": 2, "open_loop_io": 3}


def rng_for(seed: int, workload: str, index: int) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOAD_IDS[workload], index])


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int) -> np.ndarray:
    """``n`` key ranks in 1..n_keys with P(k) proportional to 1/k."""
    p = 1.0 / np.arange(1, n_keys + 1) ** ZIPF_S
    return rng.choice(np.arange(1, n_keys + 1), size=n, p=p / p.sum())


def task_file(seed: int, workload: str, index: int, n: int, n_keys: int,
              malformed_p: float = 0.0, fail_p: float = 0.0) -> tuple[pa.Table, dict]:
    """One backlog file: ``n`` tasks with offsets ``index*n ..`` and event
    times 1 ms apart. Returns the table and the generator's truth:
    which payloads are malformed and which tasks fail."""
    rng = rng_for(seed, workload, index)
    first = index * n
    offsets = np.arange(first, first + n, dtype=np.int64)
    keys = zipf_keys(rng, n, n_keys)
    malformed = rng.random(n) < malformed_p
    fail = rng.random(n) < fail_p
    ts = BASE_TS_MS + offsets
    values = [
        '{"id": ' + str(o) if bad else '{"id": "%d", "fail": "%d"}' % (o, f)
        for o, bad, f in zip(offsets.tolist(), malformed.tolist(), fail.tolist())
    ]
    table = pa.table(
        [
            pa.array(keys.astype(str)),
            pa.array(np.zeros(n, dtype=np.int32)),
            pa.array(offsets),
            pa.array([TOPIC] * n),
            pa.array(ts, pa.timestamp("ms", tz="UTC")),
            pa.array(ts),
            pa.array(np.zeros(n, dtype=np.int32)),
            pa.array(ts),
            pa.array(values),
        ],
        schema=TASK_SCHEMA,
    )
    truth = {"key": keys.astype(str), "offset": offsets, "ts": ts,
             "malformed": malformed, "fail": fail}
    return table, truth


def write_backlog(src: str, seed: int, workload: str, files: int, n: int, n_keys: int,
                  **kw) -> list[dict]:
    """Write ``files`` task files. Modification times one second apart
    fix the order in which the file source offers them."""
    os.makedirs(src, exist_ok=True)
    base = time.time() - files - 60
    truths = []
    for i in range(files):
        table, truth = task_file(seed, workload, i, n, n_keys, **kw)
        path = os.path.join(src, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (base + i, base + i))
        truths.append(truth)
    return truths


def io_file(seed: int, index: int, per_file: int, rate: float) -> pa.Table:
    """The tasks of writer tick ``index``: Decaton's benchmark task, sent
    at a constant rate. ``produced_us`` is the scheduled send time from
    the start of the stream, so file bytes do not depend on the clock."""
    rng = rng_for(seed, "open_loop_io", index)
    first = index * per_file
    offsets = np.arange(first, first + per_file, dtype=np.int64)
    return pa.table(
        [
            pa.array(rng.integers(0, 1000, per_file).astype(str)),
            pa.array(offsets),
            pa.array((offsets * 1_000_000 // int(rate)).astype(np.int64)),
            pa.array(np.full(per_file, 4, dtype=np.int32)),
            pa.array(np.full(per_file, 5, dtype=np.int32)),
        ],
        schema=IO_SCHEMA,
    )


class OpenLoopWriter:
    """Writes one file per tick on a fixed schedule, whatever the engine
    does: tick ``k`` holds the tasks scheduled in ``[k, k+1)`` ticks and
    is due at the end of its tick."""

    def __init__(self, src: str, seed: int, rate: float, tick_s: float, tracer=None) -> None:
        self.src, self.seed, self.rate, self.tick_s = src, seed, rate, tick_s
        self.per_file = int(round(rate * tick_s))
        self.tracer = tracer
        self.t0_ms = 0.0
        self.writes: list[tuple[int, float, float]] = []  # (index, due_ms, written_ms)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="open-loop-writer", daemon=True)
        self.error: Exception | None = None
        os.makedirs(src, exist_ok=True)

    def start(self) -> None:
        self.t0_ms = time.time() * 1000.0
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)
        if self._thread.is_alive():
            raise RuntimeError("open-loop writer did not stop")
        if self.error is not None:
            raise self.error

    @property
    def tasks_written(self) -> int:
        return len(self.writes) * self.per_file

    def _run(self) -> None:
        try:
            k = 0
            while not self._stop.is_set():
                due_ms = self.t0_ms + (k + 1) * self.tick_s * 1000.0
                wait = due_ms / 1000.0 - time.time()
                if wait > 0 and self._stop.wait(wait):
                    return
                start = time.time() * 1000.0
                table = io_file(self.seed, k, self.per_file, self.rate)
                tmp = os.path.join(self.src, f".part-{k:06d}.tmp")
                pq.write_table(table, tmp)
                os.rename(tmp, os.path.join(self.src, f"part-{k:06d}.parquet"))
                end = time.time() * 1000.0
                self.writes.append((k, due_ms, end))
                if self.tracer is not None and self.tracer.enabled:
                    self.tracer.add(("file", k), "writer.file", "generator", start, end)
                k += 1
        except Exception as e:  # noqa: BLE001 - re-raised by stop()
            self.error = e
