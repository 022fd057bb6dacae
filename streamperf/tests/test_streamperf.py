"""Tests of the benchmark's own code; no Spark session needed.

    python3 -m pytest streamperf/tests -q
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from streamperf import gen, measure
from streamperf.workloads import DrainTopology, KeyedOrdered, OpenLoopIO


def _bytes(table: pa.Table, path) -> bytes:
    pq.write_table(table, str(path))
    return path.read_bytes()


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = _bytes(gen.task_file(7, "drain_topology", 3, 500, 100, 0.01, 0.05)[0], tmp_path / "a")
    b = _bytes(gen.task_file(7, "drain_topology", 3, 500, 100, 0.01, 0.05)[0], tmp_path / "b")
    c = _bytes(gen.task_file(8, "drain_topology", 3, 500, 100, 0.01, 0.05)[0], tmp_path / "c")
    assert a == b and a != c
    io_a = _bytes(gen.io_file(7, 2, 100, 1000.0), tmp_path / "d")
    io_b = _bytes(gen.io_file(7, 2, 100, 1000.0), tmp_path / "e")
    io_c = _bytes(gen.io_file(9, 2, 100, 1000.0), tmp_path / "f")
    assert io_a == io_b and io_a != io_c


def test_backlog_files_are_ordered_by_mtime(tmp_path):
    gen.write_backlog(str(tmp_path), 1, "keyed_ordered", 3, 10, 5)
    paths = sorted(tmp_path.iterdir(), key=lambda p: p.stat().st_mtime)
    assert [p.name for p in paths] == ["part-00000.parquet", "part-00001.parquet", "part-00002.parquet"]


def test_percentile_support_is_counted_in_batches():
    many_tasks = {b: [float(b)] * 1000 for b in range(19)}
    assert measure.batch_percentile(many_tasks, 0.5) is None  # 19 batches: 9.5 beyond p50
    twenty = {b: [float(b)] * 3 for b in range(20)}
    assert measure.batch_percentile(twenty, 0.5) == 9.0
    assert measure.batch_percentile({b: [1.0] for b in range(99)}, 0.9) is None
    assert measure.batch_percentile({b: [1.0] for b in range(100)}, 0.9) == 1.0
    empty_batches = {b: [] for b in range(40)} | {0: [5.0]}
    assert measure.batch_percentile(empty_batches, 0.5) is None


def test_window_is_chosen_by_batch_count():
    # batch 0 is set-up, then the warm-up batches, then the window; the
    # count follows --seconds through a fixed nominal pace, never the host
    wl = DrainTopology("/nonexistent", 1, 16, trace=False)
    assert wl.measured == round(16 * wl.batches_per_s)
    assert wl.total_batches == 1 + wl.warmup + wl.measured
    assert wl.window_ids(0) == list(range(1 + wl.warmup, 1 + wl.warmup + wl.measured))
    traced = DrainTopology("/nonexistent", 1, 16, trace=True)
    assert traced.measured == -(-wl.measured // 2)
    assert traced.total_batches == 1 + traced.warmup + 3 * traced.measured
    assert traced.window_ids(1)[0] == traced.window_ids(0)[-1] + 1
    assert OpenLoopIO("/nonexistent", 1, 1, trace=False).measured == OpenLoopIO.min_measured


def test_window_drift_and_self_time():
    assert measure.window_drift([10, 10, 10, 10]) == 1.0
    assert measure.window_drift([20, 20, 10, 10]) == 0.5
    spans = [
        {"trace": 1, "name": "a", "layer": "x", "start": 0, "end": 10, "parent": None},
        {"trace": 1, "name": "b", "layer": "y", "start": 2, "end": 5, "parent": 0},
        {"trace": 1, "name": "c", "layer": "y", "start": 4, "end": 7, "parent": 0},
    ]
    assert measure.self_times(spans) == {"x": {1: 5.0}, "y": {1: 6.0}}


def _write_sink(root, name, bid, columns: dict) -> None:
    d = os.path.join(root, "out", name, f"batch_id={bid}")
    os.makedirs(d)
    pq.write_table(pa.table(columns), os.path.join(d, "part-00000.parquet"))
    open(os.path.join(d, "_SUCCESS"), "w").close()


def _keyed(tmp_path, mutate):
    wl = KeyedOrdered(str(tmp_path), 3, 8, trace=False)
    wl.truths = [gen.task_file(3, wl.name, i, 50, 7)[1] for i in range(3)]
    last = {}
    for b, t in enumerate(wl.truths):
        rows = []
        for k, o in zip(t["key"].tolist(), t["offset"].tolist()):
            rows.append((k, o, last.get(k, -1), False))
            last[k] = o
        rows = mutate(b, rows)
        k, o, p, r = zip(*rows)
        _write_sink(str(tmp_path), "ordered", b, {
            "key": list(k), "offset": pa.array(o, pa.int64()),
            "prev_offset": pa.array(p, pa.int64()), "regressed": list(r),
        })
    return wl.check()


def test_keyed_check_counts_dropped_duplicated_and_reordered_tasks(tmp_path):
    assert _keyed(tmp_path / "ok", lambda b, rows: rows)["failed"] == 0
    assert _keyed(tmp_path / "drop", lambda b, rows: rows[1:] if b == 1 else rows)["failed"] == 1
    assert _keyed(tmp_path / "dup", lambda b, rows: rows + rows[:1] if b == 2 else rows)["failed"] == 1
    swapped = lambda b, rows: [(*rows[0][:2], rows[0][2] + 1, False)] + rows[1:] if b == 0 else rows  # noqa: E731
    assert _keyed(tmp_path / "order", swapped)["failed"] == 1


def _drain(tmp_path, mutate):
    wl = DrainTopology(str(tmp_path), 5, 8, trace=False)
    wl.truths = [gen.task_file(5, wl.name, i, 2000, 50, 0.02, 0.1)[1] for i in range(2)]
    for b, t in enumerate(wl.truths):
        model = wl.model(b, t)
        for sink in wl.SINKS:
            rows = mutate(sink, b, sorted((o, f) for o, (_, s, f) in model.items() if s == sink))
            cols = {"offset": pa.array([o for o, _ in rows], pa.int64())}
            if sink == "retry":
                cols.update({
                    "meta_retry_count": pa.array([f[0] for _, f in rows], pa.int32()),
                    "meta_scheduled_time_millis": pa.array([f[1] for _, f in rows], pa.int64()),
                    "topic": [f[2] for _, f in rows],
                })
            elif sink == "shaping":
                cols["topic"] = [f[0] for _, f in rows]
            _write_sink(str(tmp_path), sink, b, cols)
    return wl.check()


def test_drain_check_counts_dropped_and_duplicated_tasks(tmp_path):
    ok = _drain(tmp_path / "ok", lambda s, b, rows: rows)
    assert ok["failed"] == 0 and ok["delivered"] == {0: 2000, 1: 2000}
    assert _drain(tmp_path / "drop", lambda s, b, rows: rows[1:] if (s, b) == ("main", 1) else rows)["failed"] == 1
    dup = lambda s, b, rows: rows + rows[:1] if (s, b) == ("retry", 0) else rows  # noqa: E731
    assert _drain(tmp_path / "dup", dup)["failed"] == 1


def test_drain_model_routes_every_path():
    wl = DrainTopology("/nonexistent", 5, 8, trace=False)
    truth = gen.task_file(5, wl.name, 0, 10_000, 10_000, 0.01, 0.05)[1]
    sinks = {s for _, s, _ in wl.model(0, truth).values()}
    assert sinks == {"main", "retry", "shaping"}


def test_open_loop_check_requires_every_task_once(tmp_path):
    wl = OpenLoopIO(str(tmp_path), 1, 8, trace=False)
    wl.prepare()
    wl.writer.writes = [(0, 0.0, 1.0), (1, 100.0, 101.0)]
    n = 2 * wl.writer.per_file
    offsets = np.arange(n, dtype=np.int64)
    cols = lambda o: {"offset": pa.array(o), "produced_us": pa.array(o),  # noqa: E731
                      "io_wall_ms": pa.array([1.0] * len(o)), "io_floor_ms": pa.array([1.0] * len(o))}
    _write_sink(str(tmp_path), "io", 0, cols(offsets[:-1]))
    assert wl.check()["failed"] == 1
    _write_sink(str(tmp_path), "io", 1, cols(offsets[-1:]))
    assert wl.check()["failed"] == 0


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
