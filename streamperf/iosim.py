"""Decaton's benchmark processor: each task performs ``latency_count``
simulated I/Os of ``process_latency_ms`` each, with up to ``SLOTS`` tasks
in flight per partition (``decaton.partition.concurrency=300``).

Runs inside ``mapInPandas`` on the executors; it reports, per chunk, its
own wall time and the floor the simulated I/O imposes on it.
"""

from __future__ import annotations

import asyncio
import math
import time
from collections.abc import Iterator

import pandas as pd

SLOTS = 300
OUT_DDL = "key STRING, offset BIGINT, produced_us BIGINT, io_wall_ms DOUBLE, io_floor_ms DOUBLE"


async def _run_chunk(latencies_s: list[float], counts: list[int]) -> None:
    slots = asyncio.Semaphore(SLOTS)

    async def task(latency: float, count: int) -> None:
        async with slots:
            for _ in range(count):
                await asyncio.sleep(latency)

    await asyncio.gather(*(task(l, c) for l, c in zip(latencies_s, counts)))


def process(chunks: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in chunks:
        if not len(pdf):
            continue
        lat = (pdf["process_latency_ms"] / 1000.0).tolist()
        cnt = pdf["latency_count"].tolist()
        t0 = time.perf_counter()
        asyncio.run(_run_chunk(lat, cnt))
        wall_ms = (time.perf_counter() - t0) * 1000.0
        floor_ms = math.ceil(len(pdf) / SLOTS) * max(l * c for l, c in zip(lat, cnt)) * 1000.0
        yield pd.DataFrame(
            {
                "key": pdf["key"],
                "offset": pdf["offset"],
                "produced_us": pdf["produced_us"],
                "io_wall_ms": wall_ms,
                "io_floor_ms": floor_ms,
            }
        )
