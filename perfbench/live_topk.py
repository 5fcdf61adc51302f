"""``live_topk`` workload: the flagship pipeline, closed loop.

``streaming.demo.run_live_topk`` over the deterministic ``kline_feed``
(``ROWS_PER_POLL`` rows admitted per micro-batch, the next batch starting
when the previous one commits), drained by ``drain_until_idle``. The
feed is fixed, so the seed does not change the input. The serving
parquet is checked against an exact Python oracle of the feed.
"""

from __future__ import annotations

import collections
import glob
import os
import sys
import time

from statistics import median

from harness import (
    Tracer,
    commit_time,
    make_progress_listener,
    phase_medians,
    progress_from_json,
    percentile,
)

ROWS_PER_POLL = 1000
DATA_BATCHES = 12
# The first data batches pay one-off costs (first planning and codegen,
# Python worker start-up, the state store's first versions); latency and
# phase statistics are taken over the steady batches after them.
COLD_BATCHES = 3
MAX_ROWS = ROWS_PER_POLL * DATA_BATCHES
WINDOW_S = 600  # run_live_topk's default "10 minutes" window and watermark
TOP_K = 3

# Feed definition (sources/feed_datasource.py): offset i -> coin
# COINS[i % 5], event time EPOCH + i seconds, volume (i * 7) % 31 + 1.
COINS = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT", "XRPUSDT")
EPOCH = 1_700_000_000


def expected_serving(max_rows: int) -> list[tuple]:
    """(window_start epoch s, coin, total_volume, rank) of every window the
    watermark finalizes, top ``TOP_K`` by volume, ties by coin."""
    sums: dict = collections.defaultdict(float)
    for i in range(max_rows):
        w = (EPOCH + i) // WINDOW_S * WINDOW_S
        sums[(w, COINS[i % 5])] += (i * 7) % 31 + 1
    watermark = EPOCH + max_rows - 1 - WINDOW_S
    out = []
    for w in sorted({k[0] for k in sums}):
        if w + WINDOW_S > watermark:
            continue
        ranked = sorted(
            ((c, v) for (ww, c), v in sums.items() if ww == w),
            key=lambda cv: (-cv[1], cv[0]),
        )[:TOP_K]
        out.extend((w, c, v, rk) for rk, (c, v) in enumerate(ranked, start=1))
    return sorted(out)


def read_serving(out_dir: str) -> list[tuple]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}
    rows = []
    for d in glob.glob(os.path.join(out_dir, "batch_*")):
        t = pq.read_table(d)
        ws = t.column("window_start")
        div = per_s[ws.type.unit]
        starts = [v // div for v in ws.cast(pa.int64()).to_pylist()]
        rows.extend(
            zip(
                starts,
                t.column("coin").to_pylist(),
                t.column("total_volume").to_pylist(),
                t.column("rk").to_pylist(),
            )
        )
    return sorted(rows)


def run(spark, seconds: float, tracer: Tracer, scratch: str) -> dict:
    from big_data_streaming_spark.streaming.demo import drain_until_idle, run_live_topk

    out_dir = os.path.join(scratch, "serving")
    ckpt = os.path.join(scratch, "checkpoint")
    listener = None
    if tracer.enabled:
        listener = make_progress_listener(tracer)
        listener.install(spark)
    try:
        t_start = time.time()
        with tracer.span("streaming.demo.run_live_topk"):
            q = run_live_topk(
                spark, out_dir, ckpt, max_rows=MAX_ROWS, rows_per_poll=ROWS_PER_POLL
            )
        with tracer.span("streaming.demo.drain_until_idle"):
            drain_until_idle(q, timeout=max(120.0, 4 * seconds))
        progress = [progress_from_json(p) for p in q.recentProgress]
        if listener is not None:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            progress = listener.progress.get(str(q.id), progress)
    finally:
        if listener is not None:
            listener.uninstall(spark)

    data = [p for p in progress if p["numInputRows"] > 0]
    steady = data[COLD_BATCHES:]
    trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in steady]
    print(
        "live_topk: triggerExecution s per data batch:",
        [p["durationMs"]["triggerExecution"] / 1000.0 for p in data],
        file=sys.stderr,
        flush=True,
    )
    fed = sum(p["numInputRows"] for p in data)
    last_commit = commit_time(ckpt, max(p["batchId"] for p in data))
    elapsed = last_commit - t_start

    def gate() -> tuple[int, int]:
        """Operations are the data micro-batches; a wrong serving output or
        a lost feed row fails all of them. (attempted, failed)"""
        got = read_serving(out_dir)
        want = expected_serving(MAX_ROWS)
        if got == want and fed == MAX_ROWS:
            return len(data), 0
        print(
            f"live_topk: serving rows {len(got)} vs {len(want)} expected, "
            f"fed {fed} of {MAX_ROWS}",
            file=sys.stderr,
            flush=True,
        )
        return len(data), len(data)

    e2e = {
        "op_s": median(trig),
        "op_tail_s": percentile(trig, 75),
        "throughput_per_s": fed / elapsed,
    }
    layer = phase_medians("streaming.topk", steady)
    layer.update(
        {
            "streaming.topk.batches": len(data),
            "state.topk.rows_total": max(p["state_rows_total"] for p in data),
            "state.topk.memory_bytes": max(p["state_memory_bytes"] for p in data),
            "state.topk.commit_ms": median([p["state_commit_ms"] for p in steady]),
        }
    )
    return {
        "gate": gate,
        "e2e": e2e,
        "layer": layer,
        "measured_s": elapsed,
        "detail": {"progress": progress},
    }
