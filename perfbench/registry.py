"""``registry`` workload: one caller, closed loop, one session.

Each key of :data:`KEYS` is materialized (collected to the driver through
Arrow, which computes every output column) in one cold pass, then in
``WARM_PASSES`` warm passes, with ``release_persisted()`` after each key
outside the timed region. The
inputs are the fixed seed-42 sf0.01 tables described in TESTDATA.md,
shipped in ``perfbench/data``; the seed does not change them. Every
execution is checked against the key's DuckDB oracle (or, for the
rows-only LSH key, against its invariants and a recorded digest) by the gate
:func:`run` returns, which the caller runs once it has read memory.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from statistics import median

from harness import EngineCounters, Tracer

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

KEYS = (
    "q_flagship",
    "q_tpch_q18",
    "q_dedup_near",
    "q_entity_resolution",
    "q_quality_classifier",
    "q_percentile_cont",
    "q_corrupt_quarantine",
    "q_route_by_key",
)

# A fixed number of warm passes; a key's warm time is its median over them,
# so a burst of machine noise during one pass does not set it.
WARM_PASSES = 3


def _dedup_near_ok(pdf) -> bool:
    """Invariants of the LSH cluster output: every document exactly once,
    each representative a document id no larger than its member, and
    ``is_dup`` exactly marks members whose representative is smaller."""
    import pyarrow.parquet as pq

    ids = pq.read_table(os.path.join(DATA_DIR, "documents.parquet"), columns=["doc_id"])
    want = sorted(ids.column("doc_id").to_pylist())
    got = sorted(int(x) for x in pdf["doc_id"])
    if got != want:
        return False
    id_set = set(want)
    for d, rep, dup in zip(pdf["doc_id"], pdf["cluster_rep"], pdf["is_dup"]):
        if int(rep) not in id_set or rep > d or bool(dup) != (rep < d):
            return False
    return True


# q_dedup_near is rows-only: it has no SQL oracle (its hash family is
# engine-specific), so each result must satisfy its invariants and hash to
# the digest of the canonical result recorded from this benchmark's first
# version.
DEDUP_NEAR_DIGEST = "1ca371fa4f1e7a5a225d68b158dd2e38fd8d7123d01c7e9d531384e1b7af18a5"


def _canonical(pdf) -> list:
    """Sorted column names and the exact, order-insensitive, stringified
    rows of the oracle harness the test suite uses."""
    from tests.oracle_harness import canonicalize

    return [sorted(pdf.columns), canonicalize(pdf)]


def digest(pdf) -> str:
    return hashlib.sha256(json.dumps(_canonical(pdf)).encode()).hexdigest()


def check(key: str, results: list, oracles: dict) -> list[bool]:
    """Per-execution verdicts for ``key``."""
    if key == "q_dedup_near":
        return [_dedup_near_ok(pdf) and digest(pdf) == DEDUP_NEAR_DIGEST for pdf in results]
    from tests.oracle_harness import run_oracle

    want = _canonical(run_oracle(oracles[key], DATA_DIR))
    return [_canonical(pdf) == want for pdf in results]


def run(spark, tracer: Tracer) -> dict:
    from big_data_streaming_spark.plans.rank import release_persisted
    from big_data_streaming_spark.workload import ORACLES, QUERIES

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    counters = EngineCounters(spark) if tracer.enabled else None
    layer: dict[str, float] = {}
    results: dict[str, list] = {k: [] for k in KEYS}
    spill = 0

    def execute(key: str, phase: str) -> float:
        nonlocal spill
        if tracer.enabled:
            with tracer.bookkeeping():
                sc.setJobGroup(key, f"registry {phase}")
                counters.take()
        with tracer.span("workload.query", key=key, phase=phase):
            t0 = time.perf_counter()
            pdf = QUERIES[key](spark, DATA_DIR).toPandas()
            dt = time.perf_counter() - t0
        with tracer.span("plans.release_persisted", key=key):
            release_persisted()
        results[key].append(pdf)
        if tracer.enabled:
            with tracer.bookkeeping():
                d = counters.take()
                spill += d["spill_bytes"]
                layer[f"engine.{key}.jobs"] = d["jobs"]
                layer[f"engine.{key}.shuffle_bytes"] = d["shuffle_write_bytes"]
                layer[f"engine.{key}.busy_frac"] = d["run_ms"] / 1000.0 / (dt * cores)
                layer[f"plans.{key}.pinned_rdds"] = sc._jsc.getPersistentRDDs().size()
        return dt

    cold = {k: execute(k, "cold") for k in KEYS}
    passes = [{k: execute(k, "warm") for k in KEYS} for _ in range(WARM_PASSES)]
    warm = {k: median(p[k] for p in passes) for k in KEYS}
    for phase, times in [("cold", cold)] + [("warm", p) for p in passes]:
        print(
            f"registry: {phase} s per key:",
            {k: round(v, 3) for k, v in times.items()},
            file=sys.stderr,
            flush=True,
        )

    def gate() -> tuple[int, int]:
        """Check every execution against its oracle, dropping each key's
        results once checked; (attempted, failed)."""
        attempted = failed = 0
        for k in KEYS:
            ok = check(k, results.pop(k), ORACLES)
            attempted += len(ok)
            failed += ok.count(False)
            if not all(ok):
                print(f"registry: {k} wrong in {ok.count(False)} of {len(ok)} runs", file=sys.stderr)
        return attempted, failed

    cold_s = sum(cold.values())
    measured_s = cold_s + sum(sum(p.values()) for p in passes)
    e2e = {
        "op_s": sum(warm.values()),
        "op_tail_s": cold_s,
        "throughput_per_s": (1 + WARM_PASSES) * len(KEYS) / measured_s,
    }
    for k in KEYS:
        layer[f"workload.{k}.warm_s"] = warm[k]
        layer[f"workload.{k}.cold_s"] = cold[k]
    layer["engine.registry.spill_bytes"] = spill
    return {
        "gate": gate,
        "e2e": e2e,
        "layer": layer,
        "measured_s": measured_s,
        "detail": {"cold_s": cold, "warm_s": passes},
    }
