#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {registry,live_topk}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds the session at
``SPARK_GRAFT_CPUS = nproc``, runs one workload, checks its outputs and
prints one JSON object as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer ones, and the spans are written to
``.bench_traces/<workload>-<seed>-<pid>.json``.

All scratch (checkpoints, serving output, Spark local and temp dirs) lives under one root, ``.bench_scratch/run-<pid>``, which
is removed on exit, failure included. Exit code 0 when every output is
correct, 1 when some is wrong, 2 when the run could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("registry", "live_topk")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _isolate(scratch: str) -> None:
    """Point every temp and spill location into ``scratch`` and make the
    package importable by the Python workers, before Spark starts."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        # No hsperfdata file under /tmp: every JVM file stays in scratch.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = None
    os.chdir(scratch)
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _run(args, scratch: str) -> dict:
    import harness
    from harness import Tracer

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        spark, setup = harness.build_session(tracer)
        context = harness.run_context(spark)
        print(f"perfbench {args.workload}: {json.dumps(context)}", file=sys.stderr)
        if args.workload == "registry":
            import registry

            res = registry.run(spark, tracer)
        else:
            import live_topk

            res = live_topk.run(spark, args.seconds, tracer, scratch)
        rss = harness.peak_rss_mb(spark)
        retained = harness.retained_mb(spark)
    finally:
        harness.shutdown(spark)
    # The correctness gate runs after memory was read and the JVM is gone,
    # so neither the oracles nor the checked results count in it.
    attempted, failed = res["gate"]()

    e2e = {"setup_s": setup["setup_s"], "retained_mb": retained, **res["e2e"]}
    layer = {
        "session.peak_rss_mb": rss,
        "session.build_s": setup["build_s"],
        "session.warmup_s": setup["warmup_s"],
        "trace.overhead_frac": tracer.overhead_s / res["measured_s"],
        **res["layer"],
    }
    if tracer.enabled:
        tracer.dump(
            os.path.join(
                ROOT, ".bench_traces", f"{args.workload}-{args.seed}-{os.getpid()}.json"
            ),
            {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "context": context,
                "end_to_end": e2e,
                "per_layer": layer,
                "detail": res.get("detail", {}),
            },
        )
    return {
        "attempted": attempted,
        "failed": failed,
        "e2e": e2e,
        "layer": layer,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = _spec()
    scratch = os.path.join(ROOT, ".bench_scratch", f"run-{os.getpid()}")
    os.makedirs(scratch)
    cwd = os.getcwd()
    try:
        _isolate(scratch)
        res = _run(args, scratch)
    except Exception:  # noqa: BLE001 - report and exit without a result
        traceback.print_exc()
        return 2
    finally:
        os.chdir(cwd)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run's scratch is still there

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res["layer"] if args.trace else res["e2e"]
    # A per-layer metric a workload never touches (another workload's
    # registry key, the router in a run without routing) measured zero.
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"perfbench: exit {code} after {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
