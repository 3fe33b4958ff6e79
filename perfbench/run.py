"""Benchmark command: run one workload and print one JSON result line.

    python3 perfbench/run.py --workload insitu_feedback_loop --seed 1 \
        --seconds 15 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``;
with ``--trace 0`` the metrics are the end-to-end ones named in
``BENCHMARK.json``, with ``--trace 1`` its per-layer ones, and the spans
of the traced run are written to ``perfbench/results/``. Progress and
mismatches go to standard error.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(HERE)
sys.path[0] = REPO_ROOT  # the package root, not this directory

from perfbench.spans import Tracer, median  # noqa: E402

WORKLOADS = ("insitu_feedback_loop", "batch_declared_queries")


def _run_workload(name: str, run_ctx, seed: int, seconds: float, tracer: Tracer):
    if name == "batch_declared_queries":
        from perfbench import batch

        return batch.run(run_ctx, seed, seconds, tracer, T_PROC0)
    from perfbench import insitu

    return insitu.run(run_ctx, insitu.FEEDBACK_LOOP, seed, seconds, tracer, T_PROC0)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import deisa_ray_spark  # noqa: F401  fails fast outside a checkout

    from perfbench.runtime import Run

    tracer = Tracer(bool(args.trace))
    run_ctx = Run()

    def on_term(signum, _frame):
        # a terminated run still ends the processes it started and
        # removes its directory
        run_ctx.abort()
        os._exit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    try:
        setup_s, ops, failed, latencies, ops_per_s, errors, layers = _run_workload(
            args.workload, run_ctx, args.seed, args.seconds, tracer
        )
        if tracer.enabled:
            for name in ("session.start", "session.warmup"):
                layers[f"{name}_s"] = tracer.named(name)[0].duration
    finally:
        run_ctx.close()

    for e in errors:
        print(f"MISMATCH: {e}", file=sys.stderr)
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": ops_per_s,
        "op_p50_ms": 1e3 * median(latencies),
    }
    if tracer.enabled:
        chosen = {m["name"]: (layers.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}
        os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
        tracer.write(
            os.path.join(HERE, "results", f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
             "per_layer": layers, "ops": ops, "latencies_s": latencies},
        )
    else:
        chosen = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    result = {
        "correct": not errors,
        "attempted": ops,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
