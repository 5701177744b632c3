"""Runs one workload in this process and writes its result as JSON.

Started by ``run.py``, which sets the environment (CPU and memory
limits, private temp and Spark local directories) and cleans up after
it.  Standard output carries the human-readable metric lines.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

import numpy as np

from harness import RssSampler, Tracer, median, self_times, settle
from metrics import E2E, LAYERS
from workloads import WORKLOADS, Context


def _layers(ctx: Context, wl, session_s: float, loop_latencies: list[float]) -> dict[str, float]:
    out = {name: 0.0 for name in LAYERS}
    # a span named X gives layer metric X_s: its mean self time, over the
    # spans that belong to a request (set-up and warm-up spans do not)
    counted = [s for s in ctx.tracer.spans if s.request is not None]
    st = self_times(counted)
    per_name: dict[str, list[float]] = {}
    for s in counted:
        per_name.setdefault(s.name, []).append(st[s.span_id])
    for name, vals in per_name.items():
        if f"{name}_s" in LAYERS:
            out[f"{name}_s"] = sum(vals) / len(vals)
    out["session.start_s"] = session_s
    out.update(ctx.probe.metrics())
    out.update({k: float(v) for k, v in ctx.counters.items() if k in LAYERS})
    out.update(wl.layers())
    loop = ctx.recorder.loop_s
    busy = sum(loop_latencies)
    out["trace.requests_per_s"] = len(loop_latencies) / busy if busy else 0.0
    out["trace.overhead_s"] = ctx.tracer.overhead_s
    out["trace.overhead_ratio"] = ctx.tracer.overhead_s / loop if loop else 0.0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--state-dir", required=True)
    args = ap.parse_args(argv)

    from columnar_analytics_engine_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    with RssSampler() as rss:
        t_setup = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t_setup
        ctx = Context(spark, args.seed, os.path.join(args.run_dir, "data"), args.state_dir, tracer)
        wl = WORKLOADS[args.workload](ctx)
        with tracer.span("setup"):
            wl.setup()
        t_warm = time.perf_counter()
        with tracer.span("warm_up"):
            wl.warm_up()
        t_settle = time.perf_counter()
        settled = settle(spark)
        setup_s = time.perf_counter() - t_setup
        warm_up_s = t_settle - t_warm
        settle_s = time.perf_counter() - t_settle

        rng = np.random.default_rng([args.seed, 1])
        ctx.phase = "loop"
        t_loop = time.perf_counter()
        while True:
            wl.cycle(rng)
            if time.perf_counter() - t_loop >= args.seconds:
                break
        ctx.recorder.loop_s = time.perf_counter() - t_loop
        ctx.phase = "finish"
        wl.finish()
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        import pyspark

        versions = {"pyspark": pyspark.__version__, "java": java, "python": platform.python_version()}
        if tracer.enabled:
            tracer.write(os.path.join(args.state_dir, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
        spark.stop()

    rec = ctx.recorder
    lat = rec.latencies()
    busy = sum(lat)
    e2e = {
        "setup_s": setup_s,
        "requests_per_s": len(lat) / busy if busy else 0.0,
    }
    if set(e2e) != set(E2E):
        raise RuntimeError("end-to-end metrics out of step with metrics.E2E")
    report = [("setup_s", setup_s, "s", 1), ("request_p50_s", median(lat) if lat else 0.0, "s", len(lat))]
    report += [
        ("requests_per_s", e2e["requests_per_s"], "1/s", len(lat)),
        ("rows_per_s", rec.rows() / busy if busy else 0.0, "rows/s", len(lat)),
    ]
    report += wl.report()
    report += [
        ("failed_ratio", ctx.ledger.failed_ratio, "ratio", ctx.ledger.attempted),
        ("peak_rss_mb", rss.peak_mb, "MB", 1),
    ]
    kinds: dict[str, list[float]] = {}
    for s in rec.samples:
        kinds.setdefault(s.kind, []).append(s.seconds)
    result = {
        "correct": ctx.ledger.failed == 0,
        "attempted": ctx.ledger.attempted,
        "failed": ctx.ledger.failed,
        "e2e": e2e,
        "layers": _layers(ctx, wl, session_s, lat) if tracer.enabled else {},
        "report": report,
        "per_kind_s": dict(sorted(kinds.items())),
        "problems": ctx.ledger.problems + ctx.verifier.issues,
        "conditions": {
            "seed": args.seed,
            "workload": args.workload,
            "trace": args.trace,
            "loop_s": rec.loop_s,
            "input_sizes": wl.input_sizes,
            "versions": versions,
            "session_s": session_s,
            "generate_s": ctx.counters.get("sources.generate_s", 0.0),
            "oracle_s": ctx.counters.get("oracle_s", 0.0),
            "warm_up_s": warm_up_s,
            "settle_s": settle_s,
            "settled": settled,
        },
    }
    with open(os.path.join(args.run_dir, "result.json"), "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
