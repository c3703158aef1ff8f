#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {live_stream,query_mix,doc_ingest}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the engine.  The last line of stdout is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics listed in BENCHMARK.json, with
``--trace 1`` its per-layer metrics (a layer the workload bypasses reads 0).
Traced runs also write their spans and counters to
``.perfbench_work/traces/``.  A readable report, with the workload's own
metric names, goes to stderr.  ``doc_ingest`` is not in BENCHMARK.json
(see perfbench/README.md); it prints its own per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("live_stream", "query_mix", "doc_ingest")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an error, so the JVM is still stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "kafka_spark_streaming_pipeline_spark")):
        print("perfbench: run from the root of an engine checkout "
              "(kafka_spark_streaming_pipeline_spark/ not found)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import common

    work_root = os.path.join(ROOT, common.WORK_DIRNAME)
    run_dir = common.make_run_dir(ROOT, args.workload, args.seed)
    env = common.pin_environment(ROOT, run_dir)
    try:
        return _run(args, spec, common, work_root, run_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, spec: dict, common, work_root: str, run_dir: str, env: dict) -> int:
    import docs
    import live
    import mix

    module = {"live_stream": live, "doc_ingest": docs, "query_mix": mix}[args.workload]
    tracer = common.Tracer(enabled=bool(args.trace))
    prep = module.prepare(work_root)

    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = common.start_session(run_dir)
        start_s = time.perf_counter() - t0
        ctx = SimpleNamespace(
            seed=args.seed, seconds=args.seconds, tracer=tracer, run_dir=run_dir,
            counters=common.SparkCounters(spark, tracer) if args.trace else None,
        )
        out = module.run(spark, ctx, prep)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        # the JVM and its workers end before this process, on every path
        common.stop_session(spark)

    checks = out["checks"]
    bad = [c for c in checks if not c[1]]
    attempted = out["attempted"] + len(checks)
    failed = out["failed"] + len(bad)
    setup_s = start_s + out["warm_s"]

    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} env={json.dumps(env)}", file=sys.stderr)
    for name, ok, detail in checks:
        print(f"# check {'PASS' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)
    report = {"setup_s": (setup_s, "s"), **out["report"],
              "fail_share": (failed / attempted, "ratio")}
    for k, (v, u) in report.items():
        print(f"# {k} = {v:.6g} {u}", file=sys.stderr)

    if args.trace:
        layer = {**out["layer"], "session.start_s": start_s, "session.warm_s": out["warm_s"],
                 "trace.spans": len(tracer.spans),
                 "trace.counter_read_s": tracer.summary().get(
                     "trace.counters", {}).get("total_s", 0.0)}
        names = ([(m["name"], m["unit"]) for m in spec["per_layer"]]
                 if args.workload != "doc_ingest" else docs.layer_metric_names())
        metrics = {n: (float(layer.get(n, 0.0)), u) for n, u in names}
        trace_path = os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json")
        tracer.write(trace_path, {
            "workload": args.workload, "seed": args.seed, "env": env,
            "end_to_end_traced": {"setup_s": setup_s, **out["e2e"]},
            "report_traced": {k: v for k, (v, _) in report.items()},
        })
        print(f"# trace written to {os.path.relpath(trace_path, ROOT)}", file=sys.stderr)
    else:
        e2e = {"setup_s": setup_s, **out["e2e"]}
        metrics = {m["name"]: (e2e[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    print(common.result_line(not bad and not out["failed"], attempted, failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
