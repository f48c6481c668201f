"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload feature_serving --seed 1 --seconds 20 --trace 0

Run it from the repository root. The workload's inputs come from ``--seed``;
the timed part runs for ``--seconds``. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end metrics
of ``BENCHMARK.json`` when ``--trace 0`` and its per-layer metrics when
``--trace 1``.

The end-to-end times are normalized for the speed of the shared host, which
swings by up to twice between minutes: a fixed reference Spark job that runs
none of the package's code is timed between the ops, and the run's raw times
are divided by the median reference time and scaled to a host where the
reference job takes ``harness.REF_SCALE_MS`` (``op_norm_ms``,
``batch_norm_s``). The raw times (``op_ms``, ``batch_s``) and the reference
time (``ref_job_ms``) are per-layer metrics; ``setup_s`` is not normalized.

The line before the result is the full record: environment, inputs,
the workload's named metrics, per-op latencies and, when tracing, the
per-layer table (each entry tagged with the end-to-end metric it should move)
and the tracing overhead. Scratch data goes to ``.perfbench_work/``; records,
spans and the last untraced metrics go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = {"feature_serving": "perfbench.serving", "operator_mix": "perfbench.opmix"}


def _clean(v):
    """JSON-safe copy: non-finite floats become None."""
    if isinstance(v, float):
        return v if math.isfinite(v) else None
    if isinstance(v, dict):
        return {str(k): _clean(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_clean(x) for x in v]
    return v


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    # every JVM, the spark-submit launcher too: temp files in the work
    # directory and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    # Python workers (pandas UDFs) import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # the package under test; a checkout without it cannot run
    import feature_store_fraud_detection_spark  # noqa: F401

    from perfbench import harness

    module = importlib.import_module(WORKLOADS[args.workload])
    r = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    t_run = time.perf_counter()
    try:
        e2e = r.normalized(module.run(r))
        e2e["setup_s"] = harness.stats.median(r.setup_times)
        r.report("peak_rss_mb", r.peak_rss_mb(), "MB")
        env = r.environment()
        # the raw times are per-layer diagnostics next to the counters
        per_layer = {**e2e, **r.generic_per_layer()} if args.trace else {}
    finally:
        r.close()
    run_s = time.perf_counter() - t_run
    shutil.rmtree(work, ignore_errors=True)

    why = {w["name"]: w["why"] for w in spec["workloads"]}
    attempted = len(r.samples)
    failed = sum(not s.ok for s in r.samples)
    end_checks = r.detail.get("end_checks", {})
    correct = not any(s.wrong for s in r.samples) and all(
        v is True for v in end_checks.values())

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    e2e_names = [m["name"] for m in spec["end_to_end"]]
    last_path = os.path.join(out_dir, f"last_untraced_{args.workload}.json")
    if args.trace:
        metrics = {m["name"]: per_layer.get(m["name"]) for m in spec["per_layer"]}
        overhead = None
        if os.path.exists(last_path):
            with open(last_path) as f:
                base = json.load(f)
            overhead = {k: e2e[k] - base[k] for k in e2e_names
                        if base.get(k) is not None and e2e.get(k) is not None}
        r.detail["traced_end_to_end"] = e2e
        r.detail["tracing_overhead"] = {
            "definition": "traced end-to-end metric minus the last untraced run's, same workload",
            "last_untraced": last_path if overhead is not None else None,
            "delta": overhead,
        }
        r.spans.write(os.path.join(out_dir, f"spans_{args.workload}_{args.seed}.jsonl"))
    else:
        metrics = {k: e2e.get(k) for k in e2e_names}
        with open(last_path, "w") as f:
            json.dump(_clean(metrics), f)

    record = _clean({
        "workload": args.workload,
        "why": why.get(args.workload),
        "environment": env,
        "setup_times_s": r.setup_times,
        "run_s": run_s,
        "attempted": attempted,
        "failed": failed,
        "errors": sorted({s.error for s in r.samples if s.error})[:20],
        "reference_ms": r.refs,
        **r.detail,
        "per_layer": r.layer_metrics,
        "layers_by_span": r.spans.layers() if args.trace else None,
    })
    with open(os.path.join(out_dir, f"record_{args.workload}_{args.seed}_{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record))
    missing = [k for k, v in metrics.items() if v is None]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
