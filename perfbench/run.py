"""FDR -> OCSF benchmark.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, table

Run from the repository root.  One run prints, as its last stdout line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ledger with
``--trace 1``).  A traced run also prints its spans on the line before.
See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

END_TO_END = {
    "setup_s": "s",
    "op_latency_s": "s",
    "events_per_s_per_core": "1/s",
}


def end_to_end(run) -> dict:
    rates = [e / t / run.cores for e, t in zip(run.op_events, run.op_s)]
    values = {
        "setup_s": run.setup_s,
        "op_latency_s": statistics.median(run.op_s),
        "events_per_s_per_core": statistics.median(rates),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(run) -> dict:
    from workloads import PER_LAYER

    run.layer["trace.op_latency_s"] = statistics.median(run.op_s)
    missing = [k for k in PER_LAYER if k not in run.layer]
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return {k: {"value": run.layer[k], "unit": unit} for k, unit in PER_LAYER.items()}


def run_one(args) -> int:
    sys.path.insert(0, HERE)
    import workloads

    cores = args.cores or len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = workloads.Run(
        work=work, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        cores=cores, lines=args.lines,
    )
    try:
        workloads.WORKLOADS[args.workload](run)
        metrics = per_layer(run) if run.trace else end_to_end(run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in run.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = run.failed == 0 and not run.problems
    if run.trace:
        print(json.dumps({"spans": run.spans.records}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload untraced, then traced, then etl_batch on one core;
    prints each end-to-end metric by name and unit, the tracing overhead
    and the single-core scaling."""
    from workloads import WORKLOADS

    def child(workload, trace, cores=0):
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(trace), "--cores", str(cores),
        ]
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        sys.stderr.write(out.stderr[-2000:] if out.returncode else "")
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        return out.returncode, json.loads(last)

    status = 0
    for w in WORKLOADS:
        rc, res = child(w, 0)
        rct, traced = child(w, 1)
        status |= rc | rct
        print(f"{w}: correct={res.get('correct')} attempted={res.get('attempted')} "
              f"failed={res.get('failed')} failed_ops_ratio="
              f"{res.get('failed', 0) / max(1, res.get('attempted', 1)):.4f}")
        for name, m in res.get("metrics", {}).items():
            print(f"  {name:<24} {m['value']:>14.4f} {m['unit']}")
        if res.get("metrics") and traced.get("metrics"):
            untraced = res["metrics"]["op_latency_s"]["value"]
            t = traced["metrics"]["trace.op_latency_s"]["value"]
            print(f"  {'trace.overhead_s':<24} {t - untraced:>14.4f} s")
            for name, m in traced["metrics"].items():
                print(f"    ledger {name:<40} {m['value']:>16.4f} {m['unit']}")
        if w == "etl_batch" and res.get("metrics"):
            rc1, one = child(w, 0, cores=1)
            status |= rc1
            if one.get("metrics"):
                speedup = one["metrics"]["op_latency_s"]["value"] / res["metrics"]["op_latency_s"]["value"]
                print(f"  {'scaling.etl_speedup_vs_1core':<24} {speedup:>14.4f} x")
    return 1 if status else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0, help="local[N]; 0 = every core")
    ap.add_argument("--lines", type=int, default=0, help="corpus lines; 0 = the workload's")
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
