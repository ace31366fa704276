#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 crawlbench/run.py --workload frontier_wide --seed 1 --seconds 10 --trace 0
    python3 crawlbench/run.py --workload all --seed 1      # each workload in a fresh process

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``). Lines before it give the workload's own metric
names (pages_per_s, docs_per_s, round_p50_s, req_per_s, req_p50_s, req_p80_s),
the input digest and any correctness problems. See crawlbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("frontier_wide", "listing_monitor", "policy_api")
DEADLINE_S = 170  # the run must end within 180 s


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    return ap.parse_args(argv)


def _run_all(args) -> int:
    """Every workload in its own process; one combined result line."""
    results, ok = {}, True
    for name in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        if args.smoke:
            cmd.append("--smoke")
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = proc.stdout.strip().splitlines()
        for ln in lines[:-1]:
            print(ln)
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"{name}: exited with code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        results[name] = json.loads(lines[-1])
        ok = ok and results[name]["correct"]
    metrics = {}
    for name, res in results.items():
        for key, val in res["metrics"].items():
            metrics[f"{name}.{key}"] = val
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": metrics,
    }))
    return 0


def _metrics(outcome, trace: bool) -> dict:
    if not trace:
        return {
            "setup_s": {"value": outcome.setup_s, "unit": "s"},
            "items_per_s": {"value": outcome.items_per_s, "unit": "1/s"},
            "unit_p50_s": {"value": outcome.unit_p50_s, "unit": "s"},
        }
    from crawlbench.probes import LAYER_METRICS

    return {name: {"value": float(outcome.layers[name]), "unit": unit}
            for name, unit in LAYER_METRICS.items()}


def _deadline(_signum, _frame):
    raise TimeoutError(f"benchmark run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = _parse(argv)
    if args.workload == "all":
        return _run_all(args)
    if not (ROOT / "icrawler_spark" / "__init__.py").is_file():
        print(f"icrawler_spark not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    from crawlbench import harness, probes

    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    work = harness.prepare_sandbox(run_id)
    spark = None
    try:
        spark, session_s = harness.start_spark(work)
        tracer = harness.Tracer(spark, args.workload, run_id, enabled=bool(args.trace))
        ctx = harness.Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                          trace=bool(args.trace), work=work, session_s=session_s, tracer=tracer,
                          smoke=args.smoke)
        outcome = importlib.import_module(f"crawlbench.{args.workload}").run(ctx)
        if args.trace:
            tracer.attach_spark_counts()
            layers = dict.fromkeys(probes.LAYER_METRICS, 0.0)
            layers.update(outcome.layers)
            layers["session.start_s"] = session_s
            layers["trace.overhead_s"] = tracer.overhead_s
            if outcome.round_metrics:
                layers.update(probes.round_layers(tracer, outcome.round_metrics, outcome.round_task))
            probes.serve_job_counts(tracer, layers)
            outcome.layers = layers
            trace_path = harness.TRACE_DIR / f"{run_id}.jsonl"
            tracer.dump(trace_path)
            print(f"trace: {len(tracer.spans)} spans -> {trace_path.relative_to(ROOT)}")
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)

    gate = outcome.gate
    print(f"workload: {args.workload}  seed: {args.seed}  input digest: {outcome.input_digest}")
    for name, (value, unit) in outcome.headline.items():
        print(f"  {name} = {value:.6g} {unit}")
    print(f"  notes: {json.dumps(outcome.notes, ensure_ascii=False)}")
    print(f"  correctness gate: {'PASS' if gate.failed == 0 else 'FAIL'} "
          f"({gate.failed} of {gate.attempted} operations failed)")
    for problem in gate.problems:
        print(f"    - {problem}")
    print(json.dumps({
        "correct": gate.failed == 0 and gate.attempted > 0,
        "attempted": gate.attempted,
        "failed": gate.failed,
        "metrics": _metrics(outcome, bool(args.trace)),
    }))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    code = main()
    print(f"wall {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
