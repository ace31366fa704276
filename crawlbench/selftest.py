#!/usr/bin/env python3
"""Self-test of the benchmark.

1. A smoke-size run of every workload through ``run.py`` (fresh process
   each): exit code 0, a passing gate, and exactly the metric names
   BENCHMARK.json declares (end-to-end untraced, per-layer traced).
2. Proof that the correctness gate fails when an expected value is wrong:
   each workload's gate is fed a wrong expectation and must count failures.

    python3 crawlbench/selftest.py
"""

from __future__ import annotations

import json
import random
import subprocess
import sys
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUN = [sys.executable, str(ROOT / "crawlbench" / "run.py")]


def _result(args: list[str]) -> dict:
    proc = subprocess.run(RUN + args, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"run.py {args} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def smoke_runs(spec: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    runs = [(w, t) for w in ("frontier_wide", "listing_monitor", "policy_api") for t in (0, 1)]
    for workload, trace in runs:
        res = _result(["--workload", workload, "--seed", "7", "--seconds", "1",
                       "--trace", str(trace), "--smoke"])
        want = layers if trace else e2e
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want, sorted(res["metrics"])
        if not trace:
            assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]
        print(f"ok   smoke {workload} trace={trace}: {res['attempted']} operations")


def gate_failures() -> None:
    """Wrong expectations must show up as failed operations."""
    sys.path.insert(0, str(ROOT))
    from crawlbench import frontier_wide, harness, listing_monitor, probes

    work = harness.prepare_sandbox(f"selftest-{uuid.uuid4().hex[:8]}")
    spark, session_s = harness.start_spark(work)
    try:
        tracer = harness.Tracer(spark, "selftest", "selftest", enabled=False)
        ctx = harness.Ctx(spark=spark, seed=7, seconds=1, trace=False,
                          work=work, session_s=session_s, tracer=tracer, smoke=True)

        # frontier_wide: a corpus size one larger than the crawl saw
        from icrawler_spark.crawl import synthetic_pages_df, synthetic_seed_df

        n = 300
        pages = synthetic_pages_df(spark, n_pages=n, n_hosts=7, links_per_page=4).cache()
        seeds = synthetic_seed_df(spark, n, stride=5, n_hosts=7)
        eng, metrics, _ = frontier_wide._crawl(ctx, pages, seeds, n)
        good, bad = harness.Gate(), harness.Gate()
        frontier_wide._gate_pass(good, eng, metrics, n)
        frontier_wide._gate_pass(bad, eng, metrics, n + 1)
        assert good.failed == 0 and bad.failed > 0, (good, bad)
        print(f"ok   gate frontier_wide: wrong corpus size -> {bad.failed} failed")

        # listing_monitor: the reference model sees one detail page less, and
        # one extracted text is altered
        from icrawler_spark.config import load_tasks
        from icrawler_spark.crawl import site_pages_df

        sites, config, _warm = listing_monitor._generate(7, smoke=True)
        tasks = load_tasks(config)
        corpus = {}
        for site, _start in sites.values():
            corpus.update(site)
        pages = site_pages_df(spark, corpus).cache()
        engines, _rounds, docs, texts, _wall = listing_monitor._pass(ctx, pages, tasks)
        good = harness.Gate()
        listing_monitor._gate_pass(good, engines, tasks, sites, docs, texts)
        assert good.failed == 0, good.problems
        name = tasks[0].name
        site, start = sites[name]
        wrong_site = {u: c for u, c in site.items() if not u.endswith("/list/detail_1.html")}
        bad = harness.Gate()
        listing_monitor._gate_pass(bad, engines, tasks, {**sites, name: (wrong_site, start)}, docs, texts)
        assert bad.failed > 0, bad
        print(f"ok   gate listing_monitor: wrong site model -> {bad.failed} failed")
        row = texts[0]
        altered = [type(row)(entry_id=row.entry_id, text=row.text + "x", status=row.status)] + texts[1:]
        bad = harness.Gate()
        listing_monitor._gate_pass(bad, engines, tasks, sites, docs, altered)
        assert bad.failed == 1, bad
        print("ok   gate listing_monitor: altered entry text -> 1 failed")

        # policy_api: an HTTP payload compared against a wrong in-process twin
        from icrawler_spark.httpapi import PolicyHTTPServer
        from icrawler_spark.serve import PolicyService

        from crawlbench.inputs import catalog

        entries, documents, texts_rows, _topics = catalog(random.Random(7), 50)
        service = PolicyService.from_state(
            spark.createDataFrame(entries, "entry_id string, task string, serial long, title string, remark string"),
            spark.createDataFrame(documents, "entry_id string, url string, doc_type string, title string, _src_pos long"),
            spark.createDataFrame(texts_rows, "entry_id string, text string"),
        )
        req = probes.policy_req(3)
        with PolicyHTTPServer(service) as (host, port):
            status, body = probes.http_get(f"http://{host}:{port}", req.path)
        right = probes.as_json(req.call(service))
        wrong = probes.as_json({**right, "policy": {**right["policy"], "id": 4}})
        gate = harness.Gate()
        gate.check(status == 200 and body == right, "right twin")
        gate.check(status == 200 and body == wrong, "wrong twin")
        assert (gate.attempted, gate.failed) == (2, 1), gate
        print("ok   gate policy_api: payload against a wrong twin -> 1 failed")
    finally:
        harness.stop_spark(spark)
        import shutil

        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    smoke_runs(spec)
    gate_failures()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
