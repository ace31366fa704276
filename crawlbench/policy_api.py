"""policy_api: the read path. A closed loop of ``CLIENTS`` client threads in
this process sends a fixed, seeded request mix to ``PolicyHTTPServer`` over a
synthetic catalog: fuzzy ``/search``, selective ``/policies?query=`` (a topic
word sits in ~20 titles), ``/policies/{id}?include=all`` and ``/clause``.
Only ``search``, ``serve`` and ``httpapi`` run; there is no crawl.

One operation is one request; it fails on a non-200 status or a payload that
fails its check. A fixed sample of requests is also compared, outside the
timed phase, JSON-equal against the in-process ``PolicyService`` payload.
"""

from __future__ import annotations

import random
import threading
import time

import pandas as pd

from . import probes
from .harness import Gate, Outcome, digest, median, percentile, settle
from .inputs import catalog

N_ENTRIES = 20_000
SMOKE_ENTRIES = 1_000
CLIENTS = 2
# >= 10 samples beyond p80, the highest percentile a run reports; 100
# requests (for p90) would add about 15 s to every run, more than the
# run-time budget of the benchmark allows
MIN_REQUESTS = 50
PLAN_LEN = 4_000
GATE_SAMPLE = 8
SETUP_REPEATS = 3
_ITEMS = ["第一条", "第二条", "第三条"]
# Route cycle: search in three slots of six, so the median latency falls a
# third of the way into the search cluster (requests ranked 34%-83% by
# latency). With two slots of five it sat at the cluster's lower edge, next to
# the faster policy and clause requests, and moved with their overlap.
MIX = ("search", "policies", "search", "policy", "search", "clause")


def _plan(rng: random.Random, entries, topics, n: int) -> list:
    """The request sequence: ``MIX`` over and over, parameters drawn from the
    seed."""
    plan = []
    for i in range(n):
        eid, _task, serial, title, _remark = entries[rng.randrange(len(entries))]
        route = MIX[i % len(MIX)]
        topic = topics[(serial - 1) % len(topics)]  # catalog's topic assignment
        if route == "search":
            plan.append(probes.search_req(f"{topic}管理 {title[-8:-1]}"))
        elif route == "policies":
            plan.append(probes.policies_req(topic))
        elif route == "policy":
            plan.append(probes.policy_req(serial))
        else:
            plan.append(probes.clause_req(title, rng.choice(_ITEMS)))
    return plan


def _closed_loop(base: str, plan: list, seconds: float):
    """(records [(route, latency_s or inf, ok)], wall seconds)."""
    lock = threading.Lock()
    state = {"next": 0}
    records: list = []
    t_start = time.perf_counter()

    def client():
        while True:
            with lock:
                i = state["next"]
                done = time.perf_counter() - t_start >= seconds and i >= MIN_REQUESTS
                if done or i >= len(plan):
                    return
                state["next"] = i + 1
            req = plan[i]
            t0 = time.perf_counter()
            try:
                status, body = probes.http_get(base, req.path)
                ok = status == 200 and body is not None and bool(req.check(body))
            except OSError:
                ok = False
            lat = time.perf_counter() - t0
            with lock:
                records.append((req.route, lat if ok else float("inf"), ok))

    threads = [threading.Thread(target=client, name=f"client-{k}") for k in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=170)
    return records, time.perf_counter() - t_start


def run(ctx) -> Outcome:
    from icrawler_spark.httpapi import PolicyHTTPServer
    from icrawler_spark.serve import PolicyService

    spark = ctx.spark
    n = SMOKE_ENTRIES if ctx.smoke else N_ENTRIES
    gen_s, frames = [], None
    for _ in range(1 if ctx.trace else SETUP_REPEATS):  # a traced run does not report setup_s
        if frames is not None:
            for df in frames:
                df.unpersist()
        t0 = time.perf_counter()
        rng = random.Random(ctx.seed)
        entries, documents, texts, topics = catalog(rng, n)
        frames = [
            spark.createDataFrame(pd.DataFrame(rows, columns=cols)).cache()
            for rows, cols in (
                (entries, ["entry_id", "task", "serial", "title", "remark"]),
                (documents, ["entry_id", "url", "doc_type", "title", "_src_pos"]),
                (texts, ["entry_id", "text"]),
            )
        ]
        for df in frames:
            df.count()
        gen_s.append(time.perf_counter() - t0)
    entries_df, documents_df, texts_df = frames
    plan = _plan(rng, entries, topics, PLAN_LEN)
    sample = _plan(random.Random(ctx.seed + 1), entries, topics, GATE_SAMPLE)
    input_digest = digest(entries, documents, texts, [r.path for r in plan])

    # what PolicyService.from_state does, with the index build timed on its own
    index, index_s = probes.build_index(ctx.tracer, entries_df, documents_df)
    service = PolicyService(index, documents_df, texts_df)

    gate = Gate()
    server = PolicyHTTPServer(service)
    host, port = server.start()
    base = f"http://{host}:{port}"
    try:
        # warm-up: the gate sample over HTTP (every route); the in-process
        # payloads it is compared with are computed outside setup_s
        t0 = time.perf_counter()
        responses = [probes.http_get(base, req.path) for req in sample]
        setup_s = ctx.session_s + median(gen_s) + index_s + (time.perf_counter() - t0)
        for req, (status, body) in zip(sample, responses):
            gate.check(status == 200 and body == probes.as_json(req.call(service)),
                       f"{req.path}: HTTP payload differs from PolicyService")

        settle(spark)
        # a traced run reports per-layer metrics only; serve_layers below
        # times every route itself
        records, wall = ([], 0.0) if ctx.trace else _closed_loop(base, plan, ctx.seconds)
    finally:
        server.stop()
    for route, _lat, ok in records:
        gate.check(ok, f"{route} request failed")

    lat = [r[1] for r in records]
    req_per_s = sum(ok for _r, _l, ok in records) / wall if wall else 0.0
    p50, p80 = percentile(lat, 0.5), percentile(lat, 0.8)

    layers = {}
    if ctx.trace:
        layers.update(probes.serve_layers(ctx.tracer, index, index_s, documents_df, texts_df, plan[:24]))
    return Outcome(
        setup_s=setup_s,
        items_per_s=req_per_s,
        unit_p50_s=p50,
        gate=gate,
        headline={"setup_s": (setup_s, "s"), **({} if ctx.trace else {
            "req_per_s": (req_per_s, "1/s"), "req_p50_s": (p50, "s"), "req_p80_s": (p80, "s")})},
        layers=layers,
        input_digest=input_digest,
        notes={"requests": len(records), "beyond_p80": sum(x > p80 for x in lat),
               "entries": n, "generate_s": [round(g, 3) for g in gen_s], "index_build_s": round(index_s, 3),
               "route_p50_s": {r: round(percentile([x for q, x, _ in records if q == r], 0.5), 4)
                               for r in probes.ROUTES}},
    )
