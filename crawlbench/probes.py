"""Per-layer measurements for traced runs, and the policy API request model.

Every traced run reports every per-layer metric. A layer the workload never
calls reports 0 for its times and counts: nothing was called, so nothing was
spent (see README.md, "Per-layer metrics")."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from .harness import force, median, span_s

ROUTES = ("search", "policies", "policy", "clause")

LAYER_METRICS = {
    # name: unit
    "session.start_s": "s",
    "trace.overhead_s": "s",
    "frontier.round_s": "s",
    "frontier.drain_round_s": "s",
    "frontier.spark_jobs_per_round": "count",
    "frontier.spark_stages_per_round": "count",
    "frontier.spark_tasks_per_round": "count",
    "frontier.pages_fetched": "count",
    "frontier.links_discovered": "count",
    "frontier.links_new": "count",
    "frontier.new_link_ratio": "ratio",
    "seen_filter.build_s": "s",
    "seen_filter.probe_s": "s",
    "seen_filter.false_maybe_ratio": "ratio",
    "parsers.links_s": "s",
    "parsers.pagination_links_s": "s",
    "parsers.listing_entries_s": "s",
    "parsers.detail_attachments_s": "s",
    "downloads.stage_s": "s",
    "downloads.files_downloaded": "count",
    "downloads.files_reused": "count",
    "textpipe.extract_s": "s",
    "textpipe.entries": "count",
    "textpipe.ok_ratio": "ratio",
    "search.index_build_s": "s",
    "search.fuzzy_s": "s",
    "search.keyword_s": "s",
    **{f"serve.{r}_s": "s" for r in ROUTES},
    **{f"serve.{r}_spark_jobs": "count" for r in ROUTES},
    **{f"http.{r}_p50_s": "s" for r in ROUTES},
    **{f"http.{r}_overhead_s": "s" for r in ROUTES},
}


# --- crawl layers -------------------------------------------------------------


def round_layers(tracer, round_metrics, task: str) -> dict:
    """frontier.* from one crawl's ``frontier.run_round`` spans and its
    RoundMetrics."""
    spans = [s for s in tracer.named("frontier.run_round") if s["task"] == task]
    busy = [s for s in spans if s["pages_fetched"] > 0]
    drain = [s for s in spans if s["pages_fetched"] == 0]
    found = sum(m.links_discovered for m in round_metrics)
    new = sum(m.links_new for m in round_metrics)
    return {
        "frontier.round_s": span_s(busy),
        "frontier.drain_round_s": span_s(drain),
        "frontier.spark_jobs_per_round": median([s["spark_jobs"] for s in spans]),
        "frontier.spark_stages_per_round": median([s["spark_stages"] for s in spans]),
        "frontier.spark_tasks_per_round": median([s["spark_tasks"] for s in spans]),
        "frontier.pages_fetched": sum(m.pages_fetched for m in round_metrics),
        "frontier.links_discovered": found,
        "frontier.links_new": new,
        "frontier.new_link_ratio": new / found if found else 0.0,
    }


def traced_round(tracer, eng):
    """One ``CrawlEngine.run_round`` inside a span carrying its job group."""
    with tracer.span("frontier.run_round", task=eng.cfg.task, round=eng._round) as rec:  # noqa: SLF001
        m = eng.run_round()
    if rec is not None:
        rec["pages_fetched"] = m.pages_fetched
    return m


def _timed(tracer, name: str, fn):
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def crawl_parser_layers(tracer, spark, eng, pages) -> dict:
    """seen_filter.*, parsers.links_s and parsers.pagination_links_s, forced
    on the crawl's own data; the parsers run over the pages round 0 fetched.

    The seen filter is built over round 0's visited urls and probed with the
    links round 0's pages discovered, as the engine does at the end of round
    0; a "maybe seen" link that round 0 did not visit is a false maybe."""
    from icrawler_spark.crawl import bloom
    from icrawler_spark.parsers import udfs
    from icrawler_spark.parsers.links import extract_links

    cfg = eng.cfg
    fetched = pages.join(eng.visited.select("url", "round"), "url").select(
        F.lit(cfg.task).alias("task"), "url", "html", "round"
    )
    round0 = fetched.where(F.col("round") == 0).drop("round")
    out = {}

    visited0 = eng.visited.where(F.col("round") == 0).select(F.xxhash64("url").alias("_sk"))
    sketch, out["seen_filter.build_s"] = _timed(
        tracer, "seen_filter.build_filter",
        lambda: bloom.build_filter(visited0, "_sk", cfg.bloom_capacity, cfg.bloom_fpp),
    )
    links0 = (
        udfs.parse_pagination_links(round0.withColumn("start_url", F.lit(cfg.scope_url)), slim=True)
        .select(F.xxhash64("url").alias("_sk"))
        .localCheckpoint(eager=True)
    )
    bc = spark.sparkContext.broadcast(sketch.to_bytes())
    flagged = bloom.prefilter_unseen(links0, "_sk", bc)
    _, out["seen_filter.probe_s"] = _timed(tracer, "seen_filter.prefilter_unseen", lambda: force(flagged))
    truth = visited0.distinct().withColumn("_seen", F.lit(True))
    row = (
        flagged.join(truth, "_sk", "left")
        .agg(
            F.sum(F.col("_maybe_seen").cast("int")).alias("maybe"),
            F.sum((F.col("_maybe_seen") & F.col("_seen").isNull()).cast("int")).alias("false_maybe"),
        )
        .collect()[0]
    )
    out["seen_filter.false_maybe_ratio"] = (row.false_maybe or 0) / row.maybe if row.maybe else 0.0
    bc.unpersist()

    _, out["parsers.links_s"] = _timed(
        tracer, "parsers.extract_links", lambda: force(extract_links(round0))
    )
    _, out["parsers.pagination_links_s"] = _timed(
        tracer, "parsers.parse_pagination_links",
        lambda: force(udfs.parse_pagination_links(
            round0.withColumn("start_url", F.lit(cfg.scope_url)), slim=True)),
    )
    return out


def listing_parser_layers(tracer, eng, listing_pages, detail_pages) -> dict:
    """parsers.listing_entries_s and parsers.detail_attachments_s, forced on
    a listing crawl's own listing and detail pages."""
    from icrawler_spark.parsers import udfs

    out = {}
    _, out["parsers.listing_entries_s"] = _timed(
        tracer, "parsers.parse_listing_entries",
        lambda: force(udfs.parse_listing_entries(listing_pages.withColumn("dialect", F.lit(eng.cfg.dialect)))),
    )
    _, out["parsers.detail_attachments_s"] = _timed(
        tracer, "parsers.parse_detail_attachments",
        lambda: force(udfs.parse_detail_attachments(detail_pages)),
    )
    return out


# --- policy API requests ------------------------------------------------------


@dataclass
class Req:
    """One API request: its HTTP path and its in-process twin."""

    route: str
    path: str
    call: Callable      # PolicyService -> payload dict
    check: Callable     # payload -> bool, cheap check made on every response


def _q(s: str) -> str:
    return urllib.parse.quote(s)


def search_req(query: str, topk: int = 5) -> Req:
    return Req("search", f"/search?query={_q(query)}&topk={topk}",
               lambda s: s.search_payload(query, topk, True),
               lambda p: p.get("result_count", 0) > 0)


def policies_req(query: str) -> Req:
    return Req("policies", f"/policies?query={_q(query)}",
               lambda s: s.policies_payload(query),
               lambda p: 0 < p.get("result_count", 0)
               and all(query in r["title"] for r in p["policies"][:3]))


def policy_req(serial: int) -> Req:
    return Req("policy", f"/policies/{serial}?include=all",
               lambda s: s.policy_payload(str(serial), include=["all"]),
               lambda p: p.get("policy", {}).get("id") == serial and bool(p.get("text")))


def clause_req(title: str, item: str) -> Req:
    return Req("clause", f"/clause?title={_q(title)}&item={_q(item)}",
               lambda s: s.clause_payload(title, item),
               lambda p: p.get("clause", {}).get("article_matched") is True)


def http_get(base: str, path: str):
    """(status, decoded JSON or None)."""
    try:
        with urllib.request.urlopen(base + path, timeout=60) as resp:
            return resp.status, json.loads(resp.read().decode("utf-8"))
    except urllib.error.HTTPError as e:
        return e.code, None


def as_json(payload) -> object:
    """The payload as the server would put it on the wire, decoded again."""
    return json.loads(json.dumps(payload, ensure_ascii=False))


def build_index(tracer, entries, documents):
    """(cached search index, seconds): what ``PolicyService.from_state``
    builds, timed through the first action on it."""
    from icrawler_spark.search.index import build_search_index

    return _timed(tracer, "search.build_search_index", lambda: _cached(build_search_index(entries, documents)))


def serve_layers(tracer, index, index_build_s: float, documents, texts, requests: list[Req],
                 repeats: int = 3) -> dict:
    """search.*, serve.* and http.* on one catalog and its index (from
    ``build_index``): the in-process payload call of every route, interleaved
    with the same request over HTTP."""
    from icrawler_spark.httpapi import PolicyHTTPServer
    from icrawler_spark.search.index import keyword_search, search
    from icrawler_spark.serve import PolicyService

    out = {"search.index_build_s": index_build_s}
    fuzzy = [r for r in requests if r.route == "search"][:repeats]
    keyword = [r for r in requests if r.route == "policies"][:repeats]

    def q_of(r: Req) -> str:
        return urllib.parse.parse_qs(urllib.parse.urlparse(r.path).query)["query"][0]

    out["search.fuzzy_s"] = median(
        [_timed(tracer, "search.search", lambda r=r: search(index, q_of(r), 5).collect())[1] for r in fuzzy]
    )
    out["search.keyword_s"] = median(
        [_timed(tracer, "search.keyword_search", lambda r=r: keyword_search(index, texts, q_of(r)).collect())[1]
         for r in keyword]
    )
    service = PolicyService(index, documents, texts)
    with PolicyHTTPServer(service) as (host, port):
        base = f"http://{host}:{port}"
        for route in ROUTES:
            picked = [r for r in requests if r.route == route][:repeats]
            picked[0].call(service)  # warm the route before either side is timed
            in_proc, over_http = [], []
            for r in picked:  # interleaved, so neither side runs warmer
                in_proc.append(_timed(tracer, f"serve.{route}", lambda r=r: r.call(service))[1])
                with tracer.span(f"http.{route}"):
                    t0 = time.perf_counter()
                    http_get(base, r.path)
                    over_http.append(time.perf_counter() - t0)
            out[f"serve.{route}_s"] = median(in_proc)
            out[f"http.{route}_p50_s"] = median(over_http)
            out[f"http.{route}_overhead_s"] = median(over_http) - median(in_proc)
    return out


def serve_job_counts(tracer, layers: dict) -> None:
    """serve.<route>_spark_jobs once the tracer has attached Spark counts."""
    for route in ROUTES:
        spans = tracer.named(f"serve.{route}")
        if spans:
            layers[f"serve.{route}_spark_jobs"] = median([s["spark_jobs"] for s in spans])


def _cached(df):
    df = df.cache()
    df.count()
    return df
