"""listing_monitor: the reference's own job, run the way ``monitor_action``
runs it.

Two PBC-style listing tasks, one host each, default dialect, pagination and
detail pages, attachments of real docx/pdf/html bytes. Each task crawls with
entry parsing, the per-host budget monitor_action derives from the task's
HTTP options, the download stage and a fresh ``checkpoint_dir``; then
``extract_entry_texts`` runs over every downloaded document. Rounds are
small, so fixed per-round cost dominates.

Operations: every crawl-order position, seen-set url, downloaded url and
entry text, each checked against ``reference_model`` / ``extract_best``.
"""

from __future__ import annotations

import random
import time
import uuid

from pyspark.sql import functions as F

from . import probes
from .harness import Gate, Outcome, digest, median, settle, span_s
from .inputs import listing_site

N_TASKS = 1
N_PAGES = 5        # listing pages per task: one start page + one budgeted round
N_ENTRIES = 4      # entries per listing page
ROUND_DURATION_S = 60.0  # monitor_action's default
CONFIG = {"delay": 3, "jitter": 2}  # pbc_config.json defaults: 15 pages/host/round
SETUP_REPEATS = 3


def _site_specs(seed: int, smoke: bool):
    rng = random.Random(seed)
    specs = []
    for k in range(N_TASKS):
        host = f"www.task{k}-{rng.randrange(10_000)}.example.test"
        n_pages = 1 if smoke else N_PAGES  # smoke: one round per pass
        entries = 2 if smoke else N_ENTRIES
        specs.append((f"task{k}", host, n_pages, entries))
    return rng, specs


def _generate(seed: int, smoke: bool):
    """(sites by task name, pbc_config-shaped config, warm-up site)."""
    rng, specs = _site_specs(seed, smoke)
    sites, tasks = {}, []
    for name, host, n_pages, entries in specs:
        site, start = listing_site(rng, host, n_pages, entries)
        sites[name] = (site, start)
        tasks.append({"name": name, "start_url": start, "parser": "default"})
    warm = listing_site(rng, "www.warmup.example.test", 1, 2)
    return sites, {**CONFIG, "tasks": tasks}, warm


def monitor_config(task, checkpoint_dir: str):
    """The CrawlConfig ``runner.monitor_action`` builds for a task."""
    from icrawler_spark.crawl import CrawlConfig

    return CrawlConfig(
        start_url=task.start_url, task=task.name, dialect=task.parser_dialect,
        max_rounds=1000, host_budget=task.http.host_budget(ROUND_DURATION_S),
        download_docs=True, allowed_types=task.allowed_types or None,
        checkpoint_dir=checkpoint_dir,
    )


def _monitor(ctx, pages, task, traced: bool):
    """Crawl one task to drain: (engine, [(RoundMetrics, wall_s)])."""
    from icrawler_spark.crawl import CrawlEngine

    cfg = monitor_config(task, str(ctx.work / f"ckpt-{task.name}-{uuid.uuid4().hex[:8]}"))
    eng = CrawlEngine(ctx.spark, pages, cfg)
    eng.resume_or_init()
    rounds = []
    while eng._round < cfg.max_rounds and eng.pending is not None and eng._n_pending > 0:  # noqa: SLF001 — run()'s loop
        t0 = time.perf_counter()
        m = probes.traced_round(ctx.tracer, eng) if traced else eng.run_round()
        rounds.append((m, time.perf_counter() - t0))
    return eng, rounds


def _fetched_docs(eng, pages):
    """(entry_id, url, doc_type, content, pos) of every downloaded document."""
    downloaded = eng.seen.where(F.col("downloaded")).select("url")
    return (
        eng.documents.join(downloaded, "url", "left_semi")
        .join(pages.select("url", F.col("html").alias("content")), "url")
        .select("entry_id", "url", "doc_type", "content", F.col("_src_pos").alias("pos"))
    )


def _pass(ctx, pages, tasks, traced: bool = False):
    """Monitor every task, then extract texts. Returns (engines, rounds,
    fetched docs, extracted rows, wall seconds)."""
    from icrawler_spark.textpipe.udfs import extract_entry_texts

    t0 = time.perf_counter()
    engines, rounds = [], []
    for task in tasks:
        eng, r = _monitor(ctx, pages, task, traced)
        engines.append(eng)
        rounds += r
    docs = _fetched_docs(engines[0], pages)
    for eng in engines[1:]:
        docs = docs.unionByName(_fetched_docs(eng, pages))
    with ctx.tracer.span("textpipe.extract_entry_texts"):
        texts = extract_entry_texts(docs).select("entry_id", "text", "status").collect()
    return engines, rounds, docs, texts, time.perf_counter() - t0


def _gate_pass(gate: Gate, engines, tasks, sites, docs, texts) -> int:
    """Check one pass against the reference models; returns documents
    downloaded."""
    from icrawler_spark.crawl.reference_model import crawl_model, crawl_model_docs, download_model
    from icrawler_spark.textpipe.extract import extract_best
    from icrawler_spark.textpipe.udfs import url_suffix

    n_downloaded = 0
    for eng, task in zip(engines, tasks):
        site, start = sites[task.name]
        order, seen, _ = crawl_model(
            site, start, task.parser_dialect, host_budget=task.http.host_budget(ROUND_DURATION_S)
        )
        rich = crawl_model_docs(site, start, task.parser_dialect)
        want_dl, want_docs, _ = download_model(site, rich)
        got_dl = {r.url for r in eng.seen.where(F.col("downloaded")).select("url").collect()}
        n_downloaded += len(got_dl)
        gate.compare_lists(eng.crawl_order(), order, f"{task.name} crawl order")
        gate.compare_sets(eng.seen_urls(), seen | want_docs, f"{task.name} seen set")
        gate.compare_sets(got_dl, want_dl, f"{task.name} downloaded set")
    by_entry: dict[str, list] = {}
    for r in docs.collect():
        by_entry.setdefault(r.entry_id, []).append(r)
    got = {r.entry_id: r.text for r in texts}
    gate.compare_sets(got, by_entry, "extracted entries")
    for eid, rows in by_entry.items():
        rows.sort(key=lambda r: r.pos)
        want = extract_best(
            [(bytes(r.content) if r.content is not None else None, r.doc_type, url_suffix(r.url)) for r in rows]
        ).text
        gate.check(got.get(eid) == want, f"entry {eid} text differs from extract_best")
    return n_downloaded


def _download_layers(ctx, engines, pages, rounds) -> dict:
    """downloads.*: the stage forced on the first task's final state with
    every download flag cleared, plus the traced pass's RoundMetrics."""
    from icrawler_spark.crawl.downloads import run_download_stage

    eng = engines[0]
    cleared = eng.seen.withColumn("downloaded", F.lit(False)).withColumn(
        "local_path", F.lit(None).cast("string")
    )
    with ctx.tracer.span("downloads.run_download_stage"):
        t0 = time.perf_counter()
        seen, _docs, _m = run_download_stage(ctx.spark, pages, cleared, eng.documents)
        seen.localCheckpoint(eager=True)
        stage_s = time.perf_counter() - t0
    return {
        "downloads.stage_s": stage_s,
        "downloads.files_downloaded": sum(m.files_downloaded for m, _ in rounds),
        "downloads.files_reused": sum(m.files_reused for m, _ in rounds),
    }


def traced_layers(ctx, pages, tasks, sites, gate: Gate, crawl_side: bool = True):
    """One monitor pass with spans, checked by the gate, then the listing
    parsers, the download stage and (with ``crawl_side``) the seen filter and
    link parsers forced on its state. Returns (layers, RoundMetrics of the
    pass, engines, extracted rows)."""
    settle(ctx.spark)
    engines, rounds, docs, texts, _wall = _pass(ctx, pages, tasks, traced=True)
    _gate_pass(gate, engines, tasks, sites, docs, texts)
    layers = {
        "textpipe.extract_s": span_s(ctx.tracer.named("textpipe.extract_entry_texts")[-1:]),
        "textpipe.entries": len(texts),
        "textpipe.ok_ratio": sum(r.status == "success" for r in texts) / max(1, len(texts)),
    }
    eng = engines[0]
    listing_pages = pages.join(eng.visited.select("url"), "url").select(
        F.lit(eng.cfg.task).alias("task"), "url", "html")
    detail_pages = pages.join(
        eng.documents.where(F.lower("doc_type") == "html").select("url").distinct(), "url"
    ).select(F.lit(eng.cfg.task).alias("task"), "url", "html")
    if crawl_side:
        layers.update(probes.crawl_parser_layers(ctx.tracer, ctx.spark, eng, pages))
    layers.update(probes.listing_parser_layers(ctx.tracer, eng, listing_pages, detail_pages))
    layers.update(_download_layers(ctx, engines, pages, rounds))
    return layers, [m for m, _ in rounds], engines, texts


def small_listing_layers(ctx, gate: Gate) -> dict:
    """Listing-only layers (listing/detail parsers, downloads, textpipe) from
    a monitor pass over a seeded one-page listing task (one crawl round), for
    workloads that do not crawl listings themselves."""
    from icrawler_spark.config import load_tasks
    from icrawler_spark.crawl import site_pages_df

    rng = random.Random(ctx.seed)
    site, start = listing_site(rng, f"www.small-{rng.randrange(10_000)}.example.test", 1, 2)
    task = {"name": "small", "start_url": start, "parser": "default"}
    pages = site_pages_df(ctx.spark, site).cache()
    layers, _rounds, _engines, _texts = traced_layers(
        ctx, pages, load_tasks({**CONFIG, "tasks": [task]}), {"small": (site, start)}, gate, crawl_side=False
    )
    pages.unpersist()
    return layers


def _catalog_requests(entries) -> list:
    reqs = []
    for r in entries[:3]:
        # titles read <agency>关于<2-char verb><4-char topic>工作的<doctype>
        topic = r.title.split("关于", 1)[-1][2:6]
        reqs += [probes.search_req(r.title[:12]), probes.policies_req(topic),
                 probes.policy_req(r.serial), probes.clause_req(r.title, "第一条")]
    return reqs


def run(ctx) -> Outcome:
    from icrawler_spark.config import load_tasks
    from icrawler_spark.crawl import site_pages_df

    spark = ctx.spark
    gen_s, pages = [], None
    for _ in range(SETUP_REPEATS):
        if pages is not None:
            pages.unpersist()
        t0 = time.perf_counter()
        sites, config, (warm_site, warm_start) = _generate(ctx.seed, ctx.smoke)
        corpus = dict(warm_site)
        for site, _start in sites.values():
            corpus.update(site)
        pages = site_pages_df(spark, corpus).cache()
        pages.count()
        gen_s.append(time.perf_counter() - t0)
    tasks = load_tasks(config)
    input_digest = digest(sorted((u, c if isinstance(c, str) else c.hex()) for u, c in corpus.items()))

    t0 = time.perf_counter()
    warm_task = load_tasks({**CONFIG, "tasks": [{"name": "warmup", "start_url": warm_start}]})
    _pass(ctx, pages, warm_task)
    setup_s = ctx.session_s + median(gen_s) + (time.perf_counter() - t0)

    gate = Gate()
    walls, round_walls, downloaded = [], [], 0
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < ctx.seconds:
        settle(spark)
        engines, rounds, docs, texts, wall = _pass(ctx, pages, tasks)
        walls.append(wall)
        round_walls += [w for m, w in rounds if m.pages_fetched > 0]
        downloaded += _gate_pass(gate, engines, tasks, sites, docs, texts)

    layers, traced_rounds = {}, []
    if ctx.trace:
        layers, traced_rounds, engines, texts = traced_layers(ctx, pages, tasks, sites, gate)
        entries = engines[0].entries
        documents = engines[0].documents
        for e in engines[1:]:
            entries = entries.unionByName(e.entries)
            documents = documents.unionByName(e.documents)
        text_df = spark.createDataFrame([(r.entry_id, r.text) for r in texts], "entry_id string, text string")
        entry_rows = entries.orderBy("task", "serial").collect()
        index, index_s = probes.build_index(ctx.tracer, entries, documents)
        layers.update(probes.serve_layers(ctx.tracer, index, index_s, documents, text_df,
                                          _catalog_requests(entry_rows)))
        index.unpersist()

    docs_per_s = downloaded / sum(walls)
    round_p50 = median(round_walls)
    return Outcome(
        setup_s=setup_s,
        items_per_s=docs_per_s,
        unit_p50_s=round_p50,
        gate=gate,
        headline={"setup_s": (setup_s, "s"), "docs_per_s": (docs_per_s, "1/s"),
                  "round_p50_s": (round_p50, "s")},
        layers=layers,
        round_metrics=traced_rounds,
        round_task=tasks[0].name,
        input_digest=input_digest,
        notes={"passes": len(walls), "rounds": len(round_walls), "documents": downloaded,
               "tasks": [(t.name, t.start_url) for t in tasks]},
    )
