"""frontier_wide: a wide-seeded recrawl of a Common-Crawl-style corpus.

The corpus comes from ``synthetic_pages_df`` (a hot host holds 20% of the
pages, 12 links per page, filler paragraphs); every fifth page is a seed
(``synthetic_seed_df``). Entry parsing is off, the Bloom seen-filter is on and
there is no host budget, so per-page work dominates: the fetch join, the
link parse, dedup, the seen-filter and the anti-join, over two big rounds.

One operation is one page of one measured pass; it fails unless the pass
fetched it exactly once.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from . import listing_monitor, probes
from .harness import SHUFFLE_PARTITIONS, Gate, Outcome, df_digest, median, settle

N_PAGES = 8_000
SMOKE_PAGES = 1_500
SEED_STRIDE = 5
LINKS_PER_PAGE = 12
FILLER_PARAGRAPHS = 8
N_HOSTS = 101
SETUP_REPEATS = 3


def _config(n_pages: int):
    from icrawler_spark.crawl import CrawlConfig

    return CrawlConfig(
        start_url="https://hot.example.test/p/0.html",
        task="frontier_wide",
        parse_entries=False,
        use_bloom=True,
        seen_filter="bloom",
        bloom_capacity=n_pages,
        n_host_shards=SHUFFLE_PARTITIONS,
    )


def _crawl(ctx, pages, seeds, n_pages, traced: bool = False):
    """(engine, round metrics, wall seconds from engine start to drain)."""
    from icrawler_spark.crawl import CrawlEngine

    t0 = time.perf_counter()
    eng = CrawlEngine(ctx.spark, pages, _config(n_pages), seeds_df=seeds)
    if traced:
        eng.resume_or_init()
        while eng.pending is not None and eng._n_pending > 0:  # noqa: SLF001 — run()'s own loop test
            probes.traced_round(ctx.tracer, eng)
        metrics = eng.metrics
    else:
        metrics = eng.run()
    return eng, metrics, time.perf_counter() - t0


def _gate_pass(gate: Gate, eng, metrics, n_pages: int) -> None:
    fetched = sum(m.pages_fetched for m in metrics)
    missing = sum(m.pages_missing for m in metrics)
    row = (
        eng.visited.groupBy("url").count()
        .agg(
            F.count(F.lit(1)).alias("distinct"),
            F.sum((F.col("count") == 1).cast("int")).alias("once"),
        )
        .collect()[0]
    )
    bad = (n_pages - int(row.once or 0)) + abs(int(row.distinct) - n_pages) + missing + abs(fetched - n_pages)
    gate.attempted += n_pages
    gate.failed += min(n_pages, bad)
    if bad:
        gate.problems.append(
            f"pass fetched {fetched}, visited {row.distinct} distinct ({row.once} once), "
            f"{missing} missing; corpus {n_pages}"
        )


def run(ctx) -> Outcome:
    from icrawler_spark.crawl import synthetic_pages_df, synthetic_seed_df

    spark = ctx.spark
    n_pages = SMOKE_PAGES if ctx.smoke else N_PAGES

    gen_s, pages = [], None
    for _ in range(1 if ctx.trace else SETUP_REPEATS):  # a traced run does not report setup_s
        if pages is not None:
            pages.unpersist()
        t0 = time.perf_counter()
        pages = synthetic_pages_df(
            spark, n_pages=n_pages, n_hosts=N_HOSTS, links_per_page=LINKS_PER_PAGE,
            hot_host_fraction=0.2, filler_paragraphs=FILLER_PARAGRAPHS,
        ).repartition(SHUFFLE_PARTITIONS).persist()
        corpus_hash = df_digest(pages, ["url", "html"])
        gen_s.append(time.perf_counter() - t0)
    seeds = synthetic_seed_df(spark, n_pages, stride=SEED_STRIDE, n_hosts=N_HOSTS, hot_host_fraction=0.2)
    _, _, warm_s = _crawl(ctx, pages, seeds, n_pages)
    setup_s = ctx.session_s + median(gen_s) + warm_s

    gate = Gate()
    walls, layers, rounds = [], {}, []
    if ctx.trace:
        # per-layer metrics only: one pass with spans, then each layer forced
        settle(spark)
        eng, rounds, wall = _crawl(ctx, pages, seeds, n_pages, traced=True)
        walls.append(wall)
        _gate_pass(gate, eng, rounds, n_pages)
        layers.update(probes.crawl_parser_layers(ctx.tracer, spark, eng, pages))
        # this workload parses no listings and downloads nothing: those layers
        # come from a small listing task (see listing_monitor)
        layers.update(listing_monitor.small_listing_layers(ctx, gate))
    else:
        t_start = time.perf_counter()
        while not walls or time.perf_counter() - t_start < ctx.seconds:
            settle(spark)
            eng, metrics, wall = _crawl(ctx, pages, seeds, n_pages)
            walls.append(wall)
            _gate_pass(gate, eng, metrics, n_pages)  # outside the pass's own wall time

    pages_per_s = n_pages / median(walls)
    return Outcome(
        setup_s=setup_s,
        items_per_s=pages_per_s,
        unit_p50_s=median(walls),
        gate=gate,
        headline={"setup_s": (setup_s, "s"), "pages_per_s": (pages_per_s, "1/s")},
        layers=layers,
        round_metrics=rounds,
        round_task=_config(n_pages).task,
        input_digest=f"{n_pages}:{N_HOSTS}:{corpus_hash:x}",
        notes={"pass_s": [round(w, 3) for w in walls], "pages": n_pages,
               "generate_s": [round(g, 3) for g in gen_s], "warmup_s": round(warm_s, 3)},
    )
