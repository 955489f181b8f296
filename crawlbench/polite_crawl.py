"""polite_crawl: a breadth-first crawl under the engine's default
politeness settings (1500 ms wave window, 375 ms crawl delay, so at most
4 URLs per host per wave) over an HTML-heavy fixture site with one hot
host, served by ``FixtureFetcher``, for a fixed superstep budget. After
the budget a fresh ``CrawlEngine`` reopens the same catalog and runs one
more superstep (the resume).

Unit operation: one superstep. ``op_p50_s`` is the median superstep of
the budget; ``work_per_s`` is URLs pulled per second of crawl time.

The traced run crawls the same site further, to ``TRACE_BUDGET``
supersteps: per-superstep time settles after the first few supersteps
(warm-up), stays flat up to about superstep 16 and then grows with
every superstep, and the traced series must show it. Its
``trace.op_p50_s`` is still the median of the first ``BUDGET``
supersteps, so it compares with the untraced ``op_p50_s``. Once every
metric is taken, the traced run drives fetch (from a body store), link
extraction and image validation alone over the crawl's pulls, and checks
pull order on one more superstep by an engine with ``record_order``.
"""

from __future__ import annotations

import time

import crawl_support as cs
import seen_store
from harness import Run, median

BUDGET = 5
TRACE_BUDGET = 19
# no superstep starts later than this many seconds into the run, so that
# on a slow box the traced run still ends within the benchmark's 180 s
# limit (it then reports fewer supersteps in engine.supersteps)
LAST_STEP_START_S = 132.0
# no flaky or 404 pages: every fetch succeeds, and the graph (so the
# number of URLs pulled per superstep) is the same for every seed; the
# seed varies captions, charsets, lossy images and image sizes
SITE = dict(
    n_hosts=8, list_pages=13, details_per_list=2, images_per_detail=1,
    hot_host=True, image_sizes=(32, 64), flaky_rate=0.0, fail_404_rate=0.0,
)
TINY_BUDGET = 3
TINY_SITE = dict(n_hosts=2, list_pages=5, details_per_list=1, images_per_detail=1,
                 hot_host=True, image_sizes=(32,), flaky_rate=0.0, fail_404_rate=0.0)


def main(run: Run) -> None:
    from pyspark.sql import functions as F

    from pholcus_spark import fixtures, testkit
    from pholcus_spark.catalog import SnapshotCatalog
    from pholcus_spark.engine import CrawlEngine, EngineConfig
    from pholcus_spark.fetch import FixtureFetcher
    from pholcus_spark.spiderspec import SpiderSpec

    timed_budget = TINY_BUDGET if run.tiny else BUDGET
    budget = TRACE_BUDGET if run.trace and not run.tiny else timed_budget
    site = fixtures.SiteSpec(**(TINY_SITE if run.tiny else SITE))
    cached = []

    def setup():
        for df in cached:
            df.unpersist()
        corpus = fixtures.generate(site, seed=run.seed)
        pages, _images, _truth, _seeds, robots = fixtures.to_spark(run.spark, corpus)
        pages = pages.persist()
        pages.count()
        cached[:] = [pages]
        return corpus, pages, robots

    corpus, pages, robots = run.setup(setup, reps=3)
    spec = SpiderSpec("site")
    root = run.path("polite-catalog")
    fetcher = FixtureFetcher(pages)
    if run.trace:
        cs.trace_fetcher(run, fetcher)
        seen_store.trace_bloom(run)

    def engine(cfg=None):
        cat = SnapshotCatalog(root, run.spark)
        cs.trace_catalog(run, cat)
        return CrawlEngine(run.spark, cat, fetcher, spec, robots, cfg or EngineConfig())

    eng = engine()
    with run.tracer.span("engine.seed"):
        t0 = time.perf_counter()
        eng.seed(corpus.seeds)
        seed_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    steps = cs.step_loop(run, eng, budget, run.started + LAST_STEP_START_S)
    with run.tracer.span("engine.run"):
        state = eng.run(max_supersteps=len(steps))
    crawl_s = time.perf_counter() - t0
    pulled = state["totals"]["fetched"] + state["totals"]["failed"]
    if run.trace:
        cs.engine_layers(run, steps, warm=timed_budget)

    # resume: a new engine over the same durable catalog, one superstep
    t0 = time.perf_counter()
    with run.tracer.span("engine.resume"):
        eng2 = engine()
        eng2.catalog.state()
        open_s = time.perf_counter() - t0
        eng2.superstep()
        final = eng2.run(max_supersteps=state["superstep"] + 1)
    resume_s = time.perf_counter() - t0

    step_times = [s["s"] for s in steps]
    run.metrics["op_p50_s"] = median(step_times[:timed_budget])
    run.metrics["work_per_s"] = pulled / crawl_s
    run.layers.update({
        "engine.seed_s": seed_s,
        "engine.resume_open_s": open_s,
        "engine.resume_s": resume_s,
    })
    print(f"polite_crawl supersteps={len(steps)} crawl_s={crawl_s:.3f} "
          f"superstep_p50_s={median(step_times):.3f} resume_s={resume_s:.3f} "
          f"urls_pulled={pulled} urls_per_s={pulled / crawl_s:.2f}")
    print("superstep_s by index:", " ".join(f"{x:.2f}" for x in step_times))
    if run.trace:
        for name, xs in run.series.items():
            print(f"series {name}:", " ".join(str(x) for x in xs))

    # correctness: engine state after the resume superstep vs the oracle
    # replayed to the same superstep
    through = final["superstep"]
    res = testkit.run_oracle(corpus, spec)
    pages_by_url = corpus.pages_by_url()
    want = cs.oracle_state(res, pages_by_url, through)
    want.pop("order")  # checked below, by the traced run only
    cs.compare(run, cs.engine_state(eng2.catalog), want)

    if run.trace:
        from pholcus_spark.bodystore import ParquetBodyStore
        from pholcus_spark.fetch import StoreFetcher

        pulled_urls = [o["url"] for o in res.order if o["superstep"] <= through]
        pulled_pages = pages.where(F.col("url").isin(pulled_urls))
        # the same pulls served from a body store: fetch and body reads
        store = ParquetBodyStore.write(pulled_pages, run.path("polite-store"), n_buckets=run.cpus)
        cs.fetch_drive(run, StoreFetcher(run.spark, store), pulled_urls,
                       want["pull_failures"])
        bodies = pulled_pages.select("url", "body", "content_type")
        cs.parse_drive(run, bodies.where(F.col("content_type").startswith("text/html")))
        cs.validate_drive(run, bodies.where(F.col("content_type").startswith("image/")))

        # pull order, once every metric is taken: one more superstep, by
        # an engine with record_order, which adds a single-partition
        # window per superstep (so the measured engines run without it)
        eng3 = engine(EngineConfig(record_order=True))
        done = eng3.run(max_supersteps=through + 1)["superstep"]
        order_df = eng3.catalog.read("order")
        order = set() if order_df is None else {
            (r.superstep, r.wave_pos, r.spider, r.key)
            for r in order_df.select("superstep", "wave_pos", "spider", "key").collect()
        }
        want_order = {
            o for o in cs.oracle_state(res, pages_by_url, done)["order"] if o[0] > through
        }
        cs.compare(run, {"order": order}, {"order": want_order})
        print(f"pull order checked at superstep {done}: {len(want_order)} pulls")
