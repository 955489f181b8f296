"""polite_crawl's supporting pieces: engine/catalog/fetcher
instrumentation, the oracle's state after a given superstep, the
engine-vs-oracle comparison that feeds ``failed``/``attempted``, and the
layer drives of its traced run."""

from __future__ import annotations

import os
import time

from harness import Run, median


def dirs_of(manifest: dict | None, table: str | None = None) -> set[str]:
    if manifest is None:
        return set()
    tables = [table] if table else list(manifest["tables"])
    return {
        d for t in tables for d in (manifest["tables"].get(t) or {}).get("dirs", [])
    }


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def trace_catalog(run: Run, cat) -> None:
    """Spans around the catalog's commit/read calls; each commit span
    carries the bytes of the data dirs it added."""
    if not run.trace:
        return
    tracer = run.tracer
    commit = cat.commit

    def traced_commit(*a, **kw):
        before = dirs_of(cat.current())
        with tracer.span("catalog.commit") as rec:
            out = commit(*a, **kw)
        rec["bytes"] = sum(
            dir_bytes(os.path.join(cat.root, d))
            for d in dirs_of(cat.current()) - before
        )
        return out

    cat.commit = traced_commit
    tracer.wrap(cat, "read", "catalog.read")
    tracer.wrap(cat, "read_dirs", "catalog.read")


def trace_fetcher(run: Run, fetcher) -> None:
    for attr in ("fetch", "fetch_meta", "attach_bodies", "parse_pages"):
        if hasattr(fetcher, attr):
            run.tracer.wrap(fetcher, attr, f"fetch.{attr}")


def step_loop(run: Run, eng, budget: int, start_by: float) -> list[dict]:
    """Run up to ``budget`` supersteps, one record per superstep: wall
    time, wave rows, and (traced) heap in use and url_seen dir count.
    Starts no superstep after ``start_by`` (a ``time.perf_counter()``
    reading)."""
    steps = []
    for i in range(budget):
        if time.perf_counter() > start_by:
            break
        with run.tracer.span("engine.superstep", index=i + 1):
            t0 = time.perf_counter()
            rows = eng.superstep()
            dt = time.perf_counter() - t0
        rec = {"index": i + 1, "s": dt, "rows": rows}
        if run.trace:
            rec["heap_mb"] = run.heap_mb()
            rec["url_seen_dirs"] = len(dirs_of(eng.catalog.current(), "url_seen"))
        steps.append(rec)
        if rows == 0:
            break
    return steps


def engine_layers(run: Run, steps: list[dict], warm: int) -> None:
    """Per-superstep layer metrics from the traced superstep spans.
    ``engine.growth_ratio`` compares the last and the first quarter of
    the supersteps after the first ``warm`` ones, which carry the JVM's
    and the Python workers' warm-up (superstep 1 takes about twice a
    steady superstep, and the next few stay slower)."""
    tr = run.tracer
    spans = tr.named("engine.superstep")
    n = len(steps)
    steady = steps[warm:] or steps
    q = max(1, len(steady) // 4)
    first = [s["s"] for s in steady[:q]]
    last = [s["s"] for s in steady[-q:]]
    jobs = [sum(c["jobs"] for c in tr.subtree(s)) for s in spans]
    tasks = [sum(c["tasks"] for c in tr.subtree(s)) for s in spans]
    commits = tr.named("catalog.commit")
    run.layers.update({
        "engine.superstep_s": median(s["s"] for s in steps),
        "engine.superstep_self_s": median(
            tr.self_time(s, "catalog.commit") for s in spans
        ),
        "engine.jobs_per_superstep": median(jobs),
        "engine.tasks_per_superstep": median(tasks),
        "engine.supersteps": n,
        "engine.growth_ratio": (sum(last) / len(last)) / (sum(first) / len(first)),
        "engine.heap_mb": max(s["heap_mb"] for s in steps),
        "engine.wave_rows": median(s["rows"] for s in steps if s["rows"]),
        "catalog.commit_s": median(c["end"] - c["start"] for c in commits)
        if commits else 0.0,
        "catalog.commits": len(commits),
        "catalog.read_calls": len(tr.named("catalog.read")),
        "catalog.url_seen_dirs": steps[-1]["url_seen_dirs"],
        "catalog.bytes_written": median(c["bytes"] for c in commits)
        if commits else 0.0,
    })
    run.series.update({
        "engine.superstep_s": [round(s["s"], 4) for s in steps],
        "engine.heap_mb": [round(s["heap_mb"], 1) for s in steps],
        "catalog.url_seen_dirs": [s["url_seen_dirs"] for s in steps],
        "engine.jobs_per_superstep": jobs,
        "engine.tasks_per_superstep": tasks,
    })


# -- oracle comparison -----------------------------------------------------


def oracle_state(res, pages_by_url: dict, through: int) -> dict:
    """The oracle's outputs after ``through`` supersteps. Valid while no
    URL has been pulled twice by then (failure requeue happens only once
    the queue drains), which is asserted."""
    pulls = [o for o in res.order if o["superstep"] <= through]
    keys = [o["key"] for o in pulls]
    if len(set(keys)) != len(keys):
        raise ValueError("oracle requeued failures before the compared superstep")
    ok_keys, ok_urls, failed = set(), set(), 0
    for o in pulls:
        page = pages_by_url.get(o["url"])
        fail_n = (page.get("fail_attempts") or (1 if page.get("flaky") else 0)) if page else 0
        if page is not None and page["status"] < 400 and fail_n == 0:
            ok_keys.add(o["key"])
            ok_urls.add(o["url"])
        else:
            failed += 1
    return {
        "url_seen": ok_keys,
        "items": {
            (i["rule"], i["url"], i["parent_url"], tuple(sorted(i["data"].items())))
            for i in res.items if i["url"] in ok_urls
        },
        "images": {(i["image_id"], i["url"]) for i in res.images if i["url"] in ok_urls},
        "failures_final": set(),
        "order": {(o["superstep"], o["wave_pos"], o["spider"], o["key"]) for o in pulls},
        "pull_failures": failed,
    }


def engine_state(cat) -> dict:
    def rows(name, cols):
        df = cat.read(name)
        return df.select(*cols).collect() if df is not None else []

    return {
        "url_seen": {r.key for r in rows("url_seen", ["key"])},
        "items": {
            (r.rule, r.url, r.parent_url, tuple(sorted(r.data.items())))
            for r in rows("items", ["rule", "url", "parent_url", "data"])
        },
        "images": {
            (r.image_id, r.url)
            for r in rows("images", ["image_id", "url", "valid"]) if r.valid
        },
        "failures_final": {r.key for r in rows("failures_final", ["key"])},
    }


def compare(run: Run, got: dict, want: dict) -> None:
    """Reference records checked → ``attempted``; records missing from
    or extra in the engine's output → ``failed``."""
    for table, ref in want.items():
        if table not in got or not isinstance(ref, set):
            continue
        diff = len(got[table] ^ ref)
        run.attempted += len(ref)
        run.failed += diff
        if diff:
            print(f"MISMATCH {table}: {len(got[table] - ref)} extra, "
                  f"{len(ref - got[table])} missing of {len(ref)}")


# -- layer drives ------------------------------------------------------------
# Spark plans are lazy: inside a superstep, fetch, parse and validate all
# execute when the superstep forces them. These drives run one layer's
# public function alone over the workload's own inputs, forced to a noop
# sink, so each layer's throughput is measured by itself.


def fetch_drive(run: Run, fetcher, urls: list[str], want_failed: int) -> None:
    """Fetch the crawl's pulled URLs in one wave, forced alone. Sets
    ``fetch.rows_per_s``, ``bodystore.bytes_per_s`` (body bytes read
    per second) and ``fetch.failed_rows`` (checked against the oracle's
    failed pulls)."""
    from pyspark.sql import functions as F

    wave = run.spark.createDataFrame(
        [(u, 0, "") for u in urls], "url string, tries int, post_data string"
    )
    with run.tracer.span("drive.fetch"):
        t0 = time.perf_counter()
        run.force(fetcher.fetch(wave))
        dt = time.perf_counter() - t0
    agg = fetcher.fetch(wave).agg(
        F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("failed"),
        F.sum(F.coalesce(F.length("body"), F.lit(0))).alias("bytes"),
    ).first()
    failed = int(agg["failed"] or 0)
    run.layers["fetch.rows_per_s"] = len(urls) / dt
    run.layers["bodystore.bytes_per_s"] = int(agg["bytes"] or 0) / dt
    run.layers["fetch.failed_rows"] = failed
    run.attempted += len(urls)
    if failed != want_failed:
        run.failed += abs(failed - want_failed)
        print(f"MISMATCH fetch.failed_rows: {failed} != oracle {want_failed}")


def parse_drive(run: Run, html) -> None:
    """Link extraction alone over (url, body, content_type) HTML rows."""
    from pyspark.sql import functions as F

    from pholcus_spark.extract import extract_links_udf

    html = html.persist()
    n = html.count()
    links = html.select(
        extract_links_udf("body", "content_type", "url").alias("links")
    )
    with run.tracer.span("drive.extract"):
        t0 = time.perf_counter()
        run.force(links)
        dt = time.perf_counter() - t0
    total = links.agg(F.sum(F.size("links"))).first()[0] or 0
    html.unpersist()
    run.layers["extract.pages_per_s"] = n / dt
    run.layers["extract.links_per_page"] = total / max(n, 1)


def validate_drive(run: Run, images) -> None:
    """Decode + phash alone over (url, body, content_type) image rows."""
    from pyspark.sql import functions as F

    from pholcus_spark.validate import validate_image_udf

    images = images.persist()
    n = images.count()
    checked = images.select(
        validate_image_udf("body", "content_type", "url").alias("v")
    )
    with run.tracer.span("drive.validate"):
        t0 = time.perf_counter()
        run.force(checked)
        dt = time.perf_counter() - t0
    rejects = checked.where(~F.col("v.ok")).count()
    images.unpersist()
    run.layers["validate.images_per_s"] = n / dt
    run.layers["validate.rejects"] = rejects
