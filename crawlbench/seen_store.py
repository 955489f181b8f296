"""The fingerprint-store layer (``ops.seenstore`` and ``bloom``) driven
alone, for curate's traced run: a ``SeenStore`` preloaded with a set of
keys, then the same keys deduped against it, with the Bloom probe and
the store's read side each forced by itself.
"""

from __future__ import annotations

import os
import time

from harness import Run, median


def trace_bloom(run: Run) -> None:
    """Spans around the ``pholcus_spark.bloom`` module functions."""
    from pholcus_spark import bloom

    for attr in ("build_sidecar", "load_sidecar", "probe", "filter_unseen"):
        run.tracer.wrap(bloom, attr, f"bloom.{attr}")


def store_layers(run: Run, store) -> None:
    """Write-side and sidecar metrics from the traced spans: median
    ``add`` time, the exact-join tail left uncovered by the sidecar, and
    sidecar builds."""
    from pholcus_spark import bloom

    tr = run.tracer
    dirs = store.catalog.current()["tables"]["keys"]["dirs"]
    sidecar = bloom.load_sidecar(os.path.join(store.catalog.root, "bloom"))
    covered = set(sidecar.covered_dirs) if sidecar else set()
    tail_df = store.catalog.read_dirs("keys", [d for d in dirs if d not in covered])
    builds = tr.named("bloom.build_sidecar")
    run.layers.update({
        "seenstore.add_s": median(
            s["end"] - s["start"] for s in tr.named("seenstore.add")
        ),
        "seenstore.tail_keys": tail_df.count() if tail_df is not None else 0,
        "bloom.build_s": median(s["end"] - s["start"] for s in builds)
        if builds else 0.0,
        "bloom.builds": len(builds),
    })


def layer_drives(run: Run, store, keys, hits: int) -> None:
    """The store's read side and the Bloom probe, each forced alone over
    ``keys``, ``hits`` of which are in the store (nothing is committed)."""
    from pyspark.sql import functions as F

    from pholcus_spark import bloom

    keys = keys.persist()
    n = keys.count()
    # each call gets its own DataFrame object: bloom.probe adds its
    # output column to the input's cached schema in place, so a second
    # probe of the same object fails with a column-count mismatch
    with run.tracer.span("drive.filter_unseen"):
        t0 = time.perf_counter()
        run.force(store.filter_unseen(keys.select("*")))
        run.layers["seenstore.filter_s"] = time.perf_counter() - t0
    sidecar = bloom.load_sidecar(os.path.join(store.catalog.root, "bloom"))
    probed = bloom.probe(keys.select("*"), sidecar)
    with run.tracer.span("drive.probe"):
        t0 = time.perf_counter()
        run.force(probed)
        dt = time.perf_counter() - t0
    flagged = probed.where(F.col("_maybe_seen")).count()
    keys.unpersist()
    run.layers["bloom.probe_keys_per_s"] = n / dt
    # every hit key is covered by the sidecar, so true hits = hits
    run.layers["bloom.pass_ratio"] = hits / flagged if flagged else 0.0


def seen_drive(run: Run, keys, n: int) -> None:
    """A ``SeenStore`` preloaded with ``keys`` (``n`` distinct hex
    digests), then the same keys deduped against it: every key is a hit,
    so none may come out fresh. The store builds its Bloom sidecar at any
    size (``rebuild_min=0``)."""
    from pholcus_spark.ops.seenstore import SeenStore, dedup_incremental

    store = SeenStore.open(run.spark, run.path("seen-store"), rebuild_min=0)
    run.tracer.wrap(store, "filter_unseen", "seenstore.filter_unseen")
    run.tracer.wrap(store, "add", "seenstore.add")
    store.add(keys)
    layer_drives(run, store, keys, n)
    fresh = dedup_incremental(keys, store).count()
    store_layers(run, store)
    run.attempted += n
    run.failed += fresh
    if fresh:
        print(f"MISMATCH seen_store: {fresh} of {n} seen keys came out fresh")
