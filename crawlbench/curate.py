"""curate: the image+caption curation chain — ``pair_filter`` →
``caption_dedup`` → ``pair_phash_neardup`` (near-duplicates dropped) →
``aspect_bucket`` → ``shard_pairs`` — over a generated pairs table with
the engine's images schema ``(image_id, bytes, w, h, fmt, caption,
phash)``, with duplicate captions and phash near-duplicates planted. No
engine, catalog or fetch is involved: only ``ops`` does work.

Unit operation: one execution of the chain's plan over the table,
forced to a noop sink (the chain is built once; every pass re-plans and
re-runs it). ``op_p50_s`` is its median; ``work_per_s`` is input rows
per second at that median. Outputs are checked against a plain-Python
recount of every op.
"""

from __future__ import annotations

import hashlib
import math
import re
import time

from harness import Run, median

ROWS = 20_000
TINY_ROWS = 2_000
MIN_PASSES = 5
# pass time falls for about the first 12 passes (Python worker start,
# code generation, JIT) and is flat after: timed passes start later
WARMUP_PASSES = 15
TINY_WARMUP_PASSES = 2
DUP_CAPTION_SHARE = 0.1  # rows whose caption repeats a stock caption
NEARDUP_SHARE = 0.05  # rows whose phash is a 1-4 bit flip of another's
TARGET_BYTES = 1 << 20
SHARD_BUCKETS = 16
MAX_HAMMING = 4
WORDS = ("red green blue small large old new quiet busy bright dark wide "
         "narrow tall short city river forest mountain street field house "
         "bridge tower garden harbor market").split()


def generate(seed: int, n: int):
    """The pairs table as a pandas frame (ASCII captions, so Spark's and
    Python's whitespace and case rules agree)."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    n_tok = rng.integers(0, 12, size=n)  # 0- and 1-token captions fail the filter
    idx = rng.integers(0, len(WORDS), size=(n, 11))
    captions = [" ".join(WORDS[j] for j in idx[i, :k]) for i, k in enumerate(n_tok)]
    stock = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=5))
             for _ in range(20)]
    for i in np.flatnonzero(rng.random(n) < DUP_CAPTION_SHARE):
        # case and spacing variants normalize to the same caption
        c = stock[rng.integers(len(stock))]
        captions[i] = c.upper() if i % 3 == 0 else c.replace(" ", "  ") if i % 3 == 1 else c
    phash = rng.integers(-(1 << 63), (1 << 63) - 1, size=n, dtype=np.int64)
    near = np.flatnonzero(rng.random(n) < NEARDUP_SHARE)
    for i in near:
        src = int(rng.integers(n))
        flip = 0
        for b in rng.choice(64, size=int(rng.integers(1, MAX_HAMMING + 1)), replace=False):
            flip |= 1 << int(b)
        v = (int(phash[src]) ^ flip) & ((1 << 64) - 1)
        phash[i] = v - (1 << 64) if v >= 1 << 63 else v
    ends = np.cumsum(rng.integers(8, 256, size=n))
    blob = rng.bytes(int(ends[-1]))
    return pd.DataFrame({
        "image_id": [f"img-{seed}-{i:07d}" for i in range(n)],
        "bytes": [blob[a:b] for a, b in zip(np.r_[0, ends[:-1]], ends)],
        "w": rng.integers(16, 2048, size=n).astype("int32"),
        "h": rng.integers(16, 2048, size=n).astype("int32"),
        "fmt": rng.choice(np.array(["png", "jpeg", "webp"]), size=n),
        "caption": captions,
        "phash": phash,
    })


def chain(pairs):
    """The five ops, each output feeding the next; near-duplicates are
    dropped by removing the later id of every verified pair."""
    from pholcus_spark.ops.imagecaption import (
        aspect_bucket, caption_dedup, pair_filter, pair_phash_neardup, shard_pairs,
    )

    filtered = pair_filter(pairs)
    deduped = caption_dedup(filtered)
    near = pair_phash_neardup(deduped, max_hamming=MAX_HAMMING)
    kept = deduped.join(
        near.select(near["id_b"].alias("image_id")).distinct(), "image_id", "left_anti"
    )
    bucketed = aspect_bucket(kept)
    sharded = shard_pairs(bucketed, target_bytes=TARGET_BYTES, n_buckets=SHARD_BUCKETS)
    return near, sharded


def main(run: Run) -> None:
    spark, seed = run.spark, run.seed
    n = TINY_ROWS if run.tiny else ROWS
    path = run.path("pairs")
    holder = {}

    def setup():
        pdf = generate(seed, n)
        spark.createDataFrame(pdf).repartition(run.cpus).write.mode(
            "overwrite").parquet(path)
        holder["pdf"] = pdf
        return spark.read.parquet(path)

    pairs = run.setup(setup, reps=3)
    near, sharded = chain(pairs)
    for _ in range(TINY_WARMUP_PASSES if run.tiny else WARMUP_PASSES):
        run.force(sharded)
    times = []
    deadline = time.perf_counter() + run.seconds
    while len(times) < MIN_PASSES or time.perf_counter() < deadline:
        with run.tracer.span("ops.chain"):
            t0 = time.perf_counter()
            run.force(sharded)
            times.append(time.perf_counter() - t0)
    run.metrics["op_p50_s"] = median(times)
    run.metrics["work_per_s"] = n / median(times)
    print(f"curate rows={n} passes={len(times)} chain_s={median(times):.3f} "
          f"rows_per_s={n / median(times):.0f}")
    print("chain_s by pass:", " ".join(f"{x:.2f}" for x in times))

    want = recount(holder["pdf"])
    got_near = {(r.id_a, r.id_b, r.hamming) for r in near.collect()}
    got_rows = {
        (r.image_id, r.aspect_q4, r.caption_tokens, r.caption_fp, r.bucket_id,
         r.bucket, r.shard_ix, r.shard, r.row_bytes)
        for r in sharded.select(
            "image_id", "aspect_q4", "caption_tokens", "caption_fp", "bucket_id",
            "bucket", "shard_ix", "shard", "row_bytes").collect()
    }
    for name, got, ref in (("neardup", got_near, want["near"]),
                           ("sharded", got_rows, want["rows"])):
        run.attempted += len(ref)
        run.failed += len(got ^ ref)
        if got != ref:
            print(f"MISMATCH {name}: {len(got - ref)} extra, "
                  f"{len(ref - got)} missing of {len(ref)}")
    if run.trace:
        import seen_store
        from pyspark.sql import functions as F

        layer_drives(run, pairs, want["candidates"], len(want["near"]))
        # cross-batch dedup of the pairs' image fingerprints
        seen_store.trace_bloom(run)
        seen_store.seen_drive(
            run, pairs.select(F.sha1("image_id").alias("key")), len(holder["pdf"])
        )


def layer_drives(run: Run, pairs, candidates: int, verified: int) -> None:
    """Each op forced alone over its own (cached) input."""
    from pholcus_spark.ops import imagecaption as ic

    ops = (
        ("pair_filter", ic.pair_filter),
        ("caption_dedup", ic.caption_dedup),
        ("pair_phash_neardup", lambda df: ic.pair_phash_neardup(df, MAX_HAMMING)),
        ("aspect_bucket", ic.aspect_bucket),
        ("shard_pairs", lambda df: ic.shard_pairs(
            df, target_bytes=TARGET_BYTES, n_buckets=SHARD_BUCKETS)),
    )
    cur = pairs.persist()
    rows_in = cur.count()
    for name, op in ops:
        with run.tracer.span(f"ops.{name}"):
            t0 = time.perf_counter()
            run.force(op(cur))
            run.layers[f"ops.{name}_s"] = time.perf_counter() - t0
        out = op(cur).persist()
        rows_out = out.count()
        run.layers[f"ops.{name}_rows_in"] = rows_in
        run.layers[f"ops.{name}_rows_out"] = rows_out
        if name == "pair_phash_neardup":  # pairs out: drop their later ids
            out = cur.join(
                out.select(out["id_b"].alias("image_id")).distinct(),
                "image_id", "left_anti",
            ).persist()
            rows_out = out.count()
        cur, rows_in = out, rows_out
    run.layers["ops.neardup_verify_ratio"] = verified / candidates if candidates else 0.0


# -- plain-Python recount ------------------------------------------------------


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def recount(pdf) -> dict:
    from pholcus_spark.ops.imagecaption import DEFAULT_ASPECT_BUCKETS

    rows = []
    for r in pdf.itertuples(index=False):
        w, h = int(r.w), int(r.h)
        aspect = (max(w, h) * 10000) // max(min(w, h), 1)
        toks = len(re.split(r"\s+", r.caption.strip(" ")))
        if w >= 64 and h >= 64 and aspect <= 30000 and 2 <= toks <= 128:
            norm = re.sub(r"\s+", " ", r.caption.strip(" ").lower())
            rows.append((r.image_id, w, h, r.caption, int(r.phash), bytes(r.bytes),
                         aspect, toks, hashlib.md5(norm.encode()).hexdigest()))
    first = {}
    for row in rows:
        fp = row[8]
        if fp not in first or row[0] < first[fp]:
            first[fp] = row[0]
    deduped = [row for row in rows if first[row[8]] == row[0]]

    # near-dup pairs: pigeonhole bands, exact popcount verify
    bands = MAX_HAMMING + 1
    bits = -(-64 // bands)
    buckets: dict[tuple[int, int], list] = {}
    for row in deduped:
        for b in range(bands):
            buckets.setdefault((b, (row[4] >> (b * bits)) & ((1 << bits) - 1)), []).append(row)
    cand = set()
    for group in buckets.values():
        for i, a in enumerate(group):
            for b in group[i + 1:]:
                x, y = (a, b) if a[0] < b[0] else (b, a)
                cand.add((x[0], y[0], x[4], y[4]))
    near = set()
    for ida, idb, pa, pb in cand:
        d = ((pa ^ pb) & ((1 << 64) - 1)).bit_count()
        if d <= MAX_HAMMING:
            near.add((ida, idb, d))
    dropped = {b for _a, b, _d in near}

    L = math.lcm(*[bh for _bw, bh in DEFAULT_ASPECT_BUCKETS])
    by_bucket: dict[int, list] = {}
    out = []
    for row in deduped:
        if row[0] in dropped:
            continue
        image_id, w, h, caption, _ph, body, aspect, toks, fp = row
        best, best_d = -1, 1 << 62
        for i, (bw, bh) in enumerate(DEFAULT_ASPECT_BUCKETS):
            d = abs(w * bh - bw * h) * (L // bh)
            if d < best_d:
                best, best_d = i, d
        hv = _h60(image_id)
        size = len(body) + len(caption.encode())
        rec = [image_id, aspect, toks, fp, best, hv % SHARD_BUCKETS, hv, size]
        by_bucket.setdefault(hv % SHARD_BUCKETS, []).append(rec)
        out.append(rec)
    result = set()
    for bucket, recs in by_bucket.items():
        recs.sort(key=lambda r: (r[6], r[0]))
        cum = 0
        for r in recs:
            ix = cum // TARGET_BYTES
            result.add((r[0], r[1], r[2], r[3], r[4], bucket, ix, f"{bucket}-{ix}", r[7]))
            cum += r[7]
    return {"near": near, "rows": result, "candidates": len(cand)}
