"""Per-query WAND latency by df band, with each placement of the scoring
kernel forced: the crossover instrument for
`blocks.DRIVER_SCORE_MAX_POSTINGS`.

`wand_search` scores a qid chunk on the driver, from one Arrow read of its
blocks, when the chunk's exposure (`blocks._exposure`: the postings and
blocks of its matched terms, counted once per query that holds the term)
is at most that many postings; above it the chunk takes the
segment-shuffled executor pass. This tool runs every query SOLO (best-of-3
warm) against one packed store, once with the bound forced to 0 (shuffled)
and once above every exposure (driver), in alternating order, and checks
that both placements return the same ranking.

Queries come from the store's own df bands (rare / mid / head, split as
perfbench's `wand_serve` splits them), so every query matches; a "hot"
ladder of the 1, 2, 4, 8, 16 and 32 highest-df terms takes the exposure to
the store's worst case. A no-op query (no term in the store: 1 job, no block read)
gives the fixed floor. The report has per-band latency and exposure for
each placement, and a crossover table over exposure buckets.

The store's term dictionary (`PackedIndex.term_dict`) is measured on
fresh handles after warm-up: its fill time, the driver memory it holds per
term (Python allocations traced across a fill, and the process RSS growth
of the first fill), and a fresh handle's first request (which fills it)
against its second.

Multi-query requests are timed the same way (best-of-2): rare + mid
batches of 4 to 1024 queries (1024 is one full qid chunk), then every solo
query above as one request: the crossover instrument for
`blocks.DRIVER_SCORE_BLOCK_POSTINGS`.

Reuses a bench_scale1b out_dir when given (postings/docstats/mono already
on disk); otherwise generates the standing fixture at the requested size.
Cores and shuffle partitions follow the host.

Usage:
  python tools/bench_wand_tail.py [n_docs] [vocab] [dl] [out_dir] [--keep]
Defaults: 2_000_000 200_000 50 <tmp> (99.2M postings). --keep leaves the
store for a later run.

`vocab` is the generator's parameter, not the store's term count: a token
is `floor(vocab · u³)` with u = `pmod(xxhash64(…), 100000)` / 100000, and
u takes only 100,000 values, so the default store holds 72,783 distinct
terms. The generator is kept as it is so that earlier at-size numbers stay
comparable.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import tracemalloc
from collections import Counter

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fusion_spark import blocks  # noqa: E402
from fusion_spark.blocks import PackedIndex, wand_search  # noqa: E402
from fusion_spark.indexing import _finalize, build_index  # noqa: E402
from fusion_spark.session import get_spark  # noqa: E402
from perfbench.data import band_queries, df_bands  # noqa: E402

MIX = {"rare": 8, "mid": 8, "head": 8}
HOT = (1, 2, 4, 8, 16, 32)  # queries of the n highest-df terms
PLACEMENTS = {"driver": 10**18, "shuffled": 0}  # forced driver bound
BUCKETS = (10_000, 100_000, 1_000_000, None)  # exposure upper edges
BATCHES = (4, 16, 64, 256, 1024)  # queries per multi-query request (≤ one chunk)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    keep = "--keep" in sys.argv
    n_docs = int(args[0]) if len(args) > 0 else 2_000_000
    vocab = int(args[1]) if len(args) > 1 else 200_000
    dl = int(args[2]) if len(args) > 2 else 50
    out_dir = args[3] if len(args) > 3 else tempfile.mkdtemp(prefix="wandtail_")

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="bench-wand-tail", cores=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    tok = (
        f"concat('t', cast(floor({vocab} * pow("
        "pmod(xxhash64(concat(cast(id as string), ':', cast(i as string))), 100000)"
        " / 100000.0, 3.0)) as long))"
    )
    have_build = all(os.path.exists(f"{out_dir}/{d}/_SUCCESS")
                     for d in ("postings", "docstats"))
    if not have_build:
        docs = (
            spark.range(0, n_docs, numPartitions=max(cores * 4, 16))
            .withColumn("text", F.expr(
                f"concat_ws(' ', transform(sequence(1, {dl}), i -> {tok}))"))
            .select(F.col("id").alias("doc_id"), "text")
        )
        idx = build_index(docs, doc_id_col="doc_id", text_col="text")
        idx.postings.write.mode("overwrite").parquet(f"{out_dir}/postings")
        idx.docstats.write.mode("overwrite").parquet(f"{out_dir}/docstats")
    if not os.path.exists(f"{out_dir}/mono/meta.json"):
        disk_idx = _finalize(
            spark.read.parquet(f"{out_dir}/postings"),
            spark.read.parquet(f"{out_dir}/docstats"),
            "bm25",
        )
        PackedIndex.from_index(disk_idx, segment_size="auto",
                               num_partitions="auto").write(f"{out_dir}/mono")
    store = PackedIndex.read(spark, f"{out_dir}/mono")
    df = {t: d for t, (d, _) in store.term_dict.items()}

    rng = np.random.default_rng(0)
    bands = df_bands(list(df), list(df.values()))
    queries = band_queries(rng, bands, MIX)
    top = sorted(df, key=lambda t: (-df[t], t))[: max(HOT)]
    queries += [("hot", " ".join(top[:n])) for n in HOT]

    def run(batch: list[tuple[int, str]], reps: int) -> tuple[float, list]:
        """Best-of-reps warm wall (ms) of one request, and its ranking."""
        q = spark.createDataFrame(batch, "qid long, question string")
        best, rows = None, None
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = wand_search(store, q, k=10, k1=2.5, b=0.2).collect()
            dt = (time.perf_counter() - t0) * 1000
            best = dt if best is None else min(best, dt)
        return round(best, 1), sorted(
            (r["qid"], r["rank"], r["doc_id"], r["score"]) for r in rows)

    def forced(i: int, batch: list[tuple[int, str]], reps: int = 3) -> dict:
        """One request timed with each placement forced; they must agree."""
        out, results = {}, {}
        # alternate which placement runs first, so neither always runs warm
        order = list(PLACEMENTS) if i % 2 == 0 else list(PLACEMENTS)[::-1]
        for placement in order:
            blocks.DRIVER_SCORE_MAX_POSTINGS = PLACEMENTS[placement]
            out[f"{placement}_ms"], results[placement] = run(batch, reps)
        if results["driver"] != results["shuffled"]:
            raise AssertionError(f"placements disagree on {batch[:2]} ...")
        return out

    def exposure(batch: list[tuple[int, str]]) -> dict:
        """Postings the request's (query, term) pairs touch, and the
        exposure wand_search compares with the bound."""
        uses = Counter(t for _, text in batch for t in set(text.split()) if t in df)
        exposed = blocks._exposure(store, ((df[t], n) for t, n in uses.items()))
        return {"postings": sum(df[t] * n for t, n in uses.items()), "exposed": exposed,
                "bound_picks": "driver" if exposed <= bound else "shuffled"}

    def rss_bytes() -> int:
        with open("/proc/self/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")

    def dictionary(reps: int = 3) -> dict:
        """Warm fills of fresh handles' term dictionaries (median ms), the
        bytes per term a filled dictionary keeps and peaks at (traced
        Python allocations), the RSS growth of the first fill per term, and
        a fresh handle's first and second request on a mid-band query."""
        fills, rss, firsts, seconds = [], [], [], []
        q = spark.createDataFrame([(0, queries[MIX["rare"]][1])], "qid long, question string")
        for _ in range(reps):
            h = PackedIndex.read(spark, f"{out_dir}/mono")
            before = rss_bytes()
            t0 = time.perf_counter()
            n_terms = len(h.term_dict)
            fills.append((time.perf_counter() - t0) * 1000)
            rss.append((rss_bytes() - before) / n_terms)
            h = PackedIndex.read(spark, f"{out_dir}/mono")
            for walls in (firsts, seconds):
                t0 = time.perf_counter()
                wand_search(h, q, k=10, k1=2.5, b=0.2).collect()
                walls.append((time.perf_counter() - t0) * 1000)
        h = PackedIndex.read(spark, f"{out_dir}/mono")
        tracemalloc.start()
        h.term_dict
        kept, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        return {"terms": n_terms, "fill_ms": round(float(np.median(fills)), 1),
                "bytes_per_term": round(kept / n_terms, 1),
                "peak_bytes_per_term": round(peak / n_terms, 1),
                "rss_bytes_per_term": round(rss[0], 1),
                "first_request_ms": round(float(np.median(firsts)), 1),
                "second_request_ms": round(float(np.median(seconds)), 1)}

    bound = blocks.DRIVER_SCORE_MAX_POSTINGS  # before forced() overrides it
    run([(0, queries[0][1])], 3)  # warm the session before anything is timed
    floor_ms = run([(999_999, "zz_not_in_vocab_zz")], 3)[0]
    term_dict = dictionary()
    print(f"[dictionary] {term_dict}", file=sys.stderr, flush=True)

    per_query = []
    for qid, (band, text) in enumerate(queries):
        batch = [(qid, text)]
        row = {"qid": qid, "band": band, **exposure(batch), **forced(qid, batch)}
        per_query.append(row)
        print(f"[q] {row}", file=sys.stderr, flush=True)

    # multi-query requests: rare + mid batches up to one full qid chunk,
    # then every solo query above as one request
    mixes = [("rare+mid", band_queries(rng, bands, {"rare": n // 2, "mid": n - n // 2}))
             for n in BATCHES]
    mixes.append(("solo set", queries))
    per_batch = []
    for i, (mix, texts) in enumerate(mixes):
        batch = [(qid, text) for qid, (_, text) in enumerate(texts)]
        row = {"mix": mix, "n_queries": len(batch), **exposure(batch),
               **forced(i, batch, reps=2)}
        per_batch.append(row)
        print(f"[batch] {row}", file=sys.stderr, flush=True)

    def summary(rows):
        out = {"n": len(rows),
               "exposed_p50": int(np.percentile([r["exposed"] for r in rows], 50)),
               "exposed_max": max(r["exposed"] for r in rows)}
        for placement in PLACEMENTS:
            ms = [r[f"{placement}_ms"] for r in rows]
            out[f"{placement}_p50_ms"] = round(float(np.percentile(ms, 50)), 1)
            out[f"{placement}_max_ms"] = max(ms)
        out["driver_wins"] = sum(r["driver_ms"] < r["shuffled_ms"] for r in rows)
        return out

    crossover, lo = [], 0
    for hi in BUCKETS:
        rows = [r for r in per_query if lo < r["exposed"] and (hi is None or r["exposed"] <= hi)]
        if rows:
            crossover.append({"exposed_gt": lo, "exposed_le": hi, **summary(rows)})
        lo = hi

    report = {
        "n_docs": n_docs, "vocab": vocab, "dl": dl, "cores": cores,
        "n_postings": int(store.blocks.agg(F.sum("n_docs")).collect()[0][0]),
        "segment_size": store.segment_size,
        "floor_ms": floor_ms,
        "term_dict": term_dict,
        "bands": {band: summary([r for r in per_query if r["band"] == band])
                  for band in (*MIX, "hot")},
        "crossover": crossover,
        "per_query": per_query,
        "batches": per_batch,
    }
    print(json.dumps(report))
    spark.stop()
    if not keep and out_dir.startswith(tempfile.gettempdir()):
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
