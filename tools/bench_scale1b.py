"""The ~10⁹-posting packed-store proof (r9 verdict #1 + #2).

One decade above the r8 evidence (99.2M postings): ~14.4M docs × 70 tokens
from a 200k-term Zipf-ish vocabulary ≈ 1B token occurrences. The run
exercises the WHOLE physical layer at size and proves the merge stage:

  1. build      — tokenize + postings/docstats (one pass), written to disk
  2. pack(auto) — segment_size="auto" + num_partitions="auto" (both r9
                  defaults; resolved values recorded) → monolithic store
  3. WAND       — rare-term query batch against the store, best-of-2 warm,
                  vs the exact v1 join scorer (identity asserted)
  4. shards     — the SAME postings split at segment-aligned doc-id
                  boundaries into 4 disjoint shard stores → merge_packed →
                  WAND identical to the monolithic store
  5. streamed   — shard 0 re-ingested through incremental_packed_stream
                  (each micro-batch packed into its own shard at the
                  same segment size), merged with shards 1-3 → WAND
                  identical again

Shard boundaries are multiples of the resolved segment size, so the r9
disjointness guard passes by construction (misaligned shards would share a
boundary segment and raise — the guard's unit tests cover that).

Set SPARK_GRAFT_EVENTLOG_DIR to audit the run (tools/audit_event_log.py —
the r9 classifier labels any task-skew findings straggler vs hot_key).

Usage: python tools/bench_scale1b.py [n_docs] [vocab] [dl] [out_dir] [--keep]
Defaults: 1_440_000 200_000 70 <tmp>, a tenth of the ~1B-posting runs in
BENCH.md (those passed 14_400_000 and took 45-75 min at 32 cores / 24g).
Cores follow the host's affinity mask, with 8 shuffle partitions per core.
--keep skips the tmp cleanup so tools/bench_wand_tail.py can reuse the
docs/postings/mono store (pass the same out_dir).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fusion_spark.blocks import PackedIndex, merge_packed, wand_search  # noqa: E402
from fusion_spark.indexing import _finalize, build_index  # noqa: E402
from fusion_spark.session import get_spark  # noqa: E402


def du(path: str) -> int:
    out = subprocess.run(["du", "-sb", path], capture_output=True, text=True)
    return int(out.stdout.split()[0])


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    keep = "--keep" in sys.argv  # leave the store for tools/bench_wand_tail.py
    n_docs = int(args[0]) if len(args) > 0 else 1_440_000
    vocab = int(args[1]) if len(args) > 1 else 200_000
    dl = int(args[2]) if len(args) > 2 else 70
    out_dir = args[3] if len(args) > 3 else tempfile.mkdtemp(prefix="scale1b_")

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="bench-scale1b", shuffle_partitions=8 * cores)
    report: dict = {"n_docs": n_docs, "vocab": vocab, "dl": dl,
                    "driver_memory": spark.conf.get("spark.driver.memory"),
                    "phases": {}}
    T: dict[str, float] = {}

    def phase(tag):
        class _P:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *a):
                T[tag] = round(time.perf_counter() - self.t0, 1)
                print(f"[phase] {tag}: {T[tag]} s", file=sys.stderr, flush=True)

        return _P()

    # ---- corpus: xxhash64-based Zipf-ish tokens (cubic bias toward low
    # ranks), deterministic, generated Spark-side — no driver loop
    tok = (
        f"concat('t', cast(floor({vocab} * pow("
        "pmod(xxhash64(concat(cast(id as string), ':', cast(i as string))), 100000)"
        " / 100000.0, 3.0)) as long))"
    )
    # Resume: the gen/build phases are deterministic functions of
    # (n_docs, vocab, dl); if a prior attempt already wrote them (all
    # _SUCCESS markers present), reuse the files and report the phases as
    # reused — the walls from the producing run stay the citable numbers.
    done = all(os.path.exists(f"{out_dir}/{d}/_SUCCESS")
               for d in ("docs", "postings", "docstats"))
    if done:
        print("[resume] reusing docs/postings/docstats from prior run",
              file=sys.stderr, flush=True)
        report["resumed_gen_build"] = True
    if not done:
        with phase("gen_write_docs"):
            (
                spark.range(0, n_docs, numPartitions=8 * cores)
                .withColumn("text", F.expr(f"concat_ws(' ', transform(sequence(1, {dl}), i -> {tok}))"))
                .select(F.col("id").alias("doc_id"), "text")
                .write.mode("overwrite").parquet(f"{out_dir}/docs")
            )
    docs = spark.read.parquet(f"{out_dir}/docs")

    # ---- 1. build: one tokenize pass; postings + docstats to disk
    if not done:
        with phase("build_write_postings"):
            idx = build_index(docs, doc_id_col="doc_id", text_col="text")
            idx.postings.write.mode("overwrite").parquet(f"{out_dir}/postings")
            idx.docstats.write.mode("overwrite").parquet(f"{out_dir}/docstats")
    disk_idx = _finalize(
        spark.read.parquet(f"{out_dir}/postings"),
        spark.read.parquet(f"{out_dir}/docstats"),
        "bm25",
    )
    disk_idx.termstats.persist().count()
    report["n_postings"] = n_post = disk_idx.postings.count()

    # ---- 2. pack with BOTH r9 autos; record what they resolved to
    with phase("pack_write_mono"):
        mono = PackedIndex.from_index(disk_idx, segment_size="auto",
                                      num_partitions="auto")
        mono.write(f"{out_dir}/mono")
    from fusion_spark.blocks import _resolve_pack_params
    seg, parts = _resolve_pack_params(disk_idx, "auto", "auto")
    report["auto_segment_size"] = seg
    report["auto_pack_partitions"] = parts
    report["postings_parquet_bytes"] = raw_b = du(f"{out_dir}/postings")
    report["packed_blocks_bytes"] = pk_b = du(f"{out_dir}/mono/blocks")
    report["compression_ratio"] = round(raw_b / pk_b, 2)

    # ---- 3. WAND vs exact on 32 rare-term queries (+ 4 hot-term queries:
    # block-max skipping must stay correct where selectivity is worst)
    qrows = [(i, " ".join(f"t{vocab - 1 - (i * 7 + j) % (vocab // 4)}" for j in range(4)))
             for i in range(32)]
    qrows += [(100 + i, " ".join(f"t{(i * 3 + j) % 16}" for j in range(4)))
              for i in range(4)]
    queries = spark.createDataFrame(qrows, "qid long, question string")
    disk_mono = PackedIndex.read(spark, f"{out_dir}/mono")

    def collect_topk(df):
        out: dict[int, list] = {}
        for r in df.collect():
            out.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
        return {q: [(d, s) for _, d, s in sorted(rs)] for q, rs in out.items()}

    def run(tag, fn, reps=2):
        best, rows = None, None
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = collect_topk(fn())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        T[tag] = round(best, 2)
        print(f"[phase] {tag}: {T[tag]} s", file=sys.stderr, flush=True)
        return rows

    from fusion_spark.scoring import search

    wand_mono = run("wand_mono", lambda: wand_search(
        disk_mono, queries, k=10, k1=2.5, b=0.2))
    exact = run("exact_full_scan", lambda: search(
        disk_idx, queries, k=10, k1=2.5, b=0.2), reps=1)

    def identical(a, b, score_tol=0.0):
        if set(a) != set(b):
            return False
        for q in a:
            if [d for d, _ in a[q]] != [d for d, _ in b[q]]:
                return False
            for (_, x), (_, y) in zip(a[q], b[q]):
                if x != y and abs(x - y) > score_tol * max(abs(x), abs(y), 1e-300):
                    return False
        return True

    report["wand_eq_exact"] = identical(wand_mono, exact)

    # ---- 4. four segment-ALIGNED disjoint shards → merge == monolithic
    n_segs = (n_docs + seg - 1) // seg
    per_shard_segs = (n_segs + 3) // 4
    bounds = [i * per_shard_segs * seg for i in range(4)] + [n_docs]
    shard_paths = []
    with phase("build_pack_4_shards"):
        for i in range(4):
            lo, hi = bounds[i], bounds[i + 1]
            si = _finalize(
                disk_idx.postings.filter(f"doc_id >= {lo} and doc_id < {hi}"),
                spark.read.parquet(f"{out_dir}/docstats")
                .filter(f"doc_id >= {lo} and doc_id < {hi}"),
                "bm25",
            )
            p = PackedIndex.from_index(si, segment_size=seg, num_partitions="auto")
            path = f"{out_dir}/shard{i}"
            p.write(path)
            shard_paths.append(path)
    with phase("merge_packed"):
        merged = merge_packed(spark, shard_paths)  # disjointness guard ON
        merged.termstats.persist().count()
    wand_merged = run("wand_merged", lambda: wand_search(
        merged, queries, k=10, k1=2.5, b=0.2))
    # merged avgdl/idf recomputation can differ from the monolithic store's
    # by accumulation order — allow 1e-9 relative on scores, ids exact
    report["merged_eq_mono"] = identical(wand_merged, wand_mono, score_tol=1e-9)
    report["merged_n_docs_eq"] = merged.n_docs == disk_idx.n_docs

    # ---- 5. streamed shard 0 → packed shard store, merged with 1-3; the
    # landing is segment-aligned (bounds are multiples of seg), as the
    # stream's ingest contract requires
    from fusion_spark.blocks import _packed_shards
    from fusion_spark.streaming import incremental_packed_stream

    for d in ("landing", "inc_store", "inc_ckpt"):  # a rerun starts clean
        shutil.rmtree(f"{out_dir}/{d}", ignore_errors=True)
    with phase("incremental_ingest_shard0"):
        docs.filter(f"doc_id < {bounds[1]}").write.parquet(f"{out_dir}/landing")
        incremental_packed_stream(
            spark, f"{out_dir}/landing", f"{out_dir}/inc_store",
            f"{out_dir}/inc_ckpt", segment_size=seg)
    with phase("merge_with_streamed_shard"):
        inc_paths = _packed_shards(f"{out_dir}/inc_store")[0]
        merged_inc = merge_packed(spark, inc_paths + shard_paths[1:])
        merged_inc.termstats.persist().count()
    wand_inc = run("wand_merged_streamed", lambda: wand_search(
        merged_inc, queries, k=10, k1=2.5, b=0.2))
    report["streamed_merge_eq_mono"] = identical(wand_inc, wand_mono, score_tol=1e-9)

    report["phases"] = T
    report["store_bytes"] = {"docs": du(f"{out_dir}/docs"),
                             "mono": du(f"{out_dir}/mono"),
                             "shards": sum(du(p) for p in shard_paths)}
    print(json.dumps(report))
    spark.stop()
    if not keep and out_dir.startswith(tempfile.gettempdir()):
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
