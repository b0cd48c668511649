"""merge_packed at high fan-in (r9 extra): 64 shard stores → one index.

The 1B-posting proof merged 4 shards; a 10¹²-file ingest merges HUNDREDS
of per-shard/per-window packs (each incremental ingest job packs its own
shard; a periodic merge publishes the queryable union). This measures the
merge itself at fan-in 64 — wall for the disjointness guard, wall for the
merged index's first query, and WAND identity vs the monolithic pack of
the same postings.

Corpus sized so 64 segment-aligned shards exist: 2¹⁹ docs with
segment_size 2¹³ = exactly 64 segments, one per shard.

The compact_if decision measured here is now WIRED into the ingest loop
itself: `streaming.incremental_packed_stream` packs each micro-batch into
its own shard and runs compact_if as its quiesce epilogue (r11).

Usage: python tools/bench_merge_fanin.py [n_docs] [vocab] [dl] [n_shards]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fusion_spark.blocks import (  # noqa: E402
    SHARD_DIR, PackedIndex, compact_if, merge_packed, packed_shard_row,
    wand_search,
)
from fusion_spark.indexing import _finalize, build_index  # noqa: E402
from fusion_spark.session import get_spark  # noqa: E402
from fusion_spark.shards import build  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2**19
    vocab = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    dl = int(sys.argv[3]) if len(sys.argv) > 3 else 50
    n_shards = int(sys.argv[4]) if len(sys.argv) > 4 else 64
    seg = n_docs // n_shards  # power of two when n_docs/n_shards are

    out_dir = tempfile.mkdtemp(prefix="mergefanin_")
    spark = get_spark(app_name="bench-merge-fanin")
    report: dict = {"n_docs": n_docs, "vocab": vocab, "dl": dl,
                    "n_shards": n_shards, "segment_size": seg}

    tok = (
        f"concat('t', cast(floor({vocab} * pow("
        "pmod(xxhash64(concat(cast(id as string), ':', cast(i as string))), 100000)"
        " / 100000.0, 3.0)) as long))"
    )
    docs = (
        spark.range(0, n_docs, numPartitions=64)
        .withColumn("text", F.expr(
            f"concat_ws(' ', transform(sequence(1, {dl}), i -> {tok}))"))
        .select(F.col("id").alias("doc_id"), "text")
    )
    t0 = time.perf_counter()
    idx = build_index(docs, doc_id_col="doc_id", text_col="text")
    idx.postings.write.mode("overwrite").parquet(f"{out_dir}/postings")
    idx.docstats.write.mode("overwrite").parquet(f"{out_dir}/docstats")
    disk_idx = _finalize(
        spark.read.parquet(f"{out_dir}/postings"),
        spark.read.parquet(f"{out_dir}/docstats"), "bm25")
    disk_idx.termstats.persist().count()
    report["build_sec"] = round(time.perf_counter() - t0, 1)
    report["n_postings"] = disk_idx.postings.count()

    t0 = time.perf_counter()
    PackedIndex.from_index(disk_idx, segment_size=seg,
                           num_partitions="auto").write(f"{out_dir}/mono")
    report["pack_mono_sec"] = round(time.perf_counter() - t0, 1)
    mono = PackedIndex.read(spark, f"{out_dir}/mono")

    # one pack job per shard — the per-ingest-job shape; shards live under
    # one store root in the packed sharded-store layout, each committed to
    # the store's manifest, so the compact_if quiesce hook (which reads the
    # shard set from the manifest) can evaluate the same store below
    t0 = time.perf_counter()
    shard_paths = [os.path.join(out_dir, "store", SHARD_DIR.format(i))
                   for i in range(n_shards)]

    def write(i: int) -> dict:
        lo, hi = i * seg, (i + 1) * seg
        si = _finalize(
            disk_idx.postings.filter(f"doc_id >= {lo} and doc_id < {hi}"),
            spark.read.parquet(f"{out_dir}/docstats")
            .filter(f"doc_id >= {lo} and doc_id < {hi}"), "bm25")
        PackedIndex.from_index(si, segment_size=seg,
                               num_partitions=4).write(shard_paths[i])
        return packed_shard_row(spark, shard_paths[i])

    build(f"{out_dir}/store", {"segment_size": seg, "n_shards": n_shards},
          range(n_shards), write, "bench_merge_fanin")
    report["pack_shards_sec"] = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    merged = merge_packed(spark, shard_paths)  # disjointness guard ON
    report["merge_sec"] = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    merged.termstats.persist().count()
    report["merged_termstats_sec"] = round(time.perf_counter() - t0, 1)

    qrows = [(i, " ".join(f"t{vocab - 1 - (i * 7 + j) % (vocab // 4)}"
                          for j in range(4))) for i in range(32)]
    queries = spark.createDataFrame(qrows, "qid long, question string")

    def topk(px):
        out: dict[int, list] = {}
        for r in wand_search(px, queries, k=10, k1=2.5, b=0.2).collect():
            out.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
        return {q: sorted(rs) for q, rs in out.items()}

    t0 = time.perf_counter()
    wm = topk(merged)
    report["wand_merged_sec"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    wo = topk(mono)
    report["wand_mono_sec"] = round(time.perf_counter() - t0, 2)
    ids_eq = all(
        [d for _, d, _ in wm[q]] == [d for _, d, _ in wo[q]] for q in wo
    ) and set(wm) == set(wo)
    score_eq = all(
        abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-300)
        for q in wo for (_, _, a), (_, _, b) in zip(wm[q], wo[q])
    )
    report["merged_eq_mono"] = bool(ids_eq and score_eq)
    report["merged_n_docs_eq"] = merged.n_docs == mono.n_docs

    # compaction: the merged union is queryable IMMEDIATELY (the rows
    # above), but 64 stores × small files pay file-open overhead per
    # query; one write() pass re-packs the union into a single store for
    # sustained traffic
    t0 = time.perf_counter()
    merged.write(f"{out_dir}/compacted")
    report["compact_sec"] = round(time.perf_counter() - t0, 1)
    compacted = PackedIndex.read(spark, f"{out_dir}/compacted")
    compacted.termstats.persist().count()
    t0 = time.perf_counter()
    wc = topk(compacted)
    report["wand_compacted_sec"] = round(time.perf_counter() - t0, 2)
    report["compacted_eq_mono"] = bool(
        set(wc) == set(wo)
        and all([d for _, d, _ in wc[q]] == [d for _, d, _ in wo[q]] for q in wo)
    )

    # compact-on-quiesce hook (r10 #6): the SAME store evaluated by
    # compact_if at its measured-calibrated default threshold — the
    # per-window ingest loop calls this between waves instead of
    # hand-choosing union vs rewrite. Expected: "union" at fan-in 4,
    # "compacted" at fan-in 64 (and "already-compacted" on the repeat).
    import glob

    report["store_block_files"] = len(
        glob.glob(f"{out_dir}/store/shard=*/blocks/*.parquet"))
    t0 = time.perf_counter()
    ci, decision = compact_if(spark, f"{out_dir}/store")
    report["compact_if_decision"] = decision
    report["compact_if_sec"] = round(time.perf_counter() - t0, 2)
    ci.termstats.persist().count()
    wq = topk(ci)
    report["compact_if_eq_mono"] = bool(
        set(wq) == set(wo)
        and all([d for _, d, _ in wq[q]] == [d for _, d, _ in wo[q]] for q in wo)
    )
    t0 = time.perf_counter()
    _, redecision = compact_if(spark, f"{out_dir}/store")
    report["compact_if_repeat_decision"] = redecision
    report["compact_if_repeat_sec"] = round(time.perf_counter() - t0, 2)

    print(json.dumps(report))
    spark.stop()
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
