"""Physical-layer experiment: store compression + query-time scan pruning on
a LARGE-VOCAB synthetic corpus (the sandbox testdata has a 31-term vocab, so
selective-term behavior needs its own corpus).

Corpus: N_DOCS docs × DL tokens drawn from a VOCAB-term Zipf-ish universe via
md5-based pseudo-randomness (deterministic, Spark-side generation — no
driver loop). Measures:
  1. on-disk size: exploded postings parquet vs packed delta+varint blocks
  2. rare-term query batch latency: exact join (full postings scan) vs the
     packed WAND path (term pushdown + block-max skipping)
Both paths must return identical (qid, doc_id) top-k.

Usage: python tools/bench_wand.py [n_docs] [vocab] [dl]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fusion_spark.blocks import PackedIndex, wand_search  # noqa: E402
from fusion_spark.indexing import build_index, load_index  # noqa: E402
from fusion_spark.scoring import estimate_selectivity, search  # noqa: E402
from fusion_spark.session import get_spark  # noqa: E402


def du(path: str) -> int:
    out = subprocess.run(["du", "-sb", path], capture_output=True, text=True)
    return int(out.stdout.split()[0])


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    vocab = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    dl = int(sys.argv[3]) if len(sys.argv) > 3 else 60
    # block sizing is the physical-layer tuning knob: tiny blocks (huge
    # vocab relative to docs/segment) pay per-block metadata overhead in
    # both compression ratio and block count. "auto" derives it from the
    # index's df distribution (blocks.auto_segment_size, r8).
    seg_arg = sys.argv[4] if len(sys.argv) > 4 else str(1 << 14)
    segment_size = seg_arg if seg_arg == "auto" else int(seg_arg)

    spark = get_spark(app_name="bench-wand", cores=8)
    # Zipf-ish term ids: rank r with weight ~ 1/(r+1) approximated by
    # exponentiating a uniform hash — t = floor(vocab * u^3) biases to low ids.
    tok = (
        "concat('t', cast(floor(%d * pow(mod(conv(substr(md5(concat(cast(id as string), ':', cast(i as string))), 1, 8), 16, 10), 100000) / 100000.0, 3.0)) as long))"
        % vocab
    )
    docs = (
        spark.range(0, n_docs)
        .withColumn(
            "text",
            F.expr(
                f"concat_ws(' ', transform(sequence(1, {dl}), i -> {tok}))"
            ),
        )
        .select(F.col("id").alias("doc_id"), "text")
    )
    d = tempfile.mkdtemp(prefix="wandbench_")
    docs.write.mode("overwrite").parquet(f"{d}/docs")
    docs = spark.read.parquet(f"{d}/docs")

    idx = build_index(docs, doc_id_col="doc_id", text_col="text")
    idx.postings.write.mode("overwrite").parquet(f"{d}/postings")
    packed = PackedIndex.from_index(idx, segment_size=segment_size)
    packed.write(f"{d}/packed")

    raw_bytes = du(f"{d}/postings")
    packed_bytes = du(f"{d}/packed/blocks")
    n_post = spark.read.parquet(f"{d}/postings").count()

    # rare-term queries: high term ids are cold under the cubic bias
    qrows = [(i, " ".join(f"t{vocab - 1 - (i * 7 + j) % (vocab // 4)}" for j in range(4)))
             for i in range(32)]
    queries = spark.createDataFrame(qrows, "qid long, question string")

    # rebuild index objects from DISK so scans hit parquet (fair comparison)
    disk_postings = spark.read.parquet(f"{d}/postings")
    from fusion_spark.indexing import BM25Index

    disk_idx = BM25Index(
        postings=disk_postings,
        termstats=idx.termstats.persist(),
        docstats=idx.docstats,
        n_docs=idx.n_docs,
        avgdl=idx.avgdl,
        variant="bm25",
    )
    disk_packed = PackedIndex.read(spark, f"{d}/packed")
    sel = estimate_selectivity(disk_idx, queries)

    results = {}

    def run(tag, fn):
        best, rows = None, None
        for _ in range(3):
            t0 = time.perf_counter()
            rows = sorted((r["qid"], r["doc_id"]) for r in fn().collect())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        results[tag] = round(best, 3)
        return rows

    a = run("exact_full_scan", lambda: search(disk_idx, queries, k=10, k1=2.5, b=0.2))
    b = run("wand_packed", lambda: wand_search(disk_packed, queries, k=10, k1=2.5, b=0.2))

    print(json.dumps({
        "n_docs": n_docs, "vocab": vocab, "dl": dl,
        "segment_size": packed.segment_size,
        "segment_size_mode": "auto" if seg_arg == "auto" else "explicit",
        "n_postings": n_post,
        "postings_parquet_bytes": raw_bytes, "packed_blocks_bytes": packed_bytes,
        "compression_ratio": round(raw_bytes / packed_bytes, 2),
        "query_selectivity": round(sel, 5),
        "latency_sec": results,
        "identical_results": a == b,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
