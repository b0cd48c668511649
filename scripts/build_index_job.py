"""spark-submit entry point: resumable index build + optional packed-v2 stage.

Usage (north rule launch mechanism):
    scripts/submit.sh scripts/build_index_job.py \
        --input /path/documents.parquet --index-dir /path/index \
        --buckets 32 [--pack] [--text-col text] [--mode simple]
        [--fused [--fused-shards 8]]   # fused corpus→packed-store build

On a real cluster, pass --master/--num-executors etc. to spark-submit; the
job itself is layout-agnostic. Re-running after a failure resumes from the
per-bucket manifest (skips completed buckets, byte-identical result).
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--doc-id-col", default="doc_id")
    ap.add_argument("--mode", default="simple", choices=["simple", "reference", "code"])
    ap.add_argument("--variant", default="bm25", choices=["bm25", "tfidf", "atire"])
    ap.add_argument("--pack", action="store_true", help="also build the packed v2 block store")
    # None = "not passed": --fused resolves it to "auto", --pack to 1<<20 —
    # an explicit value is honored on BOTH paths (r10 ADVICE: --fused used
    # to hardcode "auto" and silently ignore a user-supplied size)
    ap.add_argument("--segment-size", type=int, default=None)
    ap.add_argument("--fused", action="store_true",
                    help="checkpointed fused build straight to the packed "
                         "store (no postings table; resumable per doc-id "
                         "shard) — the at-scale default, BENCH.md r10")
    ap.add_argument("--fused-shards", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from fusion_spark.blocks import PackedIndex, build_packed_resumable
    from fusion_spark.indexing import build_index_resumable
    from fusion_spark.shards import lineage

    spark = SparkSession.builder.appName("fusion-spark-index-build").getOrCreate()
    docs = spark.read.parquet(args.input)
    if args.fused:
        if args.pack or args.buckets != 32:
            import sys as _sys

            print("build_index_job: --pack/--buckets do not apply to the "
                  "fused path (it always writes the packed store; sharding "
                  "is --fused-shards)", file=_sys.stderr)
        t0 = time.perf_counter()
        packed = build_packed_resumable(
            spark, docs, args.index_dir, n_shards=args.fused_shards,
            doc_id_col=args.doc_id_col, text_col=args.text_col,
            mode=args.mode, variant=args.variant,
            segment_size=args.segment_size if args.segment_size is not None else "auto",
        )
        build_sec = time.perf_counter() - t0
        print(json.dumps({
            "n_docs": packed.n_docs, "avgdl": packed.avgdl,
            "segment_size": packed.segment_size,
            "build_sec": round(build_sec, 2),
            "docs_per_sec": round(packed.n_docs / build_sec, 1)
            if build_sec > 0 else None,
        }))
        spark.stop()
        return
    t0 = time.perf_counter()
    idx = build_index_resumable(
        spark, docs, args.index_dir, n_buckets=args.buckets,
        doc_id_col=args.doc_id_col, text_col=args.text_col,
        mode=args.mode, variant=args.variant,
    )
    build_sec = time.perf_counter() - t0
    if args.pack:
        packed = PackedIndex.from_index(
            idx,
            segment_size=args.segment_size if args.segment_size is not None else 1 << 20,
        )
        packed.write(args.index_dir + "/packed")
    lineage(spark, args.index_dir).show(truncate=False)
    print(json.dumps({
        "n_docs": idx.n_docs, "avgdl": idx.avgdl,
        "build_sec": round(build_sec, 2),
        "docs_per_sec": round(idx.n_docs / build_sec, 1) if build_sec > 0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
