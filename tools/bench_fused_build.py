"""A/B the fused corpus→store build against the two-phase build→pack path.

The two-phase path (the r9/r10 at-size shape) materializes the full
(term, doc_id, tf, dl) postings table as parquet between the build and
pack jobs — at ~1B postings that intermediate is the largest IO in the
pipeline and a table nobody queries. `blocks.build_packed` pipelines
tokenize → posting aggregation → pack repartition as ONE job (two
shuffles, nothing written but the compressed blocks; the reference's
`bm25.py:58-75` streams counts straight into its in-memory dicts the
same way). This tool measures both paths on the IDENTICAL generated
corpus in fresh JVMs within one host window and proves the stores equal:

  * block-set fingerprint (count + order-independent xxhash64 sum over
    every block column) — blobs and impact bounds ARE the store;
  * termstats fingerprint (count + hash over (term, df));
  * meta (n_docs, avgdl, segment_size) equality.

Usage: python tools/bench_fused_build.py [n_docs] [vocab] [dl]
Defaults: 1_440_000 200_000 70 (the standing ~100M-posting fixture).
Output: ONE JSON line on stdout.
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


def worker_twophase(docs_dir: str, out: str) -> None:
    from fusion_spark.blocks import PackedIndex, _resolve_pack_params
    from fusion_spark.indexing import _finalize, build_index
    from fusion_spark.session import get_spark

    spark = get_spark(app_name="fused-ab-twophase", cores=32,
                      shuffle_partitions=256)
    docs = spark.read.parquet(docs_dir)
    data_dir = tempfile.mkdtemp(prefix="fusedab_postings_")
    T: dict = {}
    try:
        t0 = time.perf_counter()
        idx = build_index(docs, doc_id_col="doc_id", text_col="text")
        idx.postings.write.mode("overwrite").parquet(f"{data_dir}/postings")
        idx.docstats.write.mode("overwrite").parquet(f"{data_dir}/docstats")
        T["build_write"] = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        disk_idx = _finalize(
            spark.read.parquet(f"{data_dir}/postings"),
            spark.read.parquet(f"{data_dir}/docstats"),
            "bm25",
        )
        disk_idx.termstats.persist().count()
        seg, parts = _resolve_pack_params(disk_idx, "auto", "auto")
        T["auto_resolution"] = round(time.perf_counter() - t0, 1)
        t0 = time.perf_counter()
        PackedIndex.from_index(disk_idx, segment_size=seg,
                               num_partitions=parts).write(out)
        T["pack_write"] = round(time.perf_counter() - t0, 1)
        postings_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(f"{data_dir}/postings") for f in fs
        )
        print(json.dumps({
            "leg": "twophase", "phases": T,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "total_sec": round(sum(T.values()), 1),
            "segment_size": seg, "num_partitions": parts,
            "postings_parquet_bytes": postings_bytes,
        }))
    finally:
        shutil.rmtree(data_dir, ignore_errors=True)
    spark.stop()


def worker_fused(docs_dir: str, out: str, cores: int = 32) -> None:
    from pyspark.sql import functions as F

    from fusion_spark.blocks import build_packed
    from fusion_spark.session import get_spark

    spark = get_spark(app_name=f"fused-ab-fused-{cores}", cores=cores,
                      shuffle_partitions=max(cores * 8, 64))
    docs = spark.read.parquet(docs_dir)
    T: dict = {}
    t0 = time.perf_counter()
    packed = build_packed(docs, out, text_col="text",
                          segment_size="auto", num_partitions="auto",
                          timings=T)
    total = round(time.perf_counter() - t0, 1)
    n_post = int(
        packed.blocks.agg(F.sum("n_docs")).collect()[0][0] or 0
    )
    print(json.dumps({
        "leg": "fused", "cores": cores, "phases": T, "total_sec": total,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "segment_size": packed.segment_size, "n_postings": n_post,
    }))
    spark.stop()


def compare(store_a: str, store_b: str) -> None:
    """Order-independent fingerprints of both stores' blocks AND termstats,
    plus meta equality (avgdl to 1e-9 relative)."""
    from pyspark.sql import functions as F

    from fusion_spark.session import get_spark

    spark = get_spark(app_name="fused-ab-compare", cores=8,
                      shuffle_partitions=16)
    bcols = ["term", "segment", "n_docs", "max_tf", "min_dl",
             "doc_blob", "tf_blob", "dl_blob"]
    out: dict = {}
    for tag, p in (("a", store_a), ("b", store_b)):
        row = (
            spark.read.parquet(f"{p}/blocks")
            .agg(F.count("*").alias("n"),
                 F.sum(F.xxhash64(*bcols).cast("decimal(38,0)")).alias("h"))
            .collect()[0]
        )
        trow = (
            spark.read.parquet(f"{p}/termstats")
            .agg(F.count("*").alias("n"),
                 F.sum(F.xxhash64("term", "df").cast("decimal(38,0)")
                       ).alias("h"))
            .collect()[0]
        )
        with open(f"{p}/meta.json") as f:
            meta = json.load(f)
        out[tag] = {"n_blocks": int(row["n"]), "block_hash": int(row["h"]),
                    "n_terms": int(trow["n"]), "term_hash": int(trow["h"]),
                    "meta": meta}
    ma, mb = out["a"]["meta"], out["b"]["meta"]
    out["identical"] = (
        out["a"]["n_blocks"] == out["b"]["n_blocks"]
        and out["a"]["block_hash"] == out["b"]["block_hash"]
        and out["a"]["n_terms"] == out["b"]["n_terms"]
        and out["a"]["term_hash"] == out["b"]["term_hash"]
        and ma["n_docs"] == mb["n_docs"]
        and ma["segment_size"] == mb["segment_size"]
        and abs(ma["avgdl"] - mb["avgdl"]) <= 1e-9 * max(ma["avgdl"], 1.0)
    )
    print(json.dumps(out))
    spark.stop()


def _run(args: list[str]) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *args],
        capture_output=True, text=True, timeout=7200,
        env=dict(os.environ),
    )
    lines = [ln for ln in proc.stdout.strip().splitlines()
             if ln.startswith("{")]
    if not lines:
        print(proc.stdout[-2000:], file=sys.stderr)
        print(proc.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"worker failed: {args}")
    return json.loads(lines[-1])


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, fs in os.walk(path) for f in fs)


def main() -> None:
    # worker args indexed relative to the flag, not absolute positions
    # (r10 ADVICE: a hand-invoked `bench_fused_build.py DOCS OUT
    # --worker-fused 16` misparsed docs/out/cores from fixed slots)
    if "--worker-twophase" in sys.argv:
        i = sys.argv.index("--worker-twophase")
        worker_twophase(sys.argv[i + 1], sys.argv[i + 2])
        return
    if "--worker-fused" in sys.argv:
        i = sys.argv.index("--worker-fused")
        cores = int(sys.argv[i + 3]) if len(sys.argv) > i + 3 else 32
        worker_fused(sys.argv[i + 1], sys.argv[i + 2], cores)
        return
    if "--compare" in sys.argv:
        i = sys.argv.index("--compare")
        compare(sys.argv[i + 1], sys.argv[i + 2])
        return
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(args[0]) if len(args) > 0 else 1_440_000
    vocab = int(args[1]) if len(args) > 1 else 200_000
    dl = int(args[2]) if len(args) > 2 else 70

    from pyspark.sql import functions as F

    from fusion_spark.session import get_spark

    # SPARK_GRAFT_FUSEDAB_DOCS: reuse a previously generated corpus (same
    # n_docs/vocab/dl — the generator is deterministic, so a leftover dir
    # from an interrupted run is byte-equivalent); kept on exit.
    reuse = os.environ.get("SPARK_GRAFT_FUSEDAB_DOCS", "")
    params = {"n_docs": n_docs, "vocab": vocab, "dl": dl}
    sidecar_ok = False
    if reuse and os.path.exists(os.path.join(reuse, "_params.json")):
        with open(os.path.join(reuse, "_params.json")) as f:
            sidecar_ok = json.load(f) == params
    if reuse and os.path.exists(os.path.join(reuse, "_SUCCESS")):
        # r10 ADVICE: refuse a leftover corpus generated with DIFFERENT
        # params — it would silently skew every reported wall and label
        if not sidecar_ok:
            raise SystemExit(
                f"SPARK_GRAFT_FUSEDAB_DOCS={reuse} has no matching "
                f"_params.json for {params} — regenerate or unset the env"
            )
        docs_dir = reuse
    else:
        docs_dir = tempfile.mkdtemp(prefix="fusedab_docs_")
        spark = get_spark(app_name="fused-ab-gen", cores=32,
                          shuffle_partitions=64)
        tok = (
            f"concat('t', cast(floor({vocab} * pow("
            "pmod(xxhash64(concat(cast(id as string), ':', cast(i as string))), 100000)"
            " / 100000.0, 3.0)) as long))"
        )
        (
            spark.range(0, n_docs, numPartitions=256)
            .withColumn("text", F.expr(
                f"concat_ws(' ', transform(sequence(1, {dl}), i -> {tok}))"))
            .select(F.col("id").alias("doc_id"), "text")
            .write.mode("overwrite").parquet(docs_dir)
        )
        spark.stop()
        with open(os.path.join(docs_dir, "_params.json"), "w") as f:
            json.dump(params, f)

    report: dict = {"n_docs": n_docs, "vocab": vocab, "dl": dl, "cores": 32}
    stores = {}
    try:
        for leg in ("twophase", "fused"):
            out = tempfile.mkdtemp(prefix=f"fusedab_{leg}_")
            stores[leg] = out
            rec = _run([f"--worker-{leg}", docs_dir, out])
            report[leg] = {k: rec[k] for k in ("phases", "total_sec", "driver_memory")}
            if leg == "twophase":
                report["postings_parquet_bytes"] = rec["postings_parquet_bytes"]
            report[f"{leg}_segment_size"] = rec["segment_size"]
            report[f"{leg}_store_bytes"] = _du(f"{out}/blocks")
            print(f"[ab] {leg}: {rec['total_sec']} s {rec['phases']}",
                  file=sys.stderr, flush=True)
        report["speedup_fused_vs_twophase"] = round(
            report["twophase"]["total_sec"] / report["fused"]["total_sec"], 3)
        cmp_rec = _run(["--compare", stores["twophase"], stores["fused"]])
        report["store_identical"] = cmp_rec["identical"]
        report["n_blocks"] = cmp_rec["a"]["n_blocks"]
        report["n_terms"] = cmp_rec["a"]["n_terms"]

        if "--scaling" in sys.argv:
            # the north-rule pair on the FUSED flagship build path: same
            # input, two parallelism levels, back-to-back in one window
            lo, hi = (int(x) for x in os.environ.get(
                "SPARK_GRAFT_SCALE_CORES", "8,32").split(","))
            for cores, tag in ((lo, "low"), (hi, "high")):
                out = tempfile.mkdtemp(prefix=f"fusedab_s{cores}_")
                try:
                    rec = _run(["--worker-fused", docs_dir, out, str(cores)])
                finally:
                    shutil.rmtree(out, ignore_errors=True)
                report[f"fused_sec_{tag}"] = rec["total_sec"]
                report[f"fused_docs_per_sec_{tag}"] = round(
                    n_docs / rec["total_sec"], 0)
                print(f"[scaling] fused cores={cores}: {rec['total_sec']} s",
                      file=sys.stderr, flush=True)
            report["fused_scaling_efficiency"] = round(
                (report["fused_docs_per_sec_high"]
                 / report["fused_docs_per_sec_low"]) / (hi / lo), 3)
    finally:
        for p in stores.values():
            shutil.rmtree(p, ignore_errors=True)
        if docs_dir != reuse:
            shutil.rmtree(docs_dir, ignore_errors=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
