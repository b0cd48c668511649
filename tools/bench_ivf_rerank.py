"""Quantized IVF scan + exact rerank on the messy fixture (r10 #5; BENCH.md's
table is the 10M run, the default here is 1M).

The r9 messy table showed recall is CAPTURE-limited: c1024 tops out at
0.500 recall@10 reading 1.9% of the store per query, and reading more
lists is the only recall lever. This bench measures the r10 lever: a
`quantize=True` store carries an int8 sibling column (`vec_q8`) that a
column-pruned scan reads at ~¼ the bytes — so at EQUAL read budget the
quantized path probes ~4× the lists. Cosine over the codes equals cosine
of the dequantized vector (per-vector scale cancels); the only loss is
int8 rounding noise at the k boundary, which the optional exact rerank
stage (`rerank_k`) repairs by re-scoring the top candidates with the
float column.

Table, all on ONE store (auto n_centroids, lloyd_iters=2, 10% sample):

  * fp    n_probe ∈ {4, 8, 16}            — the r9 baseline points
  * q8    n_probe ∈ {16, 32, 64}          — ~equal modeled bytes to fp/4×
  * q8+rr n_probe ∈ {16, 32, 64}, rerank_k=4k — quantization repair cost

Each row: recall@10 / top-1 vs one exact brute pass, ms/query
(best-of-2 warm), and the MODELED per-query read bytes from the parquet
footers (`ivf_store_column_bytes` per probed partition — deterministic,
no host noise; the quantity a 100× corpus multiplies). The rerank row
adds the candidate count and the measured wall of the second stage.

Usage: python tools/bench_ivf_rerank.py [n] [dim] [latent] [out_dir]
Defaults: 1_000_000 64 512 <tmp>.  Output: ONE JSON line.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_ann  # noqa: E402  (sibling tool: shared deterministic generators)
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from fusion_spark.extras import similarity  # noqa: E402
from fusion_spark.session import get_spark  # noqa: E402


def per_centroid_bytes(path: str) -> dict[int, dict[str, int]]:
    """One footer walk → {centroid: {"vec": bytes, "vec_q8": bytes}}."""
    out: dict[int, dict[str, int]] = {}
    for f in glob.glob(os.path.join(path, "vectors", "centroid=*", "*.parquet")):
        cid = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        acc = out.setdefault(cid, {"vec": 0, "vec_q8": 0})
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                root = col.path_in_schema.split(".", 1)[0]
                if root in acc:
                    acc[root] += col.total_compressed_size
    return out


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    latent = int(sys.argv[3]) if len(sys.argv) > 3 else 512
    out_dir = sys.argv[4] if len(sys.argv) > 4 else tempfile.mkdtemp(prefix="ivfrr_")

    spark = get_spark(app_name="bench-ivf-rerank", extra_conf={
        # the rerank stage's exact re-read chunks its In(vec_id) filter at
        # _RERANK_IN_CHUNK=256 ids per scan; threshold 257 pushes each
        # chunk as a precise (shallow) or-chain instead of the default-10
        # min/max fallback. Raising it to cover the WHOLE candidate list
        # was the r10 StackOverflow: parquet evaluates the pushed or-chain
        # recursively, and 2,560 literals blew the task stack.
        "spark.sql.parquet.pushdown.inFilterThreshold": "257",
    })
    spark.sparkContext.addPyFile(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_ann.py")
    )
    t0 = time.perf_counter()
    vecs = bench_ann.gen_messy_vectors(spark, n, dim, latent)
    base = f"{out_dir}/base"
    vecs.write.mode("overwrite").parquet(base)
    embs = spark.read.parquet(base)
    gen_sec = time.perf_counter() - t0

    # the r9 query mix: held-out ids from the same mixture
    qids = np.arange(1, 65, dtype=np.uint64) * np.uint64(2**40)
    Cmat = bench_ann.centers_matrix(latent, dim)
    cl, bg = bench_ann.messy_params(qids, latent, 1.1, 0.2)
    qvecs = Cmat[cl] + 0.5 * bench_ann._unit_noise(qids, dim)
    bgv = 1.2 * bench_ann._unit_noise(qids ^ np.uint64(0xFACE), dim)
    qvecs = np.where(bg[:, None], bgv, qvecs)
    queries = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in zip(qids, qvecs)],
        "qid long, qvec array<float>",
    ).cache()
    n_q = queries.count()

    n_centroids = similarity.auto_n_centroids(n)
    report: dict = {
        "n_vectors": n, "dim": dim, "latent_clusters": latent,
        "n_centroids": n_centroids, "gen_sec": round(gen_sec, 1),
        "k": 10, "runs": {},
    }

    path = f"{out_dir}/ivf_q"
    t0 = time.perf_counter()
    cents = similarity.train_ivf_centroids(
        embs, n_centroids, lloyd_iters=2, train_fraction=0.1)
    report["train_sec"] = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    similarity.write_ivf_store(embs, path, centroids=cents, quantize=True)
    report["write_sec"] = round(time.perf_counter() - t0, 1)

    cb = per_centroid_bytes(path)
    tot_fp = sum(v["vec"] for v in cb.values())
    tot_q8 = sum(v["vec_q8"] for v in cb.values())
    report["store_bytes"] = {
        "vec": tot_fp, "vec_q8": tot_q8,
        "q8_over_fp": round(tot_q8 / tot_fp, 4),
    }

    # exact truth, one pass
    t0 = time.perf_counter()
    brute_rows = similarity.cosine_topk(embs, queries, k=10).collect()
    report["brute_sec"] = round(time.perf_counter() - t0, 1)
    truth: dict[int, set[int]] = {}
    top1: dict[int, int] = {}
    for r in brute_rows:
        truth.setdefault(r["qid"], set()).add(r["vec_id"])
        if r["rank"] == 1:
            top1[r["qid"]] = r["vec_id"]

    def quality(rows):
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
        got = {q: [v for _, v in sorted(rs)] for q, rs in got.items()}
        rec = [len(set(got.get(q, [])) & truth[q]) / len(truth[q]) for q in truth]
        t1 = [bool(got.get(q)) and got[q][0] == top1[q] for q in truth]
        return round(float(np.mean(rec)), 4), round(float(np.mean(t1)), 4)

    def probe_bytes(n_probe: int, col: str) -> float:
        """Mean per-query modeled read bytes for the scored column."""
        probe_udf = similarity._probe_ids_udf(cents, n_probe)
        rows = queries.select(
            "qid", F.explode(probe_udf(F.col("qvec"))).alias("c")).collect()
        per_q: dict[int, int] = {}
        for r in rows:
            per_q[r["qid"]] = per_q.get(r["qid"], 0) + cb.get(r["c"], {}).get(col, 0)
        return float(np.mean(list(per_q.values())))

    def run(tag: str, n_probe: int, use_q8: bool, rerank_k: int | None):
        best, rows = None, None
        for _ in range(2):
            t0 = time.perf_counter()
            rows = similarity.ivf_cosine_topk_store(
                spark, path, queries, k=10, n_probe=n_probe,
                use_quantized=use_q8, rerank_k=rerank_k,
            ).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        rec, t1 = quality(rows)
        col = "vec_q8" if use_q8 else "vec"
        stage1 = probe_bytes(n_probe, col)
        entry = {
            "n_probe": n_probe, "quantized": use_q8,
            "rerank_k": rerank_k,
            "recall_at_10": rec, "top1_hit": t1,
            "ms_per_query": round(1000 * best / n_q, 1),
            "stage1_bytes_per_query": int(stage1),
            "stage1_read_frac_of_fp_store": round(stage1 / tot_fp, 5),
        }
        report["runs"][tag] = entry
        print(f"[run] {tag}: recall {rec} top1 {t1} "
              f"{entry['ms_per_query']} ms/q "
              f"frac {entry['stage1_read_frac_of_fp_store']}",
              file=sys.stderr, flush=True)

    for p in (4, 8, 16):
        run(f"fp_p{p}", p, False, None)
    for p in (16, 32, 64):
        run(f"q8_p{p}", p, True, None)
        run(f"q8rr_p{p}", p, True, 40)

    print(json.dumps(report))
    spark.stop()
    if out_dir.startswith(tempfile.gettempdir()):
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
