"""Sampled-store IVF calibration vs the full-store curve (r10 #7).

`calibrate_ivf_probe_curve` pays ONE exact brute pass over the store —
356 s at 1M×256 queries (r9); at 100M that's hours. The r10
`store_fraction` knob runs that pass over a seed-pinned uniform row
sample instead. This tool measures what the knob costs in curve
fidelity at 1M messy vectors:

  * reference: full store, 256 calibration queries (the r9 protocol),
  * sampled:   10% store, same 256 queries,
  * the documented error yardstick: full store, 64 queries (r9 recorded
    0.02-0.04 target misses at that sample size).

Comparisons: max/mean |curve_sampled − curve_full| over all n_probe,
wall of each calibration, and HELD-OUT validation — for targets
{0.5, 0.7, 0.9}, resolve n_probe from each curve and measure achieved
recall@10 on 64 held-out queries against exact truth. The knob passes
if the sampled curve's achieved-vs-target residuals sit within the
64-query band (the cheaper-knob precedent) while the calibration wall
drops ~10×.

Usage: python tools/bench_ivf_calibration_sample.py [n] [dim] [latent]
Defaults: 1_000_000 64 512.  Output: ONE JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_ann  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from fusion_spark.extras import similarity  # noqa: E402
from fusion_spark.session import get_spark  # noqa: E402


def mk_queries(spark, ids: np.ndarray, dim: int, latent: int):
    Cmat = bench_ann.centers_matrix(latent, dim)
    cl, bg = bench_ann.messy_params(ids, latent, 1.1, 0.2)
    qv = Cmat[cl] + 0.5 * bench_ann._unit_noise(ids, dim)
    bgv = 1.2 * bench_ann._unit_noise(ids ^ np.uint64(0xFACE), dim)
    qv = np.where(bg[:, None], bgv, qv)
    df = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in zip(ids, qv)],
        "qid long, qvec array<float>",
    ).cache()
    df.count()
    return df


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    latent = int(sys.argv[3]) if len(sys.argv) > 3 else 512
    out_dir = tempfile.mkdtemp(prefix="ivfcal_")

    spark = get_spark(app_name="bench-ivf-cal-sample")
    spark.sparkContext.addPyFile(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_ann.py")
    )
    vecs = bench_ann.gen_messy_vectors(spark, n, dim, latent)
    base = f"{out_dir}/base"
    vecs.write.mode("overwrite").parquet(base)
    embs = spark.read.parquet(base)

    n_centroids = similarity.auto_n_centroids(n)
    cents = similarity.train_ivf_centroids(
        embs, n_centroids, lloyd_iters=2, train_fraction=0.1)
    path = f"{out_dir}/ivf"
    similarity.write_ivf_store(embs, path, centroids=cents)

    cal_q = mk_queries(
        spark, np.arange(1, 257, dtype=np.uint64) * np.uint64(2**40), dim, latent)
    hold_q = mk_queries(
        spark, np.arange(1001, 1065, dtype=np.uint64) * np.uint64(2**40), dim, latent)

    report: dict = {"n_vectors": n, "dim": dim, "latent_clusters": latent,
                    "n_centroids": n_centroids, "curves": {}}

    def calib(tag: str, queries, fraction):
        t0 = time.perf_counter()
        c = similarity.calibrate_ivf_probe_curve(
            spark, path, queries, k=10, store_fraction=fraction)
        report["curves"][tag] = {
            "wall_sec": round(time.perf_counter() - t0, 1),
            "store_fraction": fraction,
            "curve_head": [round(x, 4) for x in c[:16]],
        }
        print(f"[calib] {tag}: {report['curves'][tag]['wall_sec']} s",
              file=sys.stderr, flush=True)
        return c

    full = calib("full_q256", cal_q, None)
    samp = calib("sampled10_q256", cal_q, 0.1)
    q64 = calib("full_q64", cal_q.limit(64), None)

    d_samp = [abs(a - b) for a, b in zip(samp, full)]
    d_q64 = [abs(a - b) for a, b in zip(q64, full)]
    report["curve_dev"] = {
        "sampled_max": round(max(d_samp), 4),
        "sampled_mean": round(float(np.mean(d_samp)), 4),
        "q64_max": round(max(d_q64), 4),
        "q64_mean": round(float(np.mean(d_q64)), 4),
    }

    # held-out: achieved recall at each curve's resolved n_probe
    brute = similarity.cosine_topk(embs, hold_q, k=10).collect()
    truth: dict[int, set[int]] = {}
    for r in brute:
        truth.setdefault(r["qid"], set()).add(r["vec_id"])

    def achieved(n_probe: int) -> float:
        rows = similarity.ivf_cosine_topk_store(
            spark, path, hold_q, k=10, n_probe=n_probe).collect()
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["qid"], set()).add(r["vec_id"])
        return round(float(np.mean(
            [len(got.get(q, set()) & truth[q]) / len(truth[q]) for q in truth])), 4)

    report["held_out"] = {}
    for target in (0.5, 0.7, 0.9):
        row = {}
        for tag, curve in (("full_q256", full), ("sampled10_q256", samp),
                           ("full_q64", q64)):
            p = similarity.choose_ivf_n_probe(curve, target)
            row[tag] = {"n_probe": p, "achieved": achieved(p)}
        report["held_out"][str(target)] = row
        print(f"[held-out] target {target}: {row}", file=sys.stderr, flush=True)

    print(json.dumps(report))
    spark.stop()
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
