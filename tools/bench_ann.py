"""At-size proof for the partitioned ANN stores (similarity.write_lsh_store
/ write_ivf_store + their *_topk_store readers): the gate proves them at
sf0.1 (10k vectors); this runs 1M vectors by default (BENCH.md's r8 table
is the 10M run) and measures the claims that matter at 100 TB:

  1. PRUNING, OBSERVED: how many parquet files (and bytes) of the store a
     query batch actually touches under PartitionFilters — counted from the
     store's own directory layout for exactly the partitions the reader's
     `isin` keeps, plus the plan-string assertion that the filter really is
     a PartitionFilter (not a post-scan filter).
  2. LATENCY: ms/query for a 64-query batch against the LSH store and the
     IVF store at n_probe ∈ {1, 4, 8}, best-of-3 warm.
  3. QUALITY: recall@10 and top-1 hit rate vs the exact brute-force
     `cosine_topk` on the same queries (ANN stores are approximate by
     design — "identical" holds only when a query's true neighbors share
     its partition, so recall is the honest spot-check).

Corpus: DIM-dim vectors in N_CLUSTERS planted clusters (cluster centers +
noise), generated Spark-side in mapInPandas with a SPLITMIX64 counter hash
keyed by vec_id — fully deterministic, no RNG state, no driver loop, same
bytes at any partitioning. Clustered data is the honest shape for IVF (a
uniform cloud has no inverted-list structure to exploit).

Usage: python tools/bench_ann.py [n_vectors] [dim] [n_clusters] [out_dir]
Defaults: 1_000_000 64 64 <tmp>.  Output: ONE JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fusion_spark.extras import similarity  # noqa: E402
from fusion_spark.session import get_spark  # noqa: E402


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Counter-based deterministic hash → uint64 (public splitmix64)."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _unit_noise(keys: np.ndarray, dim: int) -> np.ndarray:
    """(len(keys), dim) floats in [-1, 1), deterministic in the key."""
    idx = keys[:, None] * np.uint64(dim) + np.arange(dim, dtype=np.uint64)[None, :]
    # divide by a float64 literal: a bare Python 2**64 exceeds int64 and
    # silently flips the array to object dtype on this numpy
    return (_splitmix64(idx).astype(np.float64) / np.float64(2**64)) * 2.0 - 1.0


def centers_matrix(n_clusters: int, dim: int) -> np.ndarray:
    keys = (np.arange(n_clusters, dtype=np.uint64) + np.uint64(1)) << np.uint64(32)
    c = _unit_noise(keys, dim)
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def gen_vectors(spark, n: int, dim: int, n_clusters: int, noise: float = 0.25):
    """(vec_id, embedding) with embedding = center[vec_id % C] + noise."""
    C = centers_matrix(n_clusters, dim)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.uint64)
            vecs = C[(ids % np.uint64(n_clusters)).astype(np.int64)] + noise * _unit_noise(ids, dim)
            yield pd.DataFrame({
                "vec_id": ids.astype(np.int64),
                "embedding": list(vecs.astype(np.float32)),
            })

    return spark.range(0, n, numPartitions=64).mapInPandas(
        gen, schema="vec_id long, embedding array<float>"
    )


def zipf_cdf(n_clusters: int, s: float = 1.1) -> np.ndarray:
    """Normalized CDF of Zipf weights (c+1)^-s over cluster ranks."""
    w = (np.arange(n_clusters, dtype=np.float64) + 1.0) ** (-s)
    return np.cumsum(w) / w.sum()


def messy_params(ids: np.ndarray, n_clusters: int, s: float,
                 background_frac: float) -> tuple[np.ndarray, np.ndarray]:
    """(cluster_rank, is_background) per id — deterministic in the id.
    Cluster sizes are Zipf(s)-weighted (head cluster holds the largest
    share); `background_frac` of ids carry NO cluster structure at all."""
    cdf = zipf_cdf(n_clusters, s)
    u1 = _splitmix64(ids ^ np.uint64(0xB16B00B5)).astype(np.float64) / np.float64(2**64)
    u2 = _splitmix64(ids ^ np.uint64(0x5EEDED)).astype(np.float64) / np.float64(2**64)
    clusters = np.searchsorted(cdf, u1, side="left").astype(np.int64)
    return np.minimum(clusters, n_clusters - 1), u2 < background_frac


def gen_messy_vectors(spark, n: int, dim: int, n_clusters: int,
                      s: float = 1.1, background_frac: float = 0.2,
                      noise: float = 0.5):
    """The r9 'no planted structure' corpus: Zipf-weighted cluster sizes,
    20% uniform background, and noise large enough (0.5 vs the planted
    bench's 0.25) that clusters genuinely overlap — the honest shape for
    testing IVF TRAINING rather than IVF lookup."""
    C = centers_matrix(n_clusters, dim)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.uint64)
            cl, bg = messy_params(ids, n_clusters, s, background_frac)
            vecs = C[cl] + noise * _unit_noise(ids, dim)
            # background rows: pure noise at a comparable norm, no center
            bgv = 1.2 * _unit_noise(ids ^ np.uint64(0xFACE), dim)
            vecs = np.where(bg[:, None], bgv, vecs)
            yield pd.DataFrame({
                "vec_id": ids.astype(np.int64),
                "embedding": list(vecs.astype(np.float32)),
            })

    return spark.range(0, n, numPartitions=64).mapInPandas(
        gen, schema="vec_id long, embedding array<float>"
    )


def store_file_stats(vec_dir: str, keep: set[str] | None, part_key: str):
    """(files_total, bytes_total, files_kept, bytes_kept, bytes_by_part) of
    a Hive-layout store; `keep` = partition values the reader's isin
    retains. bytes_by_part lets callers compute PER-QUERY read fractions
    (the batch union saturates as the batch diversifies; a single query
    still reads only its own partitions — that is the 100 TB claim)."""
    ft = bt = fk = bk = 0
    bytes_by_part: dict[str, int] = {}
    for root, _dirs, files in os.walk(vec_dir):
        part = next((p for p in root.split(os.sep) if p.startswith(part_key + "=")), None)
        for name in files:
            if not name.endswith(".parquet"):
                continue
            sz = os.path.getsize(os.path.join(root, name))
            ft += 1
            bt += sz
            if part is not None:
                val = part.split("=", 1)[1]
                bytes_by_part[val] = bytes_by_part.get(val, 0) + sz
                if keep is not None and val in keep:
                    fk += 1
                    bk += sz
    return ft, bt, fk, bk, bytes_by_part


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    n_clusters = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    out_dir = sys.argv[4] if len(sys.argv) > 4 else tempfile.mkdtemp(prefix="annbench_")

    spark = get_spark(app_name="bench-ann")
    t0 = time.perf_counter()
    vecs = gen_vectors(spark, n, dim, n_clusters)
    base = f"{out_dir}/base"
    vecs.write.mode("overwrite").parquet(base)
    embs = spark.read.parquet(base)
    gen_sec = time.perf_counter() - t0

    # 64 queries = corpus vectors re-derived with a nudged noise term, so
    # each query's true nearest neighbors live in its own cluster
    C = centers_matrix(n_clusters, dim)
    qids = np.arange(0, 64, dtype=np.uint64) * np.uint64(n // 64 + 1) % np.uint64(n)
    qvecs = C[(qids % np.uint64(n_clusters)).astype(np.int64)] + 0.26 * _unit_noise(qids, dim)
    queries = spark.createDataFrame(
        [(int(q), [float(x) for x in v]) for q, v in zip(qids, qvecs)],
        "qid long, qvec array<float>",
    ).cache()
    queries.count()

    t0 = time.perf_counter()
    similarity.write_lsh_store(embs, f"{out_dir}/lsh", n_planes=8, dim=dim)
    lsh_write_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    similarity.write_ivf_store(
        embs, f"{out_dir}/ivf", n_centroids=n_clusters,
        centroids=[list(map(float, c)) for c in C],
    )
    ivf_write_sec = time.perf_counter() - t0

    report: dict = {
        "n_vectors": n, "dim": dim, "n_clusters": n_clusters,
        "gen_sec": round(gen_sec, 1), "lsh_write_sec": round(lsh_write_sec, 1),
        "ivf_write_sec": round(ivf_write_sec, 1), "runs": {},
    }

    # ---- exact brute-force baseline (the quality oracle + latency floor)
    def run_latency(fn, reps=3):
        best, rows = None, None
        for _ in range(reps):
            t0 = time.perf_counter()
            rows = fn().collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best, rows

    brute_sec, brute_rows = run_latency(
        lambda: similarity.cosine_topk(embs, queries, k=10), reps=2
    )
    truth = {}
    for r in brute_rows:
        truth.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
    truth = {q: [v for _, v in sorted(rs)] for q, rs in truth.items()}
    report["runs"]["brute"] = {
        "sec": round(brute_sec, 2), "ms_per_query": round(1000 * brute_sec / 64, 1),
    }

    def quality(rows):
        got = {}
        for r in rows:
            got.setdefault(r["qid"], []).append((r["rank"], r["vec_id"]))
        got = {q: [v for _, v in sorted(rs)] for q, rs in got.items()}
        rec = [len(set(got.get(q, [])) & set(truth[q])) / len(truth[q]) for q in truth]
        top1 = [bool(got.get(q)) and got[q][0] == truth[q][0] for q in truth]
        return round(float(np.mean(rec)), 4), round(float(np.mean(top1)), 4)

    # ---- LSH store, single- and multi-probe (r8); r9 adds the model-
    # predicted recall next to each measured one (target_recall knob
    # calibration — _multiprobe_capture_curve) and the knob's own picks
    with open(f"{out_dir}/lsh/meta.json") as f:
        meta = json.load(f)
    planes = similarity._hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    by_rank: dict[int, list[float]] = {}
    for r in brute_rows:
        by_rank.setdefault(r["rank"], []).append(r["cosine"])
    rank_cos = [float(np.mean(by_rank[rk])) for rk in sorted(by_rank)]
    curve_rankavg = similarity._multiprobe_capture_curve(qvecs, planes, rank_cos)
    curve_floor = similarity._multiprobe_capture_curve(qvecs, planes, rank_cos[-1])
    report["target_recall_knob"] = {
        "neighbor_cosine_rank_k": round(rank_cos[-1], 4),
        "picks": {
            str(t): similarity.choose_n_probe(qvecs, planes, t, rank_cos[-1])
            for t in (0.3, 0.5, 0.9)
        },
    }
    for n_probe in (1, 2, 4, 8):
        lsh_sec, lsh_rows = run_latency(
            lambda: similarity.lsh_cosine_topk_store(
                spark, f"{out_dir}/lsh", queries, k=10, n_probe=n_probe)
        )
        plan = similarity.lsh_cosine_topk_store(
            spark, f"{out_dir}/lsh", queries, k=10, n_probe=n_probe
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, "LSH store scan lost partition pruning"
        probe_udf = similarity._lsh_probe_sigs_udf(planes, n_probe)
        per_q_sigs = [
            [str(s) for s in r["p"]] for r in queries.select(
                probe_udf(F.col("qvec")).alias("p")).collect()
        ]
        qsigs = {s for sigs in per_q_sigs for s in sigs}
        ft, bt, fk, bk, by_part = store_file_stats(f"{out_dir}/lsh/vectors", qsigs, "sig")
        per_q_frac = float(np.mean(
            [sum(by_part.get(s, 0) for s in sigs) / bt for sigs in per_q_sigs]))
        rec, top1 = quality(lsh_rows)
        report["runs"][f"lsh_store_nprobe{n_probe}"] = {
            "sec": round(lsh_sec, 2), "ms_per_query": round(1000 * lsh_sec / 64, 1),
            "sigs_probed": len(qsigs), "files_total": ft, "files_read": fk,
            "bytes_total": bt, "bytes_read": bk,
            "batch_bytes_read_frac": round(bk / bt, 4),
            "per_query_bytes_read_frac": round(per_q_frac, 5),
            "recall_at_10": rec, "top1_hit": top1,
            "predicted_recall_rankavg": round(float(curve_rankavg[n_probe - 1]), 4),
            "predicted_recall_floor": round(float(curve_floor[n_probe - 1]), 4),
        }

    # ---- IVF store at n_probe 1, 4, 8
    for n_probe in (1, 4, 8):
        sec, rows = run_latency(
            lambda: similarity.ivf_cosine_topk_store(
                spark, f"{out_dir}/ivf", queries, k=10, n_probe=n_probe)
        )
        plan = similarity.ivf_cosine_topk_store(
            spark, f"{out_dir}/ivf", queries, k=10, n_probe=n_probe
        )._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, "IVF store scan lost partition pruning"
        probe_udf = similarity._probe_ids_udf(
            [list(map(float, c)) for c in C], n_probe)
        probe_rows = queries.select(
            "qid", F.explode(probe_udf(F.col("qvec"))).alias("centroid")).collect()
        per_q: dict[int, set[str]] = {}
        for r in probe_rows:
            per_q.setdefault(r["qid"], set()).add(str(r["centroid"]))
        probed = {c for s in per_q.values() for c in s}
        ft, bt, fk, bk, by_part = store_file_stats(
            f"{out_dir}/ivf/vectors", probed, "centroid")
        per_q_frac = float(np.mean(
            [sum(by_part.get(c, 0) for c in s) / bt for s in per_q.values()]))
        rec, top1 = quality(rows)
        report["runs"][f"ivf_store_nprobe{n_probe}"] = {
            "sec": round(sec, 2), "ms_per_query": round(1000 * sec / 64, 1),
            "centroids_probed": len(probed), "files_total": ft, "files_read": fk,
            "bytes_total": bt, "bytes_read": bk,
            "batch_bytes_read_frac": round(bk / bt, 4),
            "per_query_bytes_read_frac": round(per_q_frac, 5),
            "recall_at_10": rec, "top1_hit": top1,
        }

    report["store_bytes"] = {
        "base": int(subprocess.run(["du", "-sb", base], capture_output=True,
                                   text=True).stdout.split()[0]),
        "lsh": int(subprocess.run(["du", "-sb", f"{out_dir}/lsh"], capture_output=True,
                                  text=True).stdout.split()[0]),
        "ivf": int(subprocess.run(["du", "-sb", f"{out_dir}/ivf"], capture_output=True,
                                  text=True).stdout.split()[0]),
    }
    print(json.dumps(report))
    spark.stop()
    if out_dir.startswith(tempfile.gettempdir()):
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
