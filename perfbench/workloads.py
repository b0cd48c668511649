"""The workloads. Each drives fusion_spark only through its public functions
and wraps every call into a layer in a tracer span.

A workload has:

* ``setup()`` — input generation and any prebuilt store; run several times,
  each time from scratch (the median is part of ``setup_s``);
* ``warmup()`` — unchecked operations, counted in ``setup_s``;
* ``prepare_check()`` — the exact side of the correctness gate, computed
  once and outside every timed region;
* ``op(i)`` — one operation; returns (timed seconds, payload);
* ``check(payload)`` — True when the payload is right; untimed;
* ``release(payload)`` — unpersist or delete what the operation made;
* ``traced_ops()`` — the fixed operation schedule of a traced run;
* ``probe()`` — traced runs only: extra counts, and whether the checks that
  come with them passed.

Every run pays a fixed Spark cost (JVM start, then first-use code
generation) of about 25 s on 4 cores, so sizes are small: the measured work
is dominated by per-job cost, which is what this round's changes target.
``smoke=True`` shrinks every input further.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import data, gates

K1, B = 2.5, 0.2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files ending in suffix, bytes of all files) under path."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(suffix)
    return files, size


class Workload:
    name = ""
    unit = ""  # what one operation is
    min_ops = 2  # a timed run makes at least this many operations

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.T = ctx.tracer
        self.seed = ctx.seed
        self.detail: dict = {}

    def fresh_dir(self, tag: str) -> str:
        path = os.path.join(self.ctx.work, f"{self.name}-{tag}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def release(self, payload) -> None:
        pass


class WandServe(Workload):
    """Ingest, then serve. Set-up ingests a Zipf corpus as doc-id-aligned
    shards (``build_packed_resumable``) and compacts them (``compact_if``);
    the loop is closed, one client, each request one single-query
    ``wand_search(store, q, k=10).collect()``."""

    name = "wand_serve"
    unit = "request"
    MIX = {"rare": 6, "mid": 6, "head": 6, "none": 2}
    # every run serves the same band mix, so seeds vary only the terms
    ROUND = ("rare", "mid", "head") * 3 + ("none",)
    min_ops = len(ROUND)
    # shards are segment-aligned: at this size the auto segment size covers
    # the corpus, so the ingest runs as one shard (the detail line says so)
    N_SHARDS = 2
    COMPACT_ABOVE_FILES = 0  # always rewrite the shards into one store

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_docs, self.vocab, self.dl = (2_000, 5_000, 20) if ctx.smoke else (8_000, 20_000, 40)

    def setup(self) -> None:
        from fusion_spark.blocks import build_packed_resumable, compact_if

        path = self.fresh_dir("store")
        self.docs = data.zipf_docs(self.spark, self.seed, self.n_docs, self.vocab, self.dl,
                                   self.ctx.cores * 2)
        with self.T.span("blocks.build_packed_resumable"):
            build_packed_resumable(self.spark, self.docs, path, n_shards=self.N_SHARDS)
        with self.T.span("blocks.compact_if"):
            self.store, decision = compact_if(self.spark, path,
                                              threshold_files=self.COMPACT_ABOVE_FILES)
        served = path if decision == "union" else os.path.join(path, "compacted")
        files = sum(_dir_stats(os.path.join(root, "blocks"), ".parquet")[0]
                    for root, dirs, _ in os.walk(served) if "blocks" in dirs)
        size = _dir_stats(served)[1]
        self.store_stats = {"blocks.store.files": files, "blocks.store.bytes": size}
        ts = self.store.termstats.select("term", "df").toPandas()
        known = set(ts["term"])
        rng = np.random.default_rng(self.seed)
        bands = data.df_bands(list(ts["term"]), list(ts["df"]))
        self.pool = [(qid, band, text) for qid, (band, text)
                     in enumerate(data.band_queries(rng, bands, self.MIX))]
        by_band = {band: [p for p in self.pool if p[1] == band] for band in self.MIX}
        for band in by_band:
            by_band[band] = [by_band[band][j] for j in rng.permutation(len(by_band[band]))]
        rounds = len(self.pool) // len(self.ROUND)
        self.schedule = [by_band[band].pop() for _ in range(rounds) for band in self.ROUND]
        shards = sum(1 for n in os.listdir(path) if n.startswith("shard="))
        self.detail.update(shards=shards, compact_decision=decision,
                           store_files=files, store_bytes=size,
                           matched_terms_per_query={
                               band: [sum(t in known for t in text.split())
                                      for _q, b, text in self.pool if b == band]
                               for band in self.MIX})

    def warmup(self) -> None:
        for i in range(3):  # one request per band
            self.op(i)

    def prepare_check(self) -> None:
        from pyspark.sql import functions as F

        from fusion_spark.indexing import build_index
        from fusion_spark.scoring import search

        qdf = self.spark.createDataFrame([(q, t) for q, _b, t in self.pool],
                                         "qid long, question string")
        idx = build_index(self.docs)
        self.exact: dict[int, list] = {q: [] for q, _b, _t in self.pool}
        for r in search(idx, qdf, k=10, k1=K1, b=B, zero_tail=False).collect():
            self.exact[r["qid"]].append((r["rank"], r["doc_id"], r["score"]))
        # the ingested store must hold every posting exactly once
        postings = self.store.blocks.agg(F.sum("n_docs")).collect()[0][0]
        self.store_ok = postings == idx.postings.count()
        self.detail.update(postings=int(postings), store_bytes_per_posting=(
            self.store_stats["blocks.store.bytes"] / postings))
        idx.unpersist()

    def op(self, i: int):
        from fusion_spark.blocks import wand_search

        qid, band, text = self.schedule[i % len(self.schedule)]
        q = self.spark.createDataFrame([(qid, text)], "qid long, question string")
        t0 = time.perf_counter()
        with self.T.span("blocks.wand_search", band):
            rows = wand_search(self.store, q, k=10, k1=K1, b=B).collect()
        dt = time.perf_counter() - t0
        return dt, (qid, [(r["rank"], r["doc_id"], r["score"]) for r in rows])

    def traced_ops(self) -> list[int]:
        """Two requests per band, in band order: a fixed schedule, so two
        traced runs of one seed submit the same jobs."""
        picks = []
        for band in self.MIX:
            picks += [q for q, b, _ in self.pool if b == band][:2]
        return [next(i for i, p in enumerate(self.schedule) if p[0] == q) for q in picks]

    def check(self, payload) -> bool:
        qid, rows = payload
        return self.store_ok and gates.ranked_exact(rows, self.exact[qid])

    def self_test(self, payload) -> bool | None:
        """True when the gate rejects a perturbed copy of a right result."""
        qid, rows = payload
        if len(rows) < 2:
            return None
        return not gates.ranked_exact(gates.perturb(rows), self.exact[qid])

    def probe(self) -> tuple[dict, bool]:
        """Blocks and postings the head-band queries are obliged to consider
        before skipping, from store metadata only (as tools/bench_wand_tail.py)."""
        from pyspark.sql import functions as F

        head = sorted({t for _q, b, text in self.pool if b == "head" for t in text.split()})
        row = (
            self.store.blocks.filter(F.col("term").isin(head))
            .agg(F.count("*").alias("blocks"), F.sum("n_docs").alias("postings"))
            .collect()[0]
        )
        return {
            "blocks.wand_search.blocks_exposed": int(row["blocks"]),
            "blocks.wand_search.postings_exposed": int(row["postings"]),
            **self.store_stats,
        }, True


class OfflineEval(Workload):
    """Batch, one pass per operation, every sink a noop write:

    corpus → build_index → search (BM25 leg, k=1000) → cosine_topk (exact
    dense leg) → write_ivf_store → ivf_cosine_topk_store, float and int8
    (two ANN legs) → fuse the four legs with RRF and with NSF z-score →
    metrics_per_query.

    The embedding table is keyed by doc_id, and each query vector sits near
    one of its relevant docs, so the dense legs retrieve something the
    metrics can score. The corpus carries planted exact duplicates; minhash
    + LSH over it runs in traced runs only (``probe``), with its gate."""

    name = "offline_eval"
    unit = "pass"
    MIX = {"rare": 16, "mid": 24, "head": 24}
    CHECKED = {"rare": 2, "mid": 3, "head": 3}
    K_BM25, K_DENSE, TOPK = 1000, 100, 100
    DIM, N_CENTROIDS, N_PROBE = 32, 16, 4
    WEIGHTS = {"bm25": 0.4, "dense": 0.2, "ivf": 0.2, "ivf_q8": 0.2}

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_docs = 600 if ctx.smoke else 3_000

    def setup(self) -> None:
        import pandas as pd

        rows, self.planted = data.text_corpus(self.seed, self.n_docs, 20_000, 40, 80,
                                              dup_share=0.03)
        self.docs_pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
        dfs: dict[str, int] = {}
        holders: dict[str, list[int]] = {}
        for d, text in rows:
            for t in set(text.split()):
                dfs[t] = dfs.get(t, 0) + 1
                holders.setdefault(t, []).append(d)
        rng = np.random.default_rng(self.seed)
        bands = data.df_bands(list(dfs), list(dfs.values()))
        self.queries = [(qid, band, text) for qid, (band, text)
                        in enumerate(data.band_queries(rng, bands, self.MIX))]
        # qrels: 1-8 docs per query, drawn from docs holding one of its terms
        self.qrels = []
        for qid, _b, text in self.queries:
            cand = sorted({d for t in text.split() for d in holders[t]})
            n = min(int(rng.integers(1, 9)), len(cand))
            self.qrels += [(qid, int(d)) for d in rng.choice(cand, n, replace=False)]
        self.vecs = data.embeddings(self.seed, self.n_docs, self.DIM, 8)
        first_rel = {}
        for q, d in self.qrels:
            first_rel.setdefault(q, d)
        self.qvecs = np.stack([self.vecs[first_rel[q]] for q, _b, _t in self.queries])
        self.qvecs = self.qvecs + 0.1 * rng.normal(size=self.qvecs.shape)
        # IVF centroids: a seeded sample of the corpus, so the pass measures
        # list assignment, the store write and the search, not k-means
        self.centroids = self.vecs[rng.choice(self.n_docs, self.N_CENTROIDS, replace=False)].tolist()
        self.emb_pdf = pd.DataFrame({"vec_id": np.arange(self.n_docs),
                                     "embedding": list(self.vecs)})
        self.qv_pdf = pd.DataFrame({"qid": [q for q, _b, _t in self.queries],
                                    "qvec": list(self.qvecs)})
        self.checked = []
        for band, n in self.CHECKED.items():
            in_band = [q for q, b, _ in self.queries if b == band]
            self.checked += [int(q) for q in rng.choice(in_band, n, replace=False)]
        self.rows = rows

    def warmup(self) -> None:
        self.release(self.op(0)[1])

    def prepare_check(self) -> None:
        from fusion_spark import oracle

        idx = oracle.OracleIndex(dict(self.rows))
        self.exact_bm25 = {}
        for qid, _b, text in self.queries:
            if qid in self.checked:
                terms = set(text.split())
                matched = [(d, s) for d, s in idx.search(text, idx.n, K1, B)
                           if any(d in idx.tf.get(t, {}) for t in terms)]
                self.exact_bm25[qid] = matched[: self.K_BM25]
        norm = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        qn = self.qvecs / np.linalg.norm(self.qvecs, axis=1, keepdims=True)
        self.cos = qn @ norm.T  # row = position of the query in self.queries
        self.exact_dense = {}
        for row, (qid, _b, _t) in enumerate(self.queries):
            top = np.lexsort((np.arange(self.n_docs), -self.cos[row]))[: self.K_DENSE]
            self.exact_dense[qid] = [(int(v), float(self.cos[row, v])) for v in top]

    def op(self, i: int):
        from pyspark.sql import functions as F

        from fusion_spark import fusion
        from fusion_spark.extras import similarity
        from fusion_spark.indexing import build_index
        from fusion_spark.metrics import metrics_per_query
        from fusion_spark.scoring import search

        spark = self.spark
        docs = spark.createDataFrame(self.docs_pdf)
        emb = spark.createDataFrame(self.emb_pdf)
        qv = spark.createDataFrame(self.qv_pdf)
        queries = spark.createDataFrame([(q, t) for q, _b, t in self.queries],
                                        "qid long, question string")
        qrels = spark.createDataFrame(self.qrels, "qid long, doc_id long")
        ivf_path = self.fresh_dir(f"ivf{i}")
        held = []

        def leg(system, df, score):
            doc = "vec_id" if "vec_id" in df.columns else "doc_id"
            out = df.select(F.lit(system).alias("system"), "qid", F.col(doc).alias("doc_id"),
                            F.col(score).alias("score"), "rank").persist()
            _noop(out)
            held.append(out)
            return out

        t0 = time.perf_counter()
        with self.T.span("indexing.build_index"):
            idx = build_index(docs)
        t_search = time.perf_counter()
        with self.T.span("scoring.search"):
            bm25 = leg("bm25", search(idx, queries, k=self.K_BM25, k1=K1, b=B), "score")
        search_s = time.perf_counter() - t_search
        with self.T.span("extras.similarity.cosine_topk"):
            dense = leg("dense", similarity.cosine_topk(emb, qv, k=self.K_DENSE), "cosine")
        with self.T.span("extras.similarity.write_ivf_store"):
            similarity.write_ivf_store(emb, ivf_path, centroids=self.centroids, quantize=True)
        ivf = {}
        for system, quant in (("ivf", False), ("ivf_q8", True)):
            with self.T.span("extras.similarity.ivf_cosine_topk_store", system):
                ivf[system] = leg(system, similarity.ivf_cosine_topk_store(
                    spark, ivf_path, qv, k=self.K_DENSE, n_probe=self.N_PROBE,
                    use_quantized=quant), "cosine")
        legs = bm25.unionByName(dense).unionByName(ivf["ivf"]).unionByName(ivf["ivf_q8"])
        with self.T.span("fusion.fuse", "rrf"):
            rrf = fusion.fuse(legs, method="rrf", return_topk=self.TOPK).persist()
            _noop(rrf)
        held.append(rrf)
        nsf = fusion.fuse(legs, method="nsf", normalization="z-score", weights=self.WEIGHTS,
                          return_topk=self.TOPK, dtype="float32")
        with self.T.span("fusion.fuse", "nsf"):
            _noop(nsf)
        mets = metrics_per_query(rrf.select("qid", "doc_id", "rank"), qrels,
                                 recall_k=(10, 100), map_k=(10,), mrr_k=(10,), ndcg_k=(10,))
        with self.T.span("metrics.metrics_per_query"):
            _noop(mets)
        dt = time.perf_counter() - t0
        return dt, {"idx": idx, "held": held, "legs": legs, "rrf": rrf,
                    "nsf": nsf, "mets": mets, "search_s": search_s, "ivf_path": ivf_path}

    @staticmethod
    def _lists(df, qids, key=("qid",)) -> dict:
        """{key: [(doc_id, score)] in rank order} for the given qids."""
        out: dict = {}
        for r in df.filter(df.qid.isin(qids)).orderBy(*key, "rank").collect():
            k = tuple(r[c] for c in key) if len(key) > 1 else r[key[0]]
            out.setdefault(k, []).append((r["doc_id"], r["score"]))
        return out

    def check(self, p) -> bool:
        from fusion_spark import oracle

        sub_q = self.checked
        legs: dict = {}
        for (system, qid), lst in self._lists(p["legs"], sub_q, ("system", "qid")).items():
            legs.setdefault(system, {})[qid] = lst
        # BM25 leg vs the pure-Python oracle
        if not all(gates.ranked_close(legs["bm25"].get(q, []), self.exact_bm25[q],
                                      gates.SCORE_TOL) for q in sub_q):
            return False
        # exact dense leg vs NumPy brute force
        if not all(gates.ranked_close(legs["dense"].get(q, []), self.exact_dense[q],
                                      gates.SCORE_TOL) for q in sub_q):
            return False
        # IVF legs: at most k rows; the float leg's cosines are exact
        row_of = {q: r for r, (q, _b, _t) in enumerate(self.queries)}
        recall = {}
        for system in ("ivf", "ivf_q8"):
            hits = 0
            for q in sub_q:
                lst = legs[system].get(q, [])
                if len(lst) > self.K_DENSE:
                    return False
                if system == "ivf" and any(abs(s - self.cos[row_of[q], d]) > gates.SCORE_TOL
                                           for d, s in lst):
                    return False
                hits += len({d for d, _ in lst[:10]} & {d for d, _ in self.exact_dense[q][:10]})
            recall[system] = hits / (10 * len(sub_q))
        self.detail["ivf_recall_at_10"] = recall
        # fusion vs the oracle, fed the same legs
        sub = {s: {q: legs[s].get(q, []) for q in sub_q} for s in legs}
        exp_rrf = oracle.fuse(sub, method="rrf")
        exp_nsf = oracle.fuse(sub, method="nsf", normalization="z-score", weights=self.WEIGHTS)
        rrf, nsf = self._lists(p["rrf"], self.checked), self._lists(p["nsf"], self.checked)
        for q in self.checked:
            if not gates.ranked_close(rrf.get(q, []), exp_rrf[q][: self.TOPK], 1e-12):
                return False
            if not gates.ranked_close(nsf.get(q, []), exp_nsf[q][: self.TOPK], 1e-5):
                return False
        # metrics vs the oracle's reference-convention functions
        gt: dict = {}
        for q, d in self.qrels:
            gt.setdefault(q, []).append(d)
        for r in p["mets"].filter(p["mets"].qid.isin(self.checked)).collect():
            g, preds = gt[r["qid"]], [d for d, _ in rrf.get(r["qid"], [])]
            exp = {"recall@10": oracle.recall_at(g, preds, 10),
                   "recall@100": oracle.recall_at(g, preds, 100),
                   "map@10": oracle.average_precision_at(g, preds, 10),
                   "mrr@10": oracle.mrr_at(g, preds, 10),
                   "ndcg@10": oracle.ndcg_at(g, preds, 10),
                   "r-precision": oracle.r_precision(g, preds)}
            if not gates.values_close({k: r[k] for k in exp}, exp):
                return False
        return True

    def release(self, p) -> None:
        for df in p["held"]:
            df.unpersist()
        p["idx"].unpersist()
        shutil.rmtree(p["ivf_path"], ignore_errors=True)
        self.detail.setdefault("bm25_ms_per_query", []).append(
            p["search_s"] * 1000.0 / len(self.queries))

    def traced_ops(self) -> list[int]:
        return [1, 2]

    def probe(self) -> tuple[dict, bool]:
        """tokenize alone, into a noop sink; then minhash + LSH, gated on
        every planted duplicate pair being a candidate."""
        from fusion_spark.extras import dedup
        from fusion_spark.tokenize import tokenize

        docs = self.spark.createDataFrame(self.docs_pdf)
        with self.T.span("tokenize.tokenize"):
            _noop(tokenize(docs, text_col="text"))
        with self.T.span("extras.dedup.minhash_signatures"):
            sigs = dedup.minhash_signatures(docs, n=3, num_hashes=8).persist()
            _noop(sigs)
        with self.T.span("extras.dedup.lsh_candidate_pairs"):
            pairs = {(r["doc_a"], r["doc_b"])
                     for r in dedup.lsh_candidate_pairs(sigs, band_size=2).collect()}
        sigs.unpersist()
        self.detail["candidate_pairs"] = len(pairs)
        return {
            "extras.dedup.lsh_candidate_pairs.candidate_pairs": len(pairs),
            "extras.similarity.ivf_cosine_topk_store.ivf_recall_at_10":
                self.detail["ivf_recall_at_10"]["ivf"],
        }, set(self.planted) <= pairs


WORKLOADS = {w.name: w for w in (WandServe, OfflineEval)}
