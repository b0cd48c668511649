"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship BM25 top-k on sf0.001.
`queries()` exposes every implemented operator from SURVEY.md §2 (plus the
training-data-pipeline extras) as (spark, sf_dir) → DataFrame callables.
`oracle_sql()` gives the DuckDB-equivalent ANSI SQL for each entry — including
the hash-universe ops (simhash, winnowing fingerprint via hex-nibble bit
extraction), the LSH paths (deterministic md5 hyperplanes inlined as SQL
literals), NCE (the 11 fixed Φ⁻¹ outputs as a VALUES lookup), IVF (seed
centroids = lowest-vec_id embedding rows, byte-identical in both engines),
and the multimodal family (sha256 stub rows plus REAL netpbm/WAV decoder
rows against a hand-derived VALUES table) — every queries() entry has an
oracle.

Column-name/round contract: every computed column is aliased identically on
both sides and doubles are rounded (6 dp) so the driver's value-hash compare
is stable across engines' float summation orders.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # fusion_spark importable from any CWD

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fusion_spark.indexing import build_index
from fusion_spark.scoring import extract_negatives, search
from fusion_spark import fusion as fz
from fusion_spark.metrics import metrics_per_query
from fusion_spark.extras import dedup, similarity, textstats
from fusion_spark.tokenize import DEFAULT_STOPWORDS

# ---------------------------------------------------------------------------
# Fixed evaluation query set (deterministic; exercises duplicate tokens, OOV,
# multi-term queries) — mirrored as a VALUES list in every oracle query.
# ---------------------------------------------------------------------------
QUERY_SET = [
    (1, "spark join agg agg"),
    (2, "window order sort stream"),
    (3, "hash part part value"),
    (4, "zzz_nomatch query"),
    (5, "scan table column data row"),
]
_QS_VALUES = ", ".join(f"({qid}, '{q}')" for qid, q in QUERY_SET)

_INDEX_CACHE: dict[tuple, object] = {}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus spread for CPU-heavy map stages (tokenize/shingle/minhash):
    a single-file parquet read is ONE input partition, so without this the
    per-doc expression/UDF work runs serially on one core regardless of
    core count (r4 found it for doc_sketches at 25 min; the r6 event-log
    hunt found the same shape in the dedup family — measured wins there:
    minhash 1.63→0.74 s, dup_clusters 4.87→3.37 s at sf0.1). NOT applied
    to the index build / Arrow tokenize queries: measured A/B showed the
    full-text exchange costs more than the parallelism buys on those
    (whitespace tokenize is cheap per row; shingling+minhashing is not).
    Row-local downstream → values identical at any partitioning; at real
    scale inputs are many-file and this exchange is a proportional no-op."""
    return _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism * 2, "doc_id"
    )


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(QUERY_SET, "qid long, question string")


def _session_key(spark: SparkSession) -> tuple:
    # cached DataFrames die with their SparkSession; id(spark) can be REUSED
    # by CPython after a stopped session is collected, so key by the
    # context's applicationId + startTime (unique per live context)
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def _index(spark: SparkSession, sf_dir: str, variant: str):
    key = (_session_key(spark), sf_dir, variant)
    if key not in _INDEX_CACHE:
        idx = build_index(_docs(spark, sf_dir), doc_id_col="doc_id", text_col="text", variant=variant)
        idx.persist()
        _INDEX_CACHE[key] = idx
    return _INDEX_CACHE[key]


def _ranked(spark, sf_dir, variant="bm25", k=10, k1=2.5, b=0.2, zero_tail=False) -> DataFrame:
    """Driver-facing ranked lists: scores are rounded to 6 dp BEFORE ranking
    so tie resolution is identical across engines (Spark vs the DuckDB
    oracle sum partials in different orders — one-ulp differences must not
    flip a rank). The engine's own `search` ranks raw scores."""
    from fusion_spark.scoring import score as _score, top_k as _top_k

    idx = _index(spark, sf_dir, variant)
    scored = _score(idx, _queries_df(spark), k1=k1, b=b, zero_tail=zero_tail)
    scored = scored.withColumn("score", F.round("score", 6))
    return _top_k(scored, k, "qid").select("qid", "doc_id", "score", "rank")


def _rounded(df: DataFrame, col: str = "score", nd: int = 6) -> DataFrame:
    df = df.withColumn(col, F.round(F.col(col), nd))
    # row_number() is int32 in Spark but int64 in DuckDB — widen rank-like
    # columns so a type-strict schema compare can't trip on integer width
    for c in ("rank", "neg_rank"):
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast("long"))
    return df


def _qrels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo ground truth: doc relevant to qid iff
    doc_id % 37 == (qid*5) % 37 — identical formula in the oracle SQL."""
    docs = _docs(spark, sf_dir).select("doc_id")
    qids = _queries_df(spark).select("qid")
    return qids.crossJoin(docs).filter(
        F.pmod(F.col("doc_id"), F.lit(37)) == F.pmod(F.col("qid") * 5, F.lit(37))
    )


# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments
# ---------------------------------------------------------------------------
_SQL_TOKS = r"""
toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS tokens
  FROM documents
),
tokd AS (SELECT doc_id, tokens, len(tokens) AS dl FROM toks),
corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM tokd),
post AS (
  SELECT term, doc_id, any_value(dl) AS dl, count(*) AS tf
  FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM tokd)
  GROUP BY term, doc_id
),
ts AS (SELECT term, count(*) AS df FROM post GROUP BY term)
"""

_IDF = {
    "bm25": "log10((corpus.n - ts.df + 0.5) / (ts.df + 0.5))",
    "tfidf": "log10((corpus.n + 1) / (ts.df + 1.0))",
    "atire": "log10((corpus.n + 1) / (ts.df + 1.0))",
}


def _sql_scored(variant: str, k1: float, b: float) -> str:
    idf = _IDF[variant]
    if variant == "tfidf":
        partial = "post.tf"
    else:
        partial = (
            f"(post.tf * ({k1} + 1)) / "
            f"(post.tf + {k1} * (1 - {b} + {b} * post.dl / corpus.avgdl))"
        )
    return f"""
idf AS (SELECT ts.term, {idf} AS idf FROM ts, corpus),
q(qid, question) AS (VALUES {_QS_VALUES}),
qt AS (
  SELECT qid, term, count(*) AS qtf
  FROM (SELECT qid, unnest(list_filter(string_split_regex(trim(lower(question)), '\\s+'), x -> x <> '')) AS term FROM q)
  GROUP BY qid, term
),
scored AS (
  SELECT qt.qid AS qid, post.doc_id AS doc_id, sum(qt.qtf * idf.idf * {partial}) AS score
  FROM qt JOIN idf ON qt.term = idf.term JOIN post ON qt.term = post.term, corpus
  GROUP BY qt.qid, post.doc_id
)
"""


def _sql_topk(src: str, k: int) -> str:
    # rank over the ROUNDED score — matches the driver-facing Spark layer
    return f"""
SELECT qid, doc_id, score, rank FROM (
  SELECT qid, doc_id, round(score, 6) AS score,
         row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM {src}
) WHERE rank <= {k}
"""


def _sql_search(variant: str, k: int, k1: float, b: float, zero_tail: bool = False) -> str:
    zt = """,
fulltab AS (
  SELECT q2.qid AS qid, d.doc_id AS doc_id, coalesce(s.score, 0.0) AS score
  FROM (SELECT DISTINCT qid FROM q) q2
  CROSS JOIN (SELECT doc_id FROM documents) d
  LEFT JOIN scored s ON s.qid = q2.qid AND s.doc_id = d.doc_id
)"""
    src = "fulltab" if zero_tail else "scored"
    return f"WITH {_SQL_TOKS}, {_sql_scored(variant, k1, b)} {zt if zero_tail else ''} {_sql_topk(src, k)}"


_SQL_QRELS = """
qrels AS (
  SELECT q2.qid AS qid, d.doc_id AS doc_id
  FROM (SELECT DISTINCT qid FROM q) q2 JOIN documents d
    ON d.doc_id % 37 = (q2.qid * 5) % 37
)
"""

def _near_dups_sql(min_cosine: float = 0.4, n_bands: int = 8, band_planes: int = 4, dim: int = 64) -> str:
    """DuckDB mirror of similarity.cosine_near_dups(method='lsh'): the same
    deterministic md5 hyperplanes are inlined as literal arrays, banding and
    exact-cosine verification reproduced in ANSI SQL — the oracle checks the
    full declared (LSH-candidate ∩ threshold) semantics, like lsh_candidates
    does for MinHash banding."""
    from fusion_spark.extras.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_bands * band_planes)

    def key(b: int) -> str:
        parts = []
        for j in range(band_planes):
            lit = "[" + ", ".join(repr(v) for v in planes[b * band_planes + j]) + "]"
            parts.append(
                f"CASE WHEN list_dot_product(embedding::DOUBLE[], {lit}) >= 0 THEN {1 << j} ELSE 0 END"
            )
        return " + ".join(parts)

    keys = ",\n    ".join(f"({key(b)})" for b in range(n_bands))
    return f"""
WITH keys AS (SELECT vec_id, embedding, [{keys}] AS ks FROM embeddings),
banded AS (
  SELECT vec_id, band, ks[band + 1] AS band_key
  FROM keys CROSS JOIN (SELECT unnest(range(0, {n_bands})) AS band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b,
       round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 5) AS cosine
FROM cand
JOIN embeddings ea ON ea.vec_id = cand.vec_a
JOIN embeddings eb ON eb.vec_id = cand.vec_b
WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) >= {min_cosine}
"""


def _lsh_topk_sql(k: int = 5, n_planes: int = 8, dim: int = 64, n_queries: int = 3) -> str:
    """DuckDB mirror of similarity.lsh_cosine_topk: identical deterministic
    md5 hyperplanes inlined as literals; same-signature bucket join + exact
    cosine + (cosine DESC, vec_id ASC) top-k."""
    from fusion_spark.extras.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)
    sig = " + ".join(
        f"CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in plane)}]) >= 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    return f"""
WITH sigs AS (SELECT vec_id, embedding, ({sig}) AS sig FROM embeddings),
q AS (SELECT vec_id AS qid, embedding AS qvec, sig FROM sigs WHERE vec_id < {n_queries}),
scored AS (
  SELECT q.qid AS qid, s.vec_id AS vec_id,
         list_cosine_similarity(q.qvec::DOUBLE[], s.embedding::DOUBLE[]) AS cosine
  FROM q JOIN sigs s ON q.sig = s.sig
)
SELECT qid, vec_id, round(cosine, 5) AS cosine, rank FROM (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _lsh_mp_topk_sql(
    k: int = 5, n_planes: int = 8, dim: int = 64, n_queries: int = 3,
    n_probe: int = 3,
) -> str:
    """DuckDB mirror of multi-probe LSH (similarity._lsh_probe_sigs_udf →
    lsh_cosine_topk(n_probe>1)): per-query hyperplane margins, exact
    enumeration of all 2^n_planes flip masks, probe set = the n_probe
    cheapest masks (total |margin| of flipped planes ASC, mask ASC — the
    numpy stable-argsort tie rule), probed buckets joined on signature,
    exact cosine + (cosine DESC, vec_id ASC) top-k.

    Cost-parity contract (r9 ADVICE): the CASE chain below sums plane terms
    left-to-right in ascending plane order, and the Spark UDF accumulates
    its costs the same way (sequential per-plane adds, not one BLAS matmul
    — similarity._lsh_probe_sigs_udf), so a near-tie in flip cost at the
    n_probe boundary resolves identically on both sides. Residual float
    assumption: the margins themselves (one dot product per plane) must
    agree to the last ulp between numpy and list_dot_product."""
    from fusion_spark.extras.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)
    sig = " + ".join(
        f"CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in plane)}]) >= 0 THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    m_exprs = ",\n       ".join(
        f"list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in plane)}]) AS m{i}"
        for i, plane in enumerate(planes)
    )
    base = " + ".join(
        f"CASE WHEN m{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(n_planes)
    )
    cost = " + ".join(
        f"CASE WHEN (mask >> {i}) & 1 = 1 THEN abs(m{i}) ELSE 0.0 END"
        for i in range(n_planes)
    )
    return f"""
WITH sigs AS (SELECT vec_id, embedding, ({sig}) AS sig FROM embeddings),
qm AS (
  SELECT vec_id AS qid, embedding AS qvec,
       {m_exprs}
  FROM embeddings WHERE vec_id < {n_queries}
),
qb AS (SELECT *, ({base}) AS bsig FROM qm),
masks AS (SELECT unnest(range(0, {1 << n_planes})) AS mask),
ranked_probes AS (
  SELECT qid, qvec, xor(bsig::BIGINT, mask::BIGINT) AS sig,
         row_number() OVER (PARTITION BY qid ORDER BY ({cost}) ASC, mask ASC) AS rn
  FROM qb CROSS JOIN masks
),
probes AS (SELECT qid, qvec, sig FROM ranked_probes WHERE rn <= {n_probe}),
scored AS (
  SELECT p.qid AS qid, s.vec_id AS vec_id,
         list_cosine_similarity(p.qvec::DOUBLE[], s.embedding::DOUBLE[]) AS cosine
  FROM probes p JOIN sigs s ON p.sig = s.sig
)
SELECT qid, vec_id, round(cosine, 5) AS cosine, rank FROM (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _ivf_topk_sql(k: int = 5, n_centroids: int = 8, n_probe: int = 3, n_queries: int = 3) -> str:
    """DuckDB mirror of similarity.ivf_cosine_topk(lloyd_iters=0): seed
    centroids = the n_centroids lowest-vec_id embeddings (byte-identical rows
    in both engines — no float training state); assignment = argmax cosine
    with numpy's first-max tie rule (cosine DESC, centroid ASC, rn=1);
    probing = stable argsort top-n_probe (cosine DESC, centroid ASC,
    rn ≤ n_probe); then exact cosine + (cosine DESC, vec_id ASC) top-k over
    the probed inverted lists only."""
    return f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid, embedding AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_centroids})
),
assigned AS (
  SELECT vec_id, centroid FROM (
    SELECT e.vec_id AS vec_id, c.centroid AS centroid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                      c.centroid ASC) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < {n_queries}),
probes AS (
  SELECT qid, centroid FROM (
    SELECT q.qid AS qid, c.centroid AS centroid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY list_cosine_similarity(q.qvec::DOUBLE[], c.cvec::DOUBLE[]) DESC,
                      c.centroid ASC) AS rn
    FROM q CROSS JOIN cents c
  ) WHERE rn <= {n_probe}
),
scored AS (
  SELECT q.qid AS qid, a.vec_id AS vec_id,
         list_cosine_similarity(q.qvec::DOUBLE[], e.embedding::DOUBLE[]) AS cosine
  FROM q JOIN probes p ON p.qid = q.qid
  JOIN assigned a ON a.centroid = p.centroid
  JOIN embeddings e ON e.vec_id = a.vec_id
)
SELECT qid, vec_id, round(cosine, 5) AS cosine, rank FROM (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _split_sql(weights: dict[str, float], seed: int = 42, buckets: int = 1000) -> str:
    """DuckDB mirror of corpus.stratified_split: identical md5-hex bucket
    (first 8 hex chars → int via per-nibble strpos — DuckDB has no conv()),
    identical sorted-name cumulative floor thresholds."""
    total = sum(weights.values())
    names = sorted(weights)
    bucket_expr = " + ".join(
        f"(strpos('0123456789abcdef', substring(h, {i}, 1)) - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    cases, cum = [], 0.0
    for nm in names:
        cum += weights[nm] / total
        cases.append(f"WHEN b < {int(cum * buckets)} THEN '{nm}'")
    return f"""
WITH h8 AS (SELECT doc_id, substring(md5('{seed}:' || doc_id::VARCHAR), 1, 8) AS h FROM documents),
bk AS (SELECT doc_id, (({bucket_expr})::BIGINT) % {buckets} AS b FROM h8)
SELECT doc_id, CASE {" ".join(cases)} ELSE '{names[-1]}' END AS split FROM bk
"""


_SQL_REPETITION = r"""
WITH {toks},
lines AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS ls
  FROM documents
),
ls AS (
  SELECT doc_id, len(ls)::BIGINT AS n_lines,
         round(CASE WHEN len(ls) > 0
                    THEN 1.0 - len(list_distinct(ls))::DOUBLE / len(ls)
                    ELSE 0.0 END, 6) AS dup_line_ratio
  FROM lines
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(tokens) >= 2
                     THEN list_transform(range(1, len(tokens)), i -> tokens[i] || ' ' || tokens[i+1])
                     ELSE [] END) AS bigram
  FROM toks
),
cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
agg AS (SELECT doc_id, sum(c) AS n_bigrams, max(c) AS top_c FROM cnt GROUP BY 1)
SELECT l.doc_id AS doc_id, l.n_lines AS n_lines, l.dup_line_ratio AS dup_line_ratio,
       coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       round(CASE WHEN coalesce(a.n_bigrams, 0) > 0
                  THEN a.top_c::DOUBLE / a.n_bigrams ELSE 0.0 END, 6) AS top_bigram_frac
FROM ls l LEFT JOIN agg a USING (doc_id)
"""


_SQL_TOKEN_BUDGET_SELECT = r"""
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> ''))::BIGINT AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
  FROM t
)
SELECT doc_id, lang, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 2000
"""


def _nce_values(distribution_len: int = 11) -> list[float]:
    """The 11 possible normal-curve-equivalent outputs for the fixed driver
    distribution — computed with the IDENTICAL float64 ops as the engine UDF
    (fusion.make_percentile_udf nce branch): idx/len → /100-quirk → Φ⁻¹ →
    ·21.06 + 50."""
    import numpy as np
    from statistics import NormalDist

    nd = NormalDist()
    p = np.arange(distribution_len) / float(distribution_len)
    vals = np.asarray(
        [nd.inv_cdf(min(max(x / 100, 1e-12), 1 - 1e-12)) for x in p]
    ) * 21.06 + 50
    return vals.tolist()


_SQL_SHINGLES = r"""
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      unnest(list_transform(range(1, greatest(len(tokens) - 2, 0) + 1),
             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
    FROM toks
  )
)
"""


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: BM25 top-10 with the
    reference's tuned LLeQA params (k1=2.5, b=0.2)."""
    return _rounded(_ranked(spark, "/root/testdata/sf0.001", "bm25", k=10, k1=2.5, b=0.2))


# ---------------------------------------------------------------------------
# queries() — one entry per operator
# ---------------------------------------------------------------------------
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def postings_build(spark, sf_dir):
        idx = _index(spark, sf_dir, "bm25")
        return idx.postings.select(
            "term", "doc_id", F.col("tf").cast("long").alias("tf"), F.col("dl").cast("long").alias("dl")
        )

    def term_stats(spark, sf_dir):
        idx = _index(spark, sf_dir, "bm25")
        return idx.termstats.select("term", "df", F.round("idf", 6).alias("idf"))

    def doc_stats(spark, sf_dir):
        idx = _index(spark, sf_dir, "bm25")
        return idx.docstats.select("doc_id", F.col("dl").cast("long").alias("dl"))

    def corpus_stats(spark, sf_dir):
        idx = _index(spark, sf_dir, "bm25")
        return spark.createDataFrame(
            [(idx.n_docs, round(idx.avgdl, 6))], "n_docs long, avgdl double"
        )

    def bm25_topk(spark, sf_dir):
        """Both reference param sets under ONE gate entry — the tuned LLeQA
        pair (k1=2.5, b=0.2, reference bm25.py:215) and the library default
        (k1=1.5, b=0.75) distinguished by a `params` column. Merged (r3
        verdict #1) so every operator family fits the driver's 50-query
        artifact cap."""
        tuned = _rounded(_ranked(spark, sf_dir, "bm25", k=10, k1=2.5, b=0.2))
        dflt = _rounded(_ranked(spark, sf_dir, "bm25", k=10, k1=1.5, b=0.75))
        return (
            tuned.withColumn("params", F.lit("tuned"))
            .unionByName(dflt.withColumn("params", F.lit("default")))
            .select("params", "qid", "doc_id", "score", "rank")
        )

    def bm25_zero_tail(spark, sf_dir):
        return _rounded(_ranked(spark, sf_dir, "bm25", k=15, k1=2.5, b=0.2, zero_tail=True))

    def tfidf_topk(spark, sf_dir):
        return _rounded(_ranked(spark, sf_dir, "tfidf", k=10, k1=0.0, b=0.0))

    def atire_topk(spark, sf_dir):
        return _rounded(_ranked(spark, sf_dir, "atire", k=10, k1=1.5, b=0.75))

    def bm25_topk_wand(spark, sf_dir):
        """The v2 packed-block WAND path under the same oracle as bm25_topk:
        rank-identical by construction, re-ranked over the 6-dp-rounded
        score for the cross-engine tie contract."""
        from fusion_spark.blocks import PackedIndex, wand_search
        from fusion_spark.scoring import top_k as _top_k

        key = (_session_key(spark), sf_dir, "packed")
        if key not in _INDEX_CACHE:
            p = PackedIndex.from_index(_index(spark, sf_dir, "bm25"), segment_size=1 << 12)
            p.blocks.persist()
            _INDEX_CACHE[key] = p
        packed = _INDEX_CACHE[key]
        # k=50 buffer, then re-rank the rounded scores and cut to 10: a
        # rounded tie group could straddle the raw-score cut otherwise
        cand = wand_search(packed, _queries_df(spark), k=50, k1=2.5, b=0.2)
        scored = cand.select("qid", "doc_id", F.round("score", 6).alias("score"))
        return _rounded(_top_k(scored, 10).select("qid", "doc_id", "score", "rank"))

    def negatives_extraction(spark, sf_dir):
        ranked = _ranked(spark, sf_dir, "bm25", k=20, k1=2.5, b=0.2)
        negs = extract_negatives(ranked, _qrels(spark, sf_dir), num_negatives=5)
        return _rounded(negs.select("qid", "doc_id", "score", "neg_rank"))

    def _legs(spark, sf_dir, k=20):
        bm = _ranked(spark, sf_dir, "bm25", k=k, k1=2.5, b=0.2).withColumn("system", F.lit("bm25"))
        tf = _ranked(spark, sf_dir, "tfidf", k=k).withColumn("system", F.lit("tfidf"))
        return bm.unionByName(tf).select("system", "qid", "doc_id", "score", "rank")

    def fusion_rank(spark, sf_dir):
        """F2+F3 under one gate entry (`method` column): RRF-60 and the
        reference's (n-rank+2)/n Borda quirk over the same two legs."""
        out = None
        legs = _legs(spark, sf_dir)  # ONE frame for all branches: identical
        # subtrees canonicalize equal, so ReuseExchange materializes the
        # search legs' shuffles once across the union
        for m in ("rrf", "bcf"):
            leg = _rounded(fz.fuse(legs, method=m, return_topk=10))
            leg = leg.withColumn("method", F.lit(m)).select(
                "method", "qid", "doc_id", "score", "rank"
            )
            out = leg if out is None else out.unionByName(leg)
        return out

    _PCT_DISTR = [i * 3.0 for i in range(11)]  # fixed 11-point distribution

    def fusion_nsf(spark, sf_dir):
        """F4–F8 under one gate entry (`method` column): all five NSF score
        normalizations (min-max ones-branch, z-score ddof=1, arctan,
        percentile-rank float64-argmin, normal-curve-equivalent ÷100-quirk)
        at equal weights over the same two legs. The NCE oracle inlines the
        11 possible Φ⁻¹ outputs as a VALUES lookup — see _nce_values."""
        needs_distr = {"percentile-rank", "normal-curve-equivalent"}
        out = None
        legs = _legs(spark, sf_dir)  # ONE frame for all five branches (see
        # fusion_rank) — per-branch _legs() calls rebuilt both search legs
        # from scratch five times
        for m in ("min-max", "z-score", "arctan", "percentile-rank",
                  "normal-curve-equivalent"):
            kw = (
                {"distributions": {"bm25": _PCT_DISTR, "tfidf": _PCT_DISTR}}
                if m in needs_distr else {}
            )
            leg = _rounded(
                fz.fuse(legs, method="nsf", normalization=m,
                        weights={"bm25": 0.5, "tfidf": 0.5}, return_topk=10, **kw)
            )
            leg = leg.withColumn("method", F.lit(m)).select(
                "method", "qid", "doc_id", "score", "rank"
            )
            out = leg if out is None else out.unionByName(leg)
        return out

    def sha256_invariant(spark, sf_dir):
        return _docs(spark, sf_dir).select(
            "doc_id", F.sha2(F.col("text"), 256).alias("content_sha256")
        )

    def repetition_stats(spark, sf_dir):
        return textstats.repetition_stats(_docs(spark, sf_dir))

    def doc_split(spark, sf_dir):
        from fusion_spark.corpus import stratified_split

        return stratified_split(
            _docs(spark, sf_dir).select("doc_id"),
            {"train": 0.8, "dev": 0.1, "test": 0.1},
        )

    def unigram_logprob(spark, sf_dir):
        return textstats.unigram_logprob(_docs(spark, sf_dir))

    def boilerplate_lines(spark, sf_dir):
        return textstats.remove_boilerplate_lines(_docs(spark, sf_dir), max_line_df=25)

    def contamination(spark, sf_dir):
        from fusion_spark.pipeline import contamination_report

        return contamination_report(_docs(spark, sf_dir), _queries_df(spark), n=3)

    def doc_chunks(spark, sf_dir):
        from fusion_spark.corpus import chunk_documents

        return chunk_documents(_docs(spark, sf_dir), max_tokens=32, overlap=8)

    def token_budget_select(spark, sf_dir):
        from fusion_spark.pipeline import select_by_token_budget

        docs = _docs(spark, sf_dir)
        langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
        return select_by_token_budget(docs, {lang: 2000 for lang in langs})

    def score_distribution(spark, sf_dir):
        legs = _legs(spark, sf_dir).filter("system = 'bm25'")
        dist = fz.score_distribution(legs, n_points=4)
        return dist.select(
            "system", F.posexplode("quantiles").alias("p", "q")
        ).select("system", (F.col("p") / 4.0).alias("p"), F.round("q", 6).alias("q"))

    def ir_metrics(spark, sf_dir):
        preds = _ranked(spark, sf_dir, "bm25", k=20, k1=2.5, b=0.2).select("qid", "doc_id", "rank")
        per_q = metrics_per_query(
            preds, _qrels(spark, sf_dir), recall_k=(5,), map_k=(10,), mrr_k=(10,),
            ndcg_k=(10,), precision_k=(5,),
        )
        return per_q.select(
            "qid",
            F.round("`recall@5`", 6).alias("recall_5"),
            F.round("`precision@5`", 6).alias("precision_5"),
            F.round("`mrr@10`", 6).alias("mrr_10"),
            F.round("`ndcg@10`", 6).alias("ndcg_10"),
            F.round("`map@10`", 6).alias("map_10"),
            F.round("`r-precision`", 6).alias("r_precision"),
        )

    def exact_dedup(spark, sf_dir):
        return dedup.exact_duplicates(_docs(spark, sf_dir))

    def minhash_signatures(spark, sf_dir):
        return dedup.minhash_signatures(_docs_wide(spark, sf_dir), n=3, num_hashes=4).select(
            "doc_id", F.col("seed").cast("long").alias("seed"), "minhash"
        )

    def dup_clusters(spark, sf_dir):
        docs = _docs_wide(spark, sf_dir)
        sigs = dedup.minhash_signatures(docs, n=3, num_hashes=4)
        pairs = dedup.lsh_candidate_pairs(sigs, band_size=2)
        return dedup.duplicate_clusters(pairs, nodes=docs.select("doc_id"))

    def lsh_candidates(spark, sf_dir):
        sigs = dedup.minhash_signatures(_docs_wide(spark, sf_dir), n=3, num_hashes=4)
        return dedup.lsh_candidate_pairs(sigs, band_size=2)

    def jaccard_pairs(spark, sf_dir):
        # the scale pipeline: MinHash-LSH candidates → exact Jaccard verify
        # (no un-banded quadratic shingle self-join in the plan); the oracle
        # mirrors the banding like lsh_candidates does
        docs = _docs_wide(spark, sf_dir)
        sigs = dedup.minhash_signatures(docs, n=3, num_hashes=4)
        cands = dedup.lsh_candidate_pairs(sigs, band_size=2)
        sh = dedup.shingles(docs, n=3)
        return _rounded(dedup.jaccard_pairs(sh, min_jaccard=0.2, candidates=cands), "jaccard")

    def cosine_topk(spark, sf_dir):
        embs = _embs(spark, sf_dir)
        qv = embs.filter("vec_id < 3").select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        out = similarity.cosine_topk(embs, qv, k=5)
        return _rounded(out, "cosine", 5)

    def ivf_lloyd_step(spark, sf_dir):
        """One k-means refinement step over int8-quantized embeddings (the
        r4 stretch: train_ivf_centroids' refined-centroid path under the SQL
        gate). Quantized codes make every sum integer-exact, so the
        per-(centroid, dim) mean is accumulation-order-invariant and the
        oracle reproduces it bit-for-bit."""
        return similarity.ivf_lloyd_step_quantized(_embs(spark, sf_dir), n_centroids=4)

    def token_stats(spark, sf_dir):
        return textstats.token_stats(_docs(spark, sf_dir))

    def corpus_token_budget(spark, sf_dir):
        # training-data budgeting over the (otherwise unused) lang column
        return textstats.token_budget(_docs(spark, sf_dir), group_col="lang")

    def curated_corpus(spark, sf_dir):
        """Capstone pipeline: quality gate -> exact dedup -> LSH near-dup
        removal, one call (fusion_spark.pipeline.curate_corpus)."""
        from fusion_spark.pipeline import curate_corpus

        return curate_corpus(_docs_wide(spark, sf_dir), min_quality=0.05,
                             jaccard_threshold=0.6)

    def dedup_survivors(spark, sf_dir):
        # materialized deduplicated corpus (canonical row per content group)
        out = dedup.drop_exact_duplicates(_docs(spark, sf_dir))
        return out.select("doc_id", F.md5("text").alias("text_hash"))

    def quality_score(spark, sf_dir):
        return textstats.quality_score(_docs(spark, sf_dir))

    def lang_id(spark, sf_dir):
        return textstats.lang_id(_docs(spark, sf_dir))

    def set_prf(spark, sf_dir):
        from fusion_spark.metrics import set_precision_recall_f1

        preds = _ranked(spark, sf_dir, "bm25", k=10, k1=2.5, b=0.2)
        out = set_precision_recall_f1(preds.select("qid", "doc_id"), _qrels(spark, sf_dir))
        return out.select(
            "qid",
            F.round("precision", 6).alias("precision"),
            F.round("recall", 6).alias("recall"),
            F.round("f1", 6).alias("f1"),
        )

    def title_concat(spark, sf_dir):
        from fusion_spark.corpus import title_concat as tc

        docs = _docs(spark, sf_dir)
        return tc(docs, text_col="text", title_col="source", out_col="combined").select(
            "doc_id", "combined"
        )

    def embedding_near_dups(spark, sf_dir):
        # default = banded-LSH candidates + exact verify (no cartesian node);
        # the oracle reproduces the identical deterministic banding in SQL.
        # Input spread like _docs_wide: the banding Generate otherwise runs
        # on the single-file scan partition (r6 event-log hunt; ~1 s/run)
        embs = _embs(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism * 2, "vec_id"
        )
        out = similarity.cosine_near_dups(embs, min_cosine=0.4, dim=64)
        return _rounded(out, "cosine", 5)

    def embedding_quantize(spark, sf_dir):
        # int8 storage path for embedding tables; codes exploded to scalars
        q = similarity.quantize_embeddings(_embs(spark, sf_dir))
        return q.select(
            "vec_id", F.round("scale", 9).alias("scale"), F.posexplode("qvec").alias("dim_idx", "qval")
        ).select(
            "vec_id", "scale", F.col("dim_idx").cast("long").alias("dim_idx"),
            F.col("qval").cast("long").alias("qval"),
        )

    def events_windowed(spark, sf_dir):
        from fusion_spark.streaming import windowed_event_counts

        return windowed_event_counts(spark, f"{sf_dir}/events.parquet")

    def event_sessions(spark, sf_dir):
        # batch twin of the applyInPandasWithState sessionizer (stream==batch
        # asserted in test_streaming); 12h gap
        from fusion_spark.streaming import sessionize

        out = sessionize(spark.read.parquet(f"{sf_dir}/events.parquet"))
        return out.withColumn("session_idx", F.col("session_idx").cast("long"))

    def _exploded_tokens(spark, sf_dir, mode):
        # posexplode_OUTER + null-filter: a plain posexplode makes Catalyst
        # infer size(tokens) > 0 and splice the tokenizer UDF call into the
        # pushed-down filter — every doc would run the Arrow tokenizer TWICE
        from fusion_spark.tokenize import tokenize

        toks = tokenize(_docs(spark, sf_dir), text_col="text", mode=mode)
        out = (
            toks.select("doc_id", F.posexplode_outer("tokens").alias("pos", "term"))
            .filter(F.col("term").isNotNull())
        )
        return out.withColumn("pos", F.col("pos").cast("long"))

    def reference_tokenize(spark, sf_dir):
        return _exploded_tokens(spark, sf_dir, "reference")

    def code_tokenize(spark, sf_dir):
        return _exploded_tokens(spark, sf_dir, "code")

    def stem_tokenize(spark, sf_dir):
        # P5 lemma plug-point exercised with the deterministic S-stemmer
        # (documented parity delta vs the reference's spaCy lemmatizer)
        return _exploded_tokens(spark, sf_dir, "reference_stem")

    def bm25_grid_small(spark, sf_dir):
        """T1 flagship workflow (reference bm25.py:215-246) driver-gated on a
        2×2 (k1, b) grid — via the FUSED one-plan implementation (combos as
        broadcast literal columns over per-pair term arrays; bit-identical
        to the per-combo loop, asserted in test_tuning). score_round=6 = the
        cross-engine tie contract."""
        from fusion_spark.tuning import bm25_grid_fused

        idx = _index(spark, sf_dir, "bm25")
        grid = bm25_grid_fused(
            idx, _queries_df(spark), _qrels(spark, sf_dir),
            k1_values=[1.5, 2.5], b_values=[0.2, 0.75],
            top_k=20, recall_k=(10,), score_round=6,
        )
        return grid.select(
            F.round("k1", 2).alias("k1"),
            F.round("b", 2).alias("b"),
            F.round("recall_10", 6).alias("recall_10"),
        )

    def nsf_weight_grid_small(spark, sf_dir):
        """F13 (reference hybrid.py:404-426) driver-gated: step-0.5 weight
        simplex over (bm25, tfidf) legs, min-max NSF, recall@10 per combo —
        via the FUSED one-plan implementation (loop-equality asserted in
        test_tuning)."""
        from fusion_spark.tuning import nsf_weight_grid_fused

        grid = nsf_weight_grid_fused(
            _legs(spark, sf_dir), _qrels(spark, sf_dir),
            normalization="min-max", step=0.5, return_topk=20, recall_k=(10,),
        )
        return grid.select(
            F.round("weight_bm25", 2).alias("weight_bm25"),
            F.round("weight_tfidf", 2).alias("weight_tfidf"),
            F.round("recall_10", 6).alias("recall_10"),
        )

    def index_lineage(spark, sf_dir):
        """North-rule artifact: per-bucket checkpoint lineage of the
        resumable build (wall_sec excluded — nondeterministic)."""
        import tempfile

        from fusion_spark.indexing import build_index_resumable
        from fusion_spark.shards import lineage

        d = tempfile.mkdtemp(prefix="lineage_")
        build_index_resumable(spark, _docs(spark, sf_dir), d, n_buckets=8)
        return lineage(spark, d).select(
            F.col("shard").alias("bucket"), "status", "n_docs", "n_postings",
            "variant", "mode",
        )

    def doc_sketches(spark, sf_dir):
        """SimHash + winnowing fingerprint under one gate entry, as
        (doc_id, sketch, value string) rows — the simhash long is rendered
        decimal, the winnowing 60-bit hex hashes exploded to scalars (the
        driver canonicalizer factorizes column values and cannot hash list
        cells).

        The input is repartitioned first: both sketches are MAP-ONLY over
        a single-file parquet (one input partition), so without the split
        the per-token md5/conv expression work runs serially on one core —
        measured 25 min at sf0.1 vs minutes when spread."""
        docs = _docs(spark, sf_dir).repartition(
            spark.sparkContext.defaultParallelism * 2
        )
        sim = dedup.simhash(docs).select(
            "doc_id", F.lit("simhash").alias("sketch"),
            F.col("simhash").cast("string").alias("value"),
        )
        # explode_OUTER + post-filter, not explode: a plain explode makes
        # Catalyst infer `size(fingerprints) > 0` and push it below the
        # repartition with the whole winnowing expression spliced in —
        # re-evaluated interpreted (higher-order lambdas never codegen) per
        # window position on the single scan partition: measured 25 min at
        # sf0.1. Inferring filters through an OUTER generate is unsound, so
        # Catalyst leaves it alone; the null-row filter stays above the
        # Generate. Row set identical (no doc has an empty fingerprint set
        # dropped — nulls are filtered).
        fp = (
            textstats.fingerprint(docs)
            .select(
                "doc_id", F.lit("winnow").alias("sketch"),
                F.explode_outer("fingerprints").alias("value"),
            )
            .filter(F.col("value").isNotNull())
        )
        return sim.unionByName(fp)

    def ann_topk(spark, sf_dir):
        """Both ANN scale paths under one gate entry (`method` column):
        hyperplane-LSH bucketed cosine top-k and IVF probed top-k. IVF is
        gated with lloyd_iters=0: seed centroids are the 8 lowest-vec_id
        embeddings — byte-identical rows in both engines, so assignment and
        probing are exactly SQL-expressible (Lloyd-refined centroids'
        distributed float-mean accumulation order stays pytest-covered:
        recall vs brute force)."""
        embs = _embs(spark, sf_dir)
        qv = embs.filter("vec_id < 3").select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        lsh = _rounded(similarity.lsh_cosine_topk(embs, qv, k=5, dim=64), "cosine", 5)
        # multi-probe (r8): n_probe=3 exercises the margin-ranked mask
        # enumeration (numpy stable argsort == SQL cost ASC, mask ASC)
        lsh_mp = _rounded(
            similarity.lsh_cosine_topk(embs, qv, k=5, dim=64, n_probe=3), "cosine", 5
        )
        ivf = _rounded(
            similarity.ivf_cosine_topk(
                embs, qv, k=5, n_centroids=8, n_probe=3, lloyd_iters=0
            ),
            "cosine",
            5,
        )
        return (
            lsh.withColumn("method", F.lit("lsh"))
            .unionByName(lsh_mp.withColumn("method", F.lit("lsh_mp")))
            .unionByName(ivf.withColumn("method", F.lit("ivf")))
            .select("method", "qid", "vec_id", "cosine", "rank")
        )

    def multimodal_features(spark, sf_dir):
        """Family query, `path` discriminator: `stub` = the sha256 fake
        feature over md5 payloads of every document (cross-engine hash
        check of the mapInPandas plumbing); `real` = six hand-built
        netpbm/WAV payloads through `decode_stub=False`, so the REAL
        decoders (netpbm P5/P6 incl. 16-bit rasters, RIFF/WAVE PCM
        8/16/32-bit) are exercised end-to-end under the gate. The real
        oracle is a hand-derived VALUES table: payloads are chosen so every
        pixel/sample stat is an exact binary fraction or a single sqrt, and
        the float32 truncation of FEATURE_SCHEMA's FloatType is replicated
        in SQL via a `::REAL` round-trip."""
        import struct

        from fusion_spark.extras import multimodal

        media = _docs(spark, sf_dir).select(
            F.col("doc_id").alias("media_id"),
            F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                         (F.pmod("doc_id", F.lit(3)) + 1).cast("int")).alias("kind"),
            F.md5("text").alias("payload"),
            F.lit(64).cast("long").alias("meta_width"),
            F.lit(64).cast("long").alias("meta_height"),
            (F.pmod("doc_id", F.lit(5)) * 1000).cast("long").alias("meta_duration_ms"),
        )

        def shape(feats, path):
            return feats.select(
                F.lit(path).alias("path"), "media_id", "kind", "n_bytes",
                F.posexplode("feature").alias("dim_idx", "value"),
            ).select(
                "path", "media_id", "kind", "n_bytes",
                F.col("dim_idx").cast("long").alias("dim_idx"),
                # stub: byte/256 is exact in float32 AND float64; real: the
                # oracle replicates the float32 step with a ::REAL cast
                F.col("value").cast("double").alias("value"),
            )

        # deterministic payloads with hand-computable stats (normalized
        # pixel/sample sets {0, ±0.5, ±1} → exact means/stds; the two
        # non-dyadic stats are single sqrts the oracle writes symbolically)
        pgm = b"P5\n2 2\n255\n" + bytes([0, 255, 255, 0])
        ppm = b"P6\n1 2\n255\n" + bytes([255, 0, 255, 0, 255, 0])
        pgm16 = b"P5\n1 1\n512\n" + struct.pack(">H", 256)

        def wav(n_ch, rate, bits, pcm):
            block = n_ch * bits // 8
            return (b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
                    + b"fmt " + struct.pack("<I", 16)
                    + struct.pack("<HHIIHH", 1, n_ch, rate, rate * block, block, bits)
                    + b"data" + struct.pack("<I", len(pcm)) + pcm)

        wav16 = wav(1, 8000, 16, struct.pack("<4h", 16384, -16384, 16384, -16384))
        wav8 = wav(2, 44100, 8, bytes([128, 128, 192, 64]))
        wav32 = wav(1, 1000, 32, struct.pack("<2i", 1073741824, -2147483648))
        real_media = spark.createDataFrame(
            [(9000001, "image", pgm.hex(), 2, 2, 0),
             (9000002, "image", ppm.hex(), 1, 2, 0),
             (9000003, "image", pgm16.hex(), 1, 1, 0),
             (9000004, "audio", wav16.hex(), 0, 0, 1),
             (9000005, "audio", wav8.hex(), 0, 0, 1),
             (9000006, "audio", wav32.hex(), 0, 0, 2)],
            "media_id long, kind string, payload string, meta_width long, "
            "meta_height long, meta_duration_ms long",
        )
        return shape(multimodal.extract_features(media, dim=8), "stub").unionByName(
            shape(multimodal.extract_features(real_media, dim=8, decode_stub=False),
                  "real")
        )

    # ≤ 50 entries — the driver's correctness-gate artifact caps at 50
    # queries (r3 verdict #1: 57 registered entries silently dropped the
    # last 7 from CORRECTNESS_r03.json). Families merged under `params`/
    # `method`/`sketch` discriminator columns; _GATE_CAP asserted below.
    return {
        "postings_build": postings_build,
        "term_stats": term_stats,
        "doc_stats": doc_stats,
        "corpus_stats": corpus_stats,
        "bm25_topk": bm25_topk,
        "bm25_zero_tail": bm25_zero_tail,
        "tfidf_topk": tfidf_topk,
        "atire_topk": atire_topk,
        "bm25_topk_wand": bm25_topk_wand,
        "negatives_extraction": negatives_extraction,
        "fusion_rank": fusion_rank,
        "fusion_nsf": fusion_nsf,
        "sha256_invariant": sha256_invariant,
        "repetition_stats": repetition_stats,
        "doc_split": doc_split,
        "doc_chunks": doc_chunks,
        "unigram_logprob": unigram_logprob,
        "contamination": contamination,
        "boilerplate_lines": boilerplate_lines,
        "token_budget_select": token_budget_select,
        "score_distribution": score_distribution,
        "ir_metrics": ir_metrics,
        "exact_dedup": exact_dedup,
        "minhash_signatures": minhash_signatures,
        "lsh_candidates": lsh_candidates,
        "dup_clusters": dup_clusters,
        "jaccard_pairs": jaccard_pairs,
        "cosine_topk": cosine_topk,
        "token_stats": token_stats,
        "corpus_token_budget": corpus_token_budget,
        "curated_corpus": curated_corpus,
        "dedup_survivors": dedup_survivors,
        "quality_score": quality_score,
        "lang_id": lang_id,
        "set_prf": set_prf,
        "title_concat": title_concat,
        "embedding_near_dups": embedding_near_dups,
        "embedding_quantize": embedding_quantize,
        "events_windowed": events_windowed,
        "event_sessions": event_sessions,
        "reference_tokenize": reference_tokenize,
        "code_tokenize": code_tokenize,
        "stem_tokenize": stem_tokenize,
        "bm25_grid_small": bm25_grid_small,
        "nsf_weight_grid_small": nsf_weight_grid_small,
        "index_lineage": index_lineage,
        "doc_sketches": doc_sketches,
        "ann_topk": ann_topk,
        "multimodal_features": multimodal_features,
        "ivf_lloyd_step": ivf_lloyd_step,
    }


# Driver correctness-gate artifact cap: every registered query must have a
# row in CORRECTNESS_r{N}.json, so the registry must never outgrow this.
_GATE_CAP = 50


# ---------------------------------------------------------------------------
# oracle_sql()
# ---------------------------------------------------------------------------
def oracle_sql() -> dict[str, str]:
    legs_sql = f"""
WITH {_SQL_TOKS}, {_sql_scored("bm25", 2.5, 0.2)},
bm_ranked AS (
  SELECT 'bm25' AS system, qid, doc_id, round(score, 6) AS score,
         row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM scored
),
idf2 AS (SELECT ts.term, {_IDF["tfidf"]} AS idf FROM ts, corpus),
scored2 AS (
  SELECT qt.qid AS qid, post.doc_id AS doc_id, sum(qt.qtf * idf2.idf * post.tf) AS score
  FROM qt JOIN idf2 ON qt.term = idf2.term JOIN post ON qt.term = post.term
  GROUP BY qt.qid, post.doc_id
),
tf_ranked AS (
  SELECT 'tfidf' AS system, qid, doc_id, round(score, 6) AS score,
         row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM scored2
),
legs AS (
  SELECT * FROM bm_ranked WHERE rank <= 20
  UNION ALL
  SELECT * FROM tf_ranked WHERE rank <= 20
)
"""

    def _recall_block(i: str, ranked_cte: str, k: int = 10) -> str:
        """Per-qid recall@k of ranked list `ranked_cte` vs qrels, averaged in
        the final SELECT (queries with zero hits contribute 0 via the left
        join — the reference's unweighted mean over all gt queries)."""
        return f"""
rec{i} AS (
  SELECT g.qid AS qid, g.n_gt AS n_gt,
         coalesce(sum(CASE WHEN h.rank <= {k} THEN 1 END), 0) * 1.0 / g.n_gt AS rec
  FROM gtsize g LEFT JOIN (
    SELECT r.qid AS qid, r.rank AS rank
    FROM {ranked_cte} r JOIN qrels ON r.qid = qrels.qid AND r.doc_id = qrels.doc_id
  ) h ON g.qid = h.qid
  GROUP BY g.qid, g.n_gt
)"""

    def _bm25_grid_sql(combos: list[tuple[float, float]]) -> str:
        qt = r"""qt AS (
  SELECT qid, term, count(*) AS qtf
  FROM (SELECT qid, unnest(list_filter(string_split_regex(trim(lower(question)), '\s+'), x -> x <> '')) AS term FROM q)
  GROUP BY qid, term
)"""
        blocks, selects = [], []
        for i, (k1, b) in enumerate(combos):
            partial = (
                f"(post.tf * ({k1} + 1)) / "
                f"(post.tf + {k1} * (1 - {b} + {b} * post.dl / corpus.avgdl))"
            )
            blocks.append(f"""
s{i} AS (
  SELECT qt.qid AS qid, post.doc_id AS doc_id, sum(qt.qtf * idf.idf * {partial}) AS score
  FROM qt JOIN idf ON qt.term = idf.term JOIN post ON qt.term = post.term, corpus
  GROUP BY qt.qid, post.doc_id
),
r{i} AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM s{i}
),{_recall_block(str(i), f"r{i}")}""")
            selects.append(
                f"SELECT {k1}::DOUBLE AS k1, {b}::DOUBLE AS b, "
                f"round((SELECT avg(rec) FROM rec{i}), 6) AS recall_10"
            )
        return f"""
WITH {_SQL_TOKS},
idf AS (SELECT ts.term, {_IDF["bm25"]} AS idf FROM ts, corpus),
q(qid, question) AS (VALUES {_QS_VALUES}),
{qt},
{_SQL_QRELS.strip()},
gtsize AS (SELECT qid, count(*) AS n_gt FROM qrels GROUP BY qid),
{", ".join(blocks)}
{" UNION ALL ".join(selects)}
"""

    def fused(transform_sql: str, weighted: bool = False) -> str:
        w = "* 0.5" if weighted else ""
        return f"""{legs_sql},
transformed AS ({transform_sql}),
agg AS (
  SELECT qid, doc_id, sum(tscore {w}) AS score
  FROM transformed GROUP BY qid, doc_id
)
{_sql_topk("agg", 10)}
"""

    sql = {
        "postings_build": f"WITH {_SQL_TOKS} SELECT term, doc_id, tf, dl FROM post",
        "term_stats": f"""WITH {_SQL_TOKS}
SELECT ts.term AS term, ts.df AS df, round({_IDF["bm25"]}, 6) AS idf FROM ts, corpus""",
        "doc_stats": f"WITH {_SQL_TOKS} SELECT doc_id, dl FROM tokd",
        "corpus_stats": f"WITH {_SQL_TOKS} SELECT n AS n_docs, round(avgdl, 6) AS avgdl FROM corpus",
        "bm25_topk": f"""
SELECT 'tuned' AS params, qid, doc_id, score, rank
FROM ({_sql_search("bm25", 10, 2.5, 0.2)})
UNION ALL
SELECT 'default' AS params, qid, doc_id, score, rank
FROM ({_sql_search("bm25", 10, 1.5, 0.75)})
""",
        "bm25_zero_tail": _sql_search("bm25", 15, 2.5, 0.2, zero_tail=True),
        "tfidf_topk": _sql_search("tfidf", 10, 0.0, 0.0),
        "atire_topk": _sql_search("atire", 10, 1.5, 0.75),
        "bm25_topk_wand": _sql_search("bm25", 10, 2.5, 0.2),
        "negatives_extraction": f"""
WITH {_SQL_TOKS}, {_sql_scored("bm25", 2.5, 0.2)},
ranked AS (
  SELECT qid, doc_id, round(score, 6) AS score,
         row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM scored
),
ranked20 AS (SELECT * FROM ranked WHERE rank <= 20),
{_SQL_QRELS.strip().lstrip()}
SELECT qid, doc_id, round(score, 6) AS score, neg_rank FROM (
  SELECT r.qid AS qid, r.doc_id AS doc_id, r.score AS score,
         row_number() OVER (PARTITION BY r.qid ORDER BY r.rank ASC) AS neg_rank
  FROM ranked20 r ANTI JOIN qrels ON r.qid = qrels.qid AND r.doc_id = qrels.doc_id
) WHERE neg_rank <= 5
""",
        "bm25_grid_small": _bm25_grid_sql([(1.5, 0.2), (1.5, 0.75), (2.5, 0.2), (2.5, 0.75)]),
        "nsf_weight_grid_small": f"""{legs_sql},
{_SQL_QRELS.strip()},
gtsize AS (SELECT qid, count(*) AS n_gt FROM qrels GROUP BY qid),
mmt AS (
  SELECT qid, doc_id, system,
         CASE WHEN max(score) OVER w = min(score) OVER w THEN 1.0
              ELSE (score - min(score) OVER w)
                   / (max(score) OVER w - min(score) OVER w) END AS tscore
  FROM legs WINDOW w AS (PARTITION BY system, qid)
),
{", ".join(f'''
a{j} AS (
  SELECT qid, doc_id, sum(tscore * CASE system WHEN 'bm25' THEN {wb} ELSE {wt} END) AS score
  FROM mmt GROUP BY qid, doc_id
),
r{j} AS (
  SELECT qid, doc_id, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS rank
  FROM a{j}
),{_recall_block(str(j), f"r{j}")}''' for j, (wb, wt) in enumerate([(0.0, 1.0), (0.5, 0.5), (1.0, 0.0)]))}
{" UNION ALL ".join(f"SELECT {wb}::DOUBLE AS weight_bm25, {wt}::DOUBLE AS weight_tfidf, round((SELECT avg(rec) FROM rec{j}), 6) AS recall_10" for j, (wb, wt) in enumerate([(0.0, 1.0), (0.5, 0.5), (1.0, 0.0)]))}
""",
        "index_lineage": f"""
WITH {_SQL_TOKS},
db AS (SELECT (doc_id % 8)::INT AS bucket, count(*) AS n_docs FROM documents GROUP BY 1),
pb AS (SELECT (doc_id % 8)::INT AS bucket, count(*) AS n_postings FROM post GROUP BY 1)
SELECT db.bucket AS bucket, 'ok' AS status, db.n_docs AS n_docs,
       coalesce(pb.n_postings, 0) AS n_postings, 'bm25' AS variant, 'simple' AS mode
FROM db LEFT JOIN pb ON db.bucket = pb.bucket
""",
        "fusion_rank": " UNION ALL ".join(
            f"SELECT '{m}' AS method, qid, doc_id, score, rank FROM ({fused(t)})"
            for m, t in [
                ("rrf", "SELECT qid, doc_id, 1.0/(60 + rank) AS tscore FROM legs"),
                (
                    "bcf",
                    """SELECT qid, doc_id,
                          (count(*) OVER (PARTITION BY system, qid) - rank + 2.0)
                          / count(*) OVER (PARTITION BY system, qid) AS tscore
                   FROM legs""",
                ),
            ]
        ),
        "fusion_nsf": " UNION ALL ".join(
            f"SELECT '{m}' AS method, qid, doc_id, score, rank "
            f"FROM ({fused(t, weighted=True)})"
            for m, t in [
                (
                    "min-max",
                    """SELECT qid, doc_id,
                          CASE WHEN max(score) OVER w = min(score) OVER w THEN 1.0
                               ELSE (score - min(score) OVER w)
                                    / (max(score) OVER w - min(score) OVER w) END AS tscore
                   FROM legs WINDOW w AS (PARTITION BY system, qid)""",
                ),
                (
                    "z-score",
                    """SELECT qid, doc_id,
                          CASE WHEN coalesce(stddev_samp(score) OVER w, 0) = 0 THEN 0.0
                               ELSE (score - avg(score) OVER w) / stddev_samp(score) OVER w END AS tscore
                   FROM legs WINDOW w AS (PARTITION BY system, qid)""",
                ),
                ("arctan", "SELECT qid, doc_id, (2/pi()) * atan(0.1 * score) AS tscore FROM legs"),
                (
                    "percentile-rank",
                    """SELECT qid, doc_id, tscore FROM (
                     SELECT qid, doc_id, i / 11.0 AS tscore,
                            row_number() OVER (PARTITION BY system, qid, doc_id
                                               ORDER BY abs(d - score) ASC, i ASC) AS rn
                     FROM legs CROSS JOIN (
                       SELECT i, i * 3.0 AS d FROM (SELECT unnest(range(0, 11)) AS i)
                     )
                   ) WHERE rn = 1""",
                ),
                (
                    "normal-curve-equivalent",
                    f"""SELECT qid, doc_id, n.v AS tscore FROM (
                     SELECT qid, doc_id, i,
                            row_number() OVER (PARTITION BY system, qid, doc_id
                                               ORDER BY abs(d - score) ASC, i ASC) AS rn
                     FROM legs CROSS JOIN (
                       SELECT i, i * 3.0 AS d FROM (SELECT unnest(range(0, 11)) AS i)
                     )
                   ) t JOIN (VALUES {", ".join(f"({i}, {v!r}::DOUBLE)" for i, v in enumerate(_nce_values()))})
                     AS n(i, v) USING (i)
                   WHERE rn = 1""",
                ),
            ]
        ),
        "ann_topk": f"""
SELECT 'lsh' AS method, qid, vec_id, cosine, rank
FROM ({_lsh_topk_sql(k=5, n_planes=8, dim=64, n_queries=3)})
UNION ALL
SELECT 'lsh_mp' AS method, qid, vec_id, cosine, rank
FROM ({_lsh_mp_topk_sql(k=5, n_planes=8, dim=64, n_queries=3, n_probe=3)})
UNION ALL
SELECT 'ivf' AS method, qid, vec_id, cosine, rank
FROM ({_ivf_topk_sql(k=5, n_centroids=8, n_probe=3, n_queries=3)})
""",
        "sha256_invariant": "SELECT doc_id, sha256(text) AS content_sha256 FROM documents",
        "repetition_stats": _SQL_REPETITION.format(toks=_SQL_TOKS),
        "doc_split": _split_sql({"train": 0.8, "dev": 0.1, "test": 0.1}),
        "unigram_logprob": f"""
WITH {_SQL_TOKS},
occ AS (SELECT doc_id, unnest(tokens) AS term FROM toks),
tf AS (SELECT term, count(*) AS c FROM occ GROUP BY term),
tot AS (SELECT sum(c) AS t FROM tf),
scored AS (
  SELECT doc_id, count(*) AS n_tokens, avg(-log10(tf.c / tot.t)) AS alp
  FROM occ JOIN tf USING (term), tot GROUP BY doc_id
)
SELECT toks.doc_id AS doc_id,
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
       round(coalesce(s.alp, 0.0), 6) AS avg_neg_logprob
FROM toks LEFT JOIN scored s ON toks.doc_id = s.doc_id
""",
        "boilerplate_lines": r"""
WITH ls AS (SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS arr FROM documents),
lines AS (SELECT doc_id, unnest(range(1, len(arr) + 1)) AS pos, arr FROM ls),
lx AS (SELECT doc_id, pos, arr[pos] AS line FROM lines),
hot AS (
  SELECT line FROM (
    SELECT DISTINCT line, doc_id FROM lx
    WHERE regexp_replace(line, '\s', '', 'g') <> ''
  )
  GROUP BY line HAVING count(*) > 25
),
kept AS (SELECT doc_id, pos, line FROM lx ANTI JOIN hot USING (line)),
rebuilt AS (
  SELECT doc_id, array_to_string(list(line ORDER BY pos), chr(10)) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
),
totals AS (SELECT doc_id, len(arr) AS n_lines FROM ls)
SELECT t.doc_id AS doc_id, coalesce(r.clean_text, '') AS clean_text,
       t.n_lines::BIGINT AS n_lines,
       (t.n_lines - coalesce(r.n_kept, 0))::BIGINT AS n_removed
FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
""",
        "contamination": f"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES.strip()},
q(qid, question) AS (VALUES {_QS_VALUES}),
qtoks AS (
  SELECT qid, list_filter(string_split_regex(trim(lower(question)), '\\s+'), x -> x <> '') AS tokens
  FROM q
),
qsh AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_transform(range(1, greatest(len(tokens) - 2, 0) + 1),
           i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
    FROM qtoks
  )
)
SELECT doc_id, count(*) AS n_shared
FROM sh JOIN qsh USING (shingle) GROUP BY doc_id
""",
        "doc_chunks": f"""
WITH {_SQL_TOKS},
nch AS (
  SELECT doc_id, tokens, len(tokens) AS n,
         1 + ceil(greatest(len(tokens) - 32, 0) / 24.0)::INT AS m
  FROM toks WHERE len(tokens) > 0
),
ix AS (SELECT doc_id, tokens, n, unnest(range(0, m)) AS i FROM nch)
SELECT doc_id, i::BIGINT AS chunk_idx,
       array_to_string(list_slice(tokens, i * 24 + 1, i * 24 + 32), ' ') AS chunk_text,
       least(32, n - i * 24)::BIGINT AS n_tokens
FROM ix
""",
        "token_budget_select": _SQL_TOKEN_BUDGET_SELECT,
        "embedding_near_dups": _near_dups_sql(min_cosine=0.4, n_bands=8, band_planes=4, dim=64),
        "embedding_quantize": """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS x,
         list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) AS mx
  FROM embeddings
),
e2 AS (SELECT vec_id, x, mx, unnest(range(1, len(x) + 1)) AS i FROM v)
SELECT vec_id,
       round(CASE WHEN mx > 0 THEN mx / 127.0 ELSE 0.0 END, 9) AS scale,
       (i - 1)::BIGINT AS dim_idx,
       CASE WHEN mx > 0 THEN floor(x[i] / (mx / 127.0) + 0.5)::BIGINT ELSE 0::BIGINT END AS qval
FROM e2
""",
        "ivf_lloyd_step": """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS x,
         list_max(list_transform(embedding::DOUBLE[], y -> abs(y))) AS mx
  FROM embeddings
),
q AS (  -- int8 codes as integer-valued doubles (quantize_embeddings rule)
  SELECT vec_id,
         CASE WHEN mx > 0
              THEN list_transform(x, y -> floor(y / (mx / 127.0) + 0.5))
              ELSE list_transform(x, y -> 0.0) END AS qd
  FROM v
),
seeds AS (  -- seeding rule: the 4 lowest vec_ids' quantized vectors
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid, qd AS cvec,
         sqrt(list_dot_product(qd, qd)) AS nc
  FROM (SELECT vec_id, qd FROM q ORDER BY vec_id LIMIT 4)
),
norms AS (SELECT vec_id, sqrt(list_dot_product(qd, qd)) AS nv FROM q),
cosims AS (  -- dot/(nv*nc): single division, fixed operand order, 9dp
  SELECT q.vec_id, s.centroid,
         CASE WHEN n.nv * s.nc = 0 THEN 0.0
              ELSE round(list_dot_product(q.qd, s.cvec) / (n.nv * s.nc), 9)
         END AS cos
  FROM q CROSS JOIN seeds s JOIN norms n USING (vec_id)
),
assigned AS (
  SELECT vec_id, centroid FROM (
    SELECT vec_id, centroid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, centroid ASC) AS rn
    FROM cosims) WHERE rn = 1
),
ex AS (SELECT a.centroid, q.qd, unnest(range(1, len(q.qd) + 1)) AS i
       FROM assigned a JOIN q USING (vec_id))
SELECT centroid::INT AS centroid, (i - 1)::BIGINT AS dim_idx,
       round(avg(qd[i]), 9) AS m
FROM ex GROUP BY 1, 2
""",
        "events_windowed": """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM events GROUP BY 1, 2
""",
        "event_sessions": """
WITH o AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) <= 43200000000 THEN 0 ELSE 1 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM o
)
SELECT user_id, session_idx::BIGINT AS session_idx,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events, round(sum(value), 6) AS sum_value
FROM s GROUP BY user_id, session_idx
""",
        "reference_tokenize": rf"""
WITH ref AS (
  SELECT doc_id,
    list_transform(
      list_filter(string_split_regex(trim(text), '\s+'),
        t -> t <> ''
             AND NOT regexp_matches(t, '^[^\w\s]+$')
             AND NOT regexp_matches(t, '\d')
             AND NOT list_contains([{", ".join(repr(s) for s in sorted(DEFAULT_STOPWORDS))}], lower(t))),
      t -> lower(t)) AS toks
  FROM documents
)
SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS term FROM ref
""",
        "stem_tokenize": rf"""
WITH ref AS (
  SELECT doc_id,
    list_transform(
      list_filter(string_split_regex(trim(text), '\s+'),
        t -> t <> ''
             AND NOT regexp_matches(t, '^[^\w\s]+$')
             AND NOT regexp_matches(t, '\d')
             AND NOT list_contains([{", ".join(repr(s) for s in sorted(DEFAULT_STOPWORDS))}], lower(t))),
      t -> lower(CASE
             WHEN length(t) < 4 THEN t
             WHEN t LIKE '%ies' AND t NOT LIKE '%eies' AND t NOT LIKE '%aies'
               THEN substr(t, 1, length(t) - 3) || 'y'
             WHEN t LIKE '%es' AND t NOT LIKE '%aes' AND t NOT LIKE '%ees' AND t NOT LIKE '%oes'
               THEN substr(t, 1, length(t) - 1)
             WHEN t LIKE '%s' AND t NOT LIKE '%us' AND t NOT LIKE '%ss'
               THEN substr(t, 1, length(t) - 1)
             ELSE t END)) AS toks
  FROM documents
)
SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS term FROM ref
""",
        "code_tokenize": r"""
WITH ct AS (
  SELECT doc_id,
    list_transform(
      list_filter(regexp_extract_all(text, '[A-Za-z_][A-Za-z0-9_]*|[0-9]+(\.[0-9]+)?|[^\sA-Za-z0-9_]'),
        t -> NOT regexp_matches(t, '^[0-9]')),
      t -> lower(t)) AS toks
  FROM documents
)
SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS term FROM ct
""",
        "score_distribution": f"""{legs_sql},
bm_all AS (SELECT system, score FROM legs WHERE system = 'bm25'),
small2 AS (
  -- reference quirk: the 2-smallest-distinct set includes zeros
  SELECT score FROM (SELECT DISTINCT score FROM bm_all ORDER BY score ASC LIMIT 2)
),
kept AS (
  SELECT * FROM bm_all
  WHERE score <> 0.0 AND score NOT IN (SELECT score FROM small2)
)
SELECT system, p, round(q, 6) AS q FROM (
  SELECT system, 0.0 AS p, quantile_cont(score, 0.0) AS q FROM kept GROUP BY system
  UNION ALL SELECT system, 0.25, quantile_cont(score, 0.25) FROM kept GROUP BY system
  UNION ALL SELECT system, 0.5, quantile_cont(score, 0.5) FROM kept GROUP BY system
  UNION ALL SELECT system, 0.75, quantile_cont(score, 0.75) FROM kept GROUP BY system
  UNION ALL SELECT system, 1.0, quantile_cont(score, 1.0) FROM kept GROUP BY system
)
""",
        "ir_metrics": f"""
WITH {_SQL_TOKS}, {_sql_scored("bm25", 2.5, 0.2)},
ranked AS (
  SELECT qid, doc_id, round(score, 6) AS score,
         row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM scored
),
preds AS (SELECT qid, doc_id, rank FROM ranked WHERE rank <= 20),
{_SQL_QRELS.strip()},
gtsize AS (SELECT qid, count(*) AS n_gt FROM qrels GROUP BY qid),
nres AS (SELECT qid, count(*) AS n_res FROM preds GROUP BY qid),
hits AS (
  SELECT p.qid AS qid, p.rank AS rank FROM preds p
  JOIN qrels r ON p.qid = r.qid AND p.doc_id = r.doc_id
),
cum AS (
  SELECT qid, rank, row_number() OVER (PARTITION BY qid ORDER BY rank) AS cum_hits
  FROM hits
),
base AS (
  SELECT g.qid AS qid, g.n_gt AS n_gt,
    coalesce(sum(CASE WHEN h.rank <= 5 THEN 1 END), 0) AS hits5,
    coalesce(1.0 / min(CASE WHEN h.rank <= 10 THEN h.rank END), 0.0) AS mrr10,
    coalesce(sum(CASE WHEN h.rank = 1 THEN 1.0
                      WHEN h.rank <= 10 THEN 1.0/log2(h.rank) END), 0.0) AS dcg10,
    coalesce(sum(CASE WHEN h.rank <= g.n_gt THEN 1 END), 0) AS hits_r
  FROM gtsize g LEFT JOIN hits h ON g.qid = h.qid
  GROUP BY g.qid, g.n_gt
),
ap AS (
  SELECT qid, sum(cum_hits * 1.0 / rank) AS sum_p FROM cum WHERE rank <= 10 GROUP BY qid
)
SELECT b.qid AS qid,
  round(b.hits5 * 1.0 / b.n_gt, 6) AS recall_5,
  round(CASE WHEN coalesce(nr.n_res, 0) > 0
        THEN b.hits5 * 1.0 / least(5, nr.n_res) ELSE 0.0 END, 6) AS precision_5,
  round(b.mrr10, 6) AS mrr_10,
  round(b.dcg10 / (1 + coalesce(list_sum(list_transform(range(2, b.n_gt + 1), j -> 1.0/log2(j))), 0.0)), 6) AS ndcg_10,
  round(coalesce(ap.sum_p, 0.0) / b.n_gt, 6) AS map_10,
  round(b.hits_r * 1.0 / b.n_gt, 6) AS r_precision
FROM base b LEFT JOIN ap ON b.qid = ap.qid LEFT JOIN nres nr ON b.qid = nr.qid
""",
        "exact_dedup": """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS canonical_doc_id
FROM documents GROUP BY md5(text)
""",
        "set_prf": f"""
WITH {_SQL_TOKS}, {_sql_scored("bm25", 2.5, 0.2)},
ranked AS (
  SELECT qid, doc_id,
         row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
  FROM scored
),
preds AS (SELECT DISTINCT qid, doc_id FROM ranked WHERE rank <= 10),
{_SQL_QRELS.strip()},
ng AS (SELECT qid, count(*) AS n_gt FROM qrels GROUP BY qid),
np AS (SELECT qid, count(*) AS n_pred FROM preds GROUP BY qid),
tp AS (
  SELECT p.qid AS qid, count(*) AS tp FROM preds p
  JOIN qrels r ON p.qid = r.qid AND p.doc_id = r.doc_id GROUP BY p.qid
),
m AS (
  SELECT ng.qid AS qid,
         coalesce(tp.tp, 0) * 1.0 / np.n_pred AS precision,
         coalesce(tp.tp, 0) * 1.0 / ng.n_gt AS recall
  FROM ng JOIN np ON ng.qid = np.qid LEFT JOIN tp ON ng.qid = tp.qid
)
SELECT qid, round(precision, 6) AS precision, round(recall, 6) AS recall,
       round(CASE WHEN precision + recall > 0
             THEN 2 * precision * recall / (precision + recall) ELSE 0.0 END, 6) AS f1
FROM m
""",
        "title_concat": """
SELECT doc_id,
       CASE WHEN source IS NOT NULL AND trim(source) <> ''
            THEN source || ' | ' || text ELSE text END AS combined
FROM documents
""",
        "minhash_signatures": f"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES.strip()},
seeded AS (
  SELECT doc_id, seed, md5('s' || seed || ':' || shingle) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS seed)
)
SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY doc_id, seed
""",
        "lsh_candidates": f"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES.strip()},
seeded AS (
  SELECT doc_id, seed, md5('s' || seed || ':' || shingle) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS seed)
),
sigs AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY doc_id, seed),
banded AS (
  SELECT doc_id, (seed // 2) AS band,
         list_aggregate(list_sort(list(minhash)), 'string_agg', '|') AS band_key
  FROM sigs GROUP BY doc_id, (seed // 2)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
""",
        # connected components via transitive label closure (the engine's
        # iterative min-label propagation converges to the same fixpoint)
        "dup_clusters": f"""
WITH RECURSIVE {_SQL_TOKS}, {_SQL_SHINGLES.strip()},
seeded AS (
  SELECT doc_id, seed, md5('s' || seed || ':' || shingle) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS seed)
),
sigs AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY doc_id, seed),
banded AS (
  SELECT doc_id, (seed // 2) AS band,
         list_aggregate(list_sort(list(minhash)), 'string_agg', '|') AS band_key
  FROM sigs GROUP BY doc_id, (seed // 2)
),
prs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM prs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM prs
),
reach(doc_id, lab) AS (
  SELECT doc_id, doc_id AS lab FROM documents
  UNION
  SELECT e.a AS doc_id, r.lab AS lab FROM reach r JOIN edges e ON e.b = r.doc_id
)
SELECT doc_id, min(lab)::BIGINT AS cluster_rep FROM reach GROUP BY doc_id
""",
        "jaccard_pairs": f"""
WITH {_SQL_TOKS}, {_SQL_SHINGLES.strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
seeded AS (
  SELECT doc_id, seed, md5('s' || seed || ':' || shingle) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS seed)
),
sigs AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY doc_id, seed),
banded AS (
  SELECT doc_id, (seed // 2) AS band,
         list_aggregate(list_sort(list(minhash)), 'string_agg', '|') AS band_key
  FROM sigs GROUP BY doc_id, (seed // 2)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a AS doc_a, c.doc_b AS doc_b, count(*) AS n_shared
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, n_shared,
       round(n_shared * 1.0 / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_shared * 1.0 / (sa.n_sh + sb.n_sh - n_shared) >= 0.2
""",
        "cosine_topk": """
WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.qid AS qid, e.vec_id AS vec_id,
         list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS cosine
  FROM q CROSS JOIN embeddings e
)
SELECT qid, vec_id, round(cosine, 5) AS cosine, rank FROM (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
        "token_stats": rf"""
WITH {_SQL_TOKS}
SELECT doc_id,
  len(tokens) AS n_ws_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
  length(text) AS n_chars,
  round(CASE WHEN len(tokens) > 0
        THEN list_sum(list_transform(tokens, t -> length(t) * 1.0)) / len(tokens)
        ELSE 0.0 END, 6) AS avg_token_len
FROM toks JOIN documents USING (doc_id)
""",
        "corpus_token_budget": rf"""
WITH {_SQL_TOKS}
SELECT d.lang AS lang, count(*) AS n_docs,
       sum(len(t.tokens))::BIGINT AS total_ws_tokens,
       sum(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS total_bpe_tokens,
       sum(length(d.text))::BIGINT AS total_chars
FROM documents d JOIN toks t ON d.doc_id = t.doc_id
GROUP BY d.lang
""",
        "dedup_survivors": """
SELECT min(doc_id) AS doc_id, md5(text) AS text_hash
FROM documents GROUP BY md5(text)
""",
        "curated_corpus": rf"""
WITH {_SQL_TOKS},
qual AS (
  SELECT doc_id, round(
    (CASE WHEN len(tokens) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
    * (1.0 - CASE WHEN length(text) > 0
         THEN (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0 / length(text)
         ELSE 0.0 END)
    * (1.0 - CASE WHEN length(text) > 0
         THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
         ELSE 0.0 END)
    * (0.5 + 0.5 * least(5.0 * CASE WHEN len(tokens) > 0
         THEN len(list_filter(tokens, t -> list_contains(['the','a','and','of','to','in','is'], t))) * 1.0 / len(tokens)
         ELSE 0.0 END, 1.0)), 6) AS quality
  FROM toks JOIN documents USING (doc_id)
),
s1 AS (
  SELECT d.doc_id AS doc_id, d.text AS text, qual.quality AS quality
  FROM documents d JOIN qual ON d.doc_id = qual.doc_id
  WHERE qual.quality >= 0.05
),
canon AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
s2 AS (SELECT s1.* FROM s1 JOIN canon ON s1.doc_id = canon.doc_id),
{_SQL_SHINGLES.strip()},
sh2 AS (SELECT sh.doc_id AS doc_id, sh.shingle AS shingle FROM sh JOIN s2 ON sh.doc_id = s2.doc_id),
seeded AS (
  SELECT doc_id, seed, md5('s' || seed || ':' || shingle) AS h
  FROM sh2 CROSS JOIN (SELECT unnest(range(0, 4)) AS seed)
),
sigs AS (SELECT doc_id, seed, min(h) AS minhash FROM seeded GROUP BY doc_id, seed),
banded AS (
  SELECT doc_id, (seed // 2) AS band,
         list_aggregate(list_sort(list(minhash)), 'string_agg', '|') AS band_key
  FROM sigs GROUP BY doc_id, (seed // 2)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh2 GROUP BY doc_id),
inter AS (
  SELECT c.doc_a AS doc_a, c.doc_b AS doc_b, count(*) AS n_shared
  FROM cand c
  JOIN sh2 a ON a.doc_id = c.doc_a
  JOIN sh2 b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
drops AS (
  SELECT DISTINCT i.doc_b AS doc_id
  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE i.n_shared * 1.0 / (sa.n_sh + sb.n_sh - i.n_shared) >= 0.6
)
SELECT s2.doc_id AS doc_id, s2.quality AS quality
FROM s2 ANTI JOIN drops ON s2.doc_id = drops.doc_id
""",
        "quality_score": rf"""
WITH {_SQL_TOKS},
m AS (
  SELECT doc_id,
    len(tokens) AS n_tokens,
    CASE WHEN len(tokens) > 0
         THEN len(list_filter(tokens, t -> list_contains(['the','a','and','of','to','in','is'], t))) * 1.0 / len(tokens)
         ELSE 0.0 END AS stopword_ratio,
    CASE WHEN length(text) > 0
         THEN (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0 / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN length(text) > 0
         THEN (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text)
         ELSE 0.0 END AS digit_ratio,
    CASE WHEN len(tokens) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END AS length_ok
  FROM toks JOIN documents USING (doc_id)
)
SELECT doc_id, n_tokens,
  round(stopword_ratio, 6) AS stopword_ratio,
  round(punct_ratio, 6) AS punct_ratio,
  round(digit_ratio, 6) AS digit_ratio,
  round(length_ok * (1.0 - punct_ratio) * (1.0 - digit_ratio)
        * (0.5 + 0.5 * least(stopword_ratio * 5, 1.0)), 6) AS quality
FROM m
""",
        "doc_sketches": f"""
SELECT doc_id, 'simhash' AS sketch, simhash::VARCHAR AS value FROM (
WITH {_SQL_TOKS},
tokstream AS (SELECT doc_id, unnest(tokens) AS t FROM toks),
bits AS (
  SELECT doc_id, i,
    CASE WHEN ((strpos('0123456789abcdef', substr(md5(t), 15 - (i // 4), 1)) - 1) >> (i % 4)) & 1 = 1
         THEN 1 ELSE -1 END AS s
  FROM tokstream CROSS JOIN (SELECT unnest(range(0, 60)) AS i)
),
acc AS (SELECT doc_id, i, sum(s) AS a FROM bits GROUP BY doc_id, i),
sim AS (
  SELECT doc_id, sum(CASE WHEN a > 0 THEN 1::BIGINT << i ELSE 0::BIGINT END)::BIGINT AS simhash
  FROM acc GROUP BY doc_id
)
SELECT t.doc_id AS doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
FROM toks t LEFT JOIN sim s ON t.doc_id = s.doc_id
)
UNION ALL
SELECT doc_id, 'winnow' AS sketch, fingerprint AS value FROM (
WITH {_SQL_TOKS},
kg AS (
  SELECT doc_id, pos,
         substr(md5(concat_ws(' ', tokens[pos], tokens[pos+1], tokens[pos+2], tokens[pos+3])), 1, 15) AS h
  FROM (SELECT doc_id, tokens, unnest(range(1, greatest(len(tokens) - 3, 0) + 1)) AS pos FROM toks)
),
wm AS (
  SELECT doc_id,
    min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
    count(*) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS c,
    count(*) OVER (PARTITION BY doc_id) AS nh
  FROM kg
)
SELECT DISTINCT doc_id, m AS fingerprint FROM wm WHERE c = least(4, nh)
)
""",
        "multimodal_features": """
WITH media AS (
  SELECT doc_id AS media_id,
         ['image','audio','video'][(doc_id % 3)::INT + 1] AS kind,
         sha256(md5(text)) AS sh
  FROM documents
),
-- real-decoder rows: hand-derived pixel/sample stats for the six payloads
-- the Spark side builds (see multimodal_features docstring). feature =
-- [w,h,channels,maxval,mean,std,min,max] for images,
-- [n_ch,rate,bits,n_samples,mean,rms,min,max] for audio. ::REAL replicates
-- the engine's float32 feature storage before the double compare.
real_rows AS (
  SELECT * FROM (VALUES
    (9000001, 'image', 15, [2.0, 2.0, 1.0, 255.0, 0.5, 0.5, 0.0, 1.0]),
    (9000002, 'image', 17, [1.0, 2.0, 3.0, 255.0, 0.5, 0.5, 0.0, 1.0]),
    (9000003, 'image', 13, [1.0, 1.0, 1.0, 512.0, 0.5, 0.0, 0.5, 0.5]),
    (9000004, 'audio', 52, [1.0, 8000.0, 16.0, 4.0, 0.0, 0.5, -0.5, 0.5]),
    (9000005, 'audio', 48, [2.0, 44100.0, 8.0, 4.0, 0.0, sqrt(0.125), -0.5, 0.5]),
    (9000006, 'audio', 52, [1.0, 1000.0, 32.0, 2.0, -0.25, sqrt(0.625), -1.0, 0.5])
  ) t(media_id, kind, n_bytes, feat)
)
SELECT 'stub' AS path, media_id, kind, 16::BIGINT AS n_bytes, i AS dim_idx,
  (((strpos('0123456789abcdef', substr(sh, 2*i+1, 1)) - 1) * 16
   + (strpos('0123456789abcdef', substr(sh, 2*i+2, 1)) - 1)) / 256.0) AS value
FROM media CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
UNION ALL
SELECT 'real' AS path, media_id::BIGINT AS media_id, kind,
       n_bytes::BIGINT AS n_bytes, i AS dim_idx,
       ((feat[(i + 1)::INT]::REAL)::DOUBLE) AS value
FROM real_rows CROSS JOIN (SELECT unnest(range(0, 8)) AS i)
""",
        "lang_id": f"""
WITH {_SQL_TOKS},
ov AS (
  SELECT doc_id, lang, CASE lang
      WHEN 'dataflow' THEN len(list_intersect(list_distinct(tokens), ['scan','filter','join','agg','group','window']))
      WHEN 'storage' THEN len(list_intersect(list_distinct(tokens), ['table','column','row','part','key','hash']))
      WHEN 'streaming' THEN len(list_intersect(list_distinct(tokens), ['stream','batch','window','data','spark','fast']))
    END AS overlap
  FROM toks CROSS JOIN (SELECT unnest(['dataflow','storage','streaming']) AS lang)
)
SELECT doc_id, lang AS pred_lang, overlap AS best_overlap FROM (
  SELECT doc_id, lang, overlap,
         row_number() OVER (PARTITION BY doc_id ORDER BY overlap DESC, lang ASC) AS r
  FROM ov
) WHERE r = 1
""",
    }
    return sql
