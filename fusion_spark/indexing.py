"""Inverted-index build — postings, term stats, doc stats — as Spark aggregations.

Reference semantics (all in /root/reference/src/retrievers/bm25.py):
  * postings  tf[term][doc]   — nested dict count            (bm25.py:58-65)
  * df        docs containing term (set-per-doc update)      (bm25.py:68-75)
  * idf       TFIDF/Atire: log10((N+1)/(df+1)); BM25:
              log10((N-df+0.5)/(df+0.5)) — log10, may be
              negative, no floor                             (bm25.py:85-87,145-147,171-173)
  * doc_len   whitespace token count per doc                 (bm25.py:141-143)
  * avgdl     exact mean of doc lengths                      (bm25.py:137-138)

Spark design (scale notes):
  * `explode(tokens) → groupBy(term, doc_id).count()` — Catalyst inserts a
    partial (map-side) hash aggregate, so the shuffle carries (term, doc_id,
    tf) pairs, not token occurrences. Hot terms (`def`, `{`, …) are NOT a
    skew problem here because doc_id is part of the grouping key — the
    shuffle key (term, doc_id) is near-uniform even when term is Zipfian.
  * df must be EXACT (scores depend on it): `groupBy(term).count()` over the
    already-distinct (term, doc_id) postings. Again partial aggregation
    means each map task emits one (term, partial_count) row per term —
    the hot-term reduce side receives ≤ #map-partitions rows per term.
    No approx_count_distinct, no salting needed for counts.
  * doc length is denormalized INTO postings (`dl` per row) so query-time
    scoring joins only (query_terms ⋈ postings): one fewer shuffle join
    against a 10^12-row docstats table at scale; storage cost is one int32
    per posting.
  * N and avgdl are two scalars collected once and broadcast as literals.
  * Resumable build: one `pmod(doc_id, n_buckets)` bucket per shard of the
    `fusion_spark.shards` manifest protocol; global stats (df/idf/N/avgdl)
    are derived from the union of bucket postings at finalize time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fusion_spark.shards import build, shard_set
from fusion_spark.tokenize import tokenize

VARIANTS = ("bm25", "tfidf", "atire")


def idf_expr(variant: str, n_docs: int, df_col="df"):
    """IDF per reference variant — log10 in all cases (bm25.py:87,147,173)."""
    df_c = F.col(df_col)
    if variant == "bm25":
        return F.log10((F.lit(float(n_docs)) - df_c + F.lit(0.5)) / (df_c + F.lit(0.5)))
    elif variant in ("tfidf", "atire"):
        return F.log10((F.lit(float(n_docs + 1))) / (df_c + F.lit(1.0)))
    raise ValueError(f"unknown variant {variant}")


@dataclass
class BM25Index:
    """A queryable posting store: DataFrames + two broadcastable scalars."""

    postings: DataFrame  # (term, doc_id, tf, dl)
    termstats: DataFrame  # (term, df, idf)
    docstats: DataFrame  # (doc_id, dl)
    n_docs: int
    avgdl: float
    variant: str = "bm25"

    def persist(self) -> "BM25Index":
        self.postings.persist()
        self.termstats.persist()
        self.docstats.persist()
        return self

    def unpersist(self) -> "BM25Index":
        for df in (self.postings, self.termstats, self.docstats):
            df.unpersist()
        return self


def _postings_from_tokens(toks: DataFrame, doc_id_col: str) -> DataFrame:
    """(doc_id, tokens, dl) → (term, doc_id, tf, dl). Partial-agg friendly.

    explode_outer + null-filter, not explode: a plain explode makes
    Catalyst infer `size(tokens) > 0` and push it below the scan-side
    Project with the tokenize expression spliced in — every doc would be
    tokenized TWICE on the build's map side (the dominant stage of the
    whole index build). Token-less docs are excluded either way (they
    carry no postings; docstats keeps them)."""
    return (
        toks.select(
            F.col(doc_id_col).alias("doc_id"), "dl", F.explode_outer("tokens").alias("term")
        )
        .filter(F.col("term").isNotNull())
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def build_index(
    docs: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    variant: str = "bm25",
) -> BM25Index:
    """One-shot in-memory index build (for tests / small corpora; the
    resumable path below is the production build).

    One tokenize pass instead of two: the previous shape collected
    (N, avgdl) from docstats — a full tokenize of the corpus — and then the
    first consumer of the persisted postings paid ANOTHER full tokenize to
    materialize them. Both scalars are derivable without touching tokens:

      * N and the avg denominator come from the raw docs frame (count +
        non-null text count — column-pruned, the tokenize expression is
        never evaluated);
      * sum(dl) == sum(tf) exactly (every token instance contributes 1 to
        its doc's dl and 1 to exactly one posting's tf — integer sums, no
        rounding), so avgdl rides the one postings materialization pass.

    avg("dl") ignored NULL dl rows; dl is NULL iff text is NULL in `simple`
    mode (split(NULL) → NULL) and never NULL in the other modes (the UDFs
    fillna(""), code_jvm coalesces), so the denominator replicates that.
    float(sum)/denom is the identical IEEE op Spark's Average performs
    (long sum → double divide) — avgdl is bit-identical to the old path."""
    toks = tokenize(docs.select(doc_id_col, text_col), text_col=text_col, mode=mode).withColumn(
        "dl", F.size("tokens")
    )
    postings = _postings_from_tokens(toks, doc_id_col).persist()
    docstats = toks.select(F.col(doc_id_col).alias("doc_id"), "dl")
    # Both scalar rows in ONE action (per-job fixed overhead is ~0.13 s on
    # this host and dominates small-SF builds — guide §1.1): the union's two
    # aggregate subtrees run inside one collect, and the postings subtree
    # fills the cache as a side effect, so the caller's first postings
    # action is a cache hit.
    doc_row = docs.agg(
        F.lit("d").alias("side"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.col(text_col)).cast("long").alias("nn"),
    )
    post_row = postings.agg(
        F.lit("p").alias("side"),
        F.sum("tf").cast("long").alias("n"),
        F.lit(None).cast("long").alias("nn"),
    )
    rows = {r["side"]: r for r in doc_row.unionByName(post_row).collect()}
    n_docs = int(rows["d"]["n"])
    denom = int(rows["d"]["nn"]) if mode == "simple" else n_docs
    total = rows["p"]["n"]
    avgdl = float(total) / denom if (denom and total is not None) else 0.0
    termstats = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("idf", idf_expr(variant, n_docs))
    )
    return BM25Index(postings, termstats, docstats, n_docs, avgdl, variant)


def _finalize(postings: DataFrame, docstats: DataFrame, variant: str) -> BM25Index:
    postings = postings.persist()
    row = docstats.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(row["n"]), float(row["avgdl"]) if row["avgdl"] is not None else 0.0
    termstats = (
        postings.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("idf", idf_expr(variant, n_docs))
    )
    return BM25Index(postings, termstats, docstats, n_docs, avgdl, variant)


# ---------------------------------------------------------------------------
# Resumable, checkpointed build (north rule: per-partition checkpoints with
# lineage + metrics tables).
# ---------------------------------------------------------------------------


def build_index_resumable(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = 8,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    variant: str = "bm25",
) -> BM25Index:
    """Checkpointed build: bucket docs by pmod(doc_id, n_buckets), write each
    bucket's postings independently, append a lineage row per bucket, skip
    completed buckets on restart. Produces a byte-identical index regardless
    of where a previous run died (tf/dl are per-doc facts; df/idf are
    recomputed from the full postings union at finalize). The plan line
    pins (n_buckets, variant, mode): resuming a partial build with another
    bucket count would mix two pmod layouts, so it fails loudly instead
    (`fusion_spark.shards`)."""
    docs = docs.select(F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text"))

    def write(b: int) -> dict:
        bucket_docs = docs.filter(F.pmod(F.col("doc_id"), F.lit(n_buckets)) == b)
        toks = tokenize(bucket_docs, text_col="text", mode=mode).withColumn("dl", F.size("tokens"))
        postings_b = _postings_from_tokens(toks, "doc_id")
        out = os.path.join(index_dir, f"postings_bucket={b}")
        postings_b.write.mode("overwrite").parquet(out)
        # docstats persisted separately: token-less docs have NO postings but
        # still count toward N and avgdl (idf depends on exact N)
        toks.select("doc_id", "dl").write.mode("overwrite").parquet(
            os.path.join(index_dir, f"docstats_bucket={b}")
        )
        n_postings = spark.read.parquet(out).count()
        return {"n_docs": bucket_docs.count(), "n_postings": n_postings,
                "variant": variant, "mode": mode}

    build(index_dir, {"n_buckets": n_buckets, "variant": variant, "mode": mode},
          range(n_buckets), write, "build_index_resumable")
    return load_index(spark, index_dir, variant=variant)


def load_index(spark: SparkSession, index_dir: str, variant: str = "bm25") -> BM25Index:
    """Read a `build_index_resumable` store: the bucket set comes from its
    manifest, never from a directory listing."""
    buckets = [r["shard"] for r in shard_set(index_dir, "postings_bucket={}", "docstats_bucket={}")]
    if not buckets:
        raise ValueError(f"load_index: no bucket listed in the manifest of {index_dir!r}")
    postings = spark.read.parquet(*[os.path.join(index_dir, f"postings_bucket={b}") for b in buckets])
    docstats = spark.read.parquet(*[os.path.join(index_dir, f"docstats_bucket={b}") for b in buckets])
    return _finalize(postings, docstats, variant)

