"""Query-time scoring: TF-IDF / BM25 / ATIRE-BM25 top-k as a broadcast join.

Reference semantics (/root/reference/src/retrievers/bm25.py):
  * BM25 partial: idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    summed over query tokens WITH duplicates — a token appearing twice in
    the query contributes twice (bm25.py:149-156).
  * TF-IDF partial: tf * idf (bm25.py:108-115).
  * `search` scores EVERY doc 0..N-1 (docs sharing no term score 0.0), then
    a stable descending sort and head-k (bm25.py:100-106) — so ties, and
    the zero-score tail, resolve by ascending internal doc index.
  * OOV query terms contribute 0 (idf.get(t, 0) with empty postings,
    bm25.py:112-113,153-154).

Spark design:
  * The query-term table (|queries| × |unique query terms| rows, with a
    per-query term multiplicity `qtf` replacing the reference's duplicate
    iteration) is tiny → `broadcast()` against the postings table. The big
    side never shuffles for the join; the only shuffle is the final
    groupBy(qid, doc_id) partial+final aggregate.
  * Tie-break contract: every sort is (score DESC, doc_id ASC), matching
    the reference's stable sort over insertion order.
  * `zero_tail=True` reproduces the exhaustive all-docs ranking (needed for
    deep-k rank identity); default False returns only docs that matched ≥1
    query term — the scale path (a 100 TB corpus must not emit N rows per
    query).
  * k1=0 divergence: the reference computes 0/0 for tf=0 docs when k1=0
    (ZeroDivisionError — latent bug, bm25.py:155); we only evaluate the
    partial where tf ≥ 1, where k1=0 is well-defined (partial = idf).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fusion_spark.indexing import BM25Index
from fusion_spark.tokenize import tokenize


def query_terms(
    queries: DataFrame,
    qid_col: str = "qid",
    question_col: str = "question",
    mode: str = "simple",
) -> DataFrame:
    """(qid, question) → (qid, term, qtf). qtf = duplicate-token multiplicity
    (bm25.py:151: each duplicate contributes its own partial; qtf × partial
    yields the identical sum)."""
    toks = tokenize(queries.select(qid_col, question_col), text_col=question_col, mode=mode)
    # explode_outer + null-filter: plain explode's inferred size()>0 filter
    # would splice the tokenize expression (or re-invoke the tokenizer UDF)
    # below the Project — doubled work per query row (see indexing)
    return (
        toks.select(F.col(qid_col).alias("qid"), F.explode_outer("tokens").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("qid", "term")
        .agg(F.count(F.lit(1)).cast("int").alias("qtf"))
    )


def partial_score_expr(variant: str, k1: float, b: float, avgdl: float) -> Column:
    tf = F.col("tf").cast("double")
    idf = F.col("idf")
    if variant == "tfidf":
        return tf * idf
    # bm25 and atire share the saturation formula (bm25.py:149-156); they
    # differ only in the idf already baked into termstats.
    dl = F.col("dl").cast("double")
    k1l, bl = F.lit(float(k1)), F.lit(float(b))
    # degenerate all-empty corpus: avgdl == 0 → define dl/avgdl = 0 (the
    # reference raises ZeroDivisionError here; hypothesis-found edge)
    norm = bl * dl / F.lit(float(avgdl)) if avgdl else F.lit(0.0)
    denom = tf + k1l * (F.lit(1.0) - bl + norm)
    return idf * (tf * (k1l + F.lit(1.0))) / denom


def score(
    index: BM25Index,
    queries: DataFrame,
    k1: float = 1.5,
    b: float = 0.75,
    qid_col: str = "qid",
    question_col: str = "question",
    mode: str = "simple",
    zero_tail: bool = False,
    prefilter_terms: bool = False,
) -> DataFrame:
    """All-pairs (qid, doc_id, score) for matched docs (plus the zero tail if
    requested). No top-k cut — compose with `top_k` below.

    ``prefilter_terms=True`` collects the (small) distinct query-term set to
    the driver and applies `term IN (...)` to the postings BEFORE the join:
    a broadcast hash join does not prune the probe-side scan, but an IN
    filter reaches the parquet reader (dictionary/row-group pruning) — use
    it when postings are read straight from the on-disk store."""
    qterms = query_terms(queries, qid_col, question_col, mode)
    # OOV terms: inner join drops them — identical to the reference's
    # zero contribution (missing idf AND missing postings). The query-term
    # side is tiny → broadcast it into the (potentially huge) termstats too,
    # or Catalyst falls back to a sort-merge join on unknown stats.
    qterms = F.broadcast(qterms).join(index.termstats.select("term", "idf"), "term")
    postings = index.postings
    if prefilter_terms:
        terms = [r["term"] for r in qterms.select("term").distinct().collect()]
        postings = postings.filter(F.col("term").isin(terms))
    joined = F.broadcast(qterms).join(postings, "term")
    partial = partial_score_expr(index.variant, k1, b, index.avgdl)
    # Deterministic summation order: fold partials sorted by term, so docs
    # with identical token multisets get byte-identical scores and ties
    # resolve exactly like the reference's stable sort (a plain `sum` has
    # nondeterministic accumulation order → one-ulp divergence can split a
    # reference tie). Per-group lists are bounded by |query terms| — cheap.
    scored = (
        joined.withColumn("partial", F.col("qtf").cast("double") * partial)
        .groupBy("qid", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "partial"))).alias("_ps"))
        .withColumn(
            "score",
            F.aggregate(F.col("_ps"), F.lit(0.0), lambda acc, x: acc + x["partial"]),
        )
        .drop("_ps")
    )
    if zero_tail:
        all_pairs = queries.select(F.col(qid_col).alias("qid")).distinct().crossJoin(
            index.docstats.select("doc_id")
        )
        scored = (
            all_pairs.join(scored, ["qid", "doc_id"], "left")
            .withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
        )
    return scored


def top_k(scored: DataFrame, k: int, qid_col: str = "qid") -> DataFrame:
    """Per-query top-k with the (score DESC, doc_id ASC) tie-break contract
    (bm25.py:105-106). `row_number ≤ k` triggers Spark's WindowGroupLimit
    rule — per-partition group-limit before the shuffle, i.e. the same
    bounded-heap-then-merge shape as the reference's chunked dense search
    (sentence_transformers.py:334-364) but planned by Catalyst."""
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def search(
    index: BM25Index,
    queries: DataFrame,
    k: int = 1000,
    k1: float = 1.5,
    b: float = 0.75,
    mode: str = "simple",
    zero_tail: bool = False,
    qid_col: str = "qid",
    question_col: str = "question",
    prefilter_terms: bool = False,
) -> DataFrame:
    """search_all equivalent (bm25.py:90-106): (qid, doc_id, score, rank),
    rank 1-based, all queries scored in one distributed plan instead of a
    sequential per-query loop."""
    scored = score(
        index, queries, k1, b, qid_col, question_col, mode, zero_tail, prefilter_terms
    )
    return top_k(scored, k, "qid").select("qid", "doc_id", "score", "rank")


def estimate_selectivity(index: BM25Index, queries: DataFrame, mode: str = "simple") -> float:
    """Fraction of the posting store a query batch touches: Σ df(query terms)
    / Σ df(all terms). The physical-plan chooser's only statistic."""
    qterms = query_terms(queries, mode=mode).select("term").distinct()
    touched = (
        qterms.join(index.termstats, "term").agg(F.sum("df").alias("s")).collect()[0]["s"]
    ) or 0
    total = index.termstats.agg(F.sum("df").alias("s")).collect()[0]["s"] or 1
    return touched / total


def search_auto(
    index: BM25Index,
    packed,
    queries: DataFrame,
    k: int = 1000,
    k1: float = 1.5,
    b: float = 0.75,
    mode: str = "simple",
    wand_threshold: float = 0.05,
    wand_max_query_work: int = 2_000_000,
) -> DataFrame:
    """Tiny physical planner: selective query batches (touching < threshold
    of the posting store) go through the packed block-max WAND path (term
    pushdown prunes the store scan + skipping); dense batches go through the
    exact broadcast-join scorer (whole-stage codegen wins when most blocks
    must be decoded anyway). Both paths are rank/score-identical, so this is
    purely a physical choice — the Catalyst-style 'pick the physical
    strategy from stats' move, done with the one statistic we keep (df).

    Routing is TWO-statistic: besides store selectivity, |queries|·k bounds
    the WAND path's aggregate heap work — a 10⁶-query offline batch times
    1000-slot heaps is a join-scorer workload however selective each query
    is (wand_search would grind through hundreds of chunked passes), so
    batches over `wand_max_query_work` go straight to the one-plan JVM
    scorer. The routing count is BOUNDED — `limit(bound+1).count()` instead
    of a full count() — so a query frame with expensive upstream lineage
    pays at most bound+1 rows of it for routing, not a full materialization
    (it only needs to know whether the batch EXCEEDS the bound).

    The bound is clamped to wand_search's own hard capacity
    (max_queries_per_chunk · max_chunks_per_plan): for small k the work
    budget alone would admit batches the chunked WAND planner refuses
    (its guard raises above 64 chunks of queries), so anything beyond its
    capacity routes to the join scorer instead of crashing through."""
    import inspect

    from fusion_spark.blocks import wand_search

    # read wand_search's real defaults so the clamp can never drift from the
    # guard it protects against
    sig = inspect.signature(wand_search).parameters
    wand_capacity = (
        sig["max_queries_per_chunk"].default * sig["max_chunks_per_plan"].default
    )
    query_bound = min(wand_max_query_work // max(k, 1), wand_capacity)
    if packed is not None and queries.limit(query_bound + 1).count() <= query_bound and (
        estimate_selectivity(index, queries, mode) < wand_threshold
    ):
        return wand_search(packed, queries, k=k, k1=k1, b=b, mode=mode)
    return search(index, queries, k=k, k1=k1, b=b, mode=mode)


def extract_negatives(
    ranked: DataFrame, qrels_exploded: DataFrame, num_negatives: int
) -> DataFrame:
    """Top-N non-relevant docs per query (bm25.py:263-270): anti-join on the
    ground truth then re-rank and cut."""
    neg = ranked.join(qrels_exploded, ["qid", "doc_id"], "left_anti")
    w = Window.partitionBy("qid").orderBy(F.asc("rank"))
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= num_negatives)
        .select("qid", "doc_id", "score", "neg_rank")
    )
