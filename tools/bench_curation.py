"""End-to-end curation/mixture pipeline proof at ≥10⁶ documents (r3 verdict
next-round #6): run the REAL operators — curate_corpus (quality → exact
dedup → LSH near-dup with the hot-bucket guard) → select_by_token_budget →
chunk_documents — once over a deterministically generated 1.2M-doc corpus
with PLANTED pathologies, and record wall times plus the oversized-bucket
audit. The point is evidence, at 2000× the gate scale, that no stage goes
quadratic and no capping is silent.

Planted structure (all generated JVM-side, seed-free deterministic):
  * viral near-dup family: every doc_id % 60 == 0 (~20k docs) is the same
    40-token boilerplate plus a UNIQUE per-doc tail token — pairwise
    distinct (so exact dedup keeps all of them) but sharing the 38 common
    shingles that decide every minhash minimum, so the family lands in ONE
    LSH bucket far over the 10k guard cap, forcing the star-pairing path
    AND a non-empty `oversized_buckets` audit;
  * exact-dup family: every doc_id % 37 == 1 (~32k docs) collapses onto 8
    distinct texts — exact dedup must keep exactly 8 of them;
  * everything else: 28 pseudo-words from a 400-word vocab (hash-selected),
    every 5th token a stopword so the quality gate scores realistically;
  * `lang` ∈ {en,fr,de,py} by doc_id hash for the mixture selection.

Usage: SPARK_DRIVER_MEMORY=8g python tools/bench_curation.py [--n-docs N]
Prints one JSON line; paste the numbers into BENCH.md's curation section.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def build_corpus(spark, n_docs: int):
    vocab = [
        "".join(chr(97 + (i // 26**k) % 26) for k in range(3)) for i in range(400)
    ]
    stop = ["the", "of", "and", "to", "in", "is", "a", "for"]
    vocab_arr = F.array(*[F.lit(w) for w in vocab])
    stop_arr = F.array(*[F.lit(w) for w in stop])
    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(28)),
            lambda j: F.when(
                F.pmod(j, F.lit(5)) == 0,
                F.element_at(
                    stop_arr,
                    (F.pmod(F.hash(F.col("doc_id") * 131 + j), F.lit(8)) + 1).cast("int"),
                ),
            ).otherwise(
                F.element_at(
                    vocab_arr,
                    (F.pmod(F.hash(F.col("doc_id") * 131 + j), F.lit(400)) + 1).cast("int"),
                )
            ),
        ),
    )
    boiler = (
        "this license text is the same boilerplate in every templated page "
        "and it repeats the same tokens again and again so the banded "
        "minhash signatures of all family members collide into one bucket"
    )
    # unique tail: keeps family members pairwise DISTINCT (exact dedup must
    # not collapse them) while leaving the 38 shared shingles that decide
    # the minhash minima — the whole family still banding-collides
    boiler_txt = F.concat(F.lit(boiler + " tail"), F.col("doc_id").cast("string"))
    exact_txt = F.concat(
        F.lit("an exact duplicate family member with fixed content number "),
        F.element_at(
            F.array(*[F.lit(w) for w in ["one", "two", "three", "four",
                                         "five", "six", "seven", "eight"]]),
            (F.pmod(F.col("doc_id"), F.lit(8)) + 1).cast("int"),
        ),
        F.lit(" and enough trailing words to pass the minimum length gate "
              "of the quality scorer in the curation pipeline stage"),
    )
    lang = F.element_at(
        F.array(F.lit("en"), F.lit("fr"), F.lit("de"), F.lit("py")),
        (F.pmod(F.hash(F.col("doc_id")), F.lit(4)) + 1).cast("int"),
    )
    return (
        spark.range(n_docs)
        .select(F.col("id").alias("doc_id"))
        .select(
            "doc_id",
            F.when(F.pmod("doc_id", F.lit(60)) == 0, boiler_txt)
            .when(F.pmod("doc_id", F.lit(37)) == 1, exact_txt)
            .otherwise(body)
            .alias("text"),
            lang.alias("lang"),
        )
    )


def audit_sample_expr(frac: float) -> str:
    """Deterministic doc_id sample predicate for the hot-bucket audit: keep
    a doc iff md5('audit-sample:' + doc_id) mod 1e6 < frac*1e6. Salted so
    the sample is independent of every other md5-derived quantity in the
    pipeline (minhash seeds, split buckets); same doc set on every run and
    at every parallelism."""
    return (
        "mod(conv(substr(md5(concat('audit-sample:', cast(doc_id as "
        f"string))), 1, 8), 16, 10), 1000000) < {int(frac * 1_000_000)}"
    )


def jvm_peak_rss_mb() -> int | None:
    """Peak RSS (VmHWM) of the py4j JVM child — the process that actually
    holds executor memory in local mode; the Python driver's own RSS is
    not the number that matters."""
    import glob

    me = os.getpid()
    for sdir in glob.glob("/proc/[0-9]*"):
        try:
            fields = {}
            with open(sdir + "/status") as f:
                for line in f:
                    k, _, v = line.partition(":")
                    fields[k] = v.strip()
            if fields.get("Name") == "java" and fields.get("PPid") == str(me):
                return int(fields["VmHWM"].split()[0]) // 1024
        except (OSError, ValueError, KeyError):
            continue
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=1_200_000)
    ap.add_argument("--shuffle-partitions", default="auto",
                    help="shuffle partitions: an integer, or 'auto' (default) "
                         "to derive from --n-docs via "
                         "pipeline.curation_shuffle_partitions — the r6 sweep "
                         "encoded (~23k docs/task, pow2, floor 2×host cores): "
                         "1.2M→64, 12M→512")
    ap.add_argument("--audit-sample", type=float, default=1.0,
                    help="fraction of post-exact-dedup survivors the "
                         "hot-bucket audit recomputes minhash/banding over "
                         "(deterministic md5(doc_id) sample; default 1.0 = "
                         "exact). The audit is diagnostic-only but its "
                         "from-scratch minhash recompute is the one "
                         "super-linear stage left at 10x input (BENCH.md r6);"
                         " sampling bounds it. Bucket sizes are reported as "
                         "n_members = sampled/fraction estimates; the flag "
                         "threshold scales to max_bucket_size*fraction.")
    args = ap.parse_args()
    if not 0.0 < args.audit_sample <= 1.0:
        ap.error("--audit-sample must be in (0, 1]")
    # detection needs the scaled threshold to stay statistically meaningful:
    # a bucket at the 10k flag line yields ~10_000*f sampled members
    # (binomial, sd ~sqrt(10_000*f)); require >= 100 expected so flagging
    # is ~10 sigma from noise and estimates are within a few percent
    if args.audit_sample < 1.0 and 10_000 * args.audit_sample < 100:
        ap.error("--audit-sample too small: fraction*10_000 must be >= 100 "
                 "for a reliable flag threshold")

    from fusion_spark.corpus import chunk_documents
    from fusion_spark.extras import dedup
    from fusion_spark.pipeline import (
        curate_corpus,
        curation_shuffle_partitions,
        select_by_token_budget,
    )
    from fusion_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    if args.shuffle_partitions == "auto":
        shuffle_partitions = curation_shuffle_partitions(args.n_docs, cores)
    else:
        shuffle_partitions = int(args.shuffle_partitions)
    spark = get_spark(app_name="curation-bench",
                      shuffle_partitions=shuffle_partitions)
    walls, counts = {}, {}

    t0 = time.time()
    docs = build_corpus(spark, args.n_docs).persist()
    counts["n_docs"] = docs.count()
    walls["generate"] = round(time.time() - t0, 2)

    t0 = time.time()
    cc_stats: dict = {}
    survivors = curate_corpus(docs, min_quality=0.05, jaccard_threshold=0.6,
                              near_dup_policy="cc", stats_out=cc_stats)
    counts["survivors"] = survivors.count()
    walls["curate_cc"] = round(time.time() - t0, 2)
    counts.update(cc_stats)  # rounds-to-convergence + per-round wall

    # audit: recompute the banding curate_corpus used on its post-exact-dedup
    # stage and list every bucket the guard star-paired — capping must be
    # visible, never silent
    t0 = time.time()
    from fusion_spark.extras.textstats import quality_score

    q = quality_score(docs).select("doc_id", F.round("quality", 6).alias("quality"))
    stage1 = docs.join(q.filter(F.col("quality") >= 0.05), "doc_id")
    stage2 = dedup.drop_exact_duplicates(stage1)
    frac = args.audit_sample
    if frac < 1.0:
        # deterministic member sample AFTER exact dedup (sampling before it
        # would shift survivor composition); bucket membership is then
        # Binomial(m, frac) per true-size-m bucket, so sizes scale back as
        # sampled/frac and the flag threshold scales down to 10_000*frac
        stage2 = stage2.filter(F.expr(audit_sample_expr(frac)))
    sigs = dedup.minhash_signatures(stage2, n=3, num_hashes=4)
    banded = (
        sigs.withColumn("band", (F.col("seed") / 2).cast("int"))
        .groupBy("doc_id", "band")
        .agg(F.concat_ws("|", F.sort_array(F.collect_list("minhash"))).alias("band_key"))
    )
    audit = dedup.oversized_buckets(
        banded, ["band", "band_key"], max_bucket_size=int(10_000 * frac)
    )
    counts["oversized_buckets"] = [
        {"band": r["band"], "n_members": int(round(r["n_members"] / frac))}
        for r in audit.collect()
    ]
    counts["audit_sample"] = frac
    walls["audit"] = round(time.time() - t0, 2)

    t0 = time.time()
    curated = docs.join(survivors.select("doc_id", "quality"), "doc_id")
    langs = [r["lang"] for r in curated.select("lang").distinct().collect()]
    picked = select_by_token_budget(
        curated, {lg: 2_000_000 for lg in langs}, order_col="quality"
    )
    counts["selected_docs"] = picked.count()
    counts["selected_tokens"] = picked.agg(F.sum("n_tokens")).collect()[0][0]
    walls["select_budget"] = round(time.time() - t0, 2)

    t0 = time.time()
    sel_docs = curated.join(picked.select("doc_id"), "doc_id", "left_semi")
    chunks = chunk_documents(sel_docs, max_tokens=16, overlap=4)
    counts["chunks"] = chunks.count()
    walls["chunk"] = round(time.time() - t0, 2)

    walls["total"] = round(sum(walls.values()), 2)
    peak = jvm_peak_rss_mb()
    print(json.dumps({"walls_sec": walls, **counts, "cores": cores,
                      "shuffle_partitions": shuffle_partitions,
                      "jvm_peak_rss_mb": peak}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
