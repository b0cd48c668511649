"""Composed at-size RETRIEVAL run (r9 verdict #8 — the retrieval analogue
of the standing composed 12M curation artifact).

Every retrieval-side knob in ONE session over one generated corpus (1.44M
docs by default; BENCH.md's r9 at-size run passed 14_400_000):

  build (tokenize → postings/docstats)
    → pack(segment_size="auto", num_partitions="auto")   [both r9 defaults]
    → block-max WAND top-1000 (the reference's top_k)
    → 3-leg fusion (the reference's hybrid stage: the WAND run is the
      lexical leg; two synthetic system legs derive deterministically from
      its scores, standing in for the dense/ColBERT legs SURVEY rules out)
      via RRF-60 AND NSF z-score
    → ir_metrics (recall/map/mrr/ndcg grid) against deterministic qrels

Walls per phase, one JSON line. Set SPARK_GRAFT_EVENTLOG_DIR and run
tools/audit_event_log.py over it — the done-criterion is 0 findings or
findings triaged by the r9 straggler/hot_key classifier.

Usage: python tools/bench_retrieval_e2e.py [n_docs] [vocab] [dl] [out_dir]
Defaults: 1_440_000 200_000 70 <tmp>.

STANDING MODE (r10 verdict #2): `--standing` runs the same composed path
as a per-round regression artifact with the expectations PINNED
IN-PROCESS:

  * identity gate — the WAND top-k (qid, rank, doc_id, score) lists are
    compared against the exact v1 join scorer on the same queries; any
    mismatch fails the run (exit 1), not just a report line;
  * audit gate — the run manages its own event-log dir, replays
    tools/audit_event_log.py over it after spark.stop(), and fails on
    any finding NOT classified `straggler` by the rule-D triage (host
    noise is triaged, plan pathologies fail);
  * wall envelope — total_sec is reported for BENCH.md's standing table;
    optional --max-total-sec N makes the envelope a hard gate too.

Per-round invocation (BENCH.md "standing artifacts"):
    python tools/bench_retrieval_e2e.py --standing
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fusion_spark import fusion as fz  # noqa: E402
from fusion_spark.blocks import PackedIndex, build_packed, wand_search  # noqa: E402
from fusion_spark.indexing import build_index  # noqa: E402
from fusion_spark.metrics import metrics_per_query  # noqa: E402
from fusion_spark.session import get_spark  # noqa: E402


def main():
    standing = "--standing" in sys.argv
    max_total = None
    args = []
    it = iter(a for a in sys.argv[1:])
    for a in it:
        if a == "--standing":
            continue
        if a == "--max-total-sec":
            max_total = float(next(it))
            continue
        args.append(a)
    n_docs = int(args[0]) if len(args) > 0 else 1_440_000
    vocab = int(args[1]) if len(args) > 1 else 200_000
    dl = int(args[2]) if len(args) > 2 else 70
    out_dir = args[3] if len(args) > 3 else tempfile.mkdtemp(prefix="rete2e_")

    elog_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if standing and not elog_dir:
        # standing mode manages its own event log — the audit gate needs one
        elog_dir = tempfile.mkdtemp(prefix="rete2e_elog_")
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = elog_dir

    spark = get_spark(app_name="bench-retrieval-e2e",
                      shuffle_partitions=256 if not standing else 64)
    T: dict[str, float] = {}

    def phase(tag):
        class _P:
            def __enter__(self):
                self.t0 = time.perf_counter()

            def __exit__(self, *a):
                T[tag] = round(time.perf_counter() - self.t0, 1)
                print(f"[phase] {tag}: {T[tag]} s", file=sys.stderr, flush=True)

        return _P()

    tok = (
        f"concat('t', cast(floor({vocab} * pow("
        "pmod(xxhash64(concat(cast(id as string), ':', cast(i as string))), 100000)"
        " / 100000.0, 3.0)) as long))"
    )
    with phase("gen_write_docs"):
        (
            spark.range(0, n_docs, numPartitions=256)
            .withColumn("text", F.expr(
                f"concat_ws(' ', transform(sequence(1, {dl}), i -> {tok}))"))
            .select(F.col("id").alias("doc_id"), "text")
            .write.mode("overwrite").parquet(f"{out_dir}/docs")
        )
    docs = spark.read.parquet(f"{out_dir}/docs")

    # r10 verdict #1: the gated path now runs the SHIPPING default — the
    # fused corpus→store build (tokenize → aggregate → pack as one job, no
    # postings parquet materialized; 1.24-1.52× at 99.75M/1B postings,
    # store-fingerprint-identical). The two-phase build_index → pack path
    # survives below as the standing identity CONTROL: the exact v1 scorer
    # it feeds is what WAND is gated against.
    with phase("fused_build_store"):
        build_packed(docs, f"{out_dir}/store",
                     segment_size="auto", num_partitions="auto")
    store = PackedIndex.read(spark, f"{out_dir}/store")

    # 36 queries: 32 rare-term + 4 hot-term, 4 terms each
    qrows = [(i, " ".join(f"t{vocab - 1 - (i * 7 + j) % (vocab // 4)}" for j in range(4)))
             for i in range(32)]
    qrows += [(100 + i, " ".join(f"t{(i * 3 + j) % 16}" for j in range(4)))
              for i in range(4)]
    queries = spark.createDataFrame(qrows, "qid long, question string")

    with phase("wand_top1000"):
        ranked = wand_search(store, queries, k=1000, k1=2.5, b=0.2).cache()
        n_ranked = ranked.count()

    identity_ok = None
    if standing:
        # identity gate: WAND vs the exact v1 join scorer, same queries,
        # same k — rank AND score identity (the north rule's criterion)
        from fusion_spark.scoring import search as exact_search

        with phase("identity_gate_exact"):
            # two-phase identity control (r10 verdict #1): the exact scorer
            # runs over a build_index index of the same corpus, so the gate
            # also cross-checks fused-store scoring against the two-phase
            # ingest path
            idx = build_index(docs, doc_id_col="doc_id", text_col="text")
            exact = {
                (r["qid"], r["rank"]): (r["doc_id"], r["score"])
                for r in exact_search(idx, queries, k=1000, k1=2.5, b=0.2,
                                      zero_tail=False).collect()
            }
            wand = {
                (r["qid"], r["rank"]): (r["doc_id"], r["score"])
                for r in ranked.collect()
            }
            identity_ok = set(exact) == set(wand) and all(
                exact[k][0] == wand[k][0]
                and abs(exact[k][1] - wand[k][1]) <= 1e-9
                for k in exact
            )
            if not identity_ok:
                diffs = [k for k in exact
                         if k not in wand or exact[k][0] != wand[k][0]][:5]
                print(f"[standing] IDENTITY FAIL at {diffs}", file=sys.stderr)

    # three systems: the WAND lexical leg + two deterministic synthetic
    # legs (affine score transforms + rank jitter via doc_id hash) — the
    # hybrid-stage SHAPE at full scale without the out-of-scope encoders
    legs = (
        ranked.withColumn("system", F.lit("bm25"))
        .unionByName(
            ranked.withColumn("system", F.lit("leg2"))
            .withColumn("score", F.col("score") * 0.7 + 0.1)
        )
        .unionByName(
            ranked.withColumn("system", F.lit("leg3"))
            .withColumn("score",
                        F.col("score") + (F.pmod(F.xxhash64("doc_id"), 100) / 1000.0))
        )
        .select("system", "qid", "doc_id", "score", "rank")
    )
    with phase("fusion_rrf"):
        fused_rrf = fz.fuse(legs, method="rrf", return_topk=100).cache()
        fused_rrf.count()
    with phase("fusion_nsf_zscore"):
        fz.fuse(legs, method="nsf", normalization="z-score",
                weights={"bm25": 0.5, "leg2": 0.25, "leg3": 0.25},
                return_topk=100).write.format("noop").mode("overwrite").save()

    # Deterministic qrels: doc is relevant to qid iff doc_id ≡ 7·qid (mod
    # 9973). Written as an explicit broadcast equi-join — the first shape
    # of this (crossJoin + filter) let Catalyst extract the equi-condition
    # but keep join type Cross, which AQE refuses to broadcast-convert:
    # rule C flagged the resulting 576-byte-vs-230MB SortMergeJoin on the
    # first 14.4M run (the audit working as designed; BENCH.md r9).
    qrels = docs.select("doc_id").join(
        F.broadcast(queries.select("qid")),
        F.pmod(F.col("doc_id"), F.lit(9973)) == F.pmod(F.col("qid") * 7, F.lit(9973)),
    )
    with phase("ir_metrics"):
        metrics_per_query(
            fused_rrf.select("qid", "doc_id", "rank"), qrels,
            recall_k=(10, 100), map_k=(10,), mrr_k=(10,), ndcg_k=(10,),
        ).write.format("noop").mode("overwrite").save()

    report = {
        "n_docs": n_docs, "vocab": vocab, "dl": dl,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        # postings count from the store's own block metadata (no postings pass)
        "n_postings": store.blocks.agg(F.sum("n_docs")).collect()[0][0],
        "segment_size": store.segment_size,
        "ranked_rows": n_ranked,
        "phases": T,
        "total_sec": round(sum(T.values()), 1),
    }
    spark.stop()
    exit_code = 0
    if standing:
        # audit gate: replay the stage/plan audit over this run's event log;
        # `straggler`-classified skew is host noise (triaged, reported, not
        # fatal); anything else — hot keys, serial expansions, oversized
        # broadcast-able joins — fails the standing artifact
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "audit_event_log",
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "audit_event_log.py"),
        )
        audit = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(audit)
        findings = []
        for path in audit.iter_event_files([elog_dir]):
            parsed = audit.parse_event_log_full(path)
            findings += audit.audit_stages(parsed["stages"])
            findings += audit.audit_sql_plans(parsed["plans"], parsed["accums"])
        fatal = [f for f in findings if f.get("classification") != "straggler"]
        report["standing"] = {
            "identity_ok": identity_ok,
            "audit_findings": len(findings),
            "audit_fatal": len(fatal),
            "stragglers_triaged": len(findings) - len(fatal),
            "max_total_sec": max_total,
        }
        for f in fatal:
            print(f"[standing] FATAL {f['rule']}: {f['detail']}",
                  file=sys.stderr)
        if not identity_ok or fatal:
            exit_code = 1
        if max_total is not None and report["total_sec"] > max_total:
            print(f"[standing] wall {report['total_sec']} s exceeds the "
                  f"--max-total-sec {max_total} envelope", file=sys.stderr)
            exit_code = 1
    print(json.dumps(report))
    if out_dir.startswith(tempfile.gettempdir()):
        shutil.rmtree(out_dir, ignore_errors=True)
    raise SystemExit(exit_code)


if __name__ == "__main__":
    main()
