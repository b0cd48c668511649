"""SIGKILL-resume proof for the FUSED sharded build (r10 verdict #7).

The since-removed two-phase sharded pack had a real kill-9 proof at
99.2M postings (BENCH.md r9). This repeats the experiment on
`build_packed_resumable` — the fused corpus→store build and the one
sharded packed producer (tests/test_shards.py's crash-at-every-manifest-
write test is the small-scale twin):

  1. generate the deterministic corpus (the generator of BENCH.md "r10:
     fused corpus→store build"; 1.44M docs there, ~99M distinct postings);
  2. CONTROL: run build_packed_resumable(n_shards=4) to completion;
  3. VICTIM: launch the same build in a subprocess, poll the store's
     `_manifest.jsonl` until shard 0 commits, then `kill -9` the
     subprocess mid-shard-1;
  4. RESUME: re-run in a fresh session; assert
       * shard 0's files are byte-untouched (mtime snapshot),
       * only the unfinished shards were re-built,
       * the resumed store fingerprints (block set + termstats + meta)
         equal the uninterrupted control's.

Usage: python tools/bench_fused_sigkill.py [n_docs] [vocab] [dl] [n_shards]
Defaults: 360_000 200_000 70 4 (a quarter of the r10 corpus).
Output: ONE JSON line.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _gen_docs(n_docs: int, vocab: int, dl: int) -> str:
    from pyspark.sql import functions as F

    from fusion_spark.session import get_spark

    docs_dir = tempfile.mkdtemp(prefix="fusedkill_docs_")
    spark = get_spark(app_name="fusedkill-gen")
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
    return docs_dir


def _worker(docs_dir: str, store_dir: str, n_shards: int) -> None:
    from fusion_spark.blocks import build_packed_resumable
    from fusion_spark.session import get_spark

    spark = get_spark(app_name="fusedkill-worker")
    docs = spark.read.parquet(docs_dir)
    build_packed_resumable(spark, docs, store_dir, n_shards=n_shards,
                           segment_size="auto")
    spark.stop()


def _manifest_ok_shards(store_dir: str) -> set[int]:
    from fusion_spark.shards import read_manifest

    return set(read_manifest(store_dir)[1])


def _fingerprint(spark, store_paths: list[str]) -> dict:
    from pyspark.sql import functions as F

    bcols = ["term", "segment", "n_docs", "max_tf", "min_dl",
             "doc_blob", "tf_blob", "dl_blob"]
    row = (
        spark.read.parquet(*[f"{p}/blocks" for p in store_paths])
        .agg(F.count("*").alias("n"),
             F.sum(F.xxhash64(*bcols).cast("decimal(38,0)")).alias("h"))
        .collect()[0]
    )
    return {"n_blocks": int(row["n"]), "block_hash": int(row["h"])}


def main() -> None:
    if "--worker" in sys.argv:
        i = sys.argv.index("--worker")
        _worker(sys.argv[i + 1], sys.argv[i + 2], int(sys.argv[i + 3]))
        return
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 360_000
    vocab = int(sys.argv[2]) if len(sys.argv) > 2 else 200_000
    dl = int(sys.argv[3]) if len(sys.argv) > 3 else 70
    n_shards = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    report: dict = {"n_docs": n_docs, "vocab": vocab, "dl": dl,
                    "n_shards": n_shards}
    t0 = time.perf_counter()
    docs_dir = _gen_docs(n_docs, vocab, dl)
    report["gen_sec"] = round(time.perf_counter() - t0, 1)
    control = tempfile.mkdtemp(prefix="fusedkill_control_")
    victim = tempfile.mkdtemp(prefix="fusedkill_victim_")
    try:
        # CONTROL: uninterrupted
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             docs_dir, control, str(n_shards)],
            check=True, timeout=3600,
        )
        report["control_sec"] = round(time.perf_counter() - t0, 1)

        # VICTIM: kill -9 once shard 0 commits
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker",
             docs_dir, victim, str(n_shards)],
        )
        killed_after = None
        while proc.poll() is None:
            if 0 in _manifest_ok_shards(victim):
                time.sleep(3)  # let shard 1 get properly underway
                os.kill(proc.pid, signal.SIGKILL)
                killed_after = round(time.perf_counter() - t0, 1)
                break
            time.sleep(1)
        proc.wait()
        if killed_after is None:
            raise SystemExit("victim finished before shard 0 committed — "
                             "nothing was killed; raise n_docs")
        report["killed_after_sec"] = killed_after
        done_at_kill = sorted(_manifest_ok_shards(victim))
        report["shards_done_at_kill"] = done_at_kill

        # snapshot shard-0 file mtimes before the resume
        shard0_files = sorted(glob.glob(
            os.path.join(victim, "shard=0000", "**", "*"), recursive=True))
        mtimes_before = {f: os.path.getmtime(f) for f in shard0_files
                         if os.path.isfile(f)}

        # RESUME
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             docs_dir, victim, str(n_shards)],
            check=True, timeout=3600,
        )
        report["resume_sec"] = round(time.perf_counter() - t0, 1)
        mtimes_after = {f: os.path.getmtime(f) for f in shard0_files
                        if os.path.isfile(f)}
        report["shard0_untouched"] = mtimes_before == mtimes_after

        # fingerprints: victim store union == control store union
        from fusion_spark.session import get_spark

        spark = get_spark(app_name="fusedkill-compare")
        from fusion_spark.blocks import _packed_shards

        fa = _fingerprint(spark, _packed_shards(control)[0])
        fb = _fingerprint(spark, _packed_shards(victim)[0])
        spark.stop()
        report["fingerprint_control"] = fa
        report["fingerprint_resumed"] = fb
        report["identical"] = fa == fb
        print(json.dumps(report))
        if not (report["identical"] and report["shard0_untouched"]):
            raise SystemExit(1)
    finally:
        shutil.rmtree(docs_dir, ignore_errors=True)
        shutil.rmtree(control, ignore_errors=True)
        shutil.rmtree(victim, ignore_errors=True)


if __name__ == "__main__":
    main()
