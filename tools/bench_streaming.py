"""Streaming at-size proof: drive the two stateful streaming operators over
millions of events/docs and record throughput, state shape, and the
stream==batch identity — the streaming surface's counterpart of
tools/bench_curation.py.

* sessionize_stream: N events over U users land as K time-sliced parquet
  micro-batches (+ one heartbeat file that pushes the watermark past every
  session end). Only whole rounds of users are staged, U·⌊N/U⌋ events;
  sessions are 8 events / ~70 min and blocks are 2 days apart, far beyond
  gap+lateness, so the expected closed-session count is exactly
  U·⌈⌊N/U⌋/8⌉. Identity: the streamed closed sessions must equal the batch
  `sessionize` twin on the same static data (minus the heartbeat's own
  still-open session).
* dedup_stream: M docs with a planted duplicate ratio land as K files;
  first-arrival semantics must emit exactly the distinct-hash count.

Usage: SPARK_DRIVER_MEMORY=8g python tools/bench_streaming.py
       [--n-events N] [--n-users U] [--n-docs M] [--cores C]
Prints one JSON line; paste into BENCH.md's streaming section.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

BASE_US = 1_700_000_000_000_000  # fixed epoch base (µs)
SESS_EVENTS = 8          # events per session
STEP_S = 600             # 10 min between in-session events
BLOCK_S = 2 * 86_400     # 2 days between session blocks (≫ gap + lateness)


def _stage_slice(df, landing: str, name: str) -> None:
    """Write a one-file parquet slice and move the part file into the landing
    dir under an ordered name (the file source processes by mtime/name)."""
    tmp = tempfile.mkdtemp(prefix="slice_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.move(part, os.path.join(landing, name))
    shutil.rmtree(tmp, ignore_errors=True)


def bench_sessionize(spark, n_events: int, n_users: int) -> dict:
    """Drive sessionize_stream and check it stream==batch against the
    `sessionize` twin on the same static files."""
    from fusion_spark.streaming import sessionize, sessionize_stream

    k = (F.col("id") / n_users).cast("long")
    ts_s = k * STEP_S + (k / SESS_EVENTS).cast("long") * BLOCK_S
    events = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.lit(BASE_US) + (ts_s * 1_000_000)).alias("ts"),
        F.pmod("id", F.lit(n_users)).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.pmod("id", F.lit(100)) / 10.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    landing = tempfile.mkdtemp(prefix="sess_landing_")
    ckpt = tempfile.mkdtemp(prefix="sess_ckpt_")
    n_k = n_events // n_users            # events per user
    staged = n_users * n_k               # whole rounds of users only
    slices = 8
    per = max(n_k // slices, 1)
    for i in range(slices):
        lo, hi = i * per, (i + 1) * per if i < slices - 1 else n_k
        _stage_slice(
            events.filter((k >= lo) & (k < hi)), landing, f"part-{i:04d}.parquet"
        )
    max_ts_us = BASE_US + ((n_k * STEP_S + (n_k // SESS_EVENTS + 1) * BLOCK_S) * 1_000_000)
    heartbeat = spark.createDataFrame(
        [(10**9, None, 0, "hb", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.lit(max_ts_us + 40 * 86_400_000_000)).alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    _stage_slice(heartbeat, landing, f"part-{slices:04d}.parquet")

    t0 = time.time()
    out = sessionize_stream(spark, landing, ckpt)
    # sum_value rounded 6dp on both sides: the stream accumulates partial
    # sums across state merges in a different float order than the batch
    # aggregate — the repo's standard cross-engine tie contract
    got = out.select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )
    n_sessions = got.count()
    wall = round(time.time() - t0, 2)

    # batch twin on the same static files; the heartbeat's own session is the
    # only one the stream may not have closed
    twin = sessionize(spark.read.parquet(landing)).select(
        "user_id", "session_start", "session_end", "n_events",
        F.round("sum_value", 6).alias("sum_value"),
    )
    missing = twin.exceptAll(got)
    extra = got.exceptAll(twin)
    miss_rows = missing.collect()
    identical = (
        len(miss_rows) == 1 and miss_rows[0]["n_events"] == 1 and extra.count() == 0
    )
    shutil.rmtree(landing, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "n_events": n_events,
        "staged_events": staged,
        "n_users": n_users,
        "micro_batches": slices + 1,
        "closed_sessions": n_sessions,
        "expected_sessions": n_users * math.ceil(n_k / SESS_EVENTS),
        "wall_sec": wall,
        "events_per_sec": round(staged / wall),
        "stream_eq_batch": identical,
    }


def bench_dedup(spark, n_docs: int, distinct: int) -> dict:
    from fusion_spark.streaming import dedup_stream

    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document body "), F.pmod("id", F.lit(distinct)).cast("string"))
        .alias("text"),
    )
    landing = tempfile.mkdtemp(prefix="dedup_landing_")
    ckpt = tempfile.mkdtemp(prefix="dedup_ckpt_")
    slices = 8
    per = n_docs // slices
    for i in range(slices):
        lo, hi = i * per, (i + 1) * per if i < slices - 1 else n_docs
        _stage_slice(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            landing, f"part-{i:04d}.parquet",
        )
    t0 = time.time()
    out = dedup_stream(spark, landing, ckpt)
    n_out = out.count()
    wall = round(time.time() - t0, 2)
    shutil.rmtree(landing, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return {
        "n_docs": n_docs,
        "distinct": distinct,
        "survivors": n_out,
        "exact": n_out == distinct,
        "wall_sec": wall,
        "docs_per_sec": round(n_docs / wall),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-events", type=int, default=2_000_000)
    ap.add_argument("--n-users", type=int, default=50_000)
    ap.add_argument("--n-docs", type=int, default=1_000_000)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    args = ap.parse_args()

    from fusion_spark.session import get_spark

    spark = get_spark(app_name="streaming-bench", cores=args.cores)
    res = {
        "sessionize_stream": bench_sessionize(spark, args.n_events, args.n_users),
        "dedup_stream": bench_dedup(spark, args.n_docs, args.n_docs * 7 // 10),
        "cores": args.cores,
    }
    print(json.dumps(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
