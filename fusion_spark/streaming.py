"""Structured Streaming operators: incremental index ingest, windowed event
counts, sessionization and exact dedup.

The reference is batch-only (SURVEY.md §2.9). Incremental ingest is the
additive scale feature a production posting store needs: new documents
arrive as files in a landing directory, and each micro-batch is packed
straight into its own shard of a packed block store
(`incremental_packed_stream`), the same format `blocks.build_packed_resumable`
writes and `blocks.wand_search` serves. Because tf/dl are per-doc facts, a
wave never rewrites an earlier shard; df/idf/N/avgdl are re-derived exactly
when the shards are merged, so the store is query-identical to a full
rebuild.

Every query here runs `trigger(availableNow=True)`: it drains the backlog
and stops — what tests and backfill jobs need. A live deployment runs the
same plan under a processingTime trigger and stops the query itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fusion_spark.shards import build, shard_set


def incremental_packed_stream(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    mode: str = "simple",
    segment_size: int | str = 4096,
    compact_threshold_files: int = 48,
):
    """Incremental packed-store ingest with the compact-on-quiesce hook
    wired in: each non-empty micro-batch fuses tokenize → aggregate →
    pack into its own `shard=<batch_id>` sub-store
    (`build_packed`, doc-id-disjoint by the landing contract) and commits
    it to the store's manifest (`fusion_spark.shards`; the plan line pins
    segment_size and mode across waves, and a batch replayed after a crash
    skips a committed shard and rewrites an uncommitted one). After the
    wave drains, the quiesce epilogue runs `compact_if` — serving the
    metadata-level union while the file count is small and rewriting block
    rows into `{store_dir}/compacted` once accumulated shards cross
    `compact_threshold_files` (the fan-in point where BENCH.md r9 measured
    ~2.5× per-query open overhead). A later wave changes the shard
    signature, so a stale compaction is never served.

    Runs availableNow (drain the backlog, quiesce, return); a live
    deployment triggers the same foreachBatch on a processingTime schedule
    and calls `blocks.compact_if` from its own quiesce/maintenance window.
    Returns (PackedIndex, decision) from `compact_if`, or (None, "empty")
    while no non-empty micro-batch has landed.

    Ingest contract: micro-batch doc-id spans must land on multiples of
    `segment_size` (the id-assignment layer routes by
    doc_id // segment_size), because `merge_packed` — and therefore the
    quiesce's `compact_if` — validates shard disjointness at SEGMENT
    granularity (the same alignment `build_packed_resumable` enforces on
    its own spans). Interleaved-but-disjoint id layouts bypass the hook and
    call `merge_packed(check_disjoint=False)` from a caller-owned quiesce.
    """
    import os

    from fusion_spark.blocks import SHARD_DIR, build_packed, compact_if, packed_shard_row

    stream = spark.readStream.schema(schema).parquet(landing_dir)

    def pack_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.limit(1).count() == 0:
            return  # build_packed refuses empty corpora (r9 ADVICE guard)

        def write(i: int) -> dict:
            path = os.path.join(store_dir, SHARD_DIR.format(i))
            build_packed(batch_df, path, mode=mode, segment_size=segment_size)
            return packed_shard_row(spark, path)

        build(store_dir, {"segment_size": segment_size, "mode": mode},
              [batch_id], write, "incremental_packed_stream")

    q = (
        stream.writeStream.foreachBatch(pack_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not shard_set(store_dir):
        return None, "empty"
    return compact_if(spark, store_dir, threshold_files=compact_threshold_files)


_MEMSINK_COUNTER = [0]


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
) -> DataFrame:
    """Structured-Streaming tumbling-window aggregation over an events table:
    per (event_type, window) count + sum(value). Runs with availableNow into
    a memory sink (complete mode) and returns the final result as a batch
    DataFrame — the streaming demo query for the driver contract. A live
    deployment uses the same plan with a watermark + append sink."""
    import os
    import tempfile

    if os.path.isfile(events_path):
        # the streaming file source requires a DIRECTORY; stage single files
        d = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(os.path.abspath(events_path), os.path.join(d, os.path.basename(events_path)))
        events_path = d
    stream = spark.readStream.schema(schema).parquet(events_path)
    agg = (
        stream.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
    )
    _MEMSINK_COUNTER[0] += 1
    name = f"windowed_events_{_MEMSINK_COUNTER[0]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def windowed_event_counts_watermarked(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
) -> DataFrame:
    """The SCALE path for the windowed aggregation: event-time watermark +
    APPEND mode into a parquet file sink. Closed-window state is dropped
    (bounded memory) and each finalized window is emitted exactly once —
    unlike the memory-sink complete-mode demo above, which keeps all state
    and re-emits the FULL result every trigger (a driver bottleneck at
    scale). Same plan, same results on the same input.

    Append-mode semantics: a window flushes only when the watermark passes
    its end, and the watermark used by micro-batch N is derived from batch
    N−1's max event time. On a bounded backlog (availableNow) the last
    windows therefore flush only if LATER batches carry later events —
    maxFilesPerTrigger=1 keeps landing files in separate micro-batches, and
    a backfill drive appends sentinel/heartbeat files to advance event time
    (see test_streaming); a live deployment gets this for free from the
    continuous arrival stream."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    import os

    committed = [
        f for f in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
        if f.endswith(".parquet")
    ]
    if not committed:
        # zero finalized windows (nothing advanced the watermark past a
        # window end): the sink directory holds only _spark_metadata —
        # return an empty frame with the right schema. Checked explicitly
        # rather than via a broad except, so genuine read failures
        # (corrupt files, permissions) still raise.
        return spark.createDataFrame([], agg.schema)
    return spark.read.schema(agg.schema).parquet(out_dir)


_SESSION_GAP_US_DEFAULT = 12 * 3600 * 1_000_000  # 12 hours


def sessionize(events: DataFrame, gap_us: int = _SESSION_GAP_US_DEFAULT) -> DataFrame:
    """Batch gaps-and-islands sessionization: per user, a new session starts
    when the gap to the previous event exceeds `gap_us`. Output
    (user_id, session_idx, session_start, session_end, n_events, sum_value).

    One shuffle: HashPartitioning(user_id) serves the lag window, the
    cumulative-sum window, and the session aggregate. Deterministic order
    (ts, event_id) so equal timestamps can't flip session boundaries.
    This is the semantic twin of `sessionize_stream` below — the test
    asserts stream == batch on a bounded input."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP. The cast is
    # gap-preserving under a FIXED-OFFSET session timezone (get_spark pins
    # spark.sql.session.timeZone=UTC); with a DST-observing zone the
    # wall-clock→instant conversion is not gap-preserving across a
    # transition, which could diverge from sessionize_stream's naive
    # datetime64 arithmetic — keep the session timezone UTC.
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(t_us).over(w)
    brk = F.when(prev.isNull() | ((t_us - prev) <= F.lit(gap_us)), F.lit(0)).otherwise(F.lit(1))
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = events.withColumn("session_idx", F.sum(brk).over(cum))
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


def sessionize_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    gap_us: int = _SESSION_GAP_US_DEFAULT,
    lateness: str = "1 hour",
    schema: str = "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
):
    """Custom STATEFUL streaming operator via applyInPandasWithState with
    WATERMARK-DRIVEN session closing (GroupStateTimeout.EventTimeTimeout): a
    session is emitted only when the event-time watermark passes
    session_end + gap — i.e. when no admissible event can still extend it.

    The state key is a BUCKET, `pmod(hash(user_id), n)` with n the session's
    `spark.sql.shuffle.partitions`, not the user: one state row (one Python
    call + one Arrow round-trip per micro-batch) carries the open sessions of
    all its users, so applyInPandasWithState's fixed per-group cost is paid
    about once per stateful partition rather than once per user. The kernel
    is vectorized ACROSS the bucket's users: one sort, one numpy
    boundary/reduceat pass for session segments, one pandas interval-merge
    (per-user cummax) against the open-session table carried in state. The
    event-time timeout fires per bucket (earliest open session across its
    users).

    Robustness contract: events may arrive OUT OF EVENT-TIME ORDER across
    micro-batches up to `lateness` — Spark drops rows older than the
    watermark, and anything younger merges correctly because open sessions
    close only via the watermark, never by seeing a later event. Idle users
    cannot pin state forever: the timeout fires once the global watermark
    passes the bucket's earliest open session end + gap, even if no user of
    the bucket produces another event. On a bounded backlog the watermark
    only advances with micro-batches, so a backfill drive appends heartbeat
    files whose event time exceeds max(end) + gap + lateness (any user —
    the watermark is global); a live stream gets this for free.
    Returns the collected closed sessions as a batch DataFrame (memory sink,
    availableNow). `sessionize` is the batch twin: same closed-session rows."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start timestamp, session_end timestamp, "
        "n_events long, sum_value double"
    )
    state_schema = (
        "users array<long>, starts array<long>, ends array<long>, "
        "ns array<long>, ss array<double>"
    )

    def fn(key, pdfs, state: GroupState):
        cols: dict[str, np.ndarray] = {
            "u": np.empty(0, np.int64), "s": np.empty(0, np.int64),
            "e": np.empty(0, np.int64), "n": np.empty(0, np.int64),
            "v": np.empty(0, np.float64),
        }
        if state.exists:
            users, starts, ends, ns, ss = state.get
            cols = {
                "u": np.asarray(users, np.int64), "s": np.asarray(starts, np.int64),
                "e": np.asarray(ends, np.int64), "n": np.asarray(ns, np.int64),
                "v": np.asarray(ss, np.float64),
            }
        if not state.hasTimedOut:
            batch = pd.concat(list(pdfs), ignore_index=True)
            if len(batch):
                batch = batch.sort_values(["user_id", "ts", "event_id"])
                uarr = batch["user_id"].to_numpy(np.int64)
                t = batch["ts"].astype("datetime64[us]").astype("int64").to_numpy()
                v = batch["value"].to_numpy(dtype=np.float64)
                # one vectorized pass over ALL the bucket's users: a segment
                # breaks on user change or gap exceeded
                brk = np.concatenate(
                    ([True], (uarr[1:] != uarr[:-1]) | (t[1:] - t[:-1] > gap_us))
                )
                b0 = np.flatnonzero(brk)
                b1 = np.concatenate((b0[1:], [t.size]))
                cols = {
                    "u": np.concatenate((cols["u"], uarr[b0])),
                    "s": np.concatenate((cols["s"], t[b0])),
                    "e": np.concatenate((cols["e"], t[b1 - 1])),
                    "n": np.concatenate((cols["n"], b1 - b0)),
                    "v": np.concatenate((cols["v"], np.add.reduceat(v, b0))),
                }
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        if cols["u"].size:
            # vectorized per-user interval merge: sort by (user, start), use
            # the running max end within each user so chained overlaps
            # coalesce; counts/sums are order-invariant so late events
            # merging into the middle of an open session stay exact
            df = pd.DataFrame(cols).sort_values(["u", "s"], kind="mergesort",
                                                ignore_index=True)
            cme = df.groupby("u", sort=False)["e"].cummax()
            new_grp = df["u"].ne(df["u"].shift()) | (
                df["s"] - cme.shift() > gap_us
            )
            gid = new_grp.cumsum()
            merged = df.groupby(gid, sort=False).agg(
                u=("u", "first"), s=("s", "min"), e=("e", "max"),
                n=("n", "sum"), v=("v", "sum"),
            )
            closed = merged[merged["e"] + gap_us < wm_us]
            open_ = merged[merged["e"] + gap_us >= wm_us]
        else:
            closed = open_ = pd.DataFrame(columns=["u", "s", "e", "n", "v"])
        if len(open_):
            state.update(
                (
                    open_["u"].tolist(), open_["s"].tolist(), open_["e"].tolist(),
                    open_["n"].tolist(), open_["v"].tolist(),
                )
            )
            to_ms = (int(open_["e"].min()) + gap_us) // 1000 + 1
            state.setTimeoutTimestamp(max(to_ms, wm_ms + 1))
        else:
            state.remove()
        if len(closed):
            closed = closed.sort_values(["u", "s"])
            yield pd.DataFrame(
                {
                    "user_id": closed["u"].to_numpy(),
                    "session_start": pd.to_datetime(closed["s"].to_numpy(), unit="us"),
                    "session_end": pd.to_datetime(closed["e"].to_numpy(), unit="us"),
                    "n_events": closed["n"].to_numpy(),
                    "sum_value": closed["v"].to_numpy(),
                }
            )

    # The bucket count is part of the state key, so it is only safe to read
    # from the live conf because a run never resumes a checkpoint: the
    # append-mode memory sink refuses recovery (AnalysisException). If the
    # sink ever becomes recoverable, n must come from the checkpoint instead.
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
        .withWatermark("ts", lateness)
        .withColumn("bucket", F.pmod(F.hash("user_id"), F.lit(n)))
    )
    sessions = stream.groupBy("bucket").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
    _MEMSINK_COUNTER[0] += 1
    name = f"sessions_{_MEMSINK_COUNTER[0]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    within_watermark: str | None = None,
    ts_col: str = "ts",
):
    """Streaming exact dedup: as documents land, only the FIRST arrival of
    each content hash passes through — the ingestion-time counterpart of
    batch `dedup.drop_exact_duplicates` (a crawl re-fetching the same page
    never re-enters the corpus). State = one row per distinct hash in the
    state store (dropDuplicates); for unbounded feeds pass
    `within_watermark` (e.g. "24 hours") to use
    dropDuplicatesWithinWatermark, which expires hash state once the
    watermark passes — bounded state, exact within the window (`ts_col`
    must then exist in the schema). Returns the deduped rows collected
    from a memory sink (availableNow backfill drive)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing_dir)
    )
    hashed = stream.withColumn("text_hash", F.md5("text"))
    if within_watermark is not None:
        deduped = hashed.withWatermark(ts_col, within_watermark).dropDuplicatesWithinWatermark(
            ["text_hash"]
        )
    else:
        deduped = hashed.dropDuplicates(["text_hash"])
    _MEMSINK_COUNTER[0] += 1
    name = f"dedup_stream_{_MEMSINK_COUNTER[0]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)

