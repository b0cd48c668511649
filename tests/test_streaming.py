"""Structured Streaming operators: incremental packed-store ingest in waves
stays identical to a one-shot batch build over the corpus so far; windowed
counts, sessionization and dedup match their batch or complete-mode
counterparts."""

import contextlib

import pytest

from fusion_spark.indexing import build_index
from fusion_spark.scoring import search


def test_incremental_packed_compact_on_quiesce(spark, docs_df, queries_df, tmp_path):
    """r10 verdict #4 wiring: the packed ingest loop calls `compact_if` as
    its quiesce epilogue. Waves past the file threshold trigger exactly ONE
    compaction (repeat quiesce with unchanged shards serves the stamped
    store), a later wave invalidates the `_source.json` signature and
    recompacts, and WAND results stay identical to the exact batch scorer
    over the accumulated corpus at every step."""
    from fusion_spark.blocks import compact_if, pack_index, wand_search
    from fusion_spark.streaming import incremental_packed_stream

    landing = str(tmp_path / "landing")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    docs = docs_df.select("doc_id", docs_df["content"].alias("text"))

    # waves are doc_id RANGES aligned to the segment grid (segment_size=16):
    # streaming ingest appends monotonically growing ids, and merge_packed's
    # disjointness check (and therefore compact_if) validates shard spans at
    # SEGMENT granularity — the ingest contract is segment-aligned batch
    # boundaries; interleaved-but-disjoint layouts go through
    # merge_packed(check_disjoint=False) from a caller-owned quiesce instead
    bounds = [32, 48, 64]

    def wand_vs_exact(packed, upto_wave):
        seen = docs.filter(f"doc_id < {bounds[upto_wave]}")
        idx = build_index(seen, doc_id_col="doc_id", text_col="text")
        # the streamed store holds what a batch build of the same docs
        # holds: N, avgdl (exactly: each shard's n·avgdl is its integer
        # token total, so the merged mean is the same single division),
        # df/idf per term, and the block set of packing that build
        assert packed.n_docs == idx.n_docs
        assert packed.avgdl == idx.avgdl
        ts = idx.termstats.toPandas()
        assert packed.term_dict == dict(
            zip(ts["term"], zip(ts["df"].tolist(), ts["idf"].tolist())))
        assert sorted(map(tuple, packed.blocks.collect())) == sorted(
            map(tuple, pack_index(idx, segment_size=16).collect()))
        exact = search(idx, queries_df, k=10, k1=2.5, b=0.2)
        wand = wand_search(packed, queries_df, k=10, k1=2.5, b=0.2)
        ex = {}
        for r in exact.orderBy("qid", "rank").collect():
            ex.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
        wd = {}
        for r in wand.orderBy("qid", "rank").collect():
            wd.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
        assert set(wd) == set(ex)
        for qid in ex:
            assert [d for d, _ in wd[qid]] == [d for d, _ in ex[qid]], f"qid {qid}"
            for (_, a), (_, b) in zip(wd[qid], ex[qid]):
                assert a == pytest.approx(b, abs=1e-9)

    # wave 0: below any sane threshold — the quiesce serves the union
    docs.filter("doc_id < 32").write.mode("append").parquet(landing)
    packed, dec = incremental_packed_stream(
        spark, landing, store, ckpt, segment_size=16, compact_threshold_files=48
    )
    assert dec == "union"
    wand_vs_exact(packed, 0)

    # wave 1 with threshold 1: crosses it — exactly one compaction, and a
    # repeat quiesce with unchanged shards serves the stamped store
    docs.filter("doc_id >= 32 AND doc_id < 48").write.mode("append").parquet(landing)
    packed, dec = incremental_packed_stream(
        spark, landing, store, ckpt, segment_size=16, compact_threshold_files=1
    )
    assert dec == "compacted"
    packed2, dec2 = compact_if(spark, store, threshold_files=1)
    assert dec2 == "already-compacted"
    wand_vs_exact(packed2, 1)

    # wave 2: new shard invalidates the signature — recompacted, not stale
    docs.filter("doc_id >= 48").write.mode("append").parquet(landing)
    packed, dec = incremental_packed_stream(
        spark, landing, store, ckpt, segment_size=16, compact_threshold_files=1
    )
    assert dec == "compacted"
    wand_vs_exact(packed, 2)


def test_incremental_packed_empty_landing_is_defined(spark, tmp_path):
    """An ingest that has landed nothing yet returns (None, "empty") instead
    of raising from the quiesce's compact_if."""
    import os

    from fusion_spark.streaming import incremental_packed_stream

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    packed, dec = incremental_packed_stream(
        spark, landing, str(tmp_path / "store"), str(tmp_path / "ckpt"),
        segment_size=16,
    )
    assert (packed, dec) == (None, "empty")


def test_watermarked_append_matches_complete(spark, tmp_path):
    """The watermark+append file-sink variant emits exactly the complete-mode
    result for every real window once later sentinel batches advance the
    watermark past them (bounded-input backfill drive)."""
    import datetime
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from fusion_spark.streaming import windowed_event_counts, windowed_event_counts_watermarked

    events_path = "/root/testdata/sf0.001/events.parquet"
    landing = tmp_path / "landing"
    landing.mkdir()

    # file 1: the real events
    shutil.copy(events_path, landing / "a_events.parquet")
    max_ts = spark.read.parquet(events_path).agg(F.max("ts")).collect()[0][0]

    # files 2+3: sentinel heartbeats that advance event time far past every
    # real window end (+10h, +20h); two batches are needed because batch N's
    # watermark comes from batch N-1's max event time
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    for i, hours in enumerate((10, 20)):
        srow = spark.createDataFrame(
            [(10_000_000 + i, max_ts + datetime.timedelta(hours=hours), 0, "__sentinel__", 0.0, "")],
            schema,
        )
        d = tmp_path / f"sentinel{i}"
        srow.coalesce(1).write.parquet(str(d))
        part = glob.glob(str(d / "part-*.parquet"))[0]
        shutil.copy(part, landing / f"z{i}_sentinel.parquet")

    out = windowed_event_counts_watermarked(
        spark, str(landing), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    got = sorted(
        tuple(r) for r in out.filter(F.col("event_type") != "__sentinel__").collect()
    )
    want = sorted(tuple(r) for r in windowed_event_counts(spark, events_path).collect())
    assert got == want and len(got) > 0


def test_sessionize_stream_equals_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == batch gaps-and-islands twin
    on a bounded input (per-user sentinels close the open sessions)."""
    import datetime
    import glob
    import shutil

    from pyspark.sql import functions as F

    from fusion_spark.streaming import sessionize, sessionize_stream

    events_path = "/root/testdata/sf0.001/events.parquet"
    events = spark.read.parquet(events_path)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    users = [r["user_id"] for r in events.select("user_id").distinct().collect()]

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(events_path, landing / "a_events.parquet")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    sent = spark.createDataFrame(
        [
            (20_000_000 + i, max_ts + datetime.timedelta(days=10), u, "__sentinel__", 0.0, "")
            for i, u in enumerate(users)
        ],
        schema,
    )
    d = tmp_path / "sentinels"
    sent.coalesce(1).write.parquet(str(d))
    shutil.copy(glob.glob(str(d / "part-*.parquet"))[0], landing / "z_sentinels.parquet")

    out = sessionize_stream(spark, str(landing), str(tmp_path / "ckpt"))
    got = sorted(
        (
            r["user_id"],
            r["session_start"].strftime("%Y-%m-%d %H:%M:%S"),
            r["session_end"].strftime("%Y-%m-%d %H:%M:%S"),
            r["n_events"],
            round(r["sum_value"], 6),
        )
        # sentinel sessions stay OPEN in state → only real sessions emitted,
        # but guard anyway in case a sentinel landed within gap of real data
        for r in out.collect()
        if r["session_start"] <= max_ts
    )
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], round(r["sum_value"], 6))
        for r in sessionize(events).collect()
    )
    assert got == want and len(got) > 0


def test_sessionize_stream_late_event_within_watermark(spark, tmp_path):
    """An event arriving OUT OF EVENT-TIME ORDER across micro-batches (but
    within the watermark delay) must merge into the right session — the r2
    implementation's cross-batch ordering contract would silently split it.
    """
    import datetime
    import glob
    import shutil

    from fusion_spark.streaming import sessionize, sessionize_stream

    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)

    def mk(i, minutes, u=7, v=1.0):
        return (i, t0 + datetime.timedelta(minutes=minutes), u, "click", v, "")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    gap_us = 10 * 60 * 1_000_000  # 10-minute session gap
    # file1: 10:00, 10:05; file2: LATE 10:02 (older than file1's max) plus
    # 10:31 (> 10:05 + gap → second session); file3+4: heartbeats that push
    # the watermark past every end + gap + lateness
    files = [
        [mk(1, 0), mk(2, 5)],
        [mk(3, 2, v=10.0), mk(4, 31)],
        [mk(90, 24 * 60, u=99)],
        [mk(91, 48 * 60, u=99)],
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, rows in enumerate(files):
        d = tmp_path / f"f{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        shutil.copy(glob.glob(str(d / "part-*.parquet"))[0], landing / f"{i:02d}.parquet")

    out = sessionize_stream(
        spark, str(landing), str(tmp_path / "ckpt"), gap_us=gap_us, lateness="1 hour"
    )
    got = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"], r["sum_value"])
        for r in out.filter("user_id = 7").collect()
    )
    batch = spark.createDataFrame([e for f in files for e in f if e[2] == 7], schema)
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in sessionize(batch, gap_us=gap_us).collect()
    )
    assert got == want
    # the late 10:02 event must be INSIDE the first session (n=3, sum=12)
    assert got[0][3] == 3 and got[0][4] == 12.0


def test_dedup_stream_first_arrival_wins(spark, tmp_path):
    """Streaming exact dedup == batch drop_exact_duplicates when arrival
    order matches doc_id order: later re-fetches of seen content are
    dropped ACROSS micro-batches (state store), not just within one."""
    import glob
    import shutil
    import time

    from fusion_spark.extras.dedup import drop_exact_duplicates
    from fusion_spark.streaming import dedup_stream

    schema = "doc_id long, text string"
    files = [
        [(1, "alpha content"), (2, "beta content")],
        [(3, "alpha content"), (4, "gamma content")],   # 3 is a re-fetch of 1
        [(5, "beta content"), (6, "alpha content")],    # both re-fetches
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, rows in enumerate(files):
        d = tmp_path / f"f{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        shutil.copy(glob.glob(str(d / "part-*.parquet"))[0], landing / f"{i:02d}.parquet")
        time.sleep(0.05)  # file-source ordering is by modification time

    out = dedup_stream(spark, str(landing), str(tmp_path / "ckpt"))
    got = {r["doc_id"] for r in out.collect()}
    batch = spark.createDataFrame([r for f in files for r in f], schema)
    want = {r["doc_id"] for r in drop_exact_duplicates(batch).collect()}
    assert got == want == {1, 2, 4}


@contextlib.contextmanager
def _shuffle_partitions(spark, n):
    """sessionize_stream keys its state on pmod(hash(user_id), n) with n read
    from spark.sql.shuffle.partitions; a small n packs several users into
    one state bucket."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _buckets(spark, users, n):
    """{user_id: state bucket} under sessionize_stream's key at n buckets."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(u,) for u in users], "user_id long")
    return dict(df.select("user_id", F.pmod(F.hash("user_id"), F.lit(n))).collect())


def test_sessionize_stream_shared_buckets_equals_batch(spark, tmp_path):
    """Many users per state bucket (3 buckets; the kernel is vectorized
    across a bucket's users) must emit the SAME closed sessions as the batch
    twin, with one global heartbeat closing every bucket."""
    import datetime
    import glob
    import shutil

    from pyspark.sql import functions as F

    from fusion_spark.streaming import sessionize, sessionize_stream

    events_path = "/root/testdata/sf0.001/events.parquet"
    events = spark.read.parquet(events_path)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    users = [r["user_id"] for r in events.select("user_id").distinct().collect()]
    assert len(users) > len(set(_buckets(spark, users, 3).values()))

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy(events_path, landing / "a_events.parquet")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # one global heartbeat suffices: the event-time timeout is per BUCKET,
    # and the watermark is global — every bucket's open sessions close
    hb = spark.createDataFrame(
        [(20_000_000, max_ts + datetime.timedelta(days=365), 0, "__hb__", 0.0, "")],
        schema,
    )
    d = tmp_path / "hb"
    hb.coalesce(1).write.parquet(str(d))
    shutil.copy(glob.glob(str(d / "part-*.parquet"))[0], landing / "z_hb.parquet")

    with _shuffle_partitions(spark, 3):
        out = sessionize_stream(spark, str(landing), str(tmp_path / "ckpt"))
    got = sorted(
        (
            r["user_id"],
            r["session_start"].strftime("%Y-%m-%d %H:%M:%S"),
            r["session_end"].strftime("%Y-%m-%d %H:%M:%S"),
            r["n_events"],
            round(r["sum_value"], 6),
        )
        for r in out.collect()
        if r["session_start"] <= max_ts  # heartbeat's own session stays open
    )
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], round(r["sum_value"], 6))
        for r in sessionize(events).collect()
    )
    assert got == want and len(got) > 0


def test_sessionize_stream_late_event_shared_bucket(spark, tmp_path):
    """A late-but-within-watermark event must merge into the right session
    when its user shares a state bucket with another user (2 buckets, users
    7 and 9 collide): the interval-merge carries both users' open sessions."""
    import datetime
    import glob
    import shutil

    from fusion_spark.streaming import sessionize, sessionize_stream

    buckets = _buckets(spark, [7, 9], 2)
    assert buckets[7] == buckets[9]

    t0 = datetime.datetime(2026, 1, 1, 10, 0, 0)

    def mk(i, minutes, u=7, v=1.0):
        return (i, t0 + datetime.timedelta(minutes=minutes), u, "click", v, "")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    gap_us = 10 * 60 * 1_000_000
    files = [
        [mk(1, 0), mk(2, 5), mk(10, 1, u=9)],
        [mk(3, 2, v=10.0), mk(4, 31), mk(11, 3, u=9)],
        [mk(90, 24 * 60, u=99)],
        [mk(91, 48 * 60, u=99)],
    ]
    landing = tmp_path / "landing"
    landing.mkdir()
    for i, rows in enumerate(files):
        d = tmp_path / f"f{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        shutil.copy(glob.glob(str(d / "part-*.parquet"))[0], landing / f"{i:02d}.parquet")

    with _shuffle_partitions(spark, 2):
        out = sessionize_stream(
            spark, str(landing), str(tmp_path / "ckpt"), gap_us=gap_us,
            lateness="1 hour",
        )
    got = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"], r["sum_value"])
        for r in out.filter("user_id in (7, 9)").collect()
    )
    batch = spark.createDataFrame([e for f in files for e in f if e[2] in (7, 9)], schema)
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in sessionize(batch, gap_us=gap_us).collect()
    )
    assert got == want
    by_user = {(r[0], r[3]) for r in got}
    assert (7, 3) in by_user  # late 10:02 merged into the first session


def test_sessionize_stream_random_parity(spark, tmp_path):
    """Seeded-random stress for the kernel's cross-user vectorized merge:
    300 events, 15 users in 4 state buckets, irregular gaps straddling the
    session gap, sliced into 4 contiguous-time files with shuffled row order
    inside each (arrival order within a micro-batch is irrelevant;
    contiguous slices keep every event inside the watermark). Must equal
    the batch twin."""
    import glob
    import random
    import shutil
    from datetime import datetime, timedelta

    from fusion_spark.streaming import sessionize, sessionize_stream

    assert len(set(_buckets(spark, range(15), 4).values())) < 15

    rng = random.Random(20260817)
    t0 = datetime(2026, 2, 1, 0, 0, 0)
    gap_us = 10 * 60 * 1_000_000  # 10 min
    rows = []
    clocks = {u: t0 + timedelta(seconds=rng.randint(0, 3600)) for u in range(15)}
    for i in range(300):
        u = rng.randrange(15)
        # ~1/3 of steps exceed the gap -> multiple sessions per user
        step = rng.choice([30, 90, 300, 500, 700, 1200, 3600])
        clocks[u] += timedelta(seconds=step)
        rows.append((i, clocks[u], u, "e", rng.randint(0, 50) / 10.0, ""))
    rows.sort(key=lambda r: r[1])
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    landing = tmp_path / "landing"
    landing.mkdir()
    per = len(rows) // 4
    for i in range(4):
        chunk = rows[i * per: (i + 1) * per if i < 3 else len(rows)][:]
        rng.shuffle(chunk)  # in-file order is free; time slices stay contiguous
        d = tmp_path / f"f{i}"
        spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(str(d))
        shutil.copy(glob.glob(str(d / "part-*.parquet"))[0], landing / f"{i:02d}.parquet")
    hb = [(10**6, max(r[1] for r in rows) + timedelta(days=30), 0, "hb", 0.0, "")]
    d = tmp_path / "hb"
    spark.createDataFrame(hb, schema).coalesce(1).write.parquet(str(d))
    shutil.copy(glob.glob(str(d / "part-*.parquet"))[0], landing / "zz.parquet")

    with _shuffle_partitions(spark, 4):
        out = sessionize_stream(
            spark, str(landing), str(tmp_path / "ckpt"), gap_us=gap_us
        )
    max_real = max(r[1] for r in rows)
    got = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]),
         r["n_events"], round(r["sum_value"], 6))
        for r in out.collect() if r["session_start"] <= max_real
    )
    want = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"],
         round(r["sum_value"], 6))
        for r in sessionize(
            spark.createDataFrame(rows, schema), gap_us=gap_us
        ).collect()
    )
    assert got == want and len(got) > 30


def test_sessionize_stream_rejects_used_checkpoint(spark, tmp_path):
    """A second run on a committed checkpoint fails: the append-mode memory
    sink refuses recovery. This is why the state bucket count may be read
    from the live conf instead of being stored with the checkpoint."""
    import shutil

    from pyspark.errors import AnalysisException

    from fusion_spark.streaming import sessionize_stream

    landing = tmp_path / "landing"
    landing.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", landing / "a.parquet")
    ckpt = tmp_path / "ckpt"

    sessionize_stream(spark, str(landing), str(ckpt))
    assert any((ckpt / "commits").iterdir())
    with pytest.raises(
        AnalysisException, match="does not support recovering from checkpoint"
    ):
        sessionize_stream(spark, str(landing), str(ckpt))
