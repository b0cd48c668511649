"""Index v2: varint codec roundtrip + rank/score identity of the block-max
WAND scorer vs the exact v1 join scorer."""

from collections import defaultdict

import numpy as np
import pytest

from fusion_spark import blocks
from fusion_spark.blocks import (
    PackedIndex,
    VarintDecodeError,
    varint_decode,
    varint_encode,
    wand_search,
)
from fusion_spark.indexing import build_index
from fusion_spark.scoring import search


def test_varint_roundtrip_small():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**50], dtype=np.uint64)
    blob = varint_encode(vals)
    out = varint_decode(blob, len(vals))
    assert out.tolist() == vals.tolist()


def test_varint_roundtrip_random():
    rng = np.random.default_rng(42)
    for _ in range(5):
        vals = rng.integers(0, 2**40, size=rng.integers(1, 500)).astype(np.uint64)
        assert varint_decode(varint_encode(vals), len(vals)).tolist() == vals.tolist()


def test_varint_empty():
    assert varint_encode(np.zeros(0, dtype=np.uint64)) == b""
    assert varint_decode(b"", 0).tolist() == []


def test_varint_truncated_blob_raises():
    blob = varint_encode(np.array([300, 5, 70000], dtype=np.uint64))
    with pytest.raises(VarintDecodeError, match="truncated"):
        varint_decode(blob[:-1], 3)  # cut inside the last value
    with pytest.raises(VarintDecodeError, match="holds 2 values, expected 3"):
        varint_decode(blob[:3], 3)  # cut at a value boundary
    with pytest.raises(VarintDecodeError):
        varint_decode(b"", 2)
    # all-1-byte shape: one value short of the count
    with pytest.raises(VarintDecodeError, match="holds 2 values, expected 3"):
        varint_decode(varint_encode(np.array([1, 2], dtype=np.uint64)), 3)


def test_varint_overlong_blob_raises():
    blob = varint_encode(np.array([300, 5, 70000], dtype=np.uint64))
    with pytest.raises(VarintDecodeError, match="holds 3 values, expected 2"):
        varint_decode(blob, 2)
    with pytest.raises(VarintDecodeError, match="expected 0"):
        varint_decode(blob, 0)
    # all-1-byte shape, one value too many
    with pytest.raises(VarintDecodeError, match="holds 4 values, expected 3"):
        varint_decode(bytes([1, 2, 3, 4]), 3)
    # length equals the count but a continuation byte merges two values:
    # the 1-byte fast path must not accept it
    with pytest.raises(VarintDecodeError, match="holds 2 values, expected 3"):
        varint_decode(bytes([0x81, 0x01, 0x05]), 3)
    assert issubclass(VarintDecodeError, ValueError)


def _collect(df):
    got = defaultdict(list)
    for r in df.orderBy("qid", "rank").collect():
        got[r["qid"]].append((r["doc_id"], r["score"]))
    return got


def _placements(monkeypatch):
    """Force each placement of the WAND kernel in turn: a driver bound of 0
    sends every chunk through the segment-shuffled pass, one above any
    exposure scores every chunk on the driver."""
    for name, bound in (("shuffled", 0), ("driver", 10**12)):
        monkeypatch.setattr(blocks, "DRIVER_SCORE_MAX_POSTINGS", bound)
        yield name


def _termstats_dict(packed):
    return {r["term"]: (r["df"], r["idf"]) for r in packed.termstats.collect()}


def _request(spark, store, text, group, n_qids=1):
    """One wand_search request, its collect included, under job group
    `group`: (rows, Spark jobs submitted, their stages). The caller's job
    description must survive the call."""
    sc = spark.sparkContext
    q = spark.createDataFrame(
        [(qid, text) for qid in range(1, n_qids + 1)], "qid long, question string"
    )
    sc.setJobGroup(group, "caller")
    try:
        out = wand_search(store, q, k=5, k1=2.5, b=0.2)
        rows = out.collect()
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert out.schema.simpleString() == "struct<qid:bigint,doc_id:bigint,score:double,rank:int>"
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    return rows, len(jobs), len(stages)


@pytest.mark.parametrize("variant,k1,b", [("bm25", 2.5, 0.2), ("bm25", 1.5, 0.75), ("tfidf", 0, 0)])
def test_wand_identical_to_exact(spark, docs_df, queries_df, variant, k1, b, monkeypatch):
    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content", variant=variant)
    packed = PackedIndex.from_index(idx, segment_size=16)  # 64 docs → 4 segments
    exact = _collect(search(idx, queries_df, k=10, k1=k1, b=b, zero_tail=False))
    for placement in _placements(monkeypatch):
        wand = _collect(wand_search(packed, queries_df, k=10, k1=k1, b=b))
        assert set(wand) == set(exact), placement
        for qid in exact:
            assert [d for d, _ in wand[qid]] == [d for d, _ in exact[qid]], (placement, qid)
            for (_, a), (_, b_) in zip(wand[qid], exact[qid]):
                assert a == pytest.approx(b_, abs=1e-9)


def test_packed_roundtrip_persistence(spark, docs_df, tmp_path):
    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    packed = PackedIndex.from_index(idx, segment_size=16)
    packed.write(str(tmp_path / "packed"))
    loaded = PackedIndex.read(spark, str(tmp_path / "packed"))
    assert loaded.term_dict == _termstats_dict(loaded)
    assert loaded.n_docs == packed.n_docs
    assert loaded.avgdl == pytest.approx(packed.avgdl)
    assert loaded.blocks.count() == packed.blocks.count()
    # blocks decode to the same postings count
    import pyspark.sql.functions as F

    n_post = idx.postings.count()
    assert loaded.blocks.agg(F.sum("n_docs")).collect()[0][0] == n_post


def test_merge_packed_equals_monolithic(spark, docs_df, queries_df, tmp_path):
    """Two disjoint-shard packed stores merged == one monolithic packed
    build, down to identical WAND search results."""
    from pyspark.sql import functions as F

    from fusion_spark.blocks import merge_packed

    full_idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    mono = PackedIndex.from_index(full_idx, segment_size=16)

    shards = []
    for i, cond in enumerate(["doc_id < 32", "doc_id >= 32"]):
        part_idx = build_index(
            docs_df.filter(cond), doc_id_col="doc_id", text_col="content"
        )
        # shard stats (N, avgdl, df) are per-shard here; merge must fix them up
        p = PackedIndex.from_index(part_idx, segment_size=16)
        path = str(tmp_path / f"shard{i}")
        p.write(path)
        shards.append(path)

    merged = merge_packed(spark, shards)
    assert merged.n_docs == mono.n_docs
    assert merged.avgdl == pytest.approx(mono.avgdl)
    ts_m = _termstats_dict(merged)
    ts_o = _termstats_dict(mono)
    # the term dictionaries hold the stored values exactly
    assert merged.term_dict == ts_m
    assert mono.term_dict == ts_o
    assert set(ts_m) == set(ts_o)
    for t in ts_o:
        assert ts_m[t][0] == ts_o[t][0]
        assert ts_m[t][1] == pytest.approx(ts_o[t][1], abs=1e-12)

    a = _collect(wand_search(merged, queries_df, k=10, k1=2.5, b=0.2))
    b = _collect(wand_search(mono, queries_df, k=10, k1=2.5, b=0.2))
    assert set(a) == set(b)
    for qid in b:  # merged avgdl/idf may differ from monolithic by ~1 ulp
        assert [d for d, _ in a[qid]] == [d for d, _ in b[qid]]
        for (_, x), (_, y) in zip(a[qid], b[qid]):
            assert x == pytest.approx(y, rel=1e-12, abs=1e-12)


def test_block_bounds_are_safe(spark, docs_df, queries_df):
    """Every exact partial must be ≤ its block bound (skipping is score-safe)."""
    import math

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    packed = PackedIndex.from_index(idx, segment_size=16)
    k1, b = 2.5, 0.2
    blocks = {(r["term"], r["segment"]): r for r in packed.blocks.collect()}
    idfs = {r["term"]: r["idf"] for r in idx.termstats.collect()}
    for r in idx.postings.collect():
        blk = blocks[(r["term"], r["doc_id"] // 16)]
        idf = idfs[r["term"]]
        exact = idf * (r["tf"] * (k1 + 1)) / (r["tf"] + k1 * (1 - b + b * r["dl"] / idx.avgdl))
        if idf <= 0:
            bound = 0.0
        else:
            bound = idf * (blk["max_tf"] * (k1 + 1)) / (
                blk["max_tf"] + k1 * (1 - b + b * blk["min_dl"] / idx.avgdl)
            )
        assert exact <= bound + 1e-12


def test_search_auto_planner(spark, docs_df, queries_df):
    from pyspark.sql import functions as F

    from fusion_spark.blocks import PackedIndex
    from fusion_spark.scoring import estimate_selectivity, search, search_auto

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    packed = PackedIndex.from_index(idx, segment_size=16)
    # hot-term queries touch a large fraction of postings
    sel = estimate_selectivity(idx, queries_df)
    assert 0 < sel <= 1
    out = search_auto(idx, packed, queries_df, k=5, k1=2.5, b=0.2)
    exact = search(idx, queries_df, k=5, k1=2.5, b=0.2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, exact.collect()))
    # a rare-term query is routed through WAND (threshold 1.0 forces it too)
    out2 = search_auto(idx, packed, queries_df, k=5, k1=2.5, b=0.2, wand_threshold=1.1)
    assert sorted((r["qid"], r["doc_id"]) for r in out2.collect()) == sorted(
        (r["qid"], r["doc_id"]) for r in exact.collect()
    )


def test_disk_store_wand_correct_even_when_files_split(
    spark, docs_df, queries_df, tmp_path, monkeypatch
):
    """Correctness guard: score_partition emits each (qid, doc_id) once only
    if a segment's rows reach one kernel call, and parquet files LARGER than
    spark.sql.files.maxPartitionBytes are split across input partitions on
    read — so the shuffled pass must repartition("segment") even for
    disk-backed stores, and the driver pass must score one batch. Force
    pathological file splitting and assert identity on both placements."""
    import contextlib
    import io

    from fusion_spark.blocks import _wand_candidates

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    packed = PackedIndex.from_index(idx, segment_size=64)
    packed.write(str(tmp_path / "store"))

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
        disk = PackedIndex.read(spark, str(tmp_path / "store"))
        # wand_search returns a driver-merged local relation, so the plan
        # guard reads the internal scoring frame it collects
        term = disk.termstats.first()["term"]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            _wand_candidates(disk, {term: [(1, 1, 1.0)]}, [1], 5, 2.5, 0.2).explain(
                "formatted"
            )
        assert "hashpartitioning(segment" in buf.getvalue()
        got = {p: _collect(wand_search(disk, queries_df, k=5, k1=2.5, b=0.2))
               for p in _placements(monkeypatch)}
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    b = _collect(search(idx, queries_df, k=5, k1=2.5, b=0.2))
    assert got == {"shuffled": b, "driver": b}


def test_pack_rejects_negative_doc_ids(spark):
    docs = spark.createDataFrame([(-1, "a b c"), (2, "a b")], "doc_id long, text string")
    idx = build_index(docs, doc_id_col="doc_id", text_col="text")
    with pytest.raises(Exception, match="doc_id >= 0"):
        PackedIndex.from_index(idx, segment_size=64).blocks.collect()


def test_wand_identical_under_planted_hot_term(spark, queries_df):
    """Extreme skew: one term in EVERY doc (plus its own rare terms) — the
    segment sharding must keep the packed path rank-identical to exact."""
    rows = [(i, f"return extra{i % 7} t{i}") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_index(docs, doc_id_col="doc_id", text_col="text")
    packed = PackedIndex.from_index(idx, segment_size=32)
    assert packed.term_dict == _termstats_dict(packed)
    assert packed.term_dict["return"][1] < 0  # df > N/2: BM25 idf is negative
    qs = spark.createDataFrame(
        [(1, "return extra3"), (2, "t17 return"), (3, "return return")],
        "qid long, question string",
    )
    assert _collect(wand_search(packed, qs, k=10, k1=1.5, b=0.75)) == _collect(
        search(idx, qs, k=10, k1=1.5, b=0.75)
    )


def test_wand_chunked_identical_to_single_pass(spark, docs_df, monkeypatch):
    """qid chunking is result-invariant: a 40-query batch forced through
    8-qid chunks must equal the unchunked pass bit-for-bit (this is the
    bounded-memory path for large offline batches), on both placements."""
    from pyspark.sql import functions as F

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    packed = PackedIndex.from_index(idx, segment_size=16)
    vocab = [r["term"] for r in idx.termstats.orderBy(F.desc("df")).limit(12).collect()]
    qs = spark.createDataFrame(
        [(i, " ".join(vocab[(i + j) % len(vocab)] for j in range(3))) for i in range(40)],
        "qid long, question string",
    )
    got = {}
    for placement in _placements(monkeypatch):
        chunked = _collect(
            wand_search(packed, qs, k=7, k1=2.5, b=0.2, max_queries_per_chunk=8)
        )
        got[placement] = _collect(wand_search(packed, qs, k=7, k1=2.5, b=0.2))
        assert chunked == got[placement], placement
    assert got["driver"] == got["shuffled"]


def test_search_auto_routes_big_batches_off_wand(spark, docs_df, queries_df):
    """|queries|·k over the budget must take the join scorer — asserted by
    passing a poison `packed` that explodes if the WAND path touches it."""
    from fusion_spark.scoring import search, search_auto

    class _Poison:
        def __getattr__(self, name):  # pragma: no cover - only on wrong route
            raise AssertionError("WAND path must not be taken for big batches")

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    n_q = queries_df.count()
    out = search_auto(
        idx, _Poison(), queries_df, k=5, k1=2.5, b=0.2,
        wand_threshold=1.1,  # selectivity alone would pick WAND
        wand_max_query_work=n_q * 5 - 1,  # ...but the work bound vetoes it
    )
    exact = search(idx, queries_df, k=5, k1=2.5, b=0.2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, exact.collect()))


def test_wand_mega_batch_guard_raises(spark, docs_df):
    """A direct wand_search call needing more than max_chunks_per_plan
    chunks must raise (pointing at search_auto) instead of running hundreds
    of chunked passes with every query's terms and top-k on the driver
    (r3 verdict #4)."""
    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    packed = PackedIndex.from_index(idx, segment_size=16)
    vocab = [r["term"] for r in idx.termstats.limit(3).collect()]
    qs = spark.createDataFrame(
        [(i, vocab[i % len(vocab)]) for i in range(9)], "qid long, question string"
    )
    with pytest.raises(ValueError, match="max_chunks_per_plan"):
        wand_search(packed, qs, k=2, max_queries_per_chunk=2, max_chunks_per_plan=4)
    # at-or-below the bound still chunks and runs (9 qids / 5 = 2 chunks)
    ok = wand_search(packed, qs, k=2, max_queries_per_chunk=5, max_chunks_per_plan=2)
    assert ok.count() > 0


def test_search_auto_clamps_bound_to_wand_capacity(spark, docs_df, queries_df, monkeypatch):
    """r4 advice (high): for small k the work budget alone admits batches the
    chunked WAND planner refuses (it raises above max_queries_per_chunk ·
    max_chunks_per_plan chunks) — search_auto must clamp its routing bound to
    wand_search's real capacity and fall back to the join scorer instead of
    crashing through. Capacity is read from wand_search's signature, so a
    tiny-capacity stand-in exercises the clamp without 65k queries."""
    import fusion_spark.blocks as blocks
    from fusion_spark.scoring import search, search_auto

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    calls = []

    def tiny_wand(packed, queries, *, k=10, k1=1.5, b=0.75, mode="simple",
                  max_queries_per_chunk=2, max_chunks_per_plan=2):
        calls.append(k)
        return search(idx, queries, k=k, k1=k1, b=b, mode=mode)

    monkeypatch.setattr(blocks, "wand_search", tiny_wand)

    class _Poison:
        def __getattr__(self, name):  # pragma: no cover - only on wrong route
            raise AssertionError("WAND path must not be taken above its capacity")

    # 12 queries > fake capacity 2·2=4, yet k=1 leaves the work budget wide
    # open (2M/1) — before the clamp this routed into wand_search and raised
    out = search_auto(idx, _Poison(), queries_df, k=1, wand_threshold=1.1,
                      wand_max_query_work=2_000_000)
    assert calls == [] and out.count() > 0
    # at-or-below capacity the WAND path stays reachable under the same knobs
    search_auto(idx, object(), queries_df.limit(4), k=1, wand_threshold=1.1,
                wand_max_query_work=2_000_000).collect()
    assert calls == [1]


def test_pack_group_spanning_arrow_batches(spark):
    """The partition-vectorized pack (r7) receives a partition as an
    ITERATOR of Arrow batches (default maxRecordsPerBatch 10k); a single
    (term, segment) block bigger than one batch must still pack into ONE
    contiguous delta-encoded block. 25k docs sharing one term → one group
    spanning >=3 batches."""
    from pyspark.sql import functions as F

    n = 25_000
    docs = spark.range(0, n).select(
        F.col("id").alias("doc_id"), F.lit("common").alias("text")
    )
    idx = build_index(docs, doc_id_col="doc_id", text_col="text")
    packed = PackedIndex.from_index(idx, segment_size=1 << 20)
    rows = packed.blocks.collect()
    assert len(rows) == 1
    blk = rows[0]
    assert blk["term"] == "common" and blk["n_docs"] == n
    deltas = varint_decode(bytes(blk["doc_blob"]), n).astype(np.int64)
    ids = np.cumsum(deltas) + blk["segment"] * (1 << 20)
    assert ids[0] == 0 and ids[-1] == n - 1
    assert np.array_equal(ids, np.arange(n))
    tfs = varint_decode(bytes(blk["tf_blob"]), n)
    assert tfs.min() == tfs.max() == 1


def test_auto_segment_size_model_and_bounds(spark):
    """auto_segment_size picks the smallest power-of-two S whose expected
    mean postings/block (Σdf / Σ min(df, ceil(n_docs/S))) reaches the
    target — hand-computed on a synthetic df distribution; clamps to hi
    when even the largest candidate can't reach it."""
    from fusion_spark.blocks import auto_segment_size

    # 100 rare terms df=2 + 1 hot term df=50_000 over 1M docs.
    rows = [(f"r{i}", 2, 0.1) for i in range(100)] + [("hot", 50_000, 0.1)]
    ts = spark.createDataFrame(rows, "term string, df long, idf double")
    n_docs = 1_000_000
    # Python twin of the model, over the candidate ladder
    import math

    def expected(target, lo=1 << 12, hi=1 << 22):
        s = lo
        while s <= hi:
            nseg = math.ceil(n_docs / s)
            blocks = sum(min(df, nseg) for _, df, _ in rows)
            postings = sum(df for _, df, _ in rows)
            if postings / blocks >= target:
                return s
            s <<= 1
        return hi

    for target in (16, 64, 256):
        assert auto_segment_size(ts, n_docs, target) == expected(target)
    # unreachable target → hi clamp
    assert auto_segment_size(ts, n_docs, 10**9) == 1 << 22


def test_pack_auto_segment_identical_to_explicit(spark, docs_df, queries_df):
    """segment_size='auto' must produce byte-identical blocks to packing
    with the resolved integer, and WAND over it stays rank-identical to
    the exact scorer."""
    from fusion_spark.blocks import auto_segment_size

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    auto_packed = PackedIndex.from_index(idx, segment_size="auto")
    resolved = auto_segment_size(idx.termstats, idx.n_docs)
    assert auto_packed.segment_size == resolved
    explicit = PackedIndex.from_index(idx, segment_size=resolved)

    def blobs(p):
        return sorted(
            (r["term"], r["segment"], bytes(r["doc_blob"]), bytes(r["tf_blob"]))
            for r in p.blocks.collect()
        )

    assert blobs(auto_packed) == blobs(explicit)
    exact = _collect(search(idx, queries_df, k=10, k1=2.5, b=0.2, zero_tail=False))
    wand = _collect(wand_search(auto_packed, queries_df, k=10, k1=2.5, b=0.2))
    for qid in exact:
        assert [d for d, _ in wand[qid]] == [d for d, _ in exact[qid]]


def test_pack_num_partitions_identical_blocks(spark, docs_df):
    """Explicit num_partitions (the r7 advice memory-model knob) must not
    change ANY block bytes — only task layout; and pack_shuffle_partitions
    encodes ~1.5M postings/task, power-of-two, cores*2 floor."""
    from fusion_spark.blocks import pack_index, pack_shuffle_partitions

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")

    def blobs(df):
        return sorted(
            (r["term"], r["segment"], bytes(r["doc_blob"]), bytes(r["tf_blob"]),
             bytes(r["dl_blob"]))
            for r in df.collect()
        )

    base = blobs(pack_index(idx, segment_size=16))
    assert blobs(pack_index(idx, segment_size=16, num_partitions=3)) == base
    assert blobs(pack_index(idx, segment_size=16, num_partitions=17)) == base

    assert pack_shuffle_partitions(99_200_000, cores=8) == 64
    assert pack_shuffle_partitions(1_000, cores=8) == 16      # cores*2 floor
    assert pack_shuffle_partitions(10**12, cores=8) == 65_536  # cap


def test_pack_identical_to_reference_encoder(spark, docs_df):
    """The pack kernel (Spark reduce-side sort + a streaming boundary /
    reduceat pass) must emit the block set of a plain per-group encoder —
    same groups, same stats, same blob bytes. Run with the Arrow batch size
    forced tiny so groups span many batches and the carry-over path (tail
    group held back and prepended to the next batch) is actually exercised,
    including a group larger than one whole batch."""
    from fusion_spark.blocks import pack_index

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    postings = idx.postings.toPandas()

    def reference(segment_size):
        rows = []
        p = postings.assign(segment=postings["doc_id"] // segment_size)
        for (term, seg), g in p.groupby(["term", "segment"]):
            g = g.sort_values("doc_id")
            doc, tf, dl = (g[c].to_numpy(np.int64) for c in ("doc_id", "tf", "dl"))
            deltas = np.diff(doc, prepend=seg * segment_size)
            rows.append((term, int(seg), len(g), int(tf.max()), int(dl.min()),
                         *(varint_encode(a.astype(np.uint64)) for a in (deltas, tf, dl))))
        return sorted(rows)

    def blobs(df):
        return sorted(
            (r["term"], r["segment"], r["n_docs"], r["max_tf"], r["min_dl"],
             bytes(r["doc_blob"]), bytes(r["tf_blob"]), bytes(r["dl_blob"]))
            for r in df.collect()
        )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")  # 64 docs, seg 64 → hot-term groups >> 7 rows
        tiny = blobs(pack_index(idx, segment_size=64, num_partitions=2))
        spark.conf.set(key, "10000")
        big = blobs(pack_index(idx, segment_size=64, num_partitions=2))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    ref = reference(64)
    assert tiny == ref
    assert big == ref
    # and a second layout, small segments (many tiny groups)
    assert blobs(pack_index(idx, segment_size=16)) == reference(16)


def test_pack_num_partitions_auto_default(spark, docs_df):
    """num_partitions defaults to "auto" (r9 verdict #1): resolution applies
    pack_shuffle_partitions to the real postings count at the session's
    parallelism, and the auto default's blocks are byte-identical to an
    explicit count (layout-only knob)."""
    from fusion_spark.blocks import (
        _resolve_pack_params, pack_index, pack_shuffle_partitions,
    )

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    n_post = idx.postings.count()
    cores = spark.sparkContext.defaultParallelism
    _, resolved = _resolve_pack_params(idx, 16, "auto")
    assert resolved == pack_shuffle_partitions(n_post, cores=cores)

    def blobs(df):
        return sorted(
            (r["term"], r["segment"], bytes(r["doc_blob"]), bytes(r["tf_blob"]))
            for r in df.collect()
        )

    assert blobs(pack_index(idx, segment_size=16)) == blobs(
        pack_index(idx, segment_size=16, num_partitions=resolved)
    )


def test_auto_segment_size_sparse_ids_uses_id_range(spark):
    """r9 ADVICE: segments shard the doc-ID RANGE, not the doc count — with
    sparse ids (e.g. shard offsets, hashed ids) the model must count
    segments as id_range/S or it undercounts blocks and picks S too small.
    Same df distribution, ids spread 1000× wider → strictly larger S; and
    from_index(segment_size="auto") resolves through the real max(doc_id)."""
    from pyspark.sql import functions as F

    from fusion_spark.blocks import auto_segment_size

    rows = [(f"r{i}", 2, 0.1) for i in range(100)] + [("hot", 50_000, 0.1)]
    ts = spark.createDataFrame(rows, "term string, df long, idf double")
    n_docs = 1_000_000
    dense = auto_segment_size(ts, n_docs)
    sparse = auto_segment_size(ts, n_docs, id_range=1000 * n_docs)
    assert sparse > dense

    # end-to-end: same corpus, ids dilated ×64 — the auto pack must resolve
    # a segment size ≥ the dense corpus's (range grew, postings didn't)
    docs = spark.range(0, 2_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 7).cast("string")).alias("text"),
    )
    dense_idx = build_index(docs, doc_id_col="doc_id", text_col="text")
    dilated = docs.withColumn("doc_id", F.col("doc_id") * 64)
    sparse_idx = build_index(dilated, doc_id_col="doc_id", text_col="text")
    p_dense = PackedIndex.from_index(dense_idx, segment_size="auto")
    p_sparse = PackedIndex.from_index(sparse_idx, segment_size="auto")
    assert p_sparse.segment_size >= p_dense.segment_size

    # the property the range model buys: the sparse store's ACHIEVED mean
    # postings/block still reaches the target (64). The dense model would
    # have kept the dense corpus's S and realized ~9 postings/block here
    # (64× more segments than it modelled — the metadata-overhead regime).
    def mean_ppb(p):
        import pyspark.sql.functions as SF
        r = p.blocks.agg(
            SF.sum("n_docs").alias("p"), SF.count("*").alias("b")
        ).collect()[0]
        return r["p"] / r["b"]

    assert mean_ppb(p_sparse) >= 64


def test_merge_packed_rejects_overlapping_doc_ranges(spark, docs_df, tmp_path):
    """r9 verdict #2: merge_packed's disjointness precondition is enforced —
    two stores packing the SAME doc range raise a loud error at segment
    granularity; check_disjoint=False remains the documented escape hatch
    for interleaved-but-disjoint shards (caller's burden)."""
    from fusion_spark.blocks import merge_packed

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    p = PackedIndex.from_index(idx, segment_size=16)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    p.write(a)
    p.write(b)
    with pytest.raises(ValueError, match="OVERLAPPING"):
        merge_packed(spark, [a, b])
    forced = merge_packed(spark, [a, b], check_disjoint=False)
    assert forced.n_docs == 2 * idx.n_docs


def test_wand_request_job_count(spark, docs_df, tmp_path, monkeypatch):
    """The serving path's fixed cost, pinned structurally: a fresh handle's
    first matched request submits ≤ 3 Spark jobs (query terms, term
    dictionary fill, block read). From then on the handle reads no
    termstats: a matched request, its collect included, is 2 jobs in 3
    stages when scored on the driver (the query terms take 2 stages, the
    block read 1), ≤ 3 jobs when forced through the shuffled pass (segment
    shuffle + score collect in place of the block read), a no-match request
    1 job in 2 stages, and the caller's job description survives. The
    bound counts a term once per qid that holds it: at a bound of one
    query's exposure that query stays on the driver, two queries of the
    same term take the shuffled pass."""
    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    PackedIndex.from_index(idx, segment_size=16).write(str(tmp_path / "store"))
    store = PackedIndex.read(spark, str(tmp_path / "store"))
    first = idx.termstats.orderBy("term").first()
    term = first["term"]
    shuffled_chunks = []
    candidates = blocks._wand_candidates
    monkeypatch.setattr(
        blocks, "_wand_candidates",
        lambda *a: shuffled_chunks.append(a[2]) or candidates(*a),
    )
    monkeypatch.setattr(
        blocks, "DRIVER_SCORE_MAX_POSTINGS", blocks._exposure(store, [(first["df"], 1)])
    )
    rows, jobs, _ = _request(spark, store, f"{term} {term}", "wand-jobs-first")
    assert len(rows) > 0 and jobs <= 3
    # a served handle submits no termstats job again
    monkeypatch.setattr(store, "termstats", None)
    again, jobs, stages = _request(spark, store, f"{term} {term}", "wand-jobs-matched")
    assert again == rows and (jobs, stages) == (2, 3) and shuffled_chunks == []
    _request(spark, store, f"{term} {term}", "wand-jobs-two-qids", n_qids=2)
    assert shuffled_chunks == [[1, 2]]
    monkeypatch.setattr(blocks, "DRIVER_SCORE_MAX_POSTINGS", 0)
    shuffled, jobs, _ = _request(spark, store, f"{term} {term}", "wand-jobs-shuffled")
    assert shuffled == rows and jobs <= 3
    rows, jobs, stages = _request(spark, store, "zzzznotaterm", "wand-jobs-nomatch")
    assert rows == [] and (jobs, stages) == (1, 2)


def test_wand_census_collect_is_bounded(spark, docs_df):
    """r9 verdict #7: the query-term collect must not collect an unbounded
    frame — above max_queries_per_chunk × max_chunks_per_plan the call
    fails fast with the contract named (and the limit() means at most
    cap+1 query rows ever reached the driver)."""
    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    packed = PackedIndex.from_index(idx, segment_size=16)
    vocab = [r["term"] for r in idx.termstats.limit(3).collect()]
    qs = spark.createDataFrame(
        [(i, vocab[i % len(vocab)]) for i in range(5)], "qid long, question string"
    )
    with pytest.raises(ValueError, match="distinct qids"):
        wand_search(packed, qs, k=2, max_queries_per_chunk=2, max_chunks_per_plan=2)


def test_compact_if_thresholds_and_idempotence(
    spark, docs_df, queries_df, tmp_path, monkeypatch
):
    """r10 #6: compact_if serves the cheap merged union below the file-count
    threshold, triggers the block-level rewrite above it, and on a repeat
    call with an unchanged store serves the existing compaction with zero
    work — all three decisions query-identical to the monolithic pack, the
    union on both placements. The union's termstats is a lazy aggregate over
    the shard stats; it runs once per handle, not once per request."""
    import glob
    import json
    import os

    from fusion_spark.blocks import build_packed_resumable, compact_if

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    store = str(tmp_path / "qstore")
    build_packed_resumable(
        spark, docs_df, store, n_shards=3, text_col="content", segment_size=16
    )
    n_files = len(glob.glob(os.path.join(store, "shard=*", "blocks", "*.parquet")))
    assert n_files >= 2
    mono = PackedIndex.from_index(idx, segment_size=16)

    def topk(p):
        return sorted(
            (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in wand_search(p, queries_df, k=5, k1=2.5, b=0.2).collect()
        )

    want = topk(mono)

    # below threshold → union, nothing written
    p, decision = compact_if(spark, store, threshold_files=n_files)
    assert decision == "union"
    assert not os.path.exists(os.path.join(store, "compacted"))
    for placement in _placements(monkeypatch):
        assert topk(p) == want, placement
    assert p.term_dict == _termstats_dict(p)
    term = min(p.term_dict)
    monkeypatch.setattr(p, "termstats", None)
    for i in range(2):
        rows, jobs, _ = _request(spark, p, term, f"wand-union-jobs-{i}")
        assert len(rows) > 0 and jobs <= 2
    monkeypatch.undo()

    # above threshold → compacted store written + signature stamped
    p, decision = compact_if(spark, store, threshold_files=n_files - 1)
    assert decision == "compacted"
    assert os.path.exists(os.path.join(store, "compacted", "_source.json"))
    assert topk(p) == want

    # unchanged store → served from the existing compaction, zero rewrite
    m = os.path.getmtime(os.path.join(store, "compacted", "meta.json"))
    p, decision = compact_if(spark, store, threshold_files=n_files - 1)
    assert decision == "already-compacted"
    assert os.path.getmtime(os.path.join(store, "compacted", "meta.json")) == m
    assert topk(p) == want

    # a changed shard set invalidates the stale compaction: signature
    # mismatch → the threshold decision re-runs, not "already". Simulate
    # the change by dropping a shard (doc-id ranges stay disjoint, so the
    # merge guard keeps holding — a copied shard would rightly trip it):
    # its directory and its manifest row, since the manifest is the shard set.
    import shutil as _shutil

    shards = sorted(glob.glob(os.path.join(store, "shard=*")))
    assert len(shards) >= 2  # need one left after the drop
    _shutil.rmtree(shards[-1])
    dropped = int(shards[-1].rsplit("=", 1)[1])
    manifest = os.path.join(store, "_manifest.jsonl")
    with open(manifest) as f:
        lines = [ln for ln in f if json.loads(ln).get("shard") != dropped]
    with open(manifest, "w") as f:
        f.writelines(lines)
    _, decision = compact_if(spark, store, threshold_files=10_000)
    assert decision == "union"

    with pytest.raises(ValueError, match="no shard"):
        compact_if(spark, str(tmp_path / "nothing"), threshold_files=1)


def test_compact_if_concurrent_wave_between_decision_and_stamp(
    spark, docs_df, queries_df, tmp_path, monkeypatch
):
    """r10 verdict #6: an ingest wave landing BETWEEN compact_if's decision
    and its signature stamp must never be masked — the marker records the
    signature captured at decision time, so the next quiesce sees a
    mismatch and recompacts instead of serving the stale compaction. The
    stamp itself is temp+rename (no torn marker on crash)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from fusion_spark import blocks as B
    from fusion_spark import shards

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    store = str(tmp_path / "cstore")
    B.build_packed_resumable(
        spark, docs_df, store, n_shards=2, text_col="content", segment_size=16
    )

    # the "concurrent" wave: a disjoint higher-id shard prepared up front
    late_docs = docs_df.select(
        (F.col("doc_id") + 64).alias("doc_id"), F.col("content")
    )
    late_idx = build_index(late_docs, doc_id_col="doc_id", text_col="content")
    late_path = str(tmp_path / "late_shard")
    B.PackedIndex.from_index(late_idx, segment_size=16).write(late_path)

    real_merge = B.merge_packed
    injected = {"done": False}

    def racy_merge(spark_, paths, **kw):
        out = real_merge(spark_, paths, **kw)
        if not injected["done"]:
            # the wave lands after the merge read but before the stamp
            late_shard = os.path.join(store, "shard=9990")
            shutil.copytree(late_path, late_shard)
            shards.append(store, {"shard": 9990, "status": "ok",
                                  **B.packed_shard_row(spark_, late_shard)})
            injected["done"] = True
        return out

    monkeypatch.setattr(B, "merge_packed", racy_merge)
    p, decision = B.compact_if(spark, store, threshold_files=0)
    assert decision == "compacted"
    assert injected["done"]
    # atomic stamp: the temp file never survives
    assert not glob.glob(os.path.join(store, "compacted", "_source.json.tmp"))

    # next quiesce: the marker holds the PRE-WAVE signature → recompacted,
    # and the served store now includes the late wave's docs
    monkeypatch.setattr(B, "merge_packed", real_merge)
    p2, decision2 = B.compact_if(spark, store, threshold_files=0)
    assert decision2 == "compacted"
    served_docs = {
        r["doc_id"]
        for r in wand_search(p2, queries_df, k=10, k1=2.5, b=0.2).collect()
    }
    assert any(d >= 64 for d in served_docs) or p2.n_docs == idx.n_docs + late_idx.n_docs


def test_merge_packed_guard_rejects_unparseable_store_paths(spark, docs_df, tmp_path):
    """r9 ADVICE: a blocks layout whose file paths don't match
    '<store>/blocks/<file>' (e.g. a partitioned blocks dir) must make the
    disjointness guard FAIL LOUDLY — '' store keys would otherwise collapse
    every store into one span and silently disable the check."""
    import json
    import os

    from fusion_spark.blocks import merge_packed

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    p = PackedIndex.from_index(idx, segment_size=16)
    bad = str(tmp_path / "badstore")
    # a nested (partitioned) blocks layout — one extra dir level
    p.blocks.write.partitionBy("segment").parquet(os.path.join(bad, "blocks"))
    p.termstats.write.parquet(os.path.join(bad, "termstats"))
    with open(os.path.join(bad, "meta.json"), "w") as f:
        json.dump(
            {"n_docs": p.n_docs, "avgdl": p.avgdl,
             "segment_size": p.segment_size, "variant": p.variant}, f)
    with pytest.raises(ValueError, match="could not attribute"):
        merge_packed(spark, [bad])


# ------------------------- fused build → packed store -----------------------


def _store_rows(spark, path):
    """Canonical comparable forms of a packed store's three artifacts."""
    import json

    blocks = sorted(
        (r["term"], r["segment"], r["n_docs"], r["max_tf"], r["min_dl"],
         bytes(r["doc_blob"]), bytes(r["tf_blob"]), bytes(r["dl_blob"]))
        for r in spark.read.parquet(f"{path}/blocks").collect()
    )
    stats = sorted(
        (r["term"], r["df"], round(r["idf"], 12))
        for r in spark.read.parquet(f"{path}/termstats").collect()
    )
    with open(f"{path}/meta.json") as f:
        meta = json.load(f)
    return blocks, stats, meta


def test_build_packed_identical_to_two_phase(spark, docs_df, queries_df, tmp_path):
    """The fused corpus→store build produces the SAME store as
    build_index → pack_index → write: block set byte-for-byte, termstats
    rows, meta — hence identical WAND results."""
    from fusion_spark.blocks import build_packed

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    two = str(tmp_path / "twophase")
    PackedIndex.from_index(idx, segment_size=16, num_partitions=4).write(two)
    fused_dir = str(tmp_path / "fused")
    fused = build_packed(
        docs_df, fused_dir, text_col="content",
        segment_size=16, num_partitions=4,
    )
    blocks_a, stats_a, meta_a = _store_rows(spark, two)
    blocks_b, stats_b, meta_b = _store_rows(spark, fused_dir)
    assert blocks_a == blocks_b
    assert stats_a == stats_b
    assert meta_a["n_docs"] == meta_b["n_docs"]
    assert meta_a["avgdl"] == pytest.approx(meta_b["avgdl"], rel=1e-12)
    assert meta_a["segment_size"] == meta_b["segment_size"] == 16
    assert meta_a["variant"] == meta_b["variant"]
    a = _collect(wand_search(PackedIndex.read(spark, two), queries_df, k=10))
    b = _collect(wand_search(fused, queries_df, k=10))
    assert a == b


def test_build_packed_auto_matches_exact_autos(spark, docs_df, tmp_path):
    """On a small corpus the sampled stats pass falls back to f=1.0 (exact),
    so the fused autos must resolve to exactly what _resolve_pack_params
    derives from the materialized index."""
    from fusion_spark.blocks import _resolve_pack_params, build_packed

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    seg, parts = _resolve_pack_params(idx, "auto", "auto")
    fused = build_packed(
        docs_df, str(tmp_path / "autostore"), text_col="content",
        segment_size="auto", num_partitions="auto",
    )
    assert fused.segment_size == seg


def test_build_packed_empty_and_negative_ids_raise(spark, tmp_path):
    from fusion_spark.blocks import build_packed

    empty = spark.createDataFrame([], "doc_id long, content string")
    with pytest.raises(ValueError, match="empty"):
        build_packed(empty, str(tmp_path / "e"), text_col="content")
    neg = spark.createDataFrame(
        [(-3, "alpha beta"), (1, "alpha")], "doc_id long, content string"
    )
    with pytest.raises(ValueError, match="doc_id >= 0"):
        build_packed(neg, str(tmp_path / "n"), text_col="content")


def test_build_packed_counts_tokenless_docs(spark, tmp_path):
    """Docs with no surviving tokens carry no postings but still count
    toward n_docs/avgdl — same contract as _finalize's docstats."""
    from fusion_spark.blocks import build_packed

    rows = [(0, "alpha beta alpha"), (1, ""), (2, "beta gamma")]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    fused = build_packed(
        docs, str(tmp_path / "tokenless"), text_col="content", segment_size=16
    )
    assert fused.n_docs == 3
    assert fused.avgdl == pytest.approx((3 + 0 + 2) / 3)
    idx = build_index(docs, doc_id_col="doc_id", text_col="content")
    assert fused.n_docs == idx.n_docs
    assert fused.avgdl == pytest.approx(idx.avgdl)


def test_pack_index_resumable_identity_and_skip(spark, docs_df, queries_df, tmp_path):
    """Pack-stage resumability: the sharded resumable build is WAND-identical
    to the monolithic pack of the same corpus (non-default k1/b), completed
    shards are skipped on restart (mtimes untouched), the lineage table has
    one row per shard in shard order accounting every posting, a dead run
    (a shard missing from the manifest) redoes only that shard, and a
    resume with different knobs is rejected via the manifest's plan line."""
    import json
    import os
    import shutil
    import time

    from fusion_spark.blocks import build_packed_resumable
    from fusion_spark.shards import lineage

    def run(n_shards=3):
        return build_packed_resumable(
            spark, docs_df, store, n_shards=n_shards, text_col="content",
            segment_size=16,
        )

    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    store = str(tmp_path / "rstore")
    merged = run()
    mono = PackedIndex.from_index(idx, segment_size=16)

    def topk(p):
        return sorted(
            (r["qid"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in wand_search(p, queries_df, k=5, k1=2.5, b=0.2).collect()
        )

    assert topk(merged) == topk(mono)
    assert merged.n_docs == mono.n_docs

    lin = lineage(spark, store).collect()
    assert [r["shard"] for r in lin] == sorted(r["shard"] for r in lin)
    assert sum(r["n_postings"] for r in lin) == idx.postings.count()

    # restart: every shard complete -> no shard store is rewritten
    shard_dirs = sorted(
        os.path.join(store, d) for d in os.listdir(store) if d.startswith("shard=")
    )
    assert len(shard_dirs) == len(lin) >= 2
    mtimes = {d: os.path.getmtime(os.path.join(d, "meta.json")) for d in shard_dirs}
    time.sleep(0.05)
    assert topk(run()) == topk(mono)
    for d, m in mtimes.items():
        assert os.path.getmtime(os.path.join(d, "meta.json")) == m

    # a dead run = some shards missing from the manifest: drop the last
    # shard's lineage row and its store; resume must redo ONLY that shard
    manifest = os.path.join(store, "_manifest.jsonl")
    lines = [ln for ln in open(manifest).read().splitlines() if ln.strip()]
    keep = [ln for ln in lines if json.loads(ln).get("shard") != lin[-1]["shard"]]
    with open(manifest, "w") as f:
        f.write("\n".join(keep) + "\n")
    shutil.rmtree(shard_dirs[-1])
    assert topk(run()) == topk(mono)
    for d, m in list(mtimes.items())[:-1]:
        assert os.path.getmtime(os.path.join(d, "meta.json")) == m

    # layout drift is rejected, not silently mixed
    with pytest.raises(ValueError, match="DIFFERENT shard layout"):
        run(n_shards=4)


def test_build_packed_resumable_identity_skip_and_plan_guard(
    spark, docs_df, queries_df, tmp_path
):
    """Sharded fused build == monolithic fused build (WAND-identical);
    completed shards are skipped on a re-run (byte-untouched); a resume
    with a different layout fails loudly."""
    import os

    from fusion_spark.blocks import build_packed, build_packed_resumable

    store = str(tmp_path / "fusedshards")
    merged = build_packed_resumable(
        spark, docs_df, store, n_shards=3, text_col="content", segment_size=16
    )
    mono = build_packed(
        docs_df, str(tmp_path / "fusedmono"), text_col="content",
        segment_size=16,
    )
    a = _collect(wand_search(merged, queries_df, k=10))
    b = _collect(wand_search(mono, queries_df, k=10))
    assert a == b
    assert merged.n_docs == mono.n_docs
    assert merged.avgdl == pytest.approx(mono.avgdl)

    # skip-on-restart: no shard store file is rewritten
    mtimes = {}
    for root, _dirs, files in os.walk(store):
        for fn in files:
            p = os.path.join(root, fn)
            mtimes[p] = os.path.getmtime(p)
    build_packed_resumable(
        spark, docs_df, store, n_shards=3, text_col="content", segment_size=16
    )
    for p, t in mtimes.items():
        if "_manifest" in p:
            continue
        assert os.path.getmtime(p) == t, f"shard file rewritten: {p}"

    with pytest.raises(ValueError, match="DIFFERENT shard layout"):
        build_packed_resumable(
            spark, docs_df, store, n_shards=5, text_col="content",
            segment_size=16,
        )


def test_build_packed_resumable_auto_adopts_manifest_segment_size(
    spark, docs_df, queries_df, tmp_path
):
    """A resume with segment_size='auto' adopts the manifest plan's resolved
    size instead of re-deriving it from the live corpus — re-derivation
    drifts with the df distribution and aborted resumes whose caller
    changed nothing."""
    from fusion_spark.blocks import build_packed, build_packed_resumable

    store = str(tmp_path / "astore")
    # the original run pins segment_size=16 in the plan line; auto would
    # derive something else entirely (the 4096 floor at this corpus size)
    build_packed_resumable(
        spark, docs_df, store, n_shards=2, text_col="content", segment_size=16
    )
    resumed = build_packed_resumable(
        spark, docs_df, store, n_shards=2, text_col="content",
        segment_size="auto",
    )
    assert resumed.segment_size == 16
    mono = build_packed(
        docs_df, str(tmp_path / "amono"), text_col="content", segment_size=16
    )
    assert _collect(wand_search(resumed, queries_df, k=5)) == _collect(
        wand_search(mono, queries_df, k=5)
    )


def test_build_packed_resumable_empty_corpus_raises(spark, tmp_path):
    """An empty corpus fails with the actual cause BEFORE a plan line is
    written, not later inside merge_packed's no-paths parquet read."""
    import os

    from fusion_spark.blocks import build_packed_resumable

    empty = spark.createDataFrame([], "doc_id long, content string")
    store = str(tmp_path / "estore")
    with pytest.raises(ValueError, match="empty"):
        build_packed_resumable(
            spark, empty, store, n_shards=2, text_col="content", segment_size=16
        )
    assert not os.path.exists(os.path.join(store, "_manifest.jsonl"))


def test_compact_if_ignores_shard_dir_missing_from_manifest(
    spark, docs_df, queries_df, tmp_path
):
    """Stale listing, one way: a half-written shard directory (blocks, no
    meta.json, no manifest row) is not part of the store — compact_if
    serves exactly the manifest's shard set."""
    import os
    import shutil

    from fusion_spark.blocks import build_packed_resumable, compact_if

    store = str(tmp_path / "extrastore")
    merged = build_packed_resumable(
        spark, docs_df, store, n_shards=2, text_col="content", segment_size=16
    )
    want = _collect(wand_search(merged, queries_df, k=10))
    shutil.copytree(
        os.path.join(store, "shard=0000", "blocks"),
        os.path.join(store, "shard=0099", "blocks"),
    )
    p, decision = compact_if(spark, store, threshold_files=10_000)
    assert decision == "union"
    assert p.n_docs == merged.n_docs
    assert _collect(wand_search(p, queries_df, k=10)) == want


@pytest.mark.parametrize("damage", ["shard_dir", "meta"])
def test_compact_if_listed_shard_missing_raises_named(
    spark, docs_df, tmp_path, damage
):
    """Stale listing, the other way: a manifest row whose shard directory
    or meta.json is gone raises a ValueError naming the shard, not a bare
    FileNotFoundError from the reader."""
    import os
    import shutil

    from fusion_spark.blocks import build_packed_resumable, compact_if

    store = str(tmp_path / "gonestore")
    build_packed_resumable(
        spark, docs_df, store, n_shards=2, text_col="content", segment_size=16
    )
    if damage == "shard_dir":
        shutil.rmtree(os.path.join(store, "shard=0001"))
    else:
        os.remove(os.path.join(store, "shard=0001", "meta.json"))
    with pytest.raises(ValueError, match="shard 1 is listed"):
        compact_if(spark, store, threshold_files=10_000)


def test_build_packed_resumable_sparse_ids_skip_empty_shards(
    spark, tmp_path
):
    """With sparse doc ids a middle span can be docless: it is recorded in
    the manifest (resume skips the probe) and excluded from the merge."""
    from fusion_spark.blocks import build_packed, build_packed_resumable, wand_search
    from fusion_spark.shards import read_manifest

    rows = [(i, f"alpha t{i} beta") for i in range(8)]
    rows += [(1000 + i, f"gamma t{i} delta") for i in range(8)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    store = str(tmp_path / "sparseshards")
    merged = build_packed_resumable(
        spark, docs, store, n_shards=8, text_col="content", segment_size=16
    )
    _plan, done = read_manifest(store)
    empties = [r for r in done.values() if r.get("empty")]
    assert empties, "expected at least one docless span"
    mono = build_packed(
        docs, str(tmp_path / "sparsemono"), text_col="content",
        segment_size=16,
    )
    queries = spark.createDataFrame(
        [(0, "alpha gamma"), (1, "t3 beta")], "qid long, question string"
    )
    a = _collect(wand_search(merged, queries, k=10))
    b = _collect(wand_search(mono, queries, k=10))
    assert a == b
    assert merged.n_docs == mono.n_docs == 16
