"""Packed posting blocks + block-max scoring — the north-star physical layer.

Index v2 layout: postings are packed per (term, segment) into docID-sorted,
delta + varint compressed binary blocks with per-block impact bounds:

    (term, segment, n_docs, max_tf, min_dl, doc_blob, tf_blob, dl_blob)

  * segment = doc_id // segment_size — a doc-range shard. Hot terms (`def`,
    `{`, …) split across segments automatically, so the groupBy(term,
    segment) packing has bounded per-group size and no reducer hotspot:
    the segment key IS the salt (SURVEY.md §4 skew row).
  * delta+varint: doc ids within a block are strictly increasing → gaps are
    small → 1-2 bytes each (vs 8-byte longs). Encoders are numpy-vectorized
    inside applyInPandas (Arrow batches; no per-row Python).
  * impact bounds are PARAMETER-FREE (max_tf, min_dl): the BM25 partial
    idf·tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) is increasing in tf and
    decreasing in dl, so bound(term) = idf⁺·max_tf(k1+1)/(max_tf + k1(1−b+
    b·min_dl/avgdl)) is a safe upper bound for ANY (k1, b) chosen at query
    time — one packed index serves the whole tuning grid (bm25.py:215-246).

Query v2 (block-max WAND-style): per (query, partition of segments), sum the
per-term block bounds; if the bound cannot beat the current k-th best score,
skip decoding the segment entirely. Exact scores for surviving segments are
computed vectorized (numpy) and fed into a bounded per-partition heap; the
≤ partitions×k heap rows per query are merged on the DRIVER (the reference's
chunked-scan + heappushpop shape, sentence_transformers.py:334-364, with the
scan distributed). One request is 4 Spark jobs — a bounded collect of the
tokenized queries, one pushed-down idf read, and the segment-shuffled
scoring pass (shuffle + collect) — or 2 when no query term is in the store;
the result is a local relation. Skipping uses safe bounds only →
rank/score-identical to the exact v1 join scorer (verified in tests).
"""

from __future__ import annotations

import heapq
from collections import Counter
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fusion_spark.indexing import BM25Index
from fusion_spark.tokenize import tokenize

BLOCK_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("segment", LongType()),
        StructField("n_docs", IntegerType()),
        StructField("max_tf", IntegerType()),
        StructField("min_dl", IntegerType()),
        StructField("doc_blob", BinaryType()),
        StructField("tf_blob", BinaryType()),
        StructField("dl_blob", BinaryType()),
    ]
)


# --------------------------- varint codec (numpy) ---------------------------

def _varint_encode_stream(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128 varint for a uint64 array — vectorized byte-plane construction.

    Returns (concatenated bytes, per-value byte lengths) so a caller packing
    many blocks can encode them all as ONE stream and slice each block's
    blob out by byte offset."""
    v = values.astype(np.uint64)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # per-plane emission: loop runs ⌈bits/7⌉ times max, vectorized inside
    remaining = v.copy()
    active = np.ones(v.size, dtype=bool)
    planes = []
    while active.any():
        byte = (remaining & np.uint64(0x7F)).astype(np.uint8)
        remaining = remaining >> np.uint64(7)
        more = remaining > 0
        byte[more & active] |= 0x80
        planes.append((byte, active.copy()))
        active = active & more
    # interleave planes per value
    max_planes = len(planes)
    buf = np.zeros((v.size, max_planes), dtype=np.uint8)
    mask = np.zeros((v.size, max_planes), dtype=bool)
    for i, (byte, act) in enumerate(planes):
        buf[act, i] = byte[act]
        mask[act, i] = True
    return buf[mask].tobytes(), mask.sum(axis=1).astype(np.int64)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128 varint for a uint64 array — vectorized byte-plane construction."""
    return _varint_encode_stream(values)[0]


class VarintDecodeError(ValueError):
    """A varint blob that does not decode to its block's value count —
    truncated, over-long or otherwise corrupt."""


def varint_decode(blob: bytes, count: int) -> np.ndarray:
    """Decode `count` LEB128 varints — same byte format, decode-order
    kernel (r11, the hot-term decode lever of the r10 verdict #3):

      * all-single-byte blobs (the dominant hot-term shape: dense doc
        deltas, small tf, sub-128 dl) short-circuit to one copy after a
        C-level all-bytes-below-0x80 check (`bytes.isascii`) — measured
        1.7 G vals/s vs 36 M for the old kernel;
      * otherwise a shrinking-active-set plane loop ORs each continuation
        byte into only the values that HAVE one — every step is a plain
        fancy-index gather/scatter with unique indices, replacing the old
        `np.add.at` scatter-add (unbuffered, and it carried the whole
        byte stream through every plane). Measured 2.2-3.7× on mixed
        1-9-byte distributions, identical outputs (property-tested).

    A blob holding a different number of values than `count` (or ending
    inside a value) raises VarintDecodeError instead of returning a short,
    long or garbled array."""
    raw = np.frombuffer(blob, dtype=np.uint8)
    if raw.size == count and blob.isascii():
        return raw.astype(np.uint64)  # no continuation bytes anywhere
    if raw.size == 0 or raw[-1] & 0x80:
        raise VarintDecodeError(
            f"varint blob of {raw.size} bytes is truncated: expected {count} values"
        )
    payload = raw & np.uint8(0x7F)
    cont = (raw & 0x80) > 0
    # value start positions: a byte starts a value if previous byte had no cont bit
    starts = np.empty(raw.size, dtype=bool)
    starts[0] = True
    starts[1:] = ~cont[:-1]
    pos = np.flatnonzero(starts)  # first byte of each value
    if pos.size != count:
        raise VarintDecodeError(
            f"varint blob of {raw.size} bytes holds {pos.size} values, expected {count}"
        )
    vals = payload[pos].astype(np.uint64)
    vi = None  # active value indices (implicit all, initially)
    shift = np.uint64(0)
    while True:
        more = cont[pos]
        if not more.any():
            break
        pos = pos[more] + 1
        vi = np.flatnonzero(more) if vi is None else vi[more]
        shift += np.uint64(7)
        vals[vi] |= payload[pos].astype(np.uint64) << shift
    return vals


# --------------------------- packing ---------------------------------------

def auto_segment_size(
    termstats: DataFrame,
    n_docs: int,
    target_postings_per_block: int = 64,
    lo: int = 1 << 12,
    hi: int = 1 << 22,
    id_range: int | None = None,
) -> int:
    """Pick the smallest power-of-two segment size whose EXPECTED mean
    postings-per-block reaches `target_postings_per_block` — the r7
    measurement encoded as a default (BENCH.md physical layer: at 99.2M
    postings 2^14 → ~4 postings/block → 1.49× compression from per-block
    metadata overhead; 2^17 → ~33/block → 2.07×, identical top-k at both;
    "tens-to-hundreds per block" is where compression has flattened but a
    segment skip still prunes usefully fine-grained doc ranges).

    Model: with docs spread uniformly over n_segments = ceil(id_range/S),
    a term of document frequency df touches ≈ min(df, n_segments) segments
    (rare term → every posting its own block; hot term → every segment),
    so blocks(S) ≈ Σ_t min(df_t, n_segments) and mean postings/block =
    Σ df / blocks(S). All candidate S are evaluated in ONE vocab-sized
    aggregate over termstats (no postings pass).

    `id_range` = max(doc_id)+1. Segments are DOC-ID-range shards
    (doc_id div S), so the segment count is id_range/S, not n_docs/S —
    with sparse or hashed doc_ids the two differ by orders of magnitude
    and the n_docs model undercounts blocks, picking an S too small
    (per-block metadata overhead — the regime this function exists to
    avoid; r9 ADVICE). Defaults to n_docs, which is exact only for DENSE
    ids in [0, n_docs); pack_index's "auto" path passes the real range
    from one docstats max()."""
    import math

    span = max(int(id_range if id_range is not None else n_docs), 1)
    cands = []
    s = lo
    while s <= hi:
        cands.append(s)
        s <<= 1
    aggs = [
        F.sum(F.least(F.col("df"), F.lit(int(math.ceil(span / c))))).alias(f"b{i}")
        for i, c in enumerate(cands)
    ] + [F.sum("df").alias("p")]
    row = termstats.agg(*aggs).collect()[0]
    postings = row["p"] or 0
    for i, c in enumerate(cands):
        blocks = row[f"b{i}"] or 1
        if postings / blocks >= target_postings_per_block:
            return c
    return hi


def pack_shuffle_partitions(
    n_postings: int, cores: int = 32, postings_per_task: int = 1_500_000
) -> int:
    """Shuffle-partition count for the pack stage (the curation heuristic's
    shape, applied to the r7 ADVICE memory-model note): pack_partition
    materializes its WHOLE shuffle partition as pandas/numpy columns
    (~40-60 bytes per posting across term codes + 3 int64 columns + the
    encoded streams), so per-task memory is n_postings/partitions × that —
    1.5M postings/task ≈ 100 MB peak, comfortably inside an executor-core
    share at the 4g/core the at-size runs use. Power of two, floored at
    cores*2 for full parallelism on small inputs, capped at 65,536."""
    import math

    raw = max(n_postings / postings_per_task, 1)
    p = 2 ** round(math.log2(raw))
    return min(max(p, cores * 2), 65_536)


def _resolve_pack_params(
    index: BM25Index,
    segment_size: int | str,
    num_partitions: int | str | None,
) -> tuple[int, int | None]:
    """Shared "auto" resolution for pack_index/PackedIndex.from_index.
    segment_size="auto" → `auto_segment_size` over the REAL doc-id range
    (one docstats max — doc ids need not be dense; r9 ADVICE) plus one
    vocab-sized aggregate. num_partitions="auto" (the default since r9)
    → `pack_shuffle_partitions` from the postings count (Σdf, one
    vocab-sized aggregate) at the session's core count — ~1.5M
    postings/task so each pack task's materialized partition fits a
    4g-core executor share at any corpus size."""
    if segment_size == "auto":
        mx = index.docstats.agg(F.max("doc_id")).collect()[0][0]
        id_range = (int(mx) + 1) if mx is not None else index.n_docs
        segment_size = auto_segment_size(
            index.termstats, index.n_docs, id_range=id_range
        )
    segment_size = int(segment_size)
    if num_partitions == "auto":
        n_postings = int(index.termstats.agg(F.sum("df")).collect()[0][0] or 0)
        cores = index.postings.sparkSession.sparkContext.defaultParallelism
        num_partitions = pack_shuffle_partitions(n_postings, cores=cores)
    return segment_size, (None if num_partitions is None else int(num_partitions))


def _blocks_frame(
    terms: np.ndarray,
    segs: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    starts: np.ndarray,
    segment_size: int,
) -> pd.DataFrame:
    """Emit BLOCK_SCHEMA rows from (term,segment,doc_id)-SORTED aligned
    arrays with group-start indices. Shared by both pack kernels — the
    lexsort kernel sorts in Python first; the sorted kernel receives rows
    already ordered by Spark's reduce-side Tungsten sort."""
    n = doc_ids.shape[0]
    counts = np.diff(np.append(starts, n))
    # doc-id gaps within a block; each block's first delta is relative
    # to its segment base (identical to the previous per-group encoding)
    deltas = np.empty(n, dtype=np.int64)
    deltas[1:] = doc_ids[1:] - doc_ids[:-1]
    deltas[starts] = doc_ids[starts] - segs[starts] * segment_size
    max_tf = np.maximum.reduceat(tfs, starts)
    min_dl = np.minimum.reduceat(dls, starts)

    blob_cols = []
    for arr in (deltas, tfs, dls):
        stream, lens = _varint_encode_stream(arr.astype(np.uint64))
        blk_sizes = np.add.reduceat(lens, starts)
        blk_ends = np.cumsum(blk_sizes)
        blk_starts = blk_ends - blk_sizes
        blob_cols.append(
            [stream[a:b] for a, b in zip(blk_starts, blk_ends)]
        )
    return pd.DataFrame(
        {
            "term": terms[starts],
            "segment": segs[starts],
            "n_docs": counts.astype(np.int32),
            "max_tf": max_tf.astype(np.int32),
            "min_dl": min_dl.astype(np.int32),
            "doc_blob": blob_cols[0],
            "tf_blob": blob_cols[1],
            "dl_blob": blob_cols[2],
        }
    )


def _group_starts(pdf: pd.DataFrame) -> np.ndarray:
    """Group-start indices over rows already sorted by (term, segment):
    factorize → int codes (vectorized hash; object-array != would be a
    per-row PyObject compare) then boundary = code-or-segment change."""
    codes, _uniq = pd.factorize(pdf["term"], sort=False)
    segs = pdf["segment"].to_numpy(dtype=np.int64)
    n = len(pdf)
    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = (codes[1:] != codes[:-1]) | (segs[1:] != segs[:-1])
    return np.flatnonzero(new_group)


def pack_index(
    index: BM25Index,
    segment_size: int | str = 1 << 20,
    num_partitions: int | str | None = "auto",
    strategy: str = "sorted",
) -> DataFrame:
    """Postings → packed blocks: repartition co-locates every (term, segment)
    group, then ONE vectorized pass per partition builds all of its blocks.

    Why not groupBy.applyInPandas: that API pays a Python call + a pandas
    frame construction per GROUP. Block count is vocab × segments-touched,
    and under a Zipf vocabulary most terms are rare, so blocks are tiny and
    numerous — at ~100M postings over a 200k-term vocabulary the per-group
    shape degenerates to ~25M four-posting groups and the pack stage becomes
    pure invocation overhead (r7 measurement: no task finished in 15 min;
    BENCH.md "physical layer" section). The partition-level pass does the
    same work as data-parallel numpy: lexsort once, group boundaries from
    key changes, per-block stats via ufunc.reduceat, and all three blobs
    encoded as ONE varint stream per column then sliced per block by byte
    offset — per-block cost collapses to a bytes-slice. Same shuffle as the
    groupBy (hash on term+segment), so skew behavior is unchanged: the
    segment key IS the salt for hot terms.

    Segment uses INTEGER division (`div`): float division truncates toward
    zero for negatives and loses precision near 2^53, which would make
    deltas[0] negative and silently wrap in varint_encode. Negative doc_ids
    are rejected at pack time (div truncates ≠ floors below zero).

    `segment_size="auto"` derives the size from the index's own term-df
    distribution via `auto_segment_size` over the real doc-id range (one
    vocab-sized aggregate + one docstats max). `num_partitions` bounds
    per-task memory (see strategy notes below for what each kernel
    materializes) — the default "auto" applies `pack_shuffle_partitions`
    (~1.5M postings/task); None keeps the session shuffle-partition
    default (fine to ~10^8 postings at 64 partitions / 4g-core
    executors); an int pins it.

    `strategy` picks the kernel; both produce the IDENTICAL block set
    (asserted block-for-block in tests and at 99.2M postings in
    tools/bench_pack_kernel.py):

      * "sorted" (default since r10) — Spark sorts each shuffle partition
        by (term, segment, doc_id) on the reduce side (Tungsten binary
        sort, spill-capable, overlapped with the shuffle read) and the
        Python kernel becomes a STREAMING pass over Arrow batches: group
        boundaries from key changes, reduceat stats, varint encode, with
        the trailing (possibly incomplete) group carried into the next
        batch. No np.lexsort, no 5-column gather — the r9 control showed
        those are memory-bandwidth-bound and scale at ~0.49 on 2→8 local
        cores (BENCH.md). Peak Python memory is O(arrow_batch + largest
        group) instead of O(partition).
      * "lexsort" — the r7–r9 kernel: materialize the whole partition in
        pandas, factorize terms to int codes, np.lexsort((doc, seg,
        code)), gather, one emission. Kept as the A/B control and as a
        fallback if an upstream ever feeds unsorted partitions by design.

    The sorted kernel VERIFIES its ordering contract instead of trusting
    it: within a group doc-id deltas must be strictly positive (catches
    an unsorted feed and duplicate (term, doc) postings alike) and any
    violation raises with the offending term."""
    segment_size, num_partitions = _resolve_pack_params(
        index, segment_size, num_partitions
    )
    return _pack_postings(index.postings, segment_size, num_partitions, strategy)


def _pack_postings(
    postings: DataFrame,
    segment_size: int,
    num_partitions: int | None,
    strategy: str,
) -> DataFrame:
    """(term, doc_id, tf, dl) rows → BLOCK_SCHEMA rows with RESOLVED knobs.

    The kernel half of `pack_index`, callable on a raw postings DataFrame —
    which may be parquet-backed (the two-phase build→pack path) or fully
    LAZY (the fused `build_packed` path, where the postings expression
    pipelines straight from tokenize through the aggregation shuffle into
    this repartition without ever being materialized)."""
    if strategy not in ("sorted", "lexsort"):
        raise ValueError(f"pack_index: unknown strategy {strategy!r}")
    p = postings.withColumn(
        "segment", F.expr(f"doc_id div {int(segment_size)}")
    )

    def pack_partition_lexsort(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        n = len(pdf)
        if n == 0:
            return
        # factorize → int codes so the partition sort is a pure-numeric
        # lexsort (string compares would dominate at millions of rows);
        # codes only need to make equal terms adjacent, not globally ordered
        codes, _uniq = pd.factorize(pdf["term"], sort=False)
        segs = pdf["segment"].to_numpy(dtype=np.int64)
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        order = np.lexsort((doc_ids, segs, codes))
        segs = segs[order]
        doc_ids = doc_ids[order]
        if doc_ids.min() < 0:
            raise ValueError(
                f"pack_index requires doc_id >= 0 (got {doc_ids.min()})"
            )
        codes = codes[order]
        new_group = np.empty(n, dtype=bool)
        new_group[0] = True
        new_group[1:] = (codes[1:] != codes[:-1]) | (segs[1:] != segs[:-1])
        starts = np.flatnonzero(new_group)
        yield _blocks_frame(
            pdf["term"].to_numpy()[order],
            segs,
            doc_ids,
            pdf["tf"].to_numpy(dtype=np.int64)[order],
            pdf["dl"].to_numpy(dtype=np.int64)[order],
            starts,
            segment_size,
        )

    def pack_partition_sorted(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None

        def emit(pdf: pd.DataFrame, hold_tail: bool):
            nonlocal carry
            n = len(pdf)
            if n == 0:
                return None
            starts = _group_starts(pdf)
            if hold_tail:
                # the last group may continue into the next Arrow batch —
                # hold its rows back and prepend them to that batch
                tail = starts[-1]
                carry = pdf.iloc[tail:].reset_index(drop=True)
                if tail == 0:
                    return None
                pdf = pdf.iloc[:tail]
                starts = starts[:-1]
                n = tail
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            if doc_ids.min() < 0:
                raise ValueError(
                    f"pack_index requires doc_id >= 0 (got {doc_ids.min()})"
                )
            segs = pdf["segment"].to_numpy(dtype=np.int64)
            out = _blocks_frame(
                pdf["term"].to_numpy(),
                segs,
                doc_ids,
                pdf["tf"].to_numpy(dtype=np.int64),
                pdf["dl"].to_numpy(dtype=np.int64),
                starts,
                segment_size,
            )
            # ordering contract: within a group doc-id gaps are strictly
            # positive — both an unsorted feed (Spark sort missing) and a
            # duplicate (term, doc_id) posting violate it
            within = np.ones(n, dtype=bool)
            within[starts] = False
            bad = within & (np.diff(doc_ids, prepend=doc_ids[0]) <= 0)
            if bad.any():
                i = int(np.flatnonzero(bad)[0])
                raise ValueError(
                    "pack_index(strategy='sorted'): rows are not strictly "
                    "(term, segment, doc_id)-sorted at term "
                    f"{pdf['term'].iloc[i]!r} doc_id {doc_ids[i]} — "
                    "unsorted feed or duplicate posting."
                )
            return out

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            out = emit(pdf, hold_tail=True)
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = emit(carry, hold_tail=False)
            if out is not None:
                yield out

    if num_partitions is not None:
        rep = p.repartition(int(num_partitions), "term", "segment")
    else:
        rep = p.repartition("term", "segment")
    if strategy == "sorted":
        rep = rep.sortWithinPartitions("term", "segment", "doc_id")
        return rep.mapInPandas(pack_partition_sorted, schema=BLOCK_SCHEMA)
    return rep.mapInPandas(pack_partition_lexsort, schema=BLOCK_SCHEMA)


@dataclass
class PackedIndex:
    blocks: DataFrame  # BLOCK_SCHEMA
    termstats: DataFrame  # (term, df, idf)
    n_docs: int
    avgdl: float
    segment_size: int
    variant: str = "bm25"

    @classmethod
    def from_index(
        cls,
        index: BM25Index,
        segment_size: int | str = 1 << 20,
        num_partitions: int | str | None = "auto",
        strategy: str = "sorted",
    ) -> "PackedIndex":
        segment_size, num_partitions = _resolve_pack_params(
            index, segment_size, num_partitions
        )
        return cls(
            blocks=pack_index(index, segment_size, num_partitions=num_partitions,
                              strategy=strategy),
            termstats=index.termstats,
            n_docs=index.n_docs,
            avgdl=index.avgdl,
            segment_size=segment_size,
            variant=index.variant,
        )

    def write(self, path: str) -> None:
        import json as _json

        self.blocks.repartition("segment").write.mode("overwrite").parquet(f"{path}/blocks")
        self.termstats.write.mode("overwrite").parquet(f"{path}/termstats")
        with open(f"{path}/meta.json", "w") as f:
            _json.dump(
                {
                    "n_docs": self.n_docs,
                    "avgdl": self.avgdl,
                    "segment_size": self.segment_size,
                    "variant": self.variant,
                },
                f,
            )

    @classmethod
    def read(cls, spark: SparkSession, path: str) -> "PackedIndex":
        import json as _json

        with open(f"{path}/meta.json") as f:
            meta = _json.load(f)
        return cls(
            blocks=spark.read.parquet(f"{path}/blocks"),
            termstats=spark.read.parquet(f"{path}/termstats"),
            **meta,
        )


def merge_packed(
    spark: SparkSession, paths: list[str], check_disjoint: bool = True
) -> PackedIndex:
    """Merge stage: union several per-partition packed segment stores (e.g.
    one per ingest shard / per bucketed build) into one queryable posting
    store. Requires disjoint doc_id ranges across stores (each doc indexed
    exactly once) and identical segment_size/variant. df is re-summed per
    term (exact under disjointness), idf recomputed against the merged N,
    avgdl merged as the doc-count-weighted mean — identical to a monolithic
    build over the union.

    `check_disjoint` (default on) enforces the disjointness precondition at
    SEGMENT granularity: each store's [min(segment), max(segment)] interval
    must not overlap any other's (one metadata-column aggregate per store —
    no blob decode). A shared doc_id across stores would double-count df
    and emit two score rows per (qid, doc) in WAND, silently. The check is
    conservative: shards with legitimately INTERLEAVED (still disjoint)
    doc_ids can share segments — pass check_disjoint=False for those, with
    the burden of the doc-level guarantee on the caller."""
    import json as _json

    from fusion_spark.indexing import idf_expr

    metas = []
    for p in paths:
        with open(f"{p}/meta.json") as f:
            metas.append(_json.load(f))
    seg = {m["segment_size"] for m in metas}
    var = {m["variant"] for m in metas}
    if len(seg) != 1 or len(var) != 1:
        raise ValueError(f"incompatible stores: segment_sizes={seg}, variants={var}")
    if check_disjoint:
        # ONE metadata job for every store (not one per store): at merge
        # fan-in 64+ — the many-small-ingest shape — serial per-store
        # aggregates dominated the merge wall (11.2 s of a 12.5 s merge at
        # fan-in 64, r9 measured). input_file_name() keys each blocks row
        # back to its store directory; empty stores contribute no row,
        # matching the old per-store None skip.
        span_rows = (
            spark.read.parquet(*[f"{p}/blocks" for p in paths])
            .select(
                F.regexp_extract(
                    F.input_file_name(), r"^(.*)/blocks/[^/]+$", 1
                ).alias("store"),
                "segment",
            )
            .groupBy("store")
            .agg(F.min("segment").alias("lo"), F.max("segment").alias("hi"))
            .collect()
        )
        # a file path the regexp fails to parse yields store='' for the row;
        # letting that pass would COLLAPSE every unparsed store into one span
        # and silently disable the guard (r9 ADVICE) — degrade to an error
        if any(r["store"] == "" for r in span_rows):
            raise ValueError(
                "merge_packed: could not attribute some block files to a "
                "store directory (path did not match '<store>/blocks/<file>')"
                " — the disjointness guard cannot run on this layout; fix "
                "the store paths or pass check_disjoint=False deliberately."
            )
        spans = sorted((r["lo"], r["hi"], r["store"]) for r in span_rows)
        for (_, hi_a, p_a), (lo_b, _, p_b) in zip(spans, spans[1:]):
            if lo_b <= hi_a:
                raise ValueError(
                    "merge_packed: stores have OVERLAPPING doc_id segment "
                    f"ranges — {p_a} ends at segment {hi_a} but {p_b} starts "
                    f"at {lo_b}. Each doc must be indexed in exactly ONE "
                    "store (shared docs double-count df and duplicate WAND "
                    "score rows). If the shards' doc_ids are interleaved but "
                    "genuinely disjoint, pass check_disjoint=False."
                )
    n_docs = sum(m["n_docs"] for m in metas)
    avgdl = (
        sum(m["n_docs"] * m["avgdl"] for m in metas) / n_docs if n_docs else 0.0
    )
    blocks = spark.read.parquet(*[f"{p}/blocks" for p in paths])
    termstats = (
        spark.read.parquet(*[f"{p}/termstats" for p in paths])
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
        .withColumn("idf", idf_expr(var.pop(), n_docs))
    )
    return PackedIndex(
        blocks=blocks, termstats=termstats, n_docs=n_docs, avgdl=avgdl,
        segment_size=seg.pop(), variant=metas[0]["variant"],
    )


# ------------------------ resumable / sharded pack --------------------------


def _pack_manifest_path(store_dir: str) -> str:
    import os

    return os.path.join(store_dir, "_manifest.jsonl")


def _read_pack_manifest(store_dir: str) -> tuple[dict | None, dict[int, dict]]:
    """(plan, done-shards). The plan line pins (segment_size, n_shards,
    id_range) so a resume with different knobs fails loudly instead of
    silently mixing incompatible shard layouts."""
    import json
    import os

    plan, done = None, {}
    p = _pack_manifest_path(store_dir)
    if os.path.exists(p):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                rec = json.loads(line)
                if "plan" in rec:
                    plan = rec["plan"]
                elif rec.get("status") == "ok":
                    done[rec["shard"]] = rec
    return plan, done


def pack_index_resumable(
    spark: SparkSession,
    index: BM25Index,
    store_dir: str,
    n_shards: int = 8,
    segment_size: int | str = "auto",
    compact: bool = False,
) -> PackedIndex:
    """Checkpointed pack — the pack-stage analogue of
    `indexing.build_index_resumable` (the reference's resumable build has
    no pack stage at all: `bm25.py` holds its dict index in memory).

    The doc-id range splits into ``n_shards`` segment-ALIGNED spans; each
    span packs to its own shard store under ``store_dir`` with a lineage
    row appended to ``_manifest.jsonl``; completed shards are skipped on
    restart, so a pack job killed at 90% re-does ~1/n_shards of the work,
    not all of it. Returns the `merge_packed` union (disjointness guard
    ON — alignment makes shard segment ranges disjoint by construction),
    which is query-identical to a monolithic pack: blobs are per-(term,
    segment) facts local to one shard, and df/idf/avgdl are recomputed
    exactly at merge (BENCH.md r9: proven at ~1B postings / 4 shards and
    at fan-in 64). ``compact=True`` additionally rewrites the union as a
    single store at ``{store_dir}/compacted`` (block-level rewrite, no
    re-encode — measured ~2.5× query-time file-open win) and returns that.

    A resume must use the same (segment_size, n_shards) over the same
    doc-id range as the original run — the manifest's plan line enforces
    it loudly. ``segment_size="auto"`` on a resume adopts the plan line's
    resolved size rather than re-deriving it from the live index, so a
    slightly shifted df distribution cannot abort a resume whose caller
    changed nothing.
    """
    import json
    import os
    import time

    os.makedirs(store_dir, exist_ok=True)
    plan, done = _read_pack_manifest(store_dir)

    mx = index.docstats.agg(F.max("doc_id")).collect()[0][0]
    id_range = (int(mx) + 1) if mx is not None else 0
    if id_range == 0:
        # an empty index would write a useless id_range=0 plan line and then
        # crash inside merge_packed's no-paths parquet read (r9 ADVICE) —
        # fail here with the actual cause, before touching the manifest
        raise ValueError(
            "pack_index_resumable: the index has no documents (empty "
            "docstats → doc-id range 0) — nothing to pack. Build the index "
            "over a non-empty corpus first."
        )
    if segment_size == "auto":
        if plan is not None:
            # resume: adopt the manifest plan's resolved size — re-deriving
            # from the LIVE index can drift (df distribution shifts) and
            # abort the plan-match check even though the caller changed
            # nothing (r9 ADVICE); n_shards/id_range are still validated
            seg = int(plan["segment_size"])
        else:
            seg = auto_segment_size(
                index.termstats, index.n_docs, id_range=id_range
            )
    else:
        seg = int(segment_size)
    # segment-aligned shard width covering the id range
    span = max((id_range + n_shards - 1) // n_shards, 1)
    span = ((span + seg - 1) // seg) * seg
    this_plan = {"segment_size": seg, "n_shards": n_shards,
                 "id_range": id_range, "span": span}
    if plan is not None and plan != this_plan:
        raise ValueError(
            "pack_index_resumable: resume with a DIFFERENT shard layout — "
            f"manifest plan {plan} vs current {this_plan}. Finish the pack "
            "with the original knobs or start a fresh store_dir."
        )
    if plan is None:
        with open(_pack_manifest_path(store_dir), "a") as f:
            f.write(json.dumps({"plan": this_plan}) + "\n")

    from fusion_spark.indexing import _finalize

    shard_paths = []
    for i in range(n_shards):
        lo, hi = i * span, min((i + 1) * span, id_range)
        if lo >= id_range:
            break
        path = os.path.join(store_dir, f"shard={i:04d}")
        shard_paths.append(path)
        if i in done:
            continue
        t0 = time.perf_counter()
        si = _finalize(
            index.postings.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            index.docstats.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            index.variant,
        )
        PackedIndex.from_index(si, segment_size=seg,
                               num_partitions="auto").write(path)
        # lineage metrics from the WRITTEN store's block metadata (columnar
        # read of the tiny block-level columns, not a postings re-scan)
        stats = spark.read.parquet(f"{path}/blocks").agg(
            F.sum("n_docs").alias("n_postings"),
            F.count("*").alias("n_blocks"),
        ).collect()[0]
        with open(_pack_manifest_path(store_dir), "a") as f:
            f.write(json.dumps({
                "shard": i, "status": "ok", "doc_lo": lo, "doc_hi": hi,
                "n_postings": int(stats["n_postings"] or 0),
                "n_blocks": int(stats["n_blocks"]),
                "wall_sec": round(time.perf_counter() - t0, 3),
            }) + "\n")

    merged = merge_packed(spark, shard_paths)
    if compact:
        out = os.path.join(store_dir, "compacted")
        merged.write(out)
        return PackedIndex.read(spark, out)
    return merged


def pack_lineage(spark: SparkSession, store_dir: str) -> DataFrame:
    """Per-shard pack lineage/metrics table (mirrors `indexing.lineage`)."""
    import json

    _, done = _read_pack_manifest(store_dir)
    rows = sorted(done.values(), key=lambda r: r["shard"])
    return spark.createDataFrame(
        [json.dumps(r) for r in rows], "string"
    ).selectExpr(
        "from_json(value, 'shard int, status string, doc_lo long, "
        "doc_hi long, n_postings long, n_blocks long, wall_sec double') r"
    ).select("r.*")


# ------------------------- fused build → packed store -----------------------


def _estimate_pack_stats(
    docs: DataFrame,
    doc_id_col: str,
    text_col: str,
    mode: str,
    n_docs: int,
    sample_fraction: float,
    seed: int,
) -> DataFrame:
    """Sampled termstats-SHAPED estimate (term, df) for the pack autos.

    One tokenize+aggregate pass over a `sample_fraction` doc sample; per-term
    df scales by 1/f — unbiased for the high-df terms that dominate the
    `auto_segment_size` block model (rare terms saturate at min(df,
    n_segments) ≈ df ≈ 1 either way), and Σ df scales to an unbiased total-
    postings estimate for `pack_shuffle_partitions`. Corpora whose expected
    sample is under 4,000 docs fall back to f=1.0, making the estimate EXACT
    — small inputs get deterministic autos (the undersized-sample failure
    shape of the r9 IVF train_fraction ADVICE). The threshold is measured,
    not guessed: on the 200k-term Zipf bench vocabulary a 1,000-doc sample
    misses enough of the rare-term tail to move `auto_segment_size` by
    several notches (harmlessly — at that corpus size every candidate S
    yields one segment per term), while 4,000-doc samples resolve
    IDENTICALLY to the exact model at 200k, 500k and 1.44M docs
    (BENCH.md r10 fused-build section)."""
    from fusion_spark.indexing import _postings_from_tokens

    f_eff = 1.0 if n_docs * sample_fraction < 4000 else float(sample_fraction)
    sampled = docs if f_eff >= 1.0 else docs.sample(fraction=f_eff, seed=seed)
    toks_s = tokenize(
        sampled.select(doc_id_col, text_col), text_col=text_col, mode=mode
    ).withColumn("dl", F.size("tokens"))
    return (
        _postings_from_tokens(toks_s, doc_id_col)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_s"))
        .select(
            "term",
            F.least(
                F.greatest(
                    F.round(F.col("df_s") / F.lit(f_eff)).cast("long"),
                    F.lit(1),
                ),
                F.lit(int(n_docs)),
            ).alias("df"),
        )
    )


def build_packed(
    docs: DataFrame,
    store_dir: str,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    variant: str = "bm25",
    segment_size: int | str = "auto",
    num_partitions: int | str | None = "auto",
    strategy: str = "sorted",
    stats_sample_fraction: float = 0.02,
    seed: int = 7,
    timings: dict | None = None,
) -> PackedIndex:
    """Fused corpus → packed-store build: tokenize, posting aggregation and
    block packing run as ONE Spark job, never materializing the postings
    table between them.

    The two-phase path (`build_index` → parquet → `pack_index`) writes the
    full (term, doc_id, tf, dl) table to disk and reads it back before the
    pack shuffle — at ~1B postings that intermediate is the single largest
    IO in the pipeline (BENCH.md r10: build_write_postings 449 s + the pack
    stage's re-read of the same rows), and at the 10^12-file target it is a
    table nobody queries. Here the postings expression pipelines straight
    from the tokenizer through the aggregation shuffle into the pack
    repartition — two shuffles total, map-side partial aggregation intact,
    and the only rows ever written are the compressed blocks (~5× smaller
    than the postings parquet). The reference build has the same shape for
    the same reason: `bm25.py:58-75` streams token counts straight into its
    in-memory index dicts with no intermediate store. Keep the two-phase
    path when you WANT the postings table (it is the resume point of
    `build_index_resumable` and the input to `write_term_bucketed_store`).

    Identity contract (tested): the resulting store is equal to the
    two-phase store over the same corpus — same block set byte-for-byte,
    same termstats rows, same meta — so WAND/exact results are unchanged.

    Stats without the materialized index:
      * n_docs / avgdl / id_range — one tokenize-only pass (map + scalar
        agg, no shuffle; token-less docs count toward both, as in
        `_finalize`).
      * segment_size/num_partitions "auto" — resolved from a
        `stats_sample_fraction` doc-sampled df estimate
        (`_estimate_pack_stats`; exact below 1,000 expected sample docs).
        Pass ints to skip the sampled pass entirely.
      * termstats — derived EXACTLY from the written blocks (df = Σ n_docs
        per term over the store: blocks partition the (term, doc) posting
        set, so the sum is the document frequency), then idf against the
        exact n_docs. No approximation anywhere in scoring inputs.

    `timings`, if a dict, receives per-phase walls (stats_pass,
    auto_resolution, pack_write, termstats_write) for bench attribution.
    """
    import json as _json
    import time as _time

    from fusion_spark.indexing import idf_expr, _postings_from_tokens

    t_mark = _time.perf_counter()

    def _lap(tag: str) -> None:
        nonlocal t_mark
        if timings is not None:
            now = _time.perf_counter()
            timings[tag] = round(now - t_mark, 1)
            t_mark = now

    spark = docs.sparkSession
    base = docs.select(
        F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    toks = tokenize(base, text_col="text", mode=mode).withColumn(
        "dl", F.size("tokens")
    )
    row = toks.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        F.min("doc_id").alias("mn"),
        F.max("doc_id").alias("mx"),
    ).collect()[0]
    n_docs = int(row["n"])
    if n_docs == 0:
        raise ValueError(
            "build_packed: the corpus is empty — nothing to index. "
            "(An empty store would also break merge_packed downstream.)"
        )
    if int(row["mn"]) < 0:
        raise ValueError(
            f"build_packed requires doc_id >= 0 (got {int(row['mn'])})"
        )
    avgdl = float(row["avgdl"]) if row["avgdl"] is not None else 0.0
    id_range = int(row["mx"]) + 1
    _lap("stats_pass")

    if segment_size == "auto" or num_partitions == "auto":
        est = _estimate_pack_stats(
            base, "doc_id", "text", mode, n_docs, stats_sample_fraction, seed
        ).persist()
        try:
            if segment_size == "auto":
                segment_size = auto_segment_size(est, n_docs, id_range=id_range)
            if num_partitions == "auto":
                n_post_est = int(est.agg(F.sum("df")).collect()[0][0] or 0)
                cores = spark.sparkContext.defaultParallelism
                num_partitions = pack_shuffle_partitions(n_post_est, cores=cores)
        finally:
            est.unpersist()
    segment_size = int(segment_size)
    num_partitions = None if num_partitions is None else int(num_partitions)
    _lap("auto_resolution")

    blocks = _pack_postings(
        _postings_from_tokens(toks, "doc_id"),
        segment_size, num_partitions, strategy,
    )
    blocks.repartition("segment").write.mode("overwrite").parquet(
        f"{store_dir}/blocks"
    )
    _lap("pack_write")
    written = spark.read.parquet(f"{store_dir}/blocks")
    termstats = (
        written.groupBy("term")
        .agg(F.sum("n_docs").cast("long").alias("df"))
        .withColumn("idf", idf_expr(variant, n_docs))
    )
    termstats.write.mode("overwrite").parquet(f"{store_dir}/termstats")
    _lap("termstats_write")
    with open(f"{store_dir}/meta.json", "w") as f:
        _json.dump(
            {"n_docs": n_docs, "avgdl": avgdl,
             "segment_size": segment_size, "variant": variant},
            f,
        )
    return PackedIndex.read(spark, store_dir)


def build_packed_resumable(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    n_shards: int = 8,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "simple",
    variant: str = "bm25",
    segment_size: int | str = "auto",
    strategy: str = "sorted",
    stats_sample_fraction: float = 0.02,
    seed: int = 7,
    compact: bool = False,
) -> PackedIndex:
    """Checkpointed fused build: `build_packed` per segment-aligned doc-id
    span, manifest lineage, skip-on-restart — the one-job production shape
    for corpus → queryable store at 10^12-file scale, where neither the
    postings table NOR a monolithic single job is acceptable (a build that
    dies at 90% must not re-tokenize everything).

    Same manifest contract as `pack_index_resumable`: a plan line pins
    (segment_size, n_shards, id_range, span); a resume with different knobs
    fails loudly; ``segment_size="auto"`` on resume adopts the plan's
    resolved size. Each shard filters the corpus by doc-id range (parquet
    range pushdown — a shard scans only its rows), runs the fused build
    into its own sub-store, and appends a lineage row with posting/block
    counts from the written store's metadata columns. The returned index is
    the `merge_packed` union (disjoint by construction — spans are
    segment-aligned); df/idf/avgdl are recomputed exactly at merge, so the
    result is query-identical to a monolithic build. ``compact=True``
    rewrites the union into ``{store_dir}/compacted`` (block-level, no
    re-encode) and returns that."""
    import json
    import os
    import time

    os.makedirs(store_dir, exist_ok=True)
    plan, done = _read_pack_manifest(store_dir)

    base = docs.select(
        F.col(doc_id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    mx = base.agg(F.max("doc_id")).collect()[0][0]
    id_range = (int(mx) + 1) if mx is not None else 0
    if id_range == 0:
        raise ValueError(
            "build_packed_resumable: the corpus is empty (no doc ids) — "
            "nothing to build."
        )
    if segment_size == "auto":
        if plan is not None:
            seg = int(plan["segment_size"])
        else:
            n_docs_total = base.count()
            est = _estimate_pack_stats(
                base, "doc_id", "text", mode, n_docs_total,
                stats_sample_fraction, seed,
            )
            seg = auto_segment_size(est, n_docs_total, id_range=id_range)
    else:
        seg = int(segment_size)
    span = max((id_range + n_shards - 1) // n_shards, 1)
    span = ((span + seg - 1) // seg) * seg
    this_plan = {"segment_size": seg, "n_shards": n_shards,
                 "id_range": id_range, "span": span}
    if plan is not None and plan != this_plan:
        raise ValueError(
            "build_packed_resumable: resume with a DIFFERENT shard layout — "
            f"manifest plan {plan} vs current {this_plan}. Finish the build "
            "with the original knobs or start a fresh store_dir."
        )
    if plan is None:
        with open(_pack_manifest_path(store_dir), "a") as f:
            f.write(json.dumps({"plan": this_plan}) + "\n")

    shard_paths = []
    for i in range(n_shards):
        lo, hi = i * span, min((i + 1) * span, id_range)
        if lo >= id_range:
            break
        path = os.path.join(store_dir, f"shard={i:04d}")
        if i in done:
            if not done[i].get("empty"):
                shard_paths.append(path)
            continue
        shard_docs = base.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        if shard_docs.limit(1).count() == 0:
            # sparse doc ids: a middle span can hold no docs — record it so
            # a resume skips the probe, and keep it out of the merge set
            # (build_packed refuses empty corpora; merge refuses empty
            # stores — both by r9-ADVICE design)
            with open(_pack_manifest_path(store_dir), "a") as f:
                f.write(json.dumps({
                    "shard": i, "status": "ok", "empty": True,
                    "doc_lo": lo, "doc_hi": hi, "n_postings": 0,
                    "n_blocks": 0, "wall_sec": 0.0,
                }) + "\n")
            continue
        shard_paths.append(path)
        t0 = time.perf_counter()
        build_packed(
            shard_docs,
            path,
            mode=mode, variant=variant, segment_size=seg,
            num_partitions="auto", strategy=strategy,
            stats_sample_fraction=stats_sample_fraction, seed=seed,
        )
        stats = spark.read.parquet(f"{path}/blocks").agg(
            F.sum("n_docs").alias("n_postings"),
            F.count("*").alias("n_blocks"),
        ).collect()[0]
        with open(_pack_manifest_path(store_dir), "a") as f:
            f.write(json.dumps({
                "shard": i, "status": "ok", "doc_lo": lo, "doc_hi": hi,
                "n_postings": int(stats["n_postings"] or 0),
                "n_blocks": int(stats["n_blocks"]),
                "wall_sec": round(time.perf_counter() - t0, 3),
            }) + "\n")

    merged = merge_packed(spark, shard_paths)
    if compact:
        out = os.path.join(store_dir, "compacted")
        merged.write(out)
        return PackedIndex.read(spark, out)
    return merged


def compact_if(
    spark: SparkSession, store_dir: str, threshold_files: int = 48
) -> tuple[PackedIndex, str]:
    """Compact-on-quiesce for a sharded store (`pack_index_resumable`
    layout): serve the merged union while it is cheap, compact when the
    accumulated file count makes per-query open overhead matter.

    BENCH.md r9 measured the shape this automates: a merged union costs
    ~2.5× per-query file-open overhead vs monolithic, and the block-level
    rewrite (no blob re-encode — `merged.write` just repartitions block
    ROWS by segment) restores monolithic speed in ~1.6 s at 1B postings.
    This function is the quiesce hook: call it between ingest waves.

    The default `threshold_files` encodes that measurement: the union's
    per-query overhead is already ~2.5× at fan-in 64 (≈64 block files in
    the fan-in bench's layout) while the rewrite is a one-time ~1.6 s, so
    the hook fires BELOW that point (48) and stays on the zero-work union
    path at single-digit fan-in, where the union is within noise of
    monolithic. `tools/bench_merge_fanin.py` reports the decision this
    default takes at its fan-in.

    Decision, returned as (index, decision):
      * "already-compacted" — `{store_dir}/compacted` exists and its
        `_source.json` signature (shard count + block-file count) matches
        the live shards: read it, zero work. A later ingest wave changes
        the signature, so a stale compaction is never served.
      * "union" — file count ≤ `threshold_files`: serve `merge_packed`
        directly (metadata-level, ~1.6 s at fan-in 64).
      * "compacted" — file count exceeds the threshold: rewrite block
        rows into `{store_dir}/compacted`, stamp the signature, serve it.
    """
    import glob as _glob
    import json as _json
    import os

    shard_paths = sorted(_glob.glob(os.path.join(store_dir, "shard=*")))
    if not shard_paths:
        raise ValueError(
            f"compact_if: no shard=* stores under {store_dir!r} — expected "
            "a pack_index_resumable layout."
        )
    files = [
        f
        for p in shard_paths
        for f in _glob.glob(os.path.join(p, "blocks", "*.parquet"))
    ]
    sig = {"n_shards": len(shard_paths), "n_files": len(files)}
    comp = os.path.join(store_dir, "compacted")
    marker = os.path.join(comp, "_source.json")
    if os.path.exists(marker):
        with open(marker) as f:
            if _json.load(f) == sig:
                return PackedIndex.read(spark, comp), "already-compacted"
    if len(files) <= threshold_files:
        return merge_packed(spark, shard_paths), "union"
    merged = merge_packed(spark, shard_paths)
    merged.write(comp)
    # Stamp atomically (temp + rename) and stamp the signature CAPTURED AT
    # DECISION TIME, never a re-listing: an ingest wave that lands between
    # the decision and the stamp must make the marker mismatch on the next
    # quiesce (so the stale compaction is recompacted, not served). A
    # re-listed signature would match the new wave and serve a compaction
    # that excludes it. The rename also means a crashed compaction leaves
    # no marker at all — the next quiesce redoes the work instead of
    # trusting a torn stamp.
    tmp_marker = marker + ".tmp"
    with open(tmp_marker, "w") as f:
        _json.dump(sig, f)
    os.replace(tmp_marker, marker)
    return PackedIndex.read(spark, comp), "compacted"


# --------------------------- block-max WAND scoring -------------------------

def wand_search(
    packed: PackedIndex,
    queries: DataFrame,
    k: int = 1000,
    k1: float = 1.5,
    b: float = 0.75,
    mode: str = "simple",
    max_queries_per_chunk: int = 1024,
    max_chunks_per_plan: int = 64,
) -> DataFrame:
    """Top-k BM25 over the packed index with per-partition block skipping and
    bounded heaps. Rank/score identical to scoring.search (sparse mode):
    deterministic sorted-term summation, tie-break (score DESC, doc_id ASC).

    Job plan: 4 Spark jobs per request, 2 when no query term is in the store.
      1. query terms — the tokenized query frame is collected once, bounded
         by `limit(cap + 1)`; qtf is counted on the driver;
      2. idf — one pushed-down `termstats.filter(term IN …)` collect;
      3. score (2 jobs: segment shuffle + collect) — per qid chunk, one
         `repartition("segment").mapInPandas` pass over the query terms'
         blocks; its per-partition heaps are merged on the driver in
         (score DESC, doc_id ASC) order.
    The result is a local relation, so collecting it launches no job. Each
    step is labelled with a job description (`wand_search: query terms`,
    `: idf`, `: score`); the caller's description is restored on return.

    Memory contract: a chunk's query-term table ships to executors via
    closure and every partition keeps a k-slot heap PER QUERY of that chunk,
    so per-pass EXECUTOR footprint is O(|chunk|·k) — batches larger than
    `max_queries_per_chunk` run as consecutive qid chunks. The DRIVER holds
    the batch's query terms, at most partitions·|chunk|·k candidate rows per
    chunk (cut to |chunk|·k before the next chunk runs) and a result of at
    most |queries|·k rows. To keep that bounded, a batch of more than
    max_queries_per_chunk·max_chunks_per_plan query rows raises: dense
    10⁵+-query offline batches belong on scoring.search / search_auto — one
    join plan beats hundreds of chunked passes when most blocks must be
    decoded anyway. search_auto clamps its routing bound to that product
    (read from this signature), so batches beyond it take the join scorer
    instead of reaching the raise. Chunking is result-invariant: queries
    never interact."""
    spark = queries.sparkSession
    sc = spark.sparkContext
    caller_description = sc.getLocalProperty("spark.job.description")
    try:
        sc.setJobDescription("wand_search: query terms")
        qtf = _query_tf(queries, mode, max_queries_per_chunk, max_chunks_per_plan)
        sc.setJobDescription("wand_search: idf")
        terms = sorted({t for counts in qtf.values() for t in counts})
        # an empty IN list folds to an empty relation: no job
        idf = {
            r["term"]: r["idf"]
            for r in packed.termstats.filter(F.col("term").isin(terms))
            .select("term", "idf")
            .collect()
        }
        sc.setJobDescription("wand_search: score")
        qids_all = sorted(q for q, counts in qtf.items() if any(t in idf for t in counts))
        parts = []
        for i in range(0, len(qids_all), max_queries_per_chunk):
            chunk = qids_all[i : i + max_queries_per_chunk]
            by_term: dict[str, list[tuple[int, int, float]]] = {}
            for qid in chunk:
                for term, n in qtf[qid].items():
                    if term in idf:
                        by_term.setdefault(term, []).append((qid, n, idf[term]))
            cand = _wand_candidates(packed, by_term, chunk, k, k1, b).toPandas()
            parts.append(_merge_heaps(cand, k))
        return _ranked_frame(spark, parts)
    finally:
        sc.setJobDescription(caller_description)


def _query_tf(
    queries: DataFrame, mode: str, max_queries_per_chunk: int, max_chunks_per_plan: int
) -> dict[int, Counter]:
    """qid → Counter(term → qtf) from ONE bounded collect of the tokenized
    query frame. Tokenizing stays in the JVM (every `mode`); qtf is the
    duplicate-token multiplicity of scoring.query_terms, and a qid given on
    several rows pools its tokens as that groupBy does.

    The collect is the first place a miswired 10^8-row "query" frame would
    land on the driver — limit() caps it at one row past the largest batch
    this path can serve, so the contract violation fails fast with a named
    error instead of an OOM mid-collect (r9 verdict #7)."""
    cap = max_queries_per_chunk * max_chunks_per_plan
    toks = (
        tokenize(queries.select("qid", "question"), text_col="question", mode=mode)
        .select("qid", "tokens")
        .limit(cap + 1)
        .toPandas()
    )
    if len(toks) > cap:
        raise ValueError(
            f"wand_search: query batch exceeds {cap} rows, the most distinct qids "
            f"one call serves (max_queries_per_chunk={max_queries_per_chunk} × "
            f"max_chunks_per_plan={max_chunks_per_plan}) — the WAND path "
            "ships query-term tables through the driver by contract and "
            "cannot serve dense offline batches; route them through "
            "scoring.search / scoring.search_auto (one join plan), or "
            "raise the limits deliberately"
        )
    qtf: dict[int, Counter] = {}
    for qid, tokens in zip(toks["qid"], toks["tokens"]):
        if tokens is not None:
            qtf.setdefault(int(qid), Counter()).update(t for t in tokens if t is not None)
    return qtf


def _merge_heaps(cand: pd.DataFrame, k: int) -> pd.DataFrame:
    """Per-partition heaps → global top-k per qid, ranked in (score DESC,
    doc_id ASC) order — each (qid, doc_id) arrives exactly once, because a
    segment's rows are scored in one partition."""
    order = np.lexsort((
        cand["doc_id"].to_numpy(), -cand["score"].to_numpy(), cand["qid"].to_numpy()
    ))
    top = cand.iloc[order]
    top = top.assign(rank=top.groupby("qid").cumcount() + 1)
    return top[top["rank"] <= k]


def _ranked_frame(spark: SparkSession, parts: list[pd.DataFrame]) -> DataFrame:
    """Driver-side result as a local relation (Arrow), so collecting it
    launches no job. An empty pandas frame would take a one-job RDD path,
    so an empty result is a typed one-row frame cut by limit(0)."""
    # dtypes that give the schema (qid long, doc_id long, score double, rank int)
    dtypes = {"qid": "int64", "doc_id": "int64", "score": "float64", "rank": "int32"}
    out = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()
    empty = out.empty
    if empty:
        out = pd.DataFrame({c: [0] for c in dtypes})
    ranked = spark.createDataFrame(out[list(dtypes)].astype(dtypes))
    return ranked.limit(0) if empty else ranked


def _wand_candidates(
    packed: PackedIndex,
    by_term: dict[str, list[tuple[int, int, float]]],
    qids_all: list[int],
    k: int,
    k1: float,
    b: float,
) -> DataFrame:
    """One bounded WAND pass for ≤ max_queries_per_chunk qids: the chunk's
    term → [(qid, qtf, idf)] table ships to every partition by closure
    (O(|chunk|·k) heap slots per partition); each partition emits its heaps,
    ≤ |chunk|·k (qid, doc_id, score) rows, unranked."""
    avgdl = packed.avgdl
    variant = packed.variant
    seg_size = packed.segment_size

    def partial(tf: np.ndarray, dl: np.ndarray, idf: float) -> np.ndarray:
        tfd = tf.astype(np.float64)
        if variant == "tfidf":
            return tfd * idf
        dld = dl.astype(np.float64)
        norm = b * dld / avgdl if avgdl else 0.0  # all-empty-corpus guard
        denom = tfd + k1 * (1.0 - b + norm)
        return idf * (tfd * (k1 + 1.0)) / denom

    def bound(max_tf: int, min_dl: int, idf: float) -> float:
        if idf <= 0:
            return 0.0  # negative-idf terms can only lower a score
        if variant == "tfidf":
            return max_tf * idf
        norm = b * min_dl / avgdl if avgdl else 0.0
        denom = max_tf + k1 * (1.0 - b + norm)
        return idf * (max_tf * (k1 + 1.0)) / denom

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # gather this partition's blocks for query terms, grouped by segment
        segs: dict[int, list] = {}
        for pdf in batches:
            hit = pdf[pdf["term"].isin(by_term.keys())]
            for row in hit.itertuples(index=False):
                segs.setdefault(int(row.segment), []).append(row)
        heaps: dict[int, list] = {q: [] for q in qids_all}  # qid -> [(score, -doc_id)]

        # per segment: per-query upper bound, skip if it cannot enter the heap
        seg_bounds = []
        for seg, rows in segs.items():
            ub: dict[int, float] = {}
            for row in rows:
                for qid, qtf, idf in by_term[row.term]:
                    ub[qid] = ub.get(qid, 0.0) + qtf * bound(row.max_tf, row.min_dl, idf)
            seg_bounds.append((seg, rows, ub))
        # visit promising segments first so heap thresholds tighten early
        seg_bounds.sort(key=lambda x: -max(x[2].values(), default=0.0))

        for seg, rows, ub in seg_bounds:
            # skip only when the bound is STRICTLY below the k-th score: a
            # segment whose bound ties it may hold an equal-score doc with a
            # smaller doc_id, which the (score DESC, doc_id ASC) contract
            # must admit (the in-heap (score, -doc_id) compare resolves it)
            active_qids = [
                q
                for q in ub
                if len(heaps[q]) < k or ub[q] >= heaps[q][0][0]
            ]
            if not active_qids:
                continue  # block-max skip: no query can improve its top-k
            # decode once per term IN SORTED-TERM ORDER, then scatter-add:
            # per-doc partials accumulate left-to-right in term order, so the
            # fold order (and hence every last-ulp) matches scoring.py's
            # sort_array fold — no per-posting Python (VERDICT r1 §wrong-3)
            per_q: dict[int, tuple[list, list]] = {q: ([], []) for q in active_qids}
            for row in sorted(rows, key=lambda r: r.term):
                deltas = varint_decode(bytes(row.doc_blob), row.n_docs).astype(np.int64)
                doc_ids = np.cumsum(deltas) + seg * seg_size
                tfs = varint_decode(bytes(row.tf_blob), row.n_docs)
                dls = varint_decode(bytes(row.dl_blob), row.n_docs)
                for qid, qtf, idf in by_term[row.term]:
                    bucket = per_q.get(qid)
                    if bucket is None:
                        continue
                    bucket[0].append(doc_ids)
                    bucket[1].append(qtf * partial(tfs, dls, idf))
            for qid in active_qids:
                docs_l, ps_l = per_q[qid]
                if not docs_l:
                    continue
                dall = np.concatenate(docs_l)
                pall = np.concatenate(ps_l)
                uniq, inv = np.unique(dall, return_inverse=True)
                scores = np.zeros(uniq.size, dtype=np.float64)
                # np.add.at applies additions sequentially in element order =
                # term-sorted concatenation order → deterministic left fold
                np.add.at(scores, inv, pall)
                h = heaps[qid]
                if len(h) >= k:
                    # candidates that cannot beat (or tie) the k-th score are
                    # dead; ties survive for the doc_id comparison in-heap
                    mask = scores >= h[0][0]
                    uniq, scores = uniq[mask], scores[mask]
                if uniq.size == 0:
                    continue
                # only the segment's own top-k can enter the heap — order by
                # (score DESC, doc_id ASC) and push at most k candidates
                order = np.lexsort((uniq, -scores))[:k]
                for j in order:
                    item = (float(scores[j]), -int(uniq[j]))
                    if len(h) < k:
                        heapq.heappush(h, item)
                    elif item > h[0]:
                        heapq.heapreplace(h, item)
                    else:
                        break  # candidates are sorted — the rest are weaker
        rows_out = [
            {"qid": q, "doc_id": -nd, "score": s}
            for q, h in heaps.items()
            for (s, nd) in h
        ]
        yield pd.DataFrame(rows_out, columns=["qid", "doc_id", "score"]).astype(
            {"qid": "int64", "doc_id": "int64", "score": "float64"}
        )

    # Predicate pushdown: only blocks of query terms leave the store scan.
    # `term IN (...)` reaches the parquet reader (dictionary/row-group
    # pruning) — at corpus scale this, not block-max skipping, eliminates
    # 99%+ of the store (a query touches tens of terms out of millions).
    term_filter = F.col("term").isin(list(by_term.keys()))
    # The repartition("segment") is a CORRECTNESS requirement, not an
    # optimization: score_partition emits each (qid, doc_id)'s score exactly
    # once only if ALL of a segment's term rows land in one partition — the
    # driver merge ranks raw rows without re-summing. Reading a store
    # from disk does NOT guarantee this (a parquet file larger than
    # spark.sql.files.maxPartitionBytes is SPLIT across input partitions),
    # so every path shuffles here. Post-filter the shuffled rows are tiny
    # (only query-term blocks).
    return (
        packed.blocks.filter(term_filter)
        .repartition("segment")
        .mapInPandas(score_partition, schema="qid long, doc_id long, score double")
    )
