"""The shared sharded-store manifest protocol (`fusion_spark.shards`): a crash
at every manifest write boundary of every producer resumes to the store an
uninterrupted run writes. Small-scale twin of tools/bench_fused_sigkill.py,
which kills a real build process at 99M postings."""

import glob
import os

import pytest
from test_blocks import _store_rows

from fusion_spark import shards
from fusion_spark.blocks import SHARD_DIR, build_packed_resumable
from fusion_spark.indexing import build_index_resumable, load_index
from fusion_spark.streaming import incremental_packed_stream


class Crash(Exception):
    pass


def _packed(spark, docs_df, root):
    store = os.path.join(root, "store")
    build_packed_resumable(
        spark, docs_df, store, n_shards=2, text_col="content", segment_size=16
    )
    return store


def _buckets(spark, docs_df, root):
    store = os.path.join(root, "store")
    build_index_resumable(spark, docs_df, store, n_buckets=2, text_col="content")
    return store


def _stream(spark, docs_df, root):
    """Two segment-aligned waves; a rerun lands only the waves not yet
    landed and lets the stream replay its uncommitted micro-batch."""
    store = os.path.join(root, "store")
    landing = os.path.join(root, "landing")
    docs = docs_df.select("doc_id", docs_df["content"].alias("text"))
    for k, where in enumerate(["doc_id < 32", "doc_id >= 32"]):
        landed = os.path.join(root, f"landed_{k}")
        if not os.path.exists(landed):
            docs.filter(where).write.mode("append").parquet(landing)
            open(landed, "w").close()
        incremental_packed_stream(
            spark, landing, store, os.path.join(root, "ckpt"),
            segment_size=16, compact_threshold_files=10_000,
        )
    return store


def _packed_content(spark, store):
    return {
        r["shard"]: _store_rows(spark, os.path.join(store, SHARD_DIR.format(r["shard"])))
        for r in shards.shard_set(store, SHARD_DIR + "/meta.json")
    }


def _bucket_content(spark, store):
    idx = load_index(spark, store)
    return (
        idx.n_docs,
        idx.avgdl,
        sorted(map(tuple, idx.postings.collect())),
        sorted(map(tuple, idx.docstats.collect())),
    )


PRODUCERS = {
    "build_packed_resumable": (_packed, _packed_content, SHARD_DIR + "/**"),
    "build_index_resumable": (_buckets, _bucket_content, "*_bucket={}/**"),
    "incremental_packed_stream": (_stream, _packed_content, SHARD_DIR + "/**"),
}


def _lineage(spark, store):
    return [
        {k: v for k, v in r.asDict().items() if k != "wall_sec"}
        for r in shards.lineage(spark, store).collect()
    ]


@pytest.mark.parametrize("producer", sorted(PRODUCERS))
def test_crash_at_every_manifest_write_resumes_identical(
    spark, docs_df, tmp_path, monkeypatch, producer
):
    run, content, shard_files = PRODUCERS[producer]
    real_append = shards.append
    calls = []

    def counting_append(store_dir, rec):
        calls.append(rec)
        real_append(store_dir, rec)

    monkeypatch.setattr(shards, "append", counting_append)
    want_store = run(spark, docs_df, str(tmp_path / "clean"))
    n_writes = len(calls)
    assert n_writes >= 2
    want = content(spark, want_store)
    want_lineage = _lineage(spark, want_store)

    for n in range(1, n_writes + 1):
        root = str(tmp_path / f"crash{n}")
        calls.clear()

        def crashing_append(store_dir, rec, n=n):
            calls.append(rec)
            if len(calls) == n:
                raise Crash(f"manifest write {n}")
            real_append(store_dir, rec)

        monkeypatch.setattr(shards, "append", crashing_append)
        with pytest.raises(Exception):
            run(spark, docs_df, root)
        assert len(calls) == n  # it died at the injected write, not before
        store = os.path.join(root, "store")
        # the manifest lists exactly the shards whose row writes completed
        _, done = shards.read_manifest(store)
        assert len(done) == sum("plan" not in r for r in calls[:-1])
        kept = {
            f: os.path.getmtime(f)
            for i in done
            for f in glob.glob(os.path.join(store, shard_files.format(i)), recursive=True)
            if os.path.isfile(f)
        }

        monkeypatch.setattr(shards, "append", real_append)
        assert run(spark, docs_df, root) == store
        assert content(spark, store) == want, f"crash at write {n}"
        assert _lineage(spark, store) == want_lineage
        # shards committed before the crash are skipped, not rewritten
        assert {f: os.path.getmtime(f) for f in kept} == kept
