"""Index-build stats + resumable checkpointed build."""

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from fusion_spark.indexing import build_index, build_index_resumable, load_index
from fusion_spark.shards import lineage


def test_stats_match_reference_definitions(spark, docs_df, corpus_rows):
    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    # exact df for a known-hot term
    py_df = sum(1 for r in corpus_rows if "def" in r["content"].lower().split())
    row = idx.termstats.filter("term = 'def'").collect()[0]
    assert row["df"] == py_df
    assert row["idf"] == pytest.approx(math.log10((idx.n_docs - py_df + 0.5) / (py_df + 0.5)))
    # avgdl exact mean of whitespace token counts
    dls = [len(r["content"].lower().split()) for r in corpus_rows]
    assert idx.avgdl == pytest.approx(sum(dls) / len(dls))
    # empty docs present in docstats with dl=0
    assert idx.docstats.filter("dl = 0").count() >= 1


def test_postings_tf_values(spark, docs_df, corpus_rows):
    idx = build_index(docs_df, doc_id_col="doc_id", text_col="content")
    r0 = corpus_rows[5]
    toks = r0["content"].lower().split()
    if toks:
        term = toks[0]
        tf_expected = toks.count(term)
        got = idx.postings.filter(
            (F.col("term") == term) & (F.col("doc_id") == r0["doc_id"])
        ).collect()
        assert got[0]["tf"] == tf_expected
        assert got[0]["dl"] == len(toks)


def test_resumable_build_identical_and_skips_done(spark, docs_df, tmp_path):
    d1 = str(tmp_path / "idx_full")
    idx1 = build_index_resumable(spark, docs_df, d1, n_buckets=4, text_col="content")

    # simulate a crash: only buckets 0-1 completed, then resume
    d2 = str(tmp_path / "idx_resume")
    os.makedirs(d2)
    build_index_resumable(spark, docs_df, d1 + "_tmp", n_buckets=4, text_col="content")
    # build partial manually: run full then strip manifest+dirs for buckets 2,3
    import shutil

    shutil.copytree(d1, d2, dirs_exist_ok=True)
    with open(os.path.join(d2, "_manifest.jsonl")) as f:
        recs = [json.loads(x) for x in f if x.strip()]
    keep = [r for r in recs if "plan" in r or r["shard"] < 2]
    with open(os.path.join(d2, "_manifest.jsonl"), "w") as f:
        for r in keep:
            f.write(json.dumps(r) + "\n")
    for b in (2, 3):
        shutil.rmtree(os.path.join(d2, f"postings_bucket={b}"))

    idx2 = build_index_resumable(spark, docs_df, d2, n_buckets=4, text_col="content")
    # identical index content after resume
    assert idx1.n_docs == idx2.n_docs
    assert idx1.avgdl == pytest.approx(idx2.avgdl)
    p1 = sorted(map(tuple, idx1.postings.collect()))
    p2 = sorted(map(tuple, idx2.postings.collect()))
    assert p1 == p2
    # lineage table has one ok row per bucket; resumed run kept originals for 0-1
    lin = lineage(spark, d2)
    assert lin.count() == 4
    assert set(r["shard"] for r in lin.collect()) == {0, 1, 2, 3}


def test_resumable_build_rejects_different_bucket_count(spark, docs_df, tmp_path):
    """A partial 4-bucket build resumed with n_buckets=8 would mix two
    pmod layouts (docs counted twice, others dropped); the plan line makes
    it fail loudly and leaves the manifest untouched."""
    import shutil

    d = str(tmp_path / "idx_plan")
    build_index_resumable(spark, docs_df, d, n_buckets=4, text_col="content")
    manifest = os.path.join(d, "_manifest.jsonl")
    with open(manifest) as f:
        recs = [json.loads(x) for x in f if x.strip()]
    with open(manifest, "w") as f:
        for r in recs:
            if "plan" in r or r["shard"] < 2:
                f.write(json.dumps(r) + "\n")
    for b in (2, 3):
        shutil.rmtree(os.path.join(d, f"postings_bucket={b}"))
        shutil.rmtree(os.path.join(d, f"docstats_bucket={b}"))
    with open(manifest) as f:
        before = f.read()
    with pytest.raises(ValueError, match="DIFFERENT shard layout"):
        build_index_resumable(spark, docs_df, d, n_buckets=8, text_col="content")
    with open(manifest) as f:
        assert f.read() == before


def test_load_index_roundtrip(spark, docs_df, tmp_path):
    d = str(tmp_path / "idx_rt")
    built = build_index_resumable(spark, docs_df, d, n_buckets=2, text_col="content")
    loaded = load_index(spark, d)
    assert loaded.n_docs == built.n_docs
    assert loaded.postings.count() == built.postings.count()
