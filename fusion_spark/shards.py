"""Sharded stores: the one manifest protocol behind every resumable producer.

A sharded store is a directory of independently written shards plus an
append-only ``_manifest.jsonl``: one plan line, written before the first
shard, pins the knobs that fix the shard layout; then one row per shard,
``{"shard": i, "status": "ok", ...lineage}``, appended only after the
shard's files are complete (a shard listed twice keeps its last row).

The manifest, never a directory listing, is the shard set: a stale or
partial listing (an object store, a half-written shard) cannot add or drop
a shard. Producers: `blocks.build_packed_resumable`,
`indexing.build_index_resumable`, `streaming.incremental_packed_stream`.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.jsonl"

# every producer's row fits this one schema; fields it does not record are NULL
LINEAGE_SCHEMA = (
    "shard int, status string, empty boolean, doc_lo long, doc_hi long, "
    "n_docs long, n_postings long, n_blocks long, n_files long, "
    "wall_sec double, variant string, mode string"
)


def read_manifest(store_dir: str) -> tuple[dict | None, dict[int, dict]]:
    """(plan, done rows keyed by shard id)."""
    plan, done = None, {}
    path = os.path.join(store_dir, MANIFEST)
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                rec = json.loads(line)
                if "plan" in rec:
                    plan = rec["plan"]
                elif rec.get("status") == "ok":
                    done[rec["shard"]] = rec
    return plan, done


def append(store_dir: str, rec: dict) -> None:
    with open(os.path.join(store_dir, MANIFEST), "a") as f:
        f.write(json.dumps(rec) + "\n")


def build(store_dir: str, plan: dict, shards: Iterable[int],
          write: Callable[[int], dict], who: str) -> None:
    """Skip-on-restart driver: check `plan` against the manifest's plan
    line (writing it on a fresh store), then for each shard the manifest
    does not list as done run `write(shard)` — it writes the shard's files
    and returns its lineage fields — and append the shard's row."""
    old, done = read_manifest(store_dir)
    if old is not None and old != plan:
        raise ValueError(
            f"{who}: resume with a DIFFERENT shard layout — manifest plan "
            f"{old} vs current {plan}. Finish with the original knobs or "
            "start a fresh store directory."
        )
    os.makedirs(store_dir, exist_ok=True)
    if old is None:
        append(store_dir, {"plan": plan})
    for i in shards:
        if i in done:
            continue
        t0 = time.perf_counter()
        row = write(i)
        append(store_dir, {"shard": i, "status": "ok", **row,
                           "wall_sec": round(time.perf_counter() - t0, 3)})


def shard_set(store_dir: str, *required: str) -> list[dict]:
    """Manifest rows of the store's non-empty shards, in shard order. Each
    `required` path template (e.g. ``"shard={:04d}/meta.json"``) must exist
    for every listed shard, else ValueError names the shard."""
    _, done = read_manifest(store_dir)
    rows = [done[i] for i in sorted(done) if not done[i].get("empty")]
    for r in rows:
        for template in required:
            path = os.path.join(store_dir, template.format(r["shard"]))
            if not os.path.exists(path):
                raise ValueError(
                    f"shard {r['shard']} is listed in {MANIFEST} of "
                    f"{store_dir!r} but {path} is missing — rebuild that "
                    "shard or drop its manifest row."
                )
    return rows


def lineage(spark: SparkSession, store_dir: str) -> DataFrame:
    """Per-shard lineage/metrics table of any sharded store, in shard order."""
    _, done = read_manifest(store_dir)
    return spark.createDataFrame(
        [json.dumps(done[i]) for i in sorted(done)], "string"
    ).selectExpr(f"from_json(value, '{LINEAGE_SCHEMA}') r").select("r.*")
