"""tools/ units: the event-log audit's parser + rules (r6 verdict #5 — the
two PLANS.md plan-hygiene lessons as a mechanical check; no SparkSession)
and bench_curation's deterministic audit-sampling predicate (r7; uses the
shared session fixture), plus a source check that no tool pins its core
count."""

import importlib.util
import json
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "audit_event_log",
    os.path.join(os.path.dirname(__file__), "..", "tools", "audit_event_log.py"),
)
audit_event_log = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(audit_event_log)


def _stage_completed(sid, num_tasks, name="stage"):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": sid,
            "Stage Attempt ID": 0,
            "Stage Name": name,
            "Number of Tasks": num_tasks,
        },
    }


def _task_end(sid, run_ms=0, input_rec=0, sh_read=0, sh_write=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 1_000_000,
            "Input Metrics": {"Records Read": input_rec},
            "Shuffle Read Metrics": {"Total Records Read": sh_read},
            "Shuffle Write Metrics": {"Shuffle Records Written": sh_write},
        },
    }


def _write_log(tmp_path, events, name="app-1"):
    p = tmp_path / name
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(p)


def test_audit_flags_serial_expansion(tmp_path):
    """The r6 shape: one task, small shuffle read, >=10x write expansion,
    slow — must be flagged by rule A (and by rule A only)."""
    events = [
        _task_end(7, run_ms=18_600, sh_read=23_000, sh_write=4_301_000),
        _stage_completed(7, 1, "mapInPandas at tuning.py:200"),
    ]
    stages = audit_event_log.parse_event_log(_write_log(tmp_path, events))
    findings = audit_event_log.audit_stages(stages)
    assert [f["rule"] for f in findings] == ["serial-expansion"]
    assert findings[0]["stage_id"] == 7
    assert findings[0]["shuffle_write_records"] == 4_301_000


def test_audit_flags_single_partition_heavy_scan(tmp_path):
    """One task reading many input records slowly = the single-file-scan
    layout smell (rule B)."""
    events = [
        _task_end(3, run_ms=5_000, input_rec=60_000),
        _stage_completed(3, 1, "Scan parquet documents"),
    ]
    stages = audit_event_log.parse_event_log(_write_log(tmp_path, events))
    findings = audit_event_log.audit_stages(stages)
    assert [f["rule"] for f in findings] == ["single-partition-heavy-scan"]


def test_audit_clean_on_benign_stages(tmp_path):
    """No false positives on: parallel stages of any size, fast 1-task
    driver-bounded stages, 1-task stages with small record counts, and
    1-task expansions below the ratio."""
    events = [
        # parallel heavy stage — fine at any size
        _task_end(1, run_ms=9_000, input_rec=1_000_000),
        _task_end(1, run_ms=9_000, input_rec=1_000_000),
        _stage_completed(1, 2, "big parallel scan"),
        # tiny driver-bounded 1-task stage (AQE doing its job)
        _task_end(2, run_ms=150, sh_read=500, sh_write=500),
        _stage_completed(2, 1, "small agg"),
        # slow 1-task stage but below the record threshold
        _task_end(4, run_ms=4_000, input_rec=900),
        _stage_completed(4, 1, "slow scalar collect"),
        # 1-task stage with sub-10x expansion
        _task_end(5, run_ms=4_000, sh_read=20_000, sh_write=90_000),
        _stage_completed(5, 1, "modest fanout"),
    ]
    stages = audit_event_log.parse_event_log(_write_log(tmp_path, events))
    assert audit_event_log.audit_stages(stages) == []


def test_audit_skips_retries_and_garbage_lines(tmp_path):
    """Attempt>0 events are ignored (retried stages would double-count) and
    a truncated trailing line (.inprogress logs) doesn't crash the parse."""
    bad = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 9,
        "Stage Attempt ID": 1,
        "Task Metrics": {"Executor Run Time": 99_999},
    }
    p = tmp_path / "app.inprogress"
    p.write_text(
        json.dumps(_task_end(9, run_ms=100, input_rec=10)) + "\n"
        + json.dumps(bad) + "\n"
        + json.dumps(_stage_completed(9, 1)) + "\n"
        + '{"Event": "SparkListenerStageCom'  # truncated mid-write
    )
    stages = audit_event_log.parse_event_log(str(p))
    assert stages[9]["run_ms"] == 100
    assert audit_event_log.audit_stages(stages) == []


def test_audit_flags_task_skew(tmp_path):
    """Rule D: one 5 s straggler among 19 × 200 ms tasks (p99/median = 25x)
    is a hot key; uniform stages and low-median stages stay clean."""
    events = (
        [_task_end(11, run_ms=200, input_rec=1000) for _ in range(19)]
        + [_task_end(11, run_ms=5_000, input_rec=1000)]
        + [_stage_completed(11, 20, "skewed join")]
        # uniform multi-task stage — clean
        + [_task_end(12, run_ms=300) for _ in range(20)]
        + [_stage_completed(12, 20, "uniform map")]
        # skewed but median below the floor (tiny tasks) — clean
        + [_task_end(13, run_ms=10) for _ in range(19)]
        + [_task_end(13, run_ms=5_000)]
        + [_stage_completed(13, 20, "tiny tasks one warmup straggler")]
    )
    stages = audit_event_log.parse_event_log(_write_log(tmp_path, events))
    findings = audit_event_log.audit_stages(stages)
    assert [f["rule"] for f in findings] == ["task-skew"]
    assert findings[0]["stage_id"] == 11
    assert findings[0]["p99_ms"] == 5_000
    # every task read the same 1000 records → slow-but-not-data-skewed:
    # the r9 classifier must call it a host straggler, not a hot key
    assert findings[0]["classification"] == "straggler"
    assert findings[0]["slow_task_records"] == 1000


def test_audit_task_skew_classifies_hot_key(tmp_path):
    """The planted one-giant-group shape: 19 tasks × 20k records at ~400 ms
    and ONE task with 1M records at 9 s — slow BECAUSE of its data. The
    classifier must emit hot_key (records 50× median ≥ the 3× boundary).
    A stage with no record metrics at all classifies as unknown."""
    events = (
        [_task_end(21, run_ms=400, sh_read=20_000) for _ in range(19)]
        + [_task_end(21, run_ms=9_000, sh_read=1_000_000)]
        + [_stage_completed(21, 20, "applyInPandas giant group")]
        # same timing shape, zero records everywhere → unknown
        + [_task_end(22, run_ms=400) for _ in range(19)]
        + [_task_end(22, run_ms=9_000)]
        + [_stage_completed(22, 20, "pure compute stage")]
    )
    stages = audit_event_log.parse_event_log(_write_log(tmp_path, events))
    findings = audit_event_log.audit_stages(stages)
    assert [f["rule"] for f in findings] == ["task-skew", "task-skew"]
    by_sid = {f["stage_id"]: f for f in findings}
    assert by_sid[21]["classification"] == "hot_key"
    assert by_sid[21]["slow_task_records"] == 1_000_000
    assert by_sid[21]["median_records"] == 20_000
    assert by_sid[22]["classification"] == "unknown"


def _plan_smj(left_accum, right_accum, node="SortMergeJoin"):
    def side(aid):
        return {
            "nodeName": "Sort",
            "simpleString": "Sort",
            "children": [
                {
                    "nodeName": "Exchange",
                    "simpleString": "Exchange hashpartitioning",
                    "children": [],
                    "metrics": [
                        {"name": "data size", "accumulatorId": aid,
                         "metricType": "size"}
                    ],
                }
            ],
            "metrics": [],
        }

    return {
        "nodeName": "AdaptiveSparkPlan",
        "simpleString": "AdaptiveSparkPlan",
        "children": [
            {
                "nodeName": node,
                "simpleString": f"{node} [k], [k], Inner",
                "children": [side(left_accum), side(right_accum)],
                "metrics": [],
            }
        ],
        "metrics": [],
    }


def _sql_start(eid, plan):
    return {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": eid,
        "sparkPlanInfo": plan,
    }


def _driver_accums(eid, pairs):
    return {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
        "executionId": eid,
        "accumUpdates": pairs,
    }


def test_audit_flags_broadcast_miss_smj(tmp_path):
    """Rule C: an executed SortMergeJoin whose small side is 1 MB while the
    other shuffles 500 MB — AQE should have broadcast it."""
    events = [
        _sql_start(1, _plan_smj(101, 102)),
        _driver_accums(1, [[101, 1_000_000], [102, 500_000_000]]),
    ]
    parsed = audit_event_log.parse_event_log_full(_write_log(tmp_path, events))
    findings = audit_event_log.audit_sql_plans(parsed["plans"], parsed["accums"])
    assert [f["rule"] for f in findings] == ["broadcast-miss-smj"]
    assert findings[0]["small_side_bytes"] == 1_000_000


def test_audit_smj_clean_cases(tmp_path):
    """No rule-C false positives when: both sides are big (SMJ is right),
    both sides are tiny (join is trivially cheap), a size is unknown, or
    the adaptive FINAL plan replaced the SMJ with a broadcast join."""
    events = [
        _sql_start(1, _plan_smj(101, 102)),  # both big
        _driver_accums(1, [[101, 60_000_000], [102, 500_000_000]]),
        _sql_start(2, _plan_smj(201, 202)),  # both tiny
        _driver_accums(2, [[201, 1_000], [202, 2_000]]),
        _sql_start(3, _plan_smj(301, 302)),  # right side size never recorded
        _driver_accums(3, [[301, 1_000_000]]),
        _sql_start(4, _plan_smj(401, 402)),  # AQE replanned to broadcast
        _driver_accums(4, [[401, 1_000_000], [402, 500_000_000]]),
        {
            "Event": "org.apache.spark.sql.execution.ui."
                     "SparkListenerSQLAdaptiveExecutionUpdate",
            "executionId": 4,
            "sparkPlanInfo": _plan_smj(401, 402, node="BroadcastHashJoin"),
        },
    ]
    parsed = audit_event_log.parse_event_log_full(_write_log(tmp_path, events))
    assert audit_event_log.audit_sql_plans(parsed["plans"], parsed["accums"]) == []


def test_audit_smj_size_not_read_past_aggregates(tmp_path):
    """r8 false-positive regression (caught live on the gate sweep): a
    side whose input flows through an AGGREGATE before the join must read
    as size-unknown — attributing the pre-aggregate exchange's 67 MB to a
    64-row join side flagged three tiny-tiny LeftOuter joins."""
    big_exchange = {
        "nodeName": "Exchange", "simpleString": "Exchange hashpartitioning",
        "children": [], "metrics": [
            {"name": "data size", "accumulatorId": 501, "metricType": "size"}],
    }
    agg_side = {
        "nodeName": "Sort", "simpleString": "Sort", "metrics": [],
        "children": [{
            "nodeName": "HashAggregate", "simpleString": "HashAggregate(keys=[qid])",
            "children": [big_exchange], "metrics": [],
        }],
    }
    tiny_side = {
        "nodeName": "Sort", "simpleString": "Sort", "metrics": [],
        "children": [{
            "nodeName": "Exchange", "simpleString": "Exchange hashpartitioning",
            "children": [], "metrics": [
                {"name": "data size", "accumulatorId": 502, "metricType": "size"}],
        }],
    }
    plan = {
        "nodeName": "AdaptiveSparkPlan", "simpleString": "AdaptiveSparkPlan",
        "metrics": [],
        "children": [{
            "nodeName": "SortMergeJoin",
            "simpleString": "SortMergeJoin [qid], [qid], LeftOuter",
            "children": [tiny_side, agg_side], "metrics": [],
        }],
    }
    events = [_sql_start(1, plan),
              _driver_accums(1, [[501, 500_000_000], [502, 120]])]
    parsed = audit_event_log.parse_event_log_full(_write_log(tmp_path, events))
    assert audit_event_log.audit_sql_plans(parsed["plans"], parsed["accums"]) == []


def test_audit_smj_size_not_read_past_nested_joins(tmp_path):
    """r9 ADVICE regression: "Sort" is a passthrough PREFIX, and
    "SortMergeJoin"/"SortAggregate" start with it — so size lookup on an
    outer join's input must STOP at a nested join/sort-aggregate instead of
    descending into it and attributing a deep exchange's bytes to the outer
    side. Shape: outer SMJ whose left side is itself an SMJ over two big
    exchanges (500 MB each) and whose right side is a small 1 MB exchange.
    The left side's size is unknowable (the inner join changed cardinality);
    a buggy walk reads 500 MB for it and flags a broadcast miss."""
    def exch(aid):
        return {
            "nodeName": "Exchange", "simpleString": "Exchange hashpartitioning",
            "children": [], "metrics": [
                {"name": "data size", "accumulatorId": aid, "metricType": "size"}],
        }

    inner_join = {
        "nodeName": "SortMergeJoin",
        "simpleString": "SortMergeJoin [k], [k], Inner",
        "children": [exch(601), exch(602)], "metrics": [],
    }
    left_side = {"nodeName": "Sort", "simpleString": "Sort", "metrics": [],
                 "children": [inner_join]}
    right_side = {"nodeName": "Sort", "simpleString": "Sort", "metrics": [],
                  "children": [exch(603)]}
    plan = {
        "nodeName": "AdaptiveSparkPlan", "simpleString": "AdaptiveSparkPlan",
        "metrics": [],
        "children": [{
            "nodeName": "SortMergeJoin",
            "simpleString": "SortMergeJoin [k], [k], Inner",
            "children": [left_side, right_side], "metrics": [],
        }],
    }
    events = [_sql_start(1, plan),
              _driver_accums(1, [[601, 500_000_000], [602, 500_000_000],
                                 [603, 1_000_000]])]
    parsed = audit_event_log.parse_event_log_full(_write_log(tmp_path, events))
    findings = audit_event_log.audit_sql_plans(parsed["plans"], parsed["accums"])
    # the INNER join (both sides 500 MB) is clean; the OUTER join's left
    # size is unknown → no finding at all. Before the fix this emitted a
    # false broadcast-miss for the outer join (500 MB vs 1 MB).
    assert findings == []
    # SortAggregate must stop descent the same way (cardinality-changing)
    agg_side = {"nodeName": "Sort", "simpleString": "Sort", "metrics": [],
                "children": [{
                    "nodeName": "SortAggregate",
                    "simpleString": "SortAggregate(key=[qid])",
                    "children": [exch(701)], "metrics": [],
                }]}
    plan2 = {
        "nodeName": "AdaptiveSparkPlan", "simpleString": "AdaptiveSparkPlan",
        "metrics": [],
        "children": [{
            "nodeName": "SortMergeJoin",
            "simpleString": "SortMergeJoin [qid], [qid], LeftOuter",
            "children": [right_side, agg_side], "metrics": [],
        }],
    }
    events2 = [_sql_start(2, plan2),
               _driver_accums(2, [[603, 1_000_000], [701, 500_000_000]])]
    parsed2 = audit_event_log.parse_event_log_full(_write_log(tmp_path, events2))
    assert audit_event_log.audit_sql_plans(parsed2["plans"], parsed2["accums"]) == []


def test_audit_exit_code_clamped(tmp_path, monkeypatch):
    """300 findings must NOT exit 300 (wraps to 44) nor 256 (wraps to 0):
    main() clamps to 125 and keeps the true count in the JSON report."""
    events = []
    for sid in range(300):
        events.append(_task_end(sid, run_ms=5_000, input_rec=60_000))
        events.append(_stage_completed(sid, 1, "bad scan"))
    log = _write_log(tmp_path, events)
    report_path = str(tmp_path / "report.json")
    monkeypatch.setattr(
        sys, "argv", ["audit_event_log.py", log, "--json", report_path]
    )
    rc = audit_event_log.main()
    assert rc == 125
    report = json.loads(open(report_path).read())
    assert len(report["findings"]) == 300


# --------- bench_curation's sampled hot-bucket audit (r7) ----------------

_spec_bc = importlib.util.spec_from_file_location(
    "bench_curation",
    os.path.join(os.path.dirname(__file__), "..", "tools", "bench_curation.py"),
)
bench_curation = importlib.util.module_from_spec(_spec_bc)
_spec_bc.loader.exec_module(bench_curation)


def test_audit_sample_expr_deterministic_and_unbiased(spark):
    """The audit's doc_id sample is deterministic (same docs every
    evaluation) and hits the requested rate closely enough that
    sampled/frac estimates of planted-family bucket sizes are honest
    (binomial sd ~ sqrt(n*f) — well under the few-percent level here)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 50_000).withColumnRenamed("id", "doc_id")
    pred = bench_curation.audit_sample_expr(0.1)
    n1 = df.filter(F.expr(pred)).count()
    n2 = df.filter(F.expr(pred)).count()
    assert n1 == n2
    assert 0.09 * 50_000 < n1 < 0.11 * 50_000
    # disjoint rates nest: every doc sampled at 0.05 is sampled at 0.1
    small = set(
        r["doc_id"]
        for r in df.filter(F.expr(bench_curation.audit_sample_expr(0.05))).collect()
    )
    big = set(r["doc_id"] for r in df.filter(F.expr(pred)).collect())
    assert small <= big


# --------- make_lemma_table (r8, P5 regeneration tooling) -----------------

_spec_lt = importlib.util.spec_from_file_location(
    "make_lemma_table",
    os.path.join(os.path.dirname(__file__), "..", "tools", "make_lemma_table.py"),
)
make_lemma_table = importlib.util.module_from_spec(_spec_lt)
_spec_lt.loader.exec_module(make_lemma_table)


def test_lemma_table_from_tsv_roundtrip(tmp_path):
    """TSV conversion: identity pairs dropped, comments/blank lines skipped,
    output is a function (sorted deterministic JSON via main)."""
    tsv = tmp_path / "dump.tsv"
    tsv.write_text("# comment\nwent\tgo\nsaid\tsay\nrun\trun\n\nmice\tmouse\n")
    table = make_lemma_table.build_from_tsv(str(tsv))
    assert table == {"went": "go", "said": "say", "mice": "mouse"}

    out = tmp_path / "t.json"
    monkey_argv = ["make_lemma_table.py", "--from-tsv", str(tsv), "--out", str(out)]
    old = sys.argv
    sys.argv = monkey_argv
    try:
        assert make_lemma_table.main() == 0
    finally:
        sys.argv = old
    data = json.loads(out.read_text())
    assert list(data) == sorted(data)  # deterministic bytes for pinning


def test_lemma_table_from_tsv_rejects_conflicts_and_garbage(tmp_path):
    bad1 = tmp_path / "c.tsv"
    bad1.write_text("saw\tsee\nsaw\tsaw2\n")
    import pytest

    with pytest.raises(SystemExit, match="conflicting"):
        make_lemma_table.build_from_tsv(str(bad1))
    bad2 = tmp_path / "g.tsv"
    bad2.write_text("just-one-column\n")
    with pytest.raises(SystemExit, match="token<TAB>lemma"):
        make_lemma_table.build_from_tsv(str(bad2))


def test_lemma_irregulars_fixture_is_sound():
    """The curated table must be chain-free (no value is also a key — a
    lookup applied once must be idempotent), single-word, lowercase, and
    free of the known POS-ambiguous surfaces it documents as excluded."""
    from fusion_spark.lemma_data import LEMMA_TABLE_EN_IRREGULARS as T

    assert len(T) > 150
    for k, v in T.items():
        assert k != v and " " not in k and " " not in v
        assert k == k.lower() and v == v.lower()
        assert v not in T, f"chain: {k} -> {v} -> {T.get(v)}"
    for ambiguous in ("better", "best", "left", "lay", "found", "ground"):
        assert ambiguous not in T


# --------- bench_ann helpers (r8, back the 10M ANN BENCH claims) ----------

_spec_ba = importlib.util.spec_from_file_location(
    "bench_ann",
    os.path.join(os.path.dirname(__file__), "..", "tools", "bench_ann.py"),
)
bench_ann = importlib.util.module_from_spec(_spec_ba)
_spec_ba.loader.exec_module(bench_ann)


def test_bench_ann_generator_deterministic_and_clustered():
    """The splitmix64 corpus is pure-function deterministic (same bytes at
    any batching/partitioning — the property the 10M claims rest on) and
    actually clustered: a vector sits nearest its own planted center."""
    import numpy as np

    keys = np.arange(100, dtype=np.uint64)
    a = bench_ann._unit_noise(keys, 16)
    b = bench_ann._unit_noise(keys.copy(), 16)
    assert np.array_equal(a, b)
    assert a.min() >= -1.0 and a.max() < 1.0
    # batch-split invariance: rows depend only on the key
    half = bench_ann._unit_noise(keys[37:53], 16)
    assert np.array_equal(half, a[37:53])

    C = bench_ann.centers_matrix(8, 16)
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)
    ids = np.arange(40, dtype=np.uint64)
    vecs = C[(ids % 8).astype(np.int64)] + 0.25 * bench_ann._unit_noise(ids, 16)
    Vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    assert np.array_equal((Vn @ C.T).argmax(axis=1), (ids % 8).astype(np.int64))


def test_bench_ann_messy_generator_shape():
    """r9 messy-mixture generator: deterministic in the id, Zipf head
    cluster genuinely dominant, background fraction near its nominal 20%,
    and the same id always lands in the same (cluster, background) cell."""
    import numpy as np
    import pytest

    ids = np.arange(50_000, dtype=np.uint64)
    cl, bg = bench_ann.messy_params(ids, 64, 1.1, 0.2)
    cl2, bg2 = bench_ann.messy_params(ids.copy(), 64, 1.1, 0.2)
    assert np.array_equal(cl, cl2) and np.array_equal(bg, bg2)
    assert 0.18 < bg.mean() < 0.22
    counts = np.bincount(cl, minlength=64)
    assert counts.argmax() == 0  # Zipf head is rank 0
    assert counts[0] > 3 * counts[32]  # and genuinely dominant
    assert (counts > 0).all()  # every latent cluster is populated
    # cdf is a proper CDF
    cdf = bench_ann.zipf_cdf(64, 1.1)
    assert cdf[-1] == pytest.approx(1.0) and np.all(np.diff(cdf) > 0)


def test_auto_n_centroids_heuristic():
    """~10k rows/list, power-of-two, clamped — the write_ivf_store 'auto'."""
    from fusion_spark.extras.similarity import auto_n_centroids

    assert auto_n_centroids(10_000_000) == 1024
    assert auto_n_centroids(100_000) == 8 or auto_n_centroids(100_000) == 16
    assert auto_n_centroids(100_000) >= 16  # lo clamp
    assert auto_n_centroids(10**12) == 4096  # hi clamp
    assert auto_n_centroids(1) == 16


def test_bench_ann_store_file_stats(tmp_path):
    """Hive-layout accounting: totals, kept subset, per-partition bytes."""
    for part, sizes in [("sig=3", [100, 50]), ("sig=7", [200]), ("sig=9", [400])]:
        d = tmp_path / "vectors" / part
        d.mkdir(parents=True)
        for i, n in enumerate(sizes):
            (d / f"part-{i}.parquet").write_bytes(b"x" * n)
        (d / "_SUCCESS").write_bytes(b"")  # non-parquet ignored
    ft, bt, fk, bk, by_part = bench_ann.store_file_stats(
        str(tmp_path / "vectors"), {"3", "9"}, "sig")
    assert (ft, bt, fk, bk) == (4, 750, 3, 550)
    assert by_part == {"3": 150, "7": 200, "9": 400}


# --------- every tool takes its cores from the host -----------------------


def test_tools_do_not_pin_cores():
    """No tool runs a fixed `local[N]`: a `get_spark(cores=<int literal>)`
    call or an argparse `--cores` option would size the session for some
    other host. get_spark's default (SPARK_GRAFT_CPUS, else local[*])
    applies; partition math reads `os.sched_getaffinity(0)`."""
    import ast
    import glob

    tools_dir = os.path.join(os.path.dirname(__file__), "..", "tools")
    pinned = []
    for path in sorted(glob.glob(os.path.join(tools_dir, "*.py"))):
        name = os.path.basename(path)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            fname = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
            if fname == "get_spark":
                pinned += [
                    f"{name}:{node.lineno} get_spark(cores={kw.value.value!r})"
                    for kw in node.keywords
                    if kw.arg == "cores" and isinstance(kw.value, ast.Constant)
                    and isinstance(kw.value.value, int)
                ]
            elif fname == "add_argument" and any(
                isinstance(a, ast.Constant) and a.value == "--cores" for a in node.args
            ):
                pinned.append(f"{name}:{node.lineno} --cores")
    assert not pinned, pinned
