"""Spans around calls into fusion_spark layers, attributed to Spark jobs.

A span is (name, start, end, parent). While a span is open its id is set as
the Spark local property ``perfbench.span``, so every job the call submits
carries the id into the event log (JobStart "Properties"). After the run the
event log is read back with ``tools/audit_event_log.py``'s parser (per-stage
task counts, run and CPU time, plus rules A-D) and with one small extra pass
here for what that parser does not keep: job -> stage -> span mapping, job
intervals, call sites, shuffle and spill bytes.

Timed runs use ``Tracer()``: no spans, no local properties, no event log.
"""

from __future__ import annotations

import importlib.util
import json
import os
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"

# quantities derived per span name; every value is a per-call mean
SPAN_QUANTITIES = (
    "ms", "jobs", "stages", "tasks", "driver_gap_ms", "collects",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "executor_run_ms", "executor_cpu_ms",
)
# a job counts as a driver collect when its call site is one of these
COLLECT_CALLS = ("collect", "toPandas", "take", "first", "head", "toLocalIterator")


class Tracer:
    """Spans of one run. Without a SparkContext it records nothing, which
    is how timed runs keep tracing off."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.active = spark_context is not None

    @contextmanager
    def span(self, name: str, tag: str | None = None):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "tag": tag,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        rec["t0"] = time.time() * 1000.0
        try:
            yield
        finally:
            rec["t1"] = time.time() * 1000.0
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(self._stack[-1]) if self._stack else None
            )


def load_audit(root: str):
    """Import tools/audit_event_log.py as is (it is a script, not a package)."""
    path = os.path.join(root, "tools", "audit_event_log.py")
    spec = importlib.util.spec_from_file_location("audit_event_log", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _read_jobs_and_stages(path: str, jobs: dict, stage_span: dict, stage_bytes: dict) -> None:
    """Job intervals, span id and call site; per stage the span that
    submitted it and its shuffle and spill bytes. Attempt 0 only, as the
    audit parser counts tasks. A stage reused by a later job is skipped
    there and is never submitted again, so it is counted once."""
    wanted = ('"SparkListenerJob', '"SparkListenerTaskEnd"', '"SparkListenerStageSubmitted"')
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            if not any(w in line for w in wanted):
                continue
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[(path, ev["Job ID"])] = {
                    "span": props.get(SPAN_PROPERTY),
                    "call": (props.get("callSite.short") or "").split(" ")[0],
                    "t0": ev.get("Submission Time"),
                    "t1": None,
                }
            elif kind == "SparkListenerJobEnd":
                job = jobs.get((path, ev["Job ID"]))
                if job is not None:
                    job["t1"] = ev.get("Completion Time")
            elif kind == "SparkListenerStageSubmitted":
                info = ev.get("Stage Info") or {}
                if info.get("Stage Attempt ID", 0) == 0:
                    props = ev.get("Properties") or {}
                    stage_span[(path, info.get("Stage ID"))] = props.get(SPAN_PROPERTY)
            elif kind == "SparkListenerTaskEnd":
                if ev.get("Stage Attempt ID", 0) != 0:
                    continue
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                b = stage_bytes.setdefault((path, ev.get("Stage ID")), [0, 0, 0])
                b[0] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                b[1] += sw.get("Shuffle Bytes Written", 0)
                b[2] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(root: str, elog_dir: str, spans: list[dict]) -> tuple[dict, int]:
    """Per span name: per-call means of SPAN_QUANTITIES. Also returns the
    number of rule A-D findings on the whole event log."""
    audit = load_audit(root)
    stages: dict = {}
    jobs: dict = {}
    stage_span: dict = {}
    stage_bytes: dict = {}
    findings = 0
    for path in audit.iter_event_files([elog_dir]):
        parsed = audit.parse_event_log_full(path)
        findings += len(audit.audit_stages(parsed["stages"]))
        findings += len(audit.audit_sql_plans(parsed["plans"], parsed["accums"]))
        for sid, st in parsed["stages"].items():
            stages[(path, sid)] = st
        _read_jobs_and_stages(path, jobs, stage_span, stage_bytes)

    by_span: dict[str, list[dict]] = {}
    for job in jobs.values():
        if job["span"] is not None:
            by_span.setdefault(job["span"], []).append(job)
    stages_by_span: dict[str, list] = {}
    for key, span_id in stage_span.items():
        st = stages.get(key)
        if span_id is not None and st is not None and st["completed"]:
            stages_by_span.setdefault(span_id, []).append(key)

    children_ms: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children_ms[s["parent"]] = children_ms.get(s["parent"], 0.0) + s["t1"] - s["t0"]

    sums: dict[str, dict[str, float]] = {}
    calls: dict[str, int] = {}
    for s in spans:
        wall = s["t1"] - s["t0"]
        own = by_span.get(str(s["id"]), [])
        q = dict.fromkeys(SPAN_QUANTITIES, 0.0)
        q["ms"] = wall - children_ms.get(s["id"], 0.0)
        q["jobs"] = len(own)
        q["collects"] = sum(1 for j in own if j["call"] in COLLECT_CALLS)
        q["driver_gap_ms"] = wall - _covered_ms(
            [(j["t0"], j["t1"]) for j in own if j["t0"] and j["t1"]], s["t0"], s["t1"]
        )
        for key in stages_by_span.get(str(s["id"]), []):
            st = stages[key]
            q["stages"] += 1
            q["tasks"] += st["num_tasks"]
            q["executor_run_ms"] += st["run_ms"]
            q["executor_cpu_ms"] += st["cpu_ms"]
            rd, wr, sp = stage_bytes.get(key, (0, 0, 0))
            q["shuffle_read_bytes"] += rd
            q["shuffle_write_bytes"] += wr
            q["spill_bytes"] += sp
        acc = sums.setdefault(s["name"], dict.fromkeys(SPAN_QUANTITIES, 0.0))
        for k, v in q.items():
            acc[k] += v
        calls[s["name"]] = calls.get(s["name"], 0) + 1

    out = {}
    for name, acc in sums.items():
        out[name] = {k: v / calls[name] for k, v in acc.items()}
        out[name]["calls"] = calls[name]
    return out, findings
