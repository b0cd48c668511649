"""Benchmark of record for fusion_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. One process drives Spark at
``local[nproc]``, with no extra client threads. The workloads are in
``perfbench/workloads.py``; the metric names and units in ``BENCHMARK.json``.

``--trace 0`` (timed run): set up three times, warm up, then run operations
until ``--seconds`` of operation time is spent; every result is checked.
Prints every end-to-end metric.

``--trace 1`` (traced run): a fixed schedule of operations, first in a
session without tracing, then again in a fresh session with the Spark event
log on and a span around every call into a layer. Prints every per-layer
metric; ``trace.overhead_ms`` is the difference between the two.

``--smoke`` shrinks every input so a run takes seconds; the benchmark's own
tests use it to check that every named metric is emitted.

Progress goes to stderr. Stdout carries one detail line (host, sample
counts, workload extras) and, last, the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
DRIVER_MEMORY = "3g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def host_env(work: str) -> int:
    """Fit the launch to this host, before pyspark is imported."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    # Python workers import fusion_spark: they need the checkout on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for var in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.environ[var] = os.path.join(work, "tmp")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    os.environ.pop("SPARK_MASTER", None)
    return cores


def host_info(spark, cores: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "master": spark.sparkContext.master,
    }


def start_spark(name: str, work: str, eventlog: str | None = None):
    from fusion_spark.session import get_spark

    if eventlog:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = eventlog
    spark = get_spark(
        app_name=f"perfbench-{name}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit
    (its Python workers exit with it). Safe to call when nothing runs."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def steal_s() -> float:
    """CPU time the hypervisor took from this machine, all CPUs, so far: a
    run with a large share of it ran on a busy host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class Ctx:
    def __init__(self, spark, seed, work, cores, tracer, smoke):
        self.spark, self.seed, self.work = spark, seed, work
        self.cores, self.tracer, self.smoke = cores, tracer, smoke


class Outcome:
    """Operation walls and failure accounting for one run. A wrong result
    still has a wall; an operation that raised has none."""

    def __init__(self):
        self.walls: list[float] = []
        self.attempted = self.failed = 0
        self.self_test = None

    def run(self, wl, i: int) -> None:
        self.attempted += 1
        try:
            dt, payload = wl.op(i)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return
        try:
            ok = wl.check(payload)
            if ok and self.self_test is None and hasattr(wl, "self_test"):
                self.self_test = wl.self_test(payload)
        except Exception:
            traceback.print_exc()
            ok = False
        finally:
            wl.release(payload)
        self.walls.append(dt)
        if not ok:
            log(f"op {i}: WRONG RESULT")
            self.failed += 1

    def correct(self) -> bool:
        return self.failed == 0 and self.self_test is not False


def timed_run(cls, args, work, cores, spec):
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    spark = start_spark(cls.name, work)
    session_s = time.perf_counter() - t0
    wl = cls(Ctx(spark, args.seed, work, cores, Tracer(), args.smoke))
    setups = []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t0)
        log(f"setup {r}: {setups[-1]:.2f} s")
    t0 = time.perf_counter()
    wl.warmup()
    warm_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare_check()
    log(f"session {session_s:.1f} s, warm-up {warm_s:.1f} s, "
        f"exact side {time.perf_counter() - t0:.1f} s")
    out = Outcome()
    steal0 = steal_s()
    i = 0
    deadline = time.perf_counter() + 3 * args.seconds + 30
    t0 = time.perf_counter()
    while (sum(out.walls) < args.seconds or i < wl.min_ops) and time.perf_counter() < deadline:
        out.run(wl, i)
        i += 1
    # when every operation raised, the time spent failing is what was measured
    walls_ms = [w * 1000.0 for w in out.walls] or [(time.perf_counter() - t0) * 1000.0]
    steal = steal_s() - steal0
    metrics = {
        "setup_s": session_s + statistics.median(setups) + warm_s,
        "op_p50_ms": statistics.median(walls_ms),
    }
    detail = {
        "peak_rss_mb": peak_rss_mb(spark),
        "workload": cls.name, "op": cls.unit, "samples": len(walls_ms),
        "attempted": out.attempted, "failed": out.failed,
        "error_rate": out.failed / out.attempted,
        "gate_self_test": out.self_test,
        "session_s": session_s, "setup_reps_s": setups, "warmup_s": warm_s,
        "steal_s_in_window": steal,
        "op_ms": walls_ms, "host": host_info(spark, cores), **wl.detail,
    }
    return out, metrics, detail


def traced_run(cls, args, work, cores, spec):
    from perfbench.trace import Tracer, attribute

    # untraced pass over the fixed schedule: the base for trace.overhead_ms
    t0 = time.perf_counter()
    spark = start_spark(cls.name, work)
    session_ms = (time.perf_counter() - t0) * 1000.0
    wl = cls(Ctx(spark, args.seed, work, cores, Tracer(), args.smoke))
    wl.setup()
    wl.warmup()
    schedule = wl.traced_ops()
    plain = []
    for i in schedule:
        dt, payload = wl.op(i)
        wl.release(payload)
        plain.append(dt * 1000.0)
    spark.stop()

    # traced pass: same schedule, fresh session with the event log on
    elog = os.path.join(work, "eventlog")
    spark = start_spark(cls.name, work, eventlog=elog)
    tracer = Tracer(spark.sparkContext)
    wl = cls(Ctx(spark, args.seed, work, cores, tracer, args.smoke))
    wl.setup()
    # the JVM's compiled code survived the restart, so no second warm-up;
    # the exact side is not the program under test
    tracer.active = False
    wl.prepare_check()
    tracer.active = True
    out = Outcome()
    for i in schedule:
        out.run(wl, i)
    traced = [w * 1000.0 for w in out.walls]
    probes, probe_ok = wl.probe()
    out.attempted += 1
    out.failed += not probe_ok
    host = host_info(spark, cores)
    stop_spark()  # the event log is complete only once the context stops

    spans = tracer.spans
    layers, findings = attribute(ROOT, elog, spans)
    values = {}
    for m in spec["per_layer"]:
        layer, _, qty = m["name"].rpartition(".")
        values[m["name"]] = layers.get(layer, {}).get(qty, 0.0)
    floor = [s["t1"] - s["t0"] for s in spans
             if s["name"] == "blocks.wand_search" and s["tag"] == "none"]
    values.update(probes)
    values.update({
        "blocks.wand_search.floor_ms": statistics.mean(floor) if floor else 0.0,
        "session.get_spark.ms": session_ms,
        "trace.overhead_ms": (statistics.median(traced) - statistics.median(plain)
                              if traced else 0.0),
        "audit.findings": findings,
    })
    detail = {
        "workload": cls.name, "schedule": schedule, "untraced_ms": plain, "traced_ms": traced,
        "layers": {k: {q: round(v, 1) for q, v in qs.items()} for k, qs in layers.items()},
        "host": host, **wl.detail,
    }
    return out, values, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "fusion_spark")) or not os.path.exists(spec_path):
        log(f"no fusion_spark package and BENCHMARK.json under {ROOT}")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cores = host_env(work)
    try:
        run = traced_run if args.trace else timed_run
        out, values, detail = run(WORKLOADS[args.workload], args, work, cores, spec)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": out.correct(),
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
