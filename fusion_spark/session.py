"""SparkSession factory with scale-oriented defaults.

Defaults are expressed so the same config works in local[N] and on a real
multi-executor cluster: AQE on (runtime re-planning + skew-join splitting),
Arrow on (vectorized pandas UDF transfer), modest shuffle partitions for
small SFs (override per workload).

Host fit: ``spark.driver.memory`` defaults to 75% of physical RAM, capped at
16g (``SPARK_DRIVER_MEMORY`` overrides it).

Python workers run under ``fusion_spark.worker_daemon``
(``spark.python.daemon.module``). The stock ``pyspark.daemon`` lets every
task re-read the central directory of the Spark core jar and ``pyspark.zip``
in ``setup_spark_files`` (~120-160 ms per task, BENCH.md "Fixed cost of a
Python task"); the fusion_spark daemon re-reads an archive only when it
changed. So that the daemon and every fusion_spark closure import from any
working directory, the package root is prepended to
``spark.executorEnv.PYTHONPATH`` (a caller's value is kept after it). On a
cluster whose executors cannot import fusion_spark at start-up (shipped only
by ``addPyFile``), pass ``spark.python.daemon.module=pyspark.daemon`` in
``extra_conf``.

Under a ``local[...]`` master the Python workers talk to the JVM over Unix
domain sockets (``spark.python.unix.domain.socket.enabled``). Over Spark's
default loopback TCP socket every Python task waited ≈40-50 ms for the JVM
(BENCH.md "Python workers over Unix domain sockets"). The sockets live in a
private (0700) directory under ``/tmp``, one per driver process: the
Unix-socket path skips the TCP auth secret, so the directory's permissions
keep other local users out, and ``/tmp`` keeps ``<dir>/.<uuid4>.sock``
inside the 107-byte ``sun_path`` limit however long ``TMPDIR`` or
``java.io.tmpdir`` is. The directory is removed by an ``atexit`` handler,
which Python runs only on a normal exit: a driver killed by any signal
(SIGTERM included, so ``timeout`` and ``kill`` too) leaves it behind. Other
masters keep Spark's default. For stock TCP under a local
master pass ``spark.python.unix.domain.socket.enabled=false`` in
``extra_conf``.
"""

from __future__ import annotations

import atexit
import functools
import os
import re
import shutil
import tempfile

from pyspark.sql import SparkSession

# parent of the fusion_spark/ package: what a worker needs on its path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """75% of physical RAM in MiB, never above the old fixed 16g."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "16g"
    return f"{min(16 * 1024, int(total * 0.75) >> 20)}m"


@functools.cache
def _unix_socket_dir() -> str:
    """This process's private socket directory, made on first use and
    removed at a normal exit (after the JVM, whose exit hook pyspark
    registers later and so runs first); a driver killed by a signal, SIGTERM
    included, leaves it behind."""
    path = tempfile.mkdtemp(prefix="fs-sock-", dir="/tmp")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def get_spark(
    app_name: str = "fusion-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` sets the local master to ``local[cores]``; left as ``None`` it
    comes from ``SPARK_GRAFT_CPUS``, else ``local[*]`` (every core the JVM
    sees). ``SPARK_MASTER``, when set, replaces the local master. Shuffle
    partitions default to ``max(2 * cores, 8)`` for an integer core count,
    else 32. bench.py's scaling pair passes ``cores`` to run the identical
    job at two parallelism levels.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cores) * 2, 8)
        except (TypeError, ValueError):
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE sizes post-shuffle reads by MAP-OUTPUT BYTES and cannot see a
        # downstream row multiplication: a small aggregate feeding a combo
        # cross-join (the fused tuning grids: 23k rows / 1.7 MB exchanged,
        # then ×187 combos + an interpreted fold) coalesces to ONE task and
        # the whole expansion runs serially (event-log-measured 18.6 s
        # single-task stage; r6). parallelismFirst exists for exactly this,
        # but its floor is minPartitionSize (default 1 MB) — far above such
        # exchanges. 64k keeps small-byte/CPU-heavy reads at full
        # parallelism and is inert at scale (real partitions are ≥ the
        # 64 MB advisory size, so this floor never binds there).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", "fusion_spark.worker_daemon")
    )
    if re.fullmatch(r"local(\[.*\])?", master):
        builder = builder.config("spark.python.unix.domain.socket.enabled", "true").config(
            "spark.python.unix.domain.socket.dir", _unix_socket_dir()
        )
    # Opt-in event logging (tools/audit_event_log.py consumes these): the
    # executed plan — AQE-coalesced reads, real task counts — only exists in
    # the event log; .explain() shows the pre-runtime plan (docs/PLANS.md).
    elog_dir = os.environ.get("SPARK_GRAFT_EVENTLOG_DIR")
    if elog_dir:
        os.makedirs(elog_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", elog_dir)
            # uncompressed: the audit tool parses the JSON lines directly
            # (no zstd codec in this environment)
            .config("spark.eventLog.compress", "false")
        )
    # env-injected conf (JSON dict), applied after everything else: lets a
    # parent process A/B a conf in child processes it cannot pass
    # extra_conf to (e.g. spark.python.unix.domain.socket.enabled=false for
    # a stock-TCP run of a tool or a perfbench workload) without threading a
    # new parameter through every tool
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    merged = {**(extra_conf or {})}
    if env_conf:
        import json as _json

        merged.update(_json.loads(env_conf))
    pythonpath = merged.get("spark.executorEnv.PYTHONPATH")
    merged["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        [_PACKAGE_ROOT] + ([pythonpath] if pythonpath else [])
    )
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
