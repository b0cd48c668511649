"""Session defaults: the fusion_spark worker daemon (zip importers re-read an
archive only when it changed), the package root on the workers' path, Python
workers over Unix domain sockets in a private per-process directory, and the
host-fit driver memory."""

import ast
import importlib
import os
import stat
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pandas as pd

from fusion_spark import session, worker_daemon  # noqa: F401  (patches zipimporter)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"fs_wd_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "fs_wd_probe_a", raising=False)
    monkeypatch.delitem(sys.modules, "fs_wd_probe_b", raising=False)
    assert importlib.import_module("fs_wd_probe_a").X == 1
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    importlib.invalidate_caches()
    table = importer._files
    importlib.invalidate_caches()
    assert importer._files is table  # unchanged archive: not re-read

    _write_zip(archive, {"fs_wd_probe_a": "X = 1\n", "fs_wd_probe_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importer._files is not table
    assert importlib.import_module("fs_wd_probe_b").Y == 2

    archive.unlink()  # stat fails: the original re-read runs and finds nothing
    importer.invalidate_caches()
    assert importer._files == {}


def test_workers_keep_zip_tables_across_invalidate(spark):
    """Runs inside a Python worker: under the fusion_spark daemon no
    zipimporter re-reads its (unchanged) archive on invalidate_caches, and
    the worker was started for a Unix domain socket."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        importlib.invalidate_caches()
        tables = {
            k: v._files
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        }
        importlib.invalidate_caches()
        kept = all(sys.path_importer_cache[k]._files is t for k, t in tables.items())
        for _ in batches:
            pass
        uds = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")
        yield pd.DataFrame({"n_zip": [len(tables)], "kept": [kept], "uds": [uds]})

    rows = spark.range(1).mapInPandas(probe, "n_zip long, kept boolean, uds string").collect()
    assert rows and all(r["n_zip"] > 0 for r in rows)
    assert all(r["kept"] for r in rows)
    assert all(r["uds"].lower() == "true" for r in rows), rows


def test_session_defaults_fit_host(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "fusion_spark.worker_daemon"
    assert conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[0] == REPO
    # local master: Unix sockets in a private directory short enough for any
    # `<dir>/.<uuid4>.sock` within the 107-byte sun_path
    assert conf.get("spark.master").startswith("local[")
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    st = os.stat(sock_dir)
    assert stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700
    assert st.st_uid == os.getuid()
    assert len(os.fsencode(f"{sock_dir}/.{uuid.uuid4()}.sock")) <= 107
    mem = session._default_driver_memory()
    assert mem.endswith("m")
    ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < int(mem[:-1]) <= min(16 * 1024, ram_mib * 0.75)


def test_wand_search_from_any_cwd_without_pythonpath(tmp_path):
    """The driver is launched outside the checkout with no PYTHONPATH: the
    daemon and the fusion_spark closures must still import on the workers.
    TMPDIR and java.io.tmpdir are longer than a socket path may be, and the
    socket directory is gone once the process exits. Runs in a subprocess
    (its own cwd, env and JVM)."""
    long_tmp = tmp_path / ("t" * 60) / ("u" * 60)
    long_tmp.mkdir(parents=True)
    assert len(str(long_tmp)) > 120
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from fusion_spark.blocks import build_packed, wand_search
from fusion_spark.session import get_spark

spark = get_spark(app_name="any-cwd", cores=2,
                  extra_conf={{"spark.executorEnv.PYTHONPATH": "/nonexistent",
                              "spark.driver.extraJavaOptions":
                                  "-Djava.io.tmpdir={long_tmp}"}})
conf = spark.sparkContext.getConf()
print("SOCKET_DIR", conf.get("spark.python.unix.domain.socket.dir"))
pp = conf.get("spark.executorEnv.PYTHONPATH")
assert pp.split({os.pathsep!r}) == [{REPO!r}, "/nonexistent"], pp
docs = spark.createDataFrame(
    [(0, "alpha beta alpha"), (1, "beta gamma"), (2, "gamma delta"),
     (3, "delta"), (4, "epsilon"), (5, "zeta")],
    "doc_id long, text string")
packed = build_packed(docs, {str(tmp_path / "store")!r}, segment_size=16)
qs = spark.createDataFrame([(1, "beta gamma")], "qid long, question string")
got = [(r["doc_id"], r["rank"]) for r in
       wand_search(packed, qs, k=3).orderBy("rank").collect()]
print("ANY_CWD_OK", got)
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    env["TMPDIR"] = str(long_tmp)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "ANY_CWD_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-3000:]
    got = ast.literal_eval(out.stdout.split("ANY_CWD_OK", 1)[1])
    assert [d for d, _ in got] == [1, 2, 0] and [r for _, r in got] == [1, 2, 3]
    sock_dir = out.stdout.split("SOCKET_DIR ", 1)[1].split("\n", 1)[0]
    assert sock_dir.startswith("/") and not os.path.exists(sock_dir), sock_dir
