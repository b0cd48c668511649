"""Session defaults: the fusion_spark worker daemon (zip importers re-read an
archive only when it changed), the package root on the workers' path, and
the host-fit driver memory."""

import ast
import importlib
import os
import subprocess
import sys
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
    zipimporter re-reads its (unchanged) archive on invalidate_caches."""

    def probe(batches):
        import importlib
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
        yield pd.DataFrame({"n_zip": [len(tables)], "kept": [kept]})

    rows = spark.range(1).mapInPandas(probe, "n_zip long, kept boolean").collect()
    assert rows and all(r["n_zip"] > 0 for r in rows)
    assert all(r["kept"] for r in rows)


def test_session_defaults_fit_host(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "fusion_spark.worker_daemon"
    assert conf.get("spark.executorEnv.PYTHONPATH").split(os.pathsep)[0] == REPO
    mem = session._default_driver_memory()
    assert mem.endswith("m")
    ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < int(mem[:-1]) <= min(16 * 1024, ram_mib * 0.75)


def test_wand_search_from_any_cwd_without_pythonpath(tmp_path):
    """The driver is launched outside the checkout with no PYTHONPATH: the
    daemon and the fusion_spark closures must still import on the workers.
    Runs in a subprocess (its own cwd, env and JVM)."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from fusion_spark.blocks import build_packed, wand_search
from fusion_spark.session import get_spark

spark = get_spark(app_name="any-cwd", cores=2,
                  extra_conf={{"spark.executorEnv.PYTHONPATH": "/nonexistent"}})
pp = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
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
