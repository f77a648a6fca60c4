"""The Python-worker daemon that ``get_spark`` sessions run under
(``flink_kmeans_spark/pyworker/graft_daemon.py``): it drops the importers
of Spark's own archives before each task, and nothing else."""

import importlib.machinery
import os
import subprocess
import sys
import zipfile
import zipimport

from flink_kmeans_spark.pyworker import graft_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(name, "")
    return str(path)


def test_prune_drops_only_spark_archive_importers(tmp_path):
    spark_zip = _zip(
        tmp_path / "pyspark.zip", ["pyspark/__init__.py", "pyspark/sql/__init__.py"]
    )
    user_zip = _zip(tmp_path / "userlib.zip", ["userlib.py"])
    spark_paths = [spark_zip, f"{spark_zip}/pyspark", f"{spark_zip}/pyspark/sql"]
    cache = {p: zipimport.zipimporter(p) for p in spark_paths}
    archives = graft_daemon.spark_archives(cache)
    assert archives == {spark_zip}
    # what tasks add after the daemon recorded its archives
    cache[user_zip] = zipimport.zipimporter(user_zip)
    cache[str(tmp_path)] = importlib.machinery.FileFinder(str(tmp_path))
    cache[str(tmp_path / "missing")] = None

    graft_daemon.prune(cache, archives)

    assert set(cache) == {user_zip, str(tmp_path), str(tmp_path / "missing")}
    # a dropped importer rebuilds from zipimport's directory cache
    assert zipimport.zipimporter(f"{spark_zip}/pyspark").find_spec("pyspark.sql")


SCRIPT = """
import sys, zipfile
sys.path.insert(0, {root!r})
from flink_kmeans_spark.session import get_spark

spark = get_spark("pyworker-test")
with zipfile.ZipFile("graft_userlib.zip", "w") as z:
    z.writestr("graft_userlib.py", "VALUE = 7\\n")
spark.sparkContext.addPyFile("graft_userlib.zip")


def probe(batches):
    import importlib.util
    import sys

    import graft_userlib

    for pdf in batches:
        pdf["daemon"] = sys.modules["__main__"].__spec__.name
        pdf["user"] = graft_userlib.VALUE
        pdf["engine"] = importlib.util.find_spec("flink_kmeans_spark") is not None
        yield pdf


schema = "id long, daemon string, user long, engine boolean"
for _ in range(2):  # the second job runs in a reused worker
    rows = spark.range(4).mapInPandas(probe, schema).collect()
    assert sorted(r.id for r in rows) == [0, 1, 2, 3], rows
    assert {{(r.daemon, r.user, r.engine) for r in rows}} == {{("graft_daemon", 7, False)}}, rows
spark.stop()
print("PYWORKER_OK", flush=True)
"""


def test_get_spark_workers_run_daemon_outside_repo_cwd(tmp_path):
    """A get_spark session's tasks run under the daemon, import an
    ``addPyFile`` zip, and cannot import the engine package."""
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(root=REPO_ROOT)],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "PYWORKER_OK" in r.stdout
