"""The Python-worker bootstrap that ``session.get_spark`` installs.

Spark's workers end every task and every data-source planner call in
``importlib.invalidate_caches()``; the bootstrap's ``sitecustomize``
makes a zip importer skip the re-read of an archive whose stat did
not change. These tests pin that it (1) behaves like stock Python on
a changed archive while skipping an unchanged one, (2) still runs a
``sitecustomize`` that sits later on the path, (3) reaches both kinds
of worker process, and (4) keeps a caller's worker ``PYTHONPATH``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

from facebook_ads_bigquery_etl_spark import session

# Rewrites an absolute-path zip in place and reports how often each
# importlib.invalidate_caches() re-read its central directory.
_ZIP_PROBE = r"""
import importlib, json, sys, zipfile, zipimport

archive = sys.argv[1]


def write(names):
    with open(archive, "wb") as fh:  # in place: same inode, new bytes
        with zipfile.ZipFile(fh, "w") as zf:
            zf.writestr("probe_pkg/__init__.py", "")
            for name in names:
                zf.writestr(f"probe_pkg/{name}.py", f"NAME = {name!r}\n")


write(["a"])
sys.path.insert(0, archive)
import probe_pkg.a

reads = []
read_directory = zipimport._read_directory


def counting(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)


zipimport._read_directory = counting


def invalidate():
    del reads[:]
    importlib.invalidate_caches()
    return len(reads)


first = invalidate()
unchanged = invalidate()
write(["a", "b"])
changed = invalidate()
import probe_pkg.b

print(json.dumps({
    "wrapped": hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"),
    "first": first,
    "unchanged": unchanged,
    "changed": changed,
    "imported": probe_pkg.b.NAME,
}))
"""


def _python(args, pythonpath, cwd):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    out = subprocess.run(
        [sys.executable, *args], env=env, cwd=cwd, capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    return out.stdout


def test_bootstrap_skips_unchanged_archive_and_rereads_changed(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(_ZIP_PROBE)
    runs = {}
    for label, pythonpath in (("stock", []), ("bootstrap", [session.WORKER_BOOTSTRAP_DIR])):
        archive = tmp_path / f"{label}.zip"
        runs[label] = json.loads(
            _python([str(script), str(archive)], pythonpath, tmp_path).splitlines()[-1]
        )
    stock, boot = runs["stock"], runs["bootstrap"]
    assert not stock["wrapped"] and boot["wrapped"]
    # one importer per path entry into the archive: the root and probe_pkg/
    assert stock["first"] == boot["first"] == 2
    assert stock["unchanged"] == 2 and boot["unchanged"] == 0
    assert stock["changed"] == boot["changed"] == 2
    assert stock["imported"] == boot["imported"] == "b"


def test_bootstrap_runs_next_sitecustomize(tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("print('other sitecustomize ran')\n")
    probe = "import zipimport as z; print(hasattr(z.zipimporter.invalidate_caches, '__wrapped__'))"
    out = _python(["-c", probe], [session.WORKER_BOOTSTRAP_DIR, str(other)], tmp_path)
    assert out.splitlines() == ["other sitecustomize ran", "True"]


def test_bootstrap_dir_exposes_only_sitecustomize():
    entries = set(os.listdir(session.WORKER_BOOTSTRAP_DIR)) - {"__pycache__"}
    assert entries == {"sitecustomize.py"}


def test_task_worker_runs_bootstrap(spark):
    import pyarrow as pa

    def wrapped(batches):
        import zipimport

        for _ in batches:
            pass
        flag = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
        yield pa.RecordBatch.from_pydict({"wrapped": [flag]})

    rows = spark.range(1, numPartitions=1).mapInArrow(wrapped, "wrapped boolean").collect()
    assert [r.wrapped for r in rows] == [True]


def test_planner_worker_runs_bootstrap(spark):
    from pyspark.sql.datasource import DataSource

    class Probe(DataSource):
        @classmethod
        def name(cls):
            return "pyworker_probe"

        def schema(self):
            import zipimport

            flag = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
            return "wrapped boolean" if flag else "stock boolean"

    spark.dataSource.register(Probe)
    assert spark.read.format("pyworker_probe").load().columns == ["wrapped"]


def test_get_spark_keeps_callers_worker_pythonpath(monkeypatch):
    conf = {}

    class Builder:
        def master(self, _):
            return self

        appName = master

        def config(self, key, value):
            conf[key] = value
            return self

        def getOrCreate(self):
            return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
    extra = {"spark.executorEnv.PYTHONPATH": os.pathsep.join(["/srv/libs", "/srv/more"])}
    session.get_spark(cpus=1, extra_conf=extra)
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        [session.WORKER_BOOTSTRAP_DIR, "/srv/libs", "/srv/more"]
    )
    assert extra == {"spark.executorEnv.PYTHONPATH": os.pathsep.join(["/srv/libs", "/srv/more"])}


def test_scoped_conf_restores_set_keys_and_unsets_absent_ones(spark):
    import pytest

    held, absent = "spark.sql.shuffle.partitions", "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(held)
    spark.conf.unset(absent)
    try:
        spark.conf.set(held, "7")
        with session.scoped_conf(spark, {held: "3", absent: "1MB"}):
            assert spark.conf.get(held) == "3"
            assert spark.conf.get(absent) == "1MB"
        assert spark.conf.get(held) == "7"
        assert spark.conf.get(absent, None) is None

        with pytest.raises(RuntimeError, match="boom"):
            with session.scoped_conf(spark, {held: "3", absent: "1MB"}):
                raise RuntimeError("boom")
        assert spark.conf.get(held) == "7"
        assert spark.conf.get(absent, None) is None
    finally:
        spark.conf.set(held, prev)
