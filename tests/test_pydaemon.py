"""The engine's Python-worker daemon entry (``_pydaemon``) and its wiring.

- The stat guard on ``zipimporter.invalidate_caches`` (JVM-free): an
  unchanged archive is not re-read, an archive rewritten in place is,
  and a missing archive falls through to the original method.
- ``get_spark`` sets the daemon module and the workers' ``PYTHONPATH``
  for local masters only (JVM-free, with a recording builder).
- End to end in a fresh process whose cwd is outside the repo and whose
  ``PYTHONPATH`` is unset: a ``mapInPandas`` UDF imports an engine module
  and sees the guard its worker inherited from the daemon.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from googlecloudstorage_blueprints_spark import _pydaemon, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members):
    # open "wb" on an existing path truncates in place: same inode
    with open(path, "wb") as handle, zipfile.ZipFile(handle, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


@pytest.fixture()
def guard(monkeypatch):
    """Install the guard for one test; count central-directory reads and
    calls of the original method.  monkeypatch restores everything."""
    counts = {"reads": 0, "original": 0}
    read_directory = zipimport._read_directory
    original = _pydaemon._ORIGINAL

    def counting_read(path):
        counts["reads"] += 1
        return read_directory(path)

    def counting_original(self):
        counts["original"] += 1
        return original(self)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(_pydaemon, "_ORIGINAL", counting_original)
    monkeypatch.setattr(_pydaemon, "_READ", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    _pydaemon.install_zip_guard()
    assert _pydaemon.guard_installed()
    return counts


def test_guard_skips_unchanged_archive(guard, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/sub/leaf.py": ""})
    top = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(os.path.join(archive, "pkg", "sub"))
    guard["reads"] = 0

    top.invalidate_caches()  # first guarded call: no signature yet
    assert guard["reads"] == 1
    for _ in range(3):
        top.invalidate_caches()
        sub.invalidate_caches()
    assert guard["reads"] == 1
    # the sub-package importer shares the one directory read
    assert sub._files is top._files
    assert sub.find_spec("leaf") is not None


def test_guard_rereads_archive_rewritten_in_place(guard, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"old_mod.py": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    inode = os.stat(archive).st_ino
    reads = guard["reads"]

    _write_zip(archive, {"old_mod.py": "X = 1\n", "new_mod.py": "Y = 2\n"})
    assert os.stat(archive).st_ino == inode  # rewritten, not replaced
    assert importer.find_spec("new_mod") is None  # stale directory
    importer.invalidate_caches()
    assert guard["reads"] == reads + 1
    assert importer.find_spec("new_mod") is not None
    importer.invalidate_caches()
    assert guard["reads"] == reads + 1


def test_guard_falls_through_for_missing_archive(guard, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod.py": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    assert guard["original"] == 1

    os.remove(archive)
    importer.invalidate_caches()
    assert guard["original"] == 2
    assert importer.find_spec("mod") is None
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _pydaemon._READ


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, value):
        self.conf["spark.master"] = value
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


def _built_conf(monkeypatch, **kwargs):
    builder = _RecordingBuilder()

    class _Session:
        pass

    _Session.builder = builder
    monkeypatch.setattr(session, "SparkSession", _Session)
    monkeypatch.setattr(session, "apply_runtime_conf", lambda s: s)
    session.get_spark(**kwargs)
    return builder.conf


@pytest.mark.parametrize("master", ["local[2]", "local", None])
def test_get_spark_sets_daemon_for_local_masters(monkeypatch, master):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.delenv("MASTER", raising=False)
    conf = _built_conf(monkeypatch, master=master)
    assert conf["spark.python.daemon.module"] == _pydaemon.__name__
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO


@pytest.mark.parametrize(
    "master, env_master",
    [("spark://head:7077", None), ("yarn", None), (None, "yarn")],
)
def test_get_spark_leaves_cluster_masters_alone(
    monkeypatch, master, env_master
):
    monkeypatch.delenv("MASTER", raising=False)
    if env_master:
        monkeypatch.setenv("SPARK_MASTER", env_master)
    else:
        monkeypatch.delenv("SPARK_MASTER", raising=False)
    conf = _built_conf(monkeypatch, master=master)
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf


_WORKER_PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
from googlecloudstorage_blueprints_spark import get_spark

spark = get_spark(app_name="pydaemon-probe", master="local[2]")


def probe(batches):
    import pandas as pd
    from googlecloudstorage_blueprints_spark import _pydaemon

    installed = _pydaemon.guard_installed()
    for batch in batches:
        yield pd.DataFrame({{"guard": [installed] * len(batch)}})


rows = spark.range(4, numPartitions=2).mapInPandas(probe, "guard boolean")
print(json.dumps([r.guard for r in rows.collect()]))
spark.stop()
"""


def test_workers_import_engine_outside_repo(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(_WORKER_PROBE.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1]) == [True] * 4
