"""session.scoped_conf: the one helper that changes session config around
a body (streaming drains, q198's collect, tests); and the local-master
Python-worker entry (session.python_worker_conf, pydaemon)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import time
import zipfile
import zipimport
from pathlib import Path

import pytest

from discogs_load_spark import pydaemon
from discogs_load_spark.session import python_worker_conf, scoped_conf

SET_KEY = "spark.sql.shuffle.partitions"  # set explicitly by get_spark
UNSET_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


def test_scoped_conf_restores_when_body_raises(spark):
    before = spark.conf.get(SET_KEY)
    with pytest.raises(ZeroDivisionError):
        with scoped_conf(spark, {SET_KEY: "3"}):
            assert spark.conf.get(SET_KEY) == "3"
            1 / 0
    assert spark.conf.get(SET_KEY) == before


def test_scoped_conf_unsets_a_key_that_was_unset(spark):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_conf(spark, {UNSET_KEY: "false"}):
        assert spark.conf.get(UNSET_KEY) == "false"
    assert spark.conf.get(UNSET_KEY, None) is None
    assert spark.conf.get(UNSET_KEY) == "true"  # back to Spark's default


def test_scoped_conf_refuses_a_nested_scope_on_one_session(spark):
    before = spark.conf.get(SET_KEY)
    with scoped_conf(spark, {SET_KEY: "3"}):
        with pytest.raises(RuntimeError, match="already open"):
            with scoped_conf(spark, {SET_KEY: "5"}):
                pass
        assert spark.conf.get(SET_KEY) == "3"  # the refused scope set nothing
    assert spark.conf.get(SET_KEY) == before
    with scoped_conf(spark, {SET_KEY: "7"}):  # a closed scope frees the session
        assert spark.conf.get(SET_KEY) == "7"
    assert spark.conf.get(SET_KEY) == before


class _FakeConf:
    def __init__(self):
        self.values = {}

    def get(self, key, default=None):
        time.sleep(0)  # yield here, as a JVM round trip would
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


class _FakeSession:
    def __init__(self):
        self.conf = _FakeConf()


def test_scoped_conf_admits_one_scope_at_a_time_across_threads():
    """Threads racing for scopes on one session: at most one is ever
    inside, and the config ends as it began (a scope that read another
    scope's value as its 'before' would leave it set)."""
    import sys
    import threading

    session = _FakeSession()
    lock = threading.Lock()
    state = {"inside": 0, "peak": 0, "admitted": 0, "foreign": 0}

    def worker(i):
        for _ in range(200):
            try:
                with scoped_conf(session, {"k": str(i)}):
                    with lock:
                        state["inside"] += 1
                        state["admitted"] += 1
                        state["peak"] = max(state["peak"], state["inside"])
                    with lock:
                        state["inside"] -= 1
                        state["foreign"] += session.conf.get("k") != str(i)
            except RuntimeError:
                pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert state["peak"] == 1 and state["admitted"] > 0
    assert state["foreign"] == 0
    assert session.conf.get("k") is None


# -- the local-master Python-worker entry ------------------------------------

DAEMON_KEY = "spark.python.daemon.module"
PYTHONPATH_KEY = "spark.executorEnv.PYTHONPATH"


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13's zipimport is lazy already"
)
def test_lazy_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """pydaemon's invalidate_caches reads an unchanged archive's directory
    zero times, re-reads a rewritten one (its new module imports), and
    hands a missing one to the original."""
    archive = tmp_path / "lazy.zip"
    _write_zip(archive, {"lazyzip_a": "VALUE = 1\n"})
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.lazy_invalidate_caches
    )
    monkeypatch.syspath_prepend(str(archive))
    try:
        import lazyzip_a

        assert lazyzip_a.VALUE == 1
        importer = sys.path_importer_cache[str(archive)]
        importer.invalidate_caches()  # first call: nothing to compare with
        reads.clear()
        for _ in range(3):
            importer.invalidate_caches()
        assert reads == []  # unchanged archive: no directory read

        _write_zip(
            archive, {"lazyzip_a": "VALUE = 1\n", "lazyzip_b": "VALUE = 2\n"}
        )
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1  # rewritten: read again
        import lazyzip_b

        assert lazyzip_b.VALUE == 2

        reads.clear()
        archive.unlink()
        importer.invalidate_caches()  # missing: the original behaviour
        assert reads == [str(archive)] and importer._files == {}
    finally:
        for name in ("lazyzip_a", "lazyzip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


_WORKER_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from discogs_load_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)


def probe(batches):
    import importlib
    import zipimport

    import pandas as pd

    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
    try:
        importlib.invalidate_caches()  # a warm worker's per-task call
    finally:
        zipimport._read_directory = read_directory
    for _ in batches:
        pass
    code = zipimport.zipimporter.invalidate_caches.__code__.co_filename
    yield pd.DataFrame({"code": [code], "reads": [len(reads)]})


frame = spark.range(4).repartition(2)
rows = frame.mapInPandas(probe, "code string, reads int").collect()
print(json.dumps([r.asDict() for r in rows]))
spark.stop()
"""


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13's zipimport is lazy already"
)
def test_local_session_workers_run_the_lazy_invalidation(tmp_path):
    """A local[2] session built by get_spark starts its workers from
    pydaemon: inside a mapInPandas task the lazy invalidate_caches is
    installed, and the task's invalidation reads no archive directory."""
    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE, str(repo)],
        cwd=tmp_path,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "1g"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(rows) == 2
    for r in rows:
        assert Path(r["code"]) == Path(pydaemon.__file__)
        assert r["reads"] == 0


def test_pyfile_added_after_workers_are_warm_is_importable(spark, tmp_path):
    """addPyFile is the case pyspark invalidates import caches for: a zip
    shipped after the workers started must import in the next task."""
    n = spark.sparkContext.defaultParallelism
    frame = spark.range(2 * n).repartition(n)

    def late_value(batches):
        import pandas as pd

        import late_pyfile_mod

        for b in batches:
            yield pd.DataFrame({"v": [late_pyfile_mod.VALUE] * len(b)})

    assert frame.mapInPandas(lambda bs: bs, frame.schema).count() == 2 * n  # warm
    archive = tmp_path / "late_pyfile.zip"
    _write_zip(archive, {"late_pyfile_mod": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(str(archive))
    got = frame.mapInPandas(late_value, "v long").collect()
    assert [r.v for r in got] == [42] * (2 * n)


def test_python_worker_conf_is_for_local_masters_only():
    for master in ("local", "local[2]", "local[*]", "local[4,2]"):
        conf = python_worker_conf(master)
        assert conf[DAEMON_KEY] == "discogs_load_spark.pydaemon"
        package_dir = Path(conf[PYTHONPATH_KEY]) / "discogs_load_spark"
        assert (package_dir / "pydaemon.py").is_file()
    for master in (
        "spark://host:7077",
        "yarn",
        "k8s://https://host:443",
        "local-cluster[2,1,1024]",
    ):
        conf = python_worker_conf(master)
        assert DAEMON_KEY not in conf and PYTHONPATH_KEY not in conf
