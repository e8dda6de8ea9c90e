"""The in-process local file system (``discogs_load_spark/jvm``) and the
drain's one-task-wave partition count.

A local master's ``file:`` scheme is ``NioLocalFileSystem`` (FileSystem)
and ``NioLocalFs`` (FileContext): Hadoop's checksummed local file system
over a raw one that sets permissions and reads link status through
java.nio instead of forking ``chmod`` and ``readlink``. The probe runs
the same file operations in a ``local[2]`` session with those classes and
in one with Hadoop's stock ones, and compares what lands on disk."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile
from collections import Counter
from pathlib import Path

import pytest

from discogs_load_spark.queries.streaming import drain_partitions
from discogs_load_spark.session import LOCAL_FS_JAR

from .conftest import REPO

sys.path.insert(0, str(REPO / "tools"))
import build_local_fs_jar  # noqa: E402

STOCK_FS = {
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "org.apache.hadoop.fs.local.LocalFs",
}

_PROBE = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
os.umask(0o022)
out, extra = sys.argv[2], json.loads(sys.argv[3])
from py4j.protocol import Py4JJavaError
from discogs_load_spark.queries.streaming import _drain
from discogs_load_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2, extra_conf=extra)
jvm, gw = spark._jvm, spark.sparkContext._gateway
hfs = jvm.org.apache.hadoop.fs
Path = hfs.Path
fs = Path(out).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
fc = hfs.FileContext.getFileContext(spark.sparkContext._jsc.hadoopConfiguration())
create_flags = jvm.java.util.EnumSet.of(hfs.CreateFlag.CREATE)
create_opts = gw.new_array(hfs.Options.CreateOpts, 0)
overwrite = gw.new_array(hfs.Options.Rename, 1)
overwrite[0] = hfs.Options.Rename.OVERWRITE


def reaped_ticks():
    # the JVM's reaped children's CPU: /proc/<jvm>/stat fields 16-17
    pid = jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rpartition(")")[2].split()
    return int(fields[13]) + int(fields[14])


def renames(d, n):
    fs.mkdirs(Path(d))
    for i in range(n):
        src = Path(f"{d}/src{i}")
        fc.create(src, create_flags, create_opts).close()
        fc.rename(src, Path(f"{d}/dst"), overwrite)


frame = spark.range(160).selectExpr("id", "id % 16 AS bucket")
frame.write.partitionBy("bucket").parquet(f"{out}/warm")  # class loading
renames(f"{out}/warm_renames", 1)

before = reaped_ticks()
frame.write.partitionBy("bucket").parquet(f"{out}/tree/parts")
for i in range(200):
    fs.create(Path(f"{out}/tree/files/f{i}")).close()
renames(f"{out}/tree/renamed", 50)
forked_ticks = reaped_ticks() - before

sticky = Path(f"{out}/sticky")
fs.mkdirs(sticky)
fs.setPermission(sticky, hfs.permission.FsPermission.valueOf("drwxr-xr-t"))
os.symlink(f"{out}/tree/files/f0", f"{out}/link")
link = fs.getFileLinkStatus(Path(f"{out}/link"))
try:
    fs.getFileLinkStatus(Path(f"{out}/missing"))
    missing = None
except Py4JJavaError as e:
    missing = e.java_exception.getClass().getName()

src = f"{out}/stream_src"
spark.range(4).write.parquet(src)
chk = f"{out}/stream_chk"
seen = []


def record(batch, _):
    seen.append(batch.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    batch.collect()  # a stateful batch must run all its partitions


_drain(
    spark,
    spark.readStream.schema("id long").parquet(src).groupBy("id").count()
    .writeStream.outputMode("complete").foreachBatch(record)
    .option("checkpointLocation", chk),
)

modes = {}
for root, dirs, files in os.walk(f"{out}/tree"):
    for name in dirs + files:
        p = os.path.join(root, name)
        kind = "dir" if name in dirs else "crc" if name.endswith(".crc") else "file"
        modes[os.path.relpath(p, out)] = [kind, os.stat(p).st_mode & 0o7777]
print(json.dumps({
    "fs": [fs.getClass().getName(), fc.getDefaultFileSystem().getClass().getName()],
    "forked_ticks": forked_ticks,
    "modes": modes,
    "sticky": os.stat(f"{out}/sticky").st_mode & 0o7777,
    "link": [link.isSymlink(), link.getSymlink().toUri().getPath()],
    "missing": missing,
    "drain_partitions": sorted(set(seen)),
    "state_stores": sum(d.isdigit() for d in os.listdir(f"{chk}/state/0")),
    "target": f"{out}/tree/files/f0",
}))
spark.stop()
"""


def _probe(out: Path, extra: dict[str, str]) -> dict:
    out.mkdir()
    run = subprocess.run(
        [sys.executable, "-c", _PROBE, str(REPO), str(out), json.dumps(extra)],
        cwd=out,
        env={**os.environ, "SPARK_DRIVER_MEMORY": "1g"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    return json.loads(run.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def probes(tmp_path_factory):
    """The probe with the session's own file system, and with Hadoop's."""
    root = tmp_path_factory.mktemp("local_fs")
    got = {"nio": _probe(root / "nio", {}), "stock": _probe(root / "stock", STOCK_FS)}
    shutil.rmtree(root, ignore_errors=True)
    return got


def _mode_classes(modes: dict[str, list]) -> Counter:
    """(directory, kind, mode) counts: part-file names differ between
    runs."""
    return Counter((Path(p).parent.name, kind, m) for p, (kind, m) in modes.items())


def test_local_master_uses_the_in_process_file_system(probes):
    assert probes["nio"]["fs"] == [
        "discogs_load_spark.jvm.NioLocalFileSystem",
        "discogs_load_spark.jvm.NioLocalFs",
    ]
    assert probes["stock"]["fs"] == [
        "org.apache.hadoop.fs.LocalFileSystem",
        "org.apache.hadoop.fs.local.LocalFs",
    ]


def test_created_files_and_dirs_get_hadoops_permissions(probes):
    """A 16-bucket partitionBy write, 200 FileSystem creates and 50
    FileContext overwrite-renames land the same modes, ``.crc`` sidecars
    included, as Hadoop's own local file system gives them: 0644 files
    and 0755 directories under umask 022."""
    nio, stock = probes["nio"]["modes"], probes["stock"]["modes"]
    assert _mode_classes(nio) == _mode_classes(stock)
    assert {kind for kind, _ in nio.values()} == {"dir", "file", "crc"}
    for p, (kind, mode) in nio.items():
        assert mode == (0o755 if kind == "dir" else 0o644), (p, oct(mode))


def test_sticky_bit_and_symlinks_still_go_through_hadoop(probes):
    for got in probes.values():
        assert got["sticky"] == 0o1755
        assert got["link"] == [True, got["target"]]
        assert got["missing"] == "java.io.FileNotFoundException"


def test_creates_and_renames_fork_no_process(probes):
    """The JVM's reaped-child CPU does not move over the creates and
    renames; with Hadoop's own classes (``chmod``, ``readlink``) it
    does, so the probe sees forks when there are any."""
    assert probes["nio"]["forked_ticks"] == 0
    assert probes["stock"]["forked_ticks"] > 0


def test_drain_runs_one_task_wave():
    """At most one partition per task slot, and at most eight."""
    assert drain_partitions(2) == 2
    assert drain_partitions(4) == 4
    assert drain_partitions(16) == 8


def test_local_session_drain_uses_its_parallelism(probes):
    """A local[2] drain's batches run at 2 shuffle partitions, so its
    aggregate keeps 2 state stores."""
    assert probes["nio"]["drain_partitions"] == ["2"]
    assert probes["nio"]["state_stores"] == 2


def test_local_fs_jar_is_built_from_the_committed_sources():
    assert build_local_fs_jar.jar_digest(LOCAL_FS_JAR) == build_local_fs_jar.sources_digest()


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH")
def test_local_fs_jar_rebuilds_with_the_same_classes(tmp_path):
    jar = tmp_path / "local-fs.jar"
    build_local_fs_jar.build(jar)
    with zipfile.ZipFile(jar) as new, zipfile.ZipFile(LOCAL_FS_JAR) as committed:
        assert sorted(new.namelist()) == sorted(committed.namelist())
    assert build_local_fs_jar.jar_digest(jar) == build_local_fs_jar.jar_digest(LOCAL_FS_JAR)
