"""Fixture copies and the on-disk lifecycle: every on-disk copy derived
from a fixture table is keyed by ``sinks.files.file_identity`` and written
by ``sinks.files.land``, so a copy is never stale (a same-second rewrite
of its table lands a new one) and never partial (a failed write leaves
nothing to serve); ``land`` retires superseded copies, and scratch dirs
are removed when the process that made them exits."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess
import sys
import tempfile
import uuid
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameWriter

from discogs_load_spark import session
from discogs_load_spark.queries import artifacts, shred
from discogs_load_spark.queries.registry import REGISTRY
from discogs_load_spark.sinks.files import land

from .conftest import SF_SMALL, register_duck_views

PKG = Path(__file__).resolve().parent.parent / "discogs_load_spark"


@pytest.fixture()
def private_tmp(tmp_path, monkeypatch):
    """A TMPDIR of the test's own, so no copy from another test is reused."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _copy_fixture(dst: Path, *tables: str) -> str:
    dst.mkdir()
    for t in tables:
        shutil.copyfile(
            os.path.join(SF_SMALL, f"{t}.parquet"), dst / f"{t}.parquet"
        )
    return str(dst)


def _rewrite_within_the_same_second(path: str, n_rows: int) -> None:
    """Rewrite ``path`` in place with its first ``n_rows`` rows and set its
    mtime back to a value in the second it had before."""
    before = os.stat(path).st_mtime_ns
    pq.write_table(pq.read_table(path).slice(0, n_rows), path)
    same_second = before + 1 if before % 10**9 < 10**9 - 1 else before - 1
    os.utime(path, ns=(same_second, same_second))
    assert os.stat(path).st_mtime_ns // 10**9 == before // 10**9


def _n_docs(spark, sf_dir: str) -> int:
    out = REGISTRY["q162_orc_roundtrip"].fn(spark, sf_dir)
    return sum(r["n_docs"] for r in out.collect())


def test_same_second_rewrite_lands_a_new_copy(spark, tmp_path, private_tmp):
    sf = _copy_fixture(tmp_path / "fx", "documents")
    docs = os.path.join(sf, "documents.parquet")
    n_all = pq.ParquetFile(docs).metadata.num_rows
    assert _n_docs(spark, sf) == n_all

    _rewrite_within_the_same_second(docs, n_all // 2)
    assert _n_docs(spark, sf) == n_all // 2


def test_fingerprint_tracks_a_sub_second_mtime_change(tmp_path):
    sf = _copy_fixture(tmp_path / "fx", "documents")
    docs = os.path.join(sf, "documents.parquet")
    fp = artifacts.fingerprint("cdc_chunk_index", sf)
    st = os.stat(docs)
    step = 1 if st.st_mtime_ns % 10**9 < 10**9 - 1 else -1
    os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns + step))
    assert os.stat(docs).st_size == st.st_size
    assert artifacts.fingerprint("cdc_chunk_index", sf) != fp


def _oracle_rows(duck, name: str) -> tuple[list[str], Counter]:
    register_duck_views(duck, SF_SMALL)
    res = duck.execute(REGISTRY[name].oracle)
    cols = [d[0] for d in res.description]
    return cols, Counter(res.fetchall())


def test_failed_compaction_write_is_rebuilt(spark, duck, private_tmp, monkeypatch):
    """An interrupted compaction leaves ``_temporary`` behind; the next call
    must rebuild the compacted copy instead of reading it back empty."""
    real = DataFrameWriter.parquet
    failed = []

    def fail_once(self, path, *args, **kwargs):
        if "cdccomp" in os.path.basename(path) and not failed:
            failed.append(path)
            os.makedirs(os.path.join(path, "_temporary", "0"))
            raise RuntimeError("injected compaction write failure")
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", fail_once)
    q223 = REGISTRY["q223_cdc_index_compaction"].fn
    with pytest.raises(RuntimeError, match="injected"):
        q223(spark, SF_SMALL)
    assert failed

    out = q223(spark, SF_SMALL)
    cols, want = _oracle_rows(duck, "q223_cdc_index_compaction")
    got = Counter(tuple(r[c] for c in cols) for r in out.collect())
    assert got == want and sum(want.values()) > 0
    assert not [e for e in os.listdir(private_tmp) if ".tmp." in e]


def test_warm_q170_dump_starts_no_job(spark, private_tmp):
    docs = session.load_tables(spark, SF_SMALL, ["documents"])["documents"]
    cold = shred._q170_dump_path(docs, SF_SMALL)
    sc = spark.sparkContext
    group = f"q170-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        warm = shred._q170_dump_path(docs, SF_SMALL)
    finally:
        sc.setJobGroup("", "")
    assert warm == cold and os.path.getsize(warm) > 0
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_land_writes_once_and_leaves_nothing_on_failure(tmp_path):
    dest = str(tmp_path / "copy")
    calls = []

    def write(tmp: str) -> None:
        calls.append(tmp)
        os.makedirs(tmp)
        Path(tmp, "part").write_text("x")

    assert land(dest, write) == dest and land(dest, write) == dest
    assert len(calls) == 1 and os.listdir(tmp_path) == ["copy"]

    def broken(tmp: str) -> None:
        os.makedirs(tmp)
        raise OSError("disk full")

    with pytest.raises(OSError):
        land(str(tmp_path / "other"), broken)
    assert os.listdir(tmp_path) == ["copy"]


def _make_siblings(root: Path, names: dict[str, str]) -> None:
    """Make each named dir under ``root``, all but ``young`` two hours old."""
    for name in names.values():
        d = root / name
        d.mkdir()
        if name != names.get("young"):
            t = os.stat(d).st_mtime_ns - 10**9 * 7200
            os.utime(d, ns=(t, t))


def _reshard_copy_retires_only_its_own_part_count(root: Path) -> None:
    """A re-shard copy (``<table>_<fixture>_p<nparts>_<key>``) landed in
    ``root`` retires an aged copy with its part count; another part
    count's copy stays."""
    siblings = {
        "old": "documents_fx_p4_0123456789abcdef",
        "other_parts": "documents_fx_p2_0123456789abcdef",
    }
    _make_siblings(root, siblings)
    before = set(os.listdir(root))
    dest = root / "documents_fx_p4_fedcba9876543210"
    land(str(dest), os.makedirs)
    assert set(os.listdir(root)) == before - {siblings["old"]} | {dest.name}


def test_fixture_copy_removes_only_its_own_old_siblings(
    tmp_path, private_tmp
):
    sf = _copy_fixture(tmp_path / "fx", "documents")
    siblings = {
        "old": "lake_t_fx_0123456789abcdef",
        "old_tmp": "lake_t_fx_0123456789abcdef.tmp.42",
        "young": "lake_t_fx_fedcba9876543210",
        "other_fixture": "lake_t_fx_2_0123456789abcdef",
    }
    _make_siblings(private_tmp, siblings)

    def write(tmp: str) -> None:
        os.makedirs(tmp)

    out = artifacts.fixture_copy("lake_t", sf, ("documents",), write)
    left = set(os.listdir(private_tmp))
    assert os.path.basename(out) in left
    assert left - {os.path.basename(out)} == {
        siblings["young"],
        siblings["other_fixture"],
    }
    _reshard_copy_retires_only_its_own_part_count(private_tmp)


def test_artifact_build_removes_only_its_own_old_siblings(
    spark, tmp_path, monkeypatch
):
    """A build of an artifact removes that artifact's superseded builds for
    the same fixture (and crashed ``.tmp`` dirs) once they are
    ``STALE_COPY_S`` old; a young one, another artifact's and another
    fixture's stay."""
    from discogs_load_spark.queries import dedup

    sf = _copy_fixture(tmp_path / "fx", "documents")
    root = tmp_path / "cdc_index"
    root.mkdir()
    monkeypatch.setattr(dedup, "CDC_INDEX_DIR", str(root))
    monkeypatch.setattr(dedup, "_cdc_index_frame", lambda spark, sf_dir: spark.range(3))
    siblings = {
        "old": "cdc_chunk_index_fx_0123456789abcdef",
        "old_tmp": "cdc_chunk_index_fx_0123456789abcdef.tmp.42",
        "young": "cdc_chunk_index_fx_fedcba9876543210",
        "other_artifact": "cdc_delta_landing_fx_0123456789abcdef",
        "other_fixture": "cdc_chunk_index_fx_2_0123456789abcdef",
    }
    _make_siblings(root, siblings)

    assert artifacts.load("cdc_chunk_index", spark, sf).count() == 3
    built = os.path.basename(artifacts.path("cdc_chunk_index", sf))
    assert set(os.listdir(root)) == {
        built,
        siblings["young"],
        siblings["other_artifact"],
        siblings["other_fixture"],
    }
    _reshard_copy_retires_only_its_own_part_count(root)


def test_q132_build_retires_its_superseded_tables(spark, tmp_path, private_tmp):
    """q132 names its bucketed tables ``<table>_b_<fixture>_<key>``; a
    build retires an aged superseded pair of the same fixture, while the
    current pair and another fixture's pair stay."""
    sf = _copy_fixture(tmp_path / "fx", "orders", "lineitem")
    db = private_tmp / "q132_bucketed"
    db.mkdir()
    siblings = {
        "old_orders": "orders_b_fx_0123456789abcdef",
        "old_lineitem": "lineitem_b_fx_0123456789abcdef",
        "other_orders": "orders_b_fx_2_0123456789abcdef",
        "other_lineitem": "lineitem_b_fx_2_0123456789abcdef",
    }
    _make_siblings(db, siblings)
    # the database keeps the location of the session's first call
    spark.sql("DROP DATABASE IF EXISTS q132_bucketed CASCADE")
    try:
        assert REGISTRY["q132_bucketed_join"].fn(spark, sf).count() > 0
        key = artifacts.copy_key(sf, ("orders", "lineitem"))
        assert set(os.listdir(db)) == {
            f"orders_b_fx_{key}",
            f"lineitem_b_fx_{key}",
            siblings["other_orders"],
            siblings["other_lineitem"],
        }
    finally:
        spark.sql("DROP DATABASE IF EXISTS q132_bucketed CASCADE")


_SCRATCH_CHILD = """
import os, sys
from discogs_load_spark.sinks.files import scratch_dir
dirs = [scratch_dir("a_"), scratch_dir("b_")]
print(*dirs, flush=True)
pid = os.fork()
if pid == 0:
    sys.exit(0)  # a normal exit: the child runs the inherited atexit hooks
os.waitpid(pid, 0)
print(all(map(os.path.isdir, dirs)))
"""


def test_scratch_dirs_outlive_a_forked_child_and_go_with_their_process(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _SCRATCH_CHILD],
        env={**os.environ, "TMPDIR": str(tmp_path)},
        cwd=PKG.parent,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split("\n")
    dirs = out[0].split()
    assert len(dirs) == 2 and all(d.startswith(str(tmp_path)) for d in dirs)
    assert out[1] == "True"  # the child's exit removed neither
    assert not any(map(os.path.exists, dirs))  # the parent's exit removed both


# --- one landing, one identity ------------------------------------------------


def _functions_with(tree: ast.AST, hit) -> set[str]:
    """The innermost ``def`` around every node ``hit`` accepts
    (``<module>`` for a module-level one)."""
    found: set[str] = set()

    def walk(node: ast.AST, owner: str) -> None:
        for child in ast.iter_child_nodes(node):
            if hit(child):
                found.add(owner)
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            walk(child, child.name if is_def else owner)

    walk(tree, "<module>")
    return found


def _is_rename(node: ast.AST) -> bool:
    """``os.rename``, ``os.replace`` or ``<path>.rename``; any other
    ``replace`` (str, ``F.replace``) is text."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    recv, attr = node.func.value, node.func.attr
    is_os = isinstance(recv, ast.Name) and recv.id == "os"
    return attr == "rename" or (is_os and attr == "replace")


def _calls(module: str, attr: str):
    def hit(node: ast.AST) -> bool:
        return (
            isinstance(node, ast.Attribute)
            and node.attr == attr
            and isinstance(node.value, ast.Name)
            and node.value.id == module
        )

    return hit


def _reads_mtime(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and (node.attr == "getmtime" or node.attr.startswith("st_mtime"))
    )


def _per_module(hit) -> dict[str, set[str]]:
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        funcs = _functions_with(ast.parse(path.read_text()), hit)
        if funcs:
            out[path.relative_to(PKG.parent).as_posix()] = funcs
    return out


def test_one_landing_and_one_identity():
    """Publishing (rename/replace), scratch (mkdtemp) and removal (rmtree)
    each live in ``sinks/files.py``. Two removals stay outside: the
    refresh cycle's ``rebuild`` wipe of its own store, and q132's clear
    of a table directory the session's catalog does not know."""
    files = "discogs_load_spark/sinks/files.py"
    assert _per_module(_is_rename) == {files: {"land", "swap_pointer"}}
    assert _per_module(_calls("tempfile", "mkdtemp")) == {files: {"scratch_dir"}}
    assert _per_module(_calls("shutil", "rmtree")) == {
        files: {"land", "sweep_superseded", "sweep_generations", "_remove_scratch"},
        "discogs_load_spark/queries/emb_index.py": {"refresh_centroids"},
        "discogs_load_spark/queries/lake.py": {"ensure"},
    }
    assert _per_module(_reads_mtime) == {
        files: {"file_identity"},
    }
    success = _per_module(
        lambda n: isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "_SUCCESS" in n.value
    )
    assert success == {}
