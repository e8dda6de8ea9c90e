"""The package's environment surface is a fixed allowlist: a knob nobody
sets is a constant, so a removed ``os.environ`` read cannot come back
unnoticed."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "discogs_load_spark"

ALLOWED = {
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_ARTIFACTS",
    "SPARK_GRAFT_SIG_HASHED",
    "SPARK_GRAFT_SIG_INDEX_DIR",
    "SPARK_GRAFT_CDC_INDEX_DIR",
    "SPARK_GRAFT_EMB_INDEX_DIR",
}


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_reads(tree: ast.AST) -> list[str | None]:
    """The variable name of every environment access (None: not a
    literal-keyed ``environ.get``/``environ[...]``/``getenv``)."""
    names: list[str | None] = []
    parents = {
        child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
    }
    for node in ast.walk(tree):
        if _is_environ(node):
            parent = parents.get(node)
            call = parents.get(parent)
            if getattr(parent, "attr", None) == "get" and isinstance(call, ast.Call):
                key = call.args[0]
            elif isinstance(parent, ast.Subscript):
                key = parent.slice
            else:
                key = None
        elif isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "getenv":
            key = node.args[0]
        else:
            continue
        names.append(key.value if isinstance(key, ast.Constant) else None)
    return names


def test_environment_reads_are_the_allowlist():
    reads = {
        (path.relative_to(PKG.parent).as_posix(), name)
        for path in sorted(PKG.rglob("*.py"))
        for name in _env_reads(ast.parse(path.read_text()))
    }
    unnamed = sorted(p for p, n in reads if n is None)
    assert not unnamed, f"environment accessed without a literal name: {unnamed}"
    assert {n for _, n in reads} == ALLOWED
    assert len(reads) == len(ALLOWED), sorted(reads)  # each read in one place
