"""Guards on what the index holds.

No tracked file may exceed 2 MiB.  The largest legitimate file is the
benchmark's sf0.01 lineitem table (about 1.0 MB); drill and sweep
outputs run to hundreds of MB and belong in ignored directories, not
in the index.

No tracked Python file may spell out the checkout's absolute path:
tools and tests derive it from ``__file__``, so a copy of the tree
checks its own engine, not the one it was copied from.

No module of the package but ``tables.py`` hands ``spark.read`` a path
built from ``sf_dir``: ``tables.load_table`` is the one way to read a
driver table, so its schema cache covers every query."""

from __future__ import annotations

import ast
import os
import shutil
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_TRACKED_BYTES = 2 * 1024 * 1024


def _tracked_files() -> list[str]:
    if shutil.which("git") is None:
        pytest.skip("git is not installed")
    inside = subprocess.run(
        ["git", "rev-parse", "--is-inside-work-tree"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    if inside.returncode != 0 or inside.stdout.strip() != "true":
        pytest.skip("checkout is not a git work tree")
    out = subprocess.run(
        ["git", "ls-files", "-z"], cwd=REPO, capture_output=True, check=True
    ).stdout
    return [p.decode() for p in out.split(b"\0") if p]


def test_no_tracked_file_over_2mib():
    too_big = {}
    for rel in _tracked_files():
        path = os.path.join(REPO, rel)
        if os.path.isfile(path) and os.path.getsize(path) > MAX_TRACKED_BYTES:
            too_big[rel] = os.path.getsize(path)
    assert not too_big, f"tracked files over 2 MiB: {too_big}"


def test_no_tracked_python_file_hard_codes_the_checkout_path():
    offenders = []
    for rel in _tracked_files():
        path = os.path.join(REPO, rel)
        if rel.endswith(".py") and os.path.isfile(path):
            with open(path, encoding="utf-8") as fh:
                if REPO in fh.read():
                    offenders.append(rel)
    assert not offenders, f"derive the checkout path from __file__: {offenders}"


# -- one way to read a table ------------------------------------------------

PACKAGE = "binancedatapipelineinaws_spark"
PATH_BUILDERS = {"join", "format"}  # os.path.join(sf_dir, ...), "{}".format(sf_dir)


def _built_from_sf_dir(node: ast.AST, tainted: set[str]) -> bool:
    """Whether ``node`` is a path built from ``sf_dir``: the name itself
    or a name assigned from it, through f-strings, ``+``/``%`` and
    ``os.path.join``/``str.format``.  Any other call (a digest of
    ``sf_dir`` naming a scratch dir) is not a table path."""
    if isinstance(node, ast.Name):
        return node.id in tainted
    if isinstance(node, ast.Call):
        f = node.func
        if not (isinstance(f, ast.Attribute) and f.attr in PATH_BUILDERS):
            return False
        parts = [*node.args, *(k.value for k in node.keywords)]
        if f.attr == "format":
            parts.append(f.value)
        return any(_built_from_sf_dir(p, tainted) for p in parts)
    return any(_built_from_sf_dir(c, tainted) for c in ast.iter_child_nodes(node))


def _reads_through_spark_read(call: ast.Call) -> bool:
    f = call.func
    while isinstance(f, (ast.Attribute, ast.Call)):
        if isinstance(f, ast.Attribute):
            if f.attr == "read":
                return True
            f = f.value
        else:
            f = f.func
    return False


def sf_dir_reads(source: str) -> list[int]:
    """Lines where ``spark.read`` gets a path built from ``sf_dir``."""
    tree = ast.parse(source)
    hits = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        tainted = {"sf_dir"}
        for node in ast.walk(fn):  # assignments first: names built from sf_dir
            if isinstance(node, ast.Assign) and _built_from_sf_dir(node.value, tainted):
                tainted |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and _reads_through_spark_read(node)
                and any(_built_from_sf_dir(a, tainted) for a in node.args)
            ):
                hits.append(node.lineno)
    return sorted(set(hits))


def test_the_scan_flags_a_table_read_past_load_table():
    src = (
        "def q(spark, sf_dir):\n"
        "    a = spark.read.parquet(f'{sf_dir}/orders.parquet')\n"
        "    p = os.path.join(sf_dir, 'lineitem.parquet')\n"
        "    b = spark.read.option('mergeSchema', 'true').parquet(p)\n"
        "    c = spark.read.parquet(_tmp_path('scratch', sf_dir))\n"
        "    d = load_table(spark, sf_dir, 'orders')\n"
    )
    assert sf_dir_reads(src) == [2, 4]


def test_only_tables_py_reads_a_table_from_sf_dir():
    offenders = {}
    root = os.path.join(REPO, PACKAGE)
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, REPO)
            if not f.endswith(".py") or rel == os.path.join(PACKAGE, "tables.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                lines = sf_dir_reads(fh.read())
            if lines:
                offenders[rel] = lines
    assert not offenders, f"read driver tables through tables.load_table: {offenders}"
