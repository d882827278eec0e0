"""Guards on what the index holds.

No tracked file may exceed 2 MiB.  The largest legitimate file is the
benchmark's sf0.01 lineitem table (about 1.0 MB); drill and sweep
outputs run to hundreds of MB and belong in ignored directories, not
in the index.

No tracked Python file may spell out the checkout's absolute path:
tools and tests derive it from ``__file__``, so a copy of the tree
checks its own engine, not the one it was copied from."""

from __future__ import annotations

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
