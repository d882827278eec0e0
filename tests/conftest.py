from __future__ import annotations

import os
import shutil
import stat
import sys
from collections import Counter

import duckdb
import pytest

# the checkout these tests live in, first on the path: a copy of the
# tree tests its own engine
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from binancedatapipelineinaws_spark.session import get_spark  # noqa: E402
from tools.check_oracle import duck_views  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duck_views(duckdb.connect(), SF_ORACLE)
    yield con
    con.close()


def spawn_shims(bin_dir: str, log: str, names=("readlink", "chmod")) -> dict[str, str]:
    """An environment for a child driver whose PATH starts with
    ``bin_dir``, where each of ``names`` is a shim that appends its name
    to ``log`` and then execs the real binary.  Every such process the
    child, or its JVM, starts is logged; ``spawn_counts`` reads the log."""
    os.makedirs(bin_dir, exist_ok=True)
    for name in names:
        real = shutil.which(name)
        assert real is not None, f"no {name} on PATH"
        shim = os.path.join(bin_dir, name)
        with open(shim, "w") as fh:
            fh.write(f'#!/bin/sh\necho {name} >> "{log}"\nexec "{real}" "$@"\n')
        os.chmod(shim, os.stat(shim).st_mode | stat.S_IXUSR)
    return {**os.environ, "PATH": bin_dir + os.pathsep + os.environ["PATH"]}


def spawn_counts(log: str) -> Counter:
    """Processes started per shimmed name, from a ``spawn_shims`` log."""
    if not os.path.exists(log):
        return Counter()
    with open(log) as fh:
        return Counter(line.strip() for line in fh)
