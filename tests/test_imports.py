"""Every query module imports on its own.

The catalog imports its query modules in one fixed order, so a
circular import between two of them only shows in a process whose
FIRST import is the module on the wrong side of the cycle. Each
module is imported first here, in a fresh interpreter."""

from __future__ import annotations

import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

from tests.test_concurrency import PACKAGE

_MODULES = sorted(
    f"agrobr_spark.queries.{f.stem}"
    for f in (PACKAGE / "queries").glob("*.py")
    if f.stem != "__init__"
)


def _import_first(module: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", f"import {module}"],
        cwd=PACKAGE.parent,
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_each_query_module_imports_first_in_a_fresh_process():
    assert _MODULES, "no query modules found"
    with ThreadPoolExecutor(max_workers=4) as pool:
        done = dict(zip(_MODULES, pool.map(_import_first, _MODULES)))
    failed = {
        m: p.stderr.strip().splitlines()[-1:]
        for m, p in done.items()
        if p.returncode != 0
    }
    assert not failed, f"modules that fail as a process's first import: {failed}"

