"""Cold imports in a fresh interpreter. `pipeline.compiler` and the
`ops` package import each other (ops.stages registers its extension
stages through the compiler), so each entry module must import first
without the other already loaded."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("module", ["route81_spark.pipeline", "route81_spark.jobs.producer"])
def test_cold_import(module):
    r = subprocess.run(
        [sys.executable, "-c", f"import {module}"],
        cwd=ROOT, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 0, r.stderr
