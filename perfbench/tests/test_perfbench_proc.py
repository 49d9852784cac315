"""CPU time of the process tree keeps what exited children used."""

from __future__ import annotations

import subprocess
import sys

import proc


def test_tree_cpu_counts_reaped_children():
    before = proc.tree_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass"]
    )
    child.wait(timeout=30)
    assert proc.tree_cpu_s() - before >= 0.25
