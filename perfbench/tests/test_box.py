"""Tests of the benchmark's process hygiene: a run reaps every process
it started, orphaned grandchildren too. Run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs in its own process: the subreaper flag stays with the process
# that sets it, and stop_children would also end pytest's own children
SCRIPT = f"""
import subprocess, sys
sys.path.insert(0, {BENCH_DIR!r})
import box
box.become_subreaper()
# a child that starts a sleeping grandchild and exits at once
subprocess.run([sys.executable, "-c",
                "import subprocess, sys; "
                "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'])"],
               check=True)
orphans = box._children()
print(len(orphans), box.stop_children(timeout=5), len(box._children()))
"""


def test_stop_children_ends_an_orphaned_grandchild():
    out = subprocess.run([sys.executable, "-c", SCRIPT], capture_output=True,
                         text=True, timeout=60, check=True).stdout.split()
    assert out == ["1", "1", "0"]


def test_calibration_probe_leaves_no_process():
    script = (f"import sys; sys.path.insert(0, {BENCH_DIR!r}); import box; "
              "p = box.calibration_probe(2); "
              "print(len(p['per_core_s']), len(box._children()))")
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=120, check=True).stdout.split()
    assert out == ["2", "0"]
