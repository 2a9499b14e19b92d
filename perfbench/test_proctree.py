"""Checks for the /proc process-tree CPU helper.

    python3 -m pytest perfbench/test_proctree.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import proctree  # noqa: E402

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_exited_child_cpu_is_counted():
    before = proctree.tree_cpu_s()
    subprocess.run([sys.executable, "-c", BURN.format(s=0.6)], check=True, timeout=60)
    # the child has exited and been reaped: its CPU now sits in cutime
    assert proctree.tree_cpu_s() - before >= 0.5


def test_grandchild_reaped_by_a_live_child_is_counted():
    # the child forks a burning grandchild, waits for it, then sleeps:
    # the grandchild's CPU is only visible through the live child's cutime
    code = (
        "import subprocess, sys, time\n"
        f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.6)!r}], check=True)\n"
        "print('done', flush=True)\n"
        "time.sleep(30)\n"
    )
    before = proctree.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert child.pid in proctree.descendants(os.getpid())
        assert proctree.tree_cpu_s() - before >= 0.5
    finally:
        child.kill()
        child.wait(timeout=30)


def test_live_child_is_not_counted_twice():
    code = BURN.format(s=0.6) + "print('done', flush=True)\ntime.sleep(30)\n"
    child = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        own = proctree.tree_cpu_s(child.pid)
        assert 0.5 <= own < 1.5
    finally:
        child.kill()
        child.wait(timeout=30)
