"""Ending the processes a run started."""

import subprocess
import sys
import time

import procstat


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def test_stop_tree_waits_for_a_child_that_exits_on_eof():
    # like the Spark JVM: reads stdin to its end, then takes a moment to exit
    child = subprocess.Popen(
        [sys.executable, "-c", "import sys, time; sys.stdin.read(); time.sleep(0.5)"],
        stdin=subprocess.PIPE)
    t = time.monotonic()
    assert procstat.stop_tree([child], grace_s=10) == []
    assert time.monotonic() - t >= 0.4
    assert _gone(child.pid)


def test_stop_tree_ends_a_grandchild_that_ignores_eof_and_sigterm():
    # like a Python worker the JVM leaves behind: the child exits on EOF,
    # its own child runs on and ignores SIGTERM
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys\n"
         "g = subprocess.Popen([sys.executable, '-c', "
         "'import signal, time; signal.signal(signal.SIGTERM, signal.SIG_IGN); "
         "print(flush=True); time.sleep(60)'], stdout=subprocess.PIPE)\n"
         "g.stdout.readline()\n"
         "print(g.pid, flush=True)\n"
         "sys.stdin.read()\n"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    grandchild = int(child.stdout.readline())
    signalled = procstat.stop_tree([child], grace_s=0.5, step_s=2)
    assert signalled == [grandchild]
    assert _gone(child.pid) and _gone(grandchild)


def test_stop_tree_without_children_returns_at_once():
    t = time.monotonic()
    assert procstat.stop_tree([]) == []
    assert time.monotonic() - t < 1
