"""The /proc sampler against child processes that burn known amounts of
CPU and memory."""

import os
import subprocess
import sys
import time

from perfbench.procstat import PeakRss, ProcessTree

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _child(code: str) -> subprocess.Popen:
    """A child that runs `code`, prints 'ready' and waits for stdin to close."""
    env = dict(os.environ, PYTHONPATH=ROOT)
    script = code + "\nprint('ready', flush=True)\nimport sys\nsys.stdin.read()\n"
    return subprocess.Popen(
        [sys.executable, "-c", script],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
    )


def _wait_ready(proc: subprocess.Popen) -> None:
    assert proc.stdout.readline().strip() == "ready"


def _finish(proc: subprocess.Popen) -> None:
    proc.stdin.close()
    proc.wait(timeout=30)
    assert proc.returncode == 0


def test_cpu_of_a_live_child():
    tree = ProcessTree()
    cpu0, _ = tree.sample()
    proc = _child("from perfbench.procstat import burn_cpu\nburn_cpu(0.6)")
    try:
        _wait_ready(proc)
        cpu1, _ = tree.sample()
    finally:
        _finish(proc)
    # 0.6 s of spinning plus the interpreter's own start-up
    assert 0.6 <= cpu1 - cpu0 < 1.5


def test_cpu_of_a_reaped_grandchild_stays_in_the_tree():
    tree = ProcessTree()
    cpu0, _ = tree.sample()
    proc = _child(
        "import subprocess, sys\n"
        "subprocess.run([sys.executable, '-c', "
        "'from perfbench.procstat import burn_cpu; burn_cpu(0.5)'], check=True)"
    )
    try:
        _wait_ready(proc)
        cpu1, _ = tree.sample()
    finally:
        _finish(proc)
    assert 0.5 <= cpu1 - cpu0 < 2.0


def test_rss_and_peak_of_a_child():
    tree = ProcessTree()
    with PeakRss(tree) as peak:
        peak.reset()
        _, rss0 = tree.sample()
        proc = _child("buf = bytearray(300 * 1024 * 1024)\nbuf[::4096] = b'x' * len(buf[::4096])")
        try:
            _wait_ready(proc)
            _, rss1 = tree.sample()
            time.sleep(0.5)  # some 50 ms rounds of the sampler while the child lives
        finally:
            _finish(proc)
        _, rss2 = tree.sample()
        assert rss1 - rss0 >= 300e6
        assert rss2 < rss1
        # the child is gone, its peak is not
        assert peak.peak() >= rss0 + 300e6
