"""CPU accounting over the engine's process tree."""

from __future__ import annotations

import subprocess
import sys

from cpu import CpuMeter, tree_cpu_s

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def _child(code: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", code], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )


def test_tree_counts_live_and_reaped_descendants():
    # the child burns 0.3 s itself and runs a grandchild that burns
    # 0.3 s and exits, then stays alive until its stdin closes
    code = (
        BURN.format(s=0.3)
        + "import subprocess, sys\n"
        + f"subprocess.run([sys.executable, '-c', {BURN.format(s=0.3)!r}])\n"
        + "print('ready', flush=True)\nsys.stdin.read()\n"
    )
    p = _child(code)
    try:
        assert p.stdout.readline().strip() == "ready"
        assert tree_cpu_s(p.pid) >= 0.55
    finally:
        p.stdin.close()
        p.wait()


def test_meter_reads_work_between_two_readings():
    p = _child(
        "import sys\nsys.stdin.readline()\n"
        + BURN.format(s=0.3)
        + "print('done', flush=True)\nsys.stdin.read()\n"
    )
    try:
        meter = CpuMeter(p.pid)
        work0, jit0 = meter.read()
        p.stdin.write("go\n")
        p.stdin.flush()
        assert p.stdout.readline().strip() == "done"
        work1, jit1 = meter.read()
        # a process without JIT compiler threads has no JIT time
        assert jit0 == jit1 == 0.0
        assert work1 - work0 >= 0.25
    finally:
        p.stdin.close()
        p.wait()
