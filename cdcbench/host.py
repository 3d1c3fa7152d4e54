"""Host disclosure and process accounting.

The memory probe is the streaming kernel of ``scripts/host_probe.py``
(copy a 128 MB buffer 8 times); the CPU probe is a fixed single-core
sha256 chain. Both run in a child process (``python3 host.py`` prints
their times as JSON), so the probe's buffers stay out of the benchmark
process's peak RSS. Their times and the 1-minute load average are
recorded beside each run's metrics; they are never used to retry,
discard or rescale a run.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import numpy as np


def mem_probe_s() -> float:
    # real data, not np.zeros: zero pages are shared and cache-hot
    a = np.arange(128 * 1024 * 1024 // 8, dtype=np.int64)
    t0 = time.perf_counter()
    s = 0
    for _ in range(8):
        b = a.copy()
        s += int(b[-1])
    return time.perf_counter() - t0


def cpu_probe_s() -> float:
    h = b"x" * 64
    t0 = time.perf_counter()
    for _ in range(300_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def probe() -> dict:
    """Both probes, run in a child process, and the load average."""
    load = loadavg_1m()
    out = subprocess.run([sys.executable, os.path.abspath(__file__)],
                         check=True, capture_output=True, text=True).stdout
    return {**json.loads(out), "loadavg_1m": load}


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def seconds_since_process_start() -> float:
    """Seconds since this process started: /proc's start time counts
    clock ticks since boot, as CLOCK_BOOTTIME does."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5): starttime
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb() -> float:
    """Peak resident set size (VmHWM) of this process, in MB."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


if __name__ == "__main__":
    print(json.dumps({"mem_probe_s": mem_probe_s(), "cpu_probe_s": cpu_probe_s()}))
