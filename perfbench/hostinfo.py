"""Host facts and the host-period probe recorded beside every draw.

Identical code has drawn run times more than 2x apart on shared hosts, so
each draw carries a fixed single-thread workload's time. It explains a
slow draw; it is never used to rescale one.
"""

from __future__ import annotations

import os
import platform
import time

import numpy as np


def probe_s() -> float:
    """A fixed single-thread numpy and pure-Python loop (~0.3 s on an idle
    4-core x86 host)."""
    t0 = time.perf_counter()
    a = np.random.default_rng(7).random((192, 192))
    for _ in range(40):
        a = np.tanh(a @ a.T / 192.0)
    acc = 0
    for i in range(600_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _fs_type(path: str) -> str:
    path = os.path.realpath(path)
    best, fstype = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, typ, *_ = line.split()
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, fstype = mnt, typ
    return fstype


def facts(spark, scratch: dict[str, str]) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    jvm = spark._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 2),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "driver_heap_max_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20),
        "storage": {name: _fs_type(path) for name, path in scratch.items()},
    }
