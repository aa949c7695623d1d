"""Run context: host facts, a CPU sentinel, and process-tree memory."""

from __future__ import annotations

import ctypes
import os
import platform
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def sentinel_ms() -> float:
    """Wall ms of a fixed single-thread pure-Python loop. Recorded before
    and after each run to show host contention; it gates nothing."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc * 1103515245 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1000.0


def _blas_threads() -> int | None:
    """Threads the OpenBLAS linked into numpy will use in this process."""
    import numpy  # noqa: F401 (loads the library)

    with open("/proc/self/maps") as fh:
        libs = {ln.split()[-1] for ln in fh if "openblas" in ln.lower() and "/" in ln}
    for path in libs:
        lib = ctypes.CDLL(path)
        for sym in ("openblas_get_num_threads", "openblas_get_num_threads64_",
                    "scipy_openblas_get_num_threads64_"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                return int(fn())
    return None


def context(master: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "master": master,
        "env_threads": {
            v: os.environ.get(v)
            for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")
        },
        "openblas_threads": _blas_threads(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """pid and every live process below it."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def peak_rss_mb(jvm_pid: int) -> dict:
    """Peak resident set (VmHWM) of the JVM, and summed over the Python
    worker processes below it."""
    workers = descendants(jvm_pid)[1:]
    return {
        "jvm": _hwm_mb(jvm_pid),
        "workers": sum(_hwm_mb(p) for p in workers),
        "n_workers": len(workers),
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of pids is alive; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    return alive
