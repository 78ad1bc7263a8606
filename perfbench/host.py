"""Host fit: the benchmark's one Spark session builder, the host
fingerprint, the CPU and memory-stream probes, and the outside sampler
that reads CPU time and resident memory of the JVM and its Python
workers from /proc."""

from __future__ import annotations

import os
import platform
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def driver_memory_mb() -> int:
    """An eighth of the host's RAM, between 1 and 4 GiB: the job holds
    one Arrow batch per core, never the corpus."""
    return max(1024, min(4096, ram_mb() // 8))


def fingerprint() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "ram_mb": ram_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "machine": platform.machine(),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }


def probe() -> dict:
    """Two quick axes of how busy the host is right now: dense matmul
    throughput (CPU) and large-array copy bandwidth (memory stream)."""
    import numpy as np

    a = np.random.default_rng(0).random((192, 192))
    reps, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.1:
        a @ a
        reps += 1
    gflops = reps * 2 * 192**3 / (time.perf_counter() - t0) / 1e9
    src = np.ones(8 * 1024 * 1024)  # 64 MiB
    dst = np.empty_like(src)
    reps, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.1:
        np.copyto(dst, src)
        reps += 1
    gbps = reps * 2 * src.nbytes / (time.perf_counter() - t0) / 1e9
    return {"cpu_gflops": round(gflops, 3), "mem_gbps": round(gbps, 3)}


def build_session(cores: int, work: str, event_log: str | None = None):
    from pyspark.sql import SparkSession

    mem = driver_memory_mb()
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        .config(
            "spark.driver.extraJavaOptions",
            # A fixed heap and young generation: left to G1's pause-time
            # ergonomics, the heap's resident size varied by half between
            # runs of the same work, which would hide a memory regression.
            f"-Xms{mem}m -Xmn{mem // 4}m -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        )
        .config("spark.local.dir", f"{work}/spark-local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = b.config("spark.eventLog.dir", event_log).config("spark.eventLog.compress", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_gateway() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=10)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cpu_s(pid: int) -> float:
    """utime + stime of the process and its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in f[11:15]) / _TICK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE / 2**20
    except (OSError, ValueError, IndexError):
        return 0.0


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident pages, each shared page split
    among the processes that map it, so a sum over the Python workers
    counts the pages they share with their daemon once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


def tree_cpu_s(root: int) -> float:
    return sum(_cpu_s(p) for p in _tree(root))


class RssSampler:
    """Samples the resident memory of the JVM and its descendants (the
    Python daemon and workers) every `period` seconds from a thread.
    The JVM is one process, so its RSS counts each of its pages once; the
    workers are forked from one daemon and share pages with it, so they
    count by PSS. (The JVM's PSS would cost ~10 ms of /proc walking per
    sample.) `mark()` returns the peaks since the previous mark."""

    def __init__(self, root: int, period: float = 0.1):
        self.root, self.period = root, period
        self._peak = (0.0, 0.0, 0.0)  # total, jvm, python
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            pids = _tree(self.root)
            jvm = _rss_mb(self.root)
            py = sum(_pss_mb(p) for p in pids if p != self.root)
            with self._lock:
                t, j, p = self._peak
                self._peak = (max(t, jvm + py), max(j, jvm), max(p, py))
            self._stop.wait(self.period)

    def mark(self) -> dict:
        with self._lock:
            t, j, p = self._peak
            self._peak = (0.0, 0.0, 0.0)
        return {"total_mb": t, "jvm_mb": j, "python_mb": p}

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
