"""Host tuning and the one Spark session recipe.

`local_session` / `local_conf` build the local-mode session for
bench.py, tools/check_oracle.py, tools/profile_suite.py and
tests/conftest.py, and tools/submit_pyfiles.py passes `local_conf` to
spark-submit. job.py applies `SESSION_CONF` only: there spark-submit
owns the master, the driver heap and spark.local.dir.

tmpfs shuffle dirs (spark.local.dir=/dev/shm/...) are a measured win on
this host (32 concurrent shuffle writers stop contending on the root
disk; see local_conf), but RAM-backed storage is only safe
when the tmpfs can actually hold the expected spill volume — on a
memory-constrained container a large shuffle would fill /dev/shm and
fail the job or trip the OOM killer. So the probe is gated on measured
free space, with an env opt-out (round-4 advice item).

`driver_memory` sizes the local-mode driver heap from the host's RAM,
and `cpus` is the core count a local run uses.
`guard_zip_finders` runs once in each Python worker: it stops the
worker re-reading Spark's and pyspark's zip archives before every
task."""

from __future__ import annotations

import os
import sys
import zipimport

# Opt-out: any non-empty value disables the tmpfs shuffle dir entirely.
NO_TMPFS_ENV = "SPARK_GRAFT_NO_TMPFS_SHUFFLE"

# Minimum free tmpfs bytes before we point shuffle spill at RAM. The
# local bench's biggest shuffle (the salted page repartition at sf0.1,
# uncompressed PNG payloads) peaks well under 2 GiB; anything tighter
# than 4 GiB free means the container is memory-constrained enough that
# disk spill is the safer default. Override (in bytes) via
# SPARK_GRAFT_TMPFS_MIN_FREE for workloads with a known spill volume.
MIN_FREE_BYTES = 4 << 30


def tmpfs_shuffle_dir(path: str = "/dev/shm/spark_graft_shuffle") -> str | None:
    """The spark.local.dir to use, or None to keep Spark's default.

    Only meaningful where the probing process runs on the machine that
    will host the executors (local-mode bench/scaling runs). Cluster
    submit harnesses must NOT call this to set executor storage — a
    gateway-side statvfs says nothing about cluster nodes; leave
    spark.local.dir to the cluster's own node config there.
    """
    if os.environ.get(NO_TMPFS_ENV):
        return None
    root = os.path.dirname(path) or "/"
    if not (os.path.isdir(root) and os.access(root, os.W_OK)):
        return None
    try:
        st = os.statvfs(root)
    except OSError:
        return None
    free = st.f_bavail * st.f_frsize
    try:
        floor = int(os.environ.get("SPARK_GRAFT_TMPFS_MIN_FREE", MIN_FREE_BYTES))
    except ValueError:  # a malformed override must not crash the builder
        floor = MIN_FREE_BYTES
    if free < floor:
        return None
    return path


# spark.driver.memory ceiling for local-mode runs; the host's RAM may
# lower it (driver_memory).
DRIVER_MEMORY_CAP_MIB = 16 << 10


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """spark.driver.memory for a local-mode run: half the host's
    MemTotal, capped at 16 GiB, so the heap never claims the whole host
    (the executors' Python workers share its RAM). The cap when
    MemTotal cannot be read."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    half_mib = int(line.split()[1]) // 2048  # kB -> MiB / 2
                    return f"{min(DRIVER_MEMORY_CAP_MIB, half_mib)}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{DRIVER_MEMORY_CAP_MIB}m"


def cpus() -> int:
    """Cores for a local run: $SPARK_GRAFT_CPUS when it is a positive
    integer, otherwise the CPUs this process may run on (a malformed or
    non-positive override must not crash bench.py at import, nor reach
    Spark as local[0])."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        n = 0
    return n if n > 0 else len(os.sched_getaffinity(0))


# Session settings that are safe on any master.
SESSION_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # PNG payloads are incompressible: shuffle compression is pure CPU
    # burn on the dominant stage (measured +2.6% at 32 cores)
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.shuffle.file.buffer": "1m",
    # Arrow batches to and from Python workers over a Unix socket: over
    # the default TCP loopback a reused worker waited ~42 ms for its
    # first input batch (a 1-task mapInPandas job took 67 ms, 29 ms
    # with this setting, on 4 cores)
    "spark.python.unix.domain.socket.enabled": "true",
}


def local_conf(cores: int) -> dict[str, str]:
    """SESSION_CONF plus the settings of a local[cores] run, whose
    executors live on this host: the master, 2 shuffle partitions per
    core, the driver heap and, when the tmpfs probe allows it, shuffle
    spill on tmpfs (at 32 cores the passthrough plan's machinery share
    fell 4.05 -> 2.99 s once 32 shuffle writers stopped contending on
    the root disk)."""
    conf = {
        **SESSION_CONF,
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(2 * cores),
        "spark.driver.memory": driver_memory(),
    }
    shm = tmpfs_shuffle_dir()
    if shm:
        conf["spark.local.dir"] = shm
    return conf


def local_session(cores: int, app: str):
    """The local[cores] SparkSession of `local_conf`, logging errors only."""
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(app).config(
        map=local_conf(cores)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def guard_zip_finders() -> None:
    """Make `zipimporter.invalidate_caches` re-read only archives under
    the SparkFiles root; install once per process.

    pyspark's worker calls importlib.invalidate_caches() before every
    task (worker_util.setup_spark_files), and on CPython < 3.13 each
    cached zipimporter then re-reads its whole archive directory. A
    reused worker caches one per package path it imported from: the
    Spark core jar, pyspark.zip (once per subpackage) and py4j, about
    200 ms of CPU per task on a 4-core host, whatever the task's UDF.
    Those archives do not change while the worker lives, so the guard
    skips them; archives under the SparkFiles root (addPyFile zips) are
    still refreshed. Imports are unchanged: the finders stay cached.
    Called from the package's import-time hook inside a task (see
    paddleocr_spark/__init__.py), never on a driver. CPython 3.13 made
    the refresh lazy, so there it installs nothing."""
    if sys.version_info >= (3, 13):
        return
    refresh = zipimport.zipimporter.invalidate_caches
    if getattr(refresh, "spark_files_only", False):
        return  # already guarded (a reload re-runs the hook)
    from pyspark.core.files import SparkFiles

    def invalidate_caches(self):
        root = os.path.join(SparkFiles.getRootDirectory(), "")
        if self.archive.startswith(root):
            refresh(self)

    invalidate_caches.spark_files_only = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
