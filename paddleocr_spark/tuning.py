"""Host-tuning probes shared by bench.py / tools/scaling_run.py /
tools/submit_pyfiles.py.

tmpfs shuffle dirs (spark.local.dir=/dev/shm/...) are a measured win on
this host (32 concurrent shuffle writers stop contending on the root
disk; see tools/scaling_run.py), but RAM-backed storage is only safe
when the tmpfs can actually hold the expected spill volume — on a
memory-constrained container a large shuffle would fill /dev/shm and
fail the job or trip the OOM killer. So the probe is gated on measured
free space, with an env opt-out (round-4 advice item)."""

from __future__ import annotations

import os

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
