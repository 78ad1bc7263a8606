"""paddleocr_spark/tuning.py: the tmpfs shuffle-dir probe must be
gated on free space and honor the opt-out (round-4 advice — a
memory-tight container must never point shuffle spill at RAM); the
zip-finder guard must re-read only SparkFiles archives and leave
imports working; the session recipe must size a local run and leave
deployment-owned settings out of SESSION_CONF; a Python worker guards
its zip finders and freezes its heap once, the driver never."""

import gc
import importlib
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport
from types import SimpleNamespace

import pytest

from tests.conftest import REPO

from paddleocr_spark import tuning
from paddleocr_spark.tuning import (
    DRIVER_MEMORY_CAP_MIB,
    MIN_FREE_BYTES,
    NO_TMPFS_ENV,
    SESSION_CONF,
    cpus,
    driver_memory,
    guard_zip_finders,
    local_conf,
    tmpfs_shuffle_dir,
)


def test_optout_env_wins(monkeypatch):
    monkeypatch.setenv(NO_TMPFS_ENV, "1")
    assert tmpfs_shuffle_dir() is None


def test_missing_root_returns_none():
    assert tmpfs_shuffle_dir("/no/such/tmpfs/dir") is None


def test_free_space_floor(monkeypatch):
    # an impossible floor must disable the probe even on a big tmpfs
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE", str(1 << 60))
    assert tmpfs_shuffle_dir() is None
    monkeypatch.delenv("SPARK_GRAFT_TMPFS_MIN_FREE")
    # floor = 0: any writable tmpfs qualifies
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE", "0")
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        assert tmpfs_shuffle_dir() == "/dev/shm/spark_graft_shuffle"


def test_statvfs_failure_is_safe(monkeypatch):
    def boom(_path):
        raise OSError("statvfs unavailable")

    monkeypatch.setattr(os, "statvfs", boom)
    assert tmpfs_shuffle_dir() is None


def test_default_floor_is_sane():
    assert MIN_FREE_BYTES >= 1 << 30  # never spill into a sub-GiB tmpfs


def test_malformed_floor_falls_back_to_default(monkeypatch, tmp_path):
    from types import SimpleNamespace

    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE", "4GiB")
    path = str(tmp_path / "shuffle")
    for free, want in ((MIN_FREE_BYTES - 1, None), (MIN_FREE_BYTES, path)):
        monkeypatch.setattr(
            os, "statvfs",
            lambda _p, free=free: SimpleNamespace(f_bavail=free, f_frsize=1),
        )
        assert tmpfs_shuffle_dir(path) == want


@pytest.mark.parametrize(
    "meminfo, want",
    [
        ("MemTotal:       16479424 kB\nMemFree: 1 kB\n", "8046m"),  # 15.7 GiB host
        ("MemTotal:       65536000 kB\n", f"{DRIVER_MEMORY_CAP_MIB}m"),
        ("MemTotal: lots\n", f"{DRIVER_MEMORY_CAP_MIB}m"),
        (None, f"{DRIVER_MEMORY_CAP_MIB}m"),
    ],
)
def test_driver_memory_is_half_the_host_capped(tmp_path, meminfo, want):
    path = tmp_path / "meminfo"
    if meminfo is not None:
        path.write_text(meminfo)
    assert driver_memory(str(path)) == want


@pytest.fixture
def plant_zip(monkeypatch):
    """plant(where, fake_root) -> (archive, (name_a, name_b)): writes a
    two-module zip under `where`, puts it on sys.path and imports module
    a, so the zip's finder sits in sys.path_importer_cache; the SparkFiles
    root reads as `fake_root`."""

    def plant(where, fake_root):
        from pyspark.core.files import SparkFiles

        monkeypatch.setattr(SparkFiles, "getRootDirectory", lambda: fake_root)
        tag = uuid.uuid4().hex[:10]
        names = (f"zmod_{tag}_a", f"zmod_{tag}_b")
        where.mkdir(parents=True, exist_ok=True)
        archive = str(where / f"pair_{tag}.zip")
        with zipfile.ZipFile(archive, "w") as zf:
            for name in names:
                zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
        monkeypatch.syspath_prepend(archive)
        importlib.import_module(names[0])
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        planted.extend(names)
        return archive, names

    planted = []
    yield plant
    for name in planted:
        sys.modules.pop(name, None)


def _count_directory_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


PRE_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 refreshes zip finders lazily; no guard installed",
)


@pytest.fixture
def guarded(monkeypatch):
    """guard() installs the zip-finder guard and checks it is never
    wrapped twice; the monkeypatch undoes it after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )

    def guard():
        guard_zip_finders()
        installed = zipimport.zipimporter.invalidate_caches
        guard_zip_finders()
        assert zipimport.zipimporter.invalidate_caches is installed

    return guard


@PRE_313
def test_release_drops_zip_finder_and_imports_still_resolve(
    plant_zip, guarded, tmp_path, monkeypatch
):
    """Under the guard every zip finder stays cached and still resolves
    the archive's other module, without re-reading the archive."""
    root = tmp_path / "files"
    shipped, (_, shipped_b) = plant_zip(root, str(root))
    other, (_, other_b) = plant_zip(tmp_path / "lib", str(root))
    guarded()
    reads = _count_directory_reads(monkeypatch)
    for archive, name in ((shipped, shipped_b), (other, other_b)):
        mod = importlib.import_module(name)
        assert mod.NAME == name and mod.__file__.startswith(archive)
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    assert reads == []


@PRE_313
def test_next_invalidate_caches_reads_no_archive(
    plant_zip, guarded, tmp_path, monkeypatch
):
    archive, _ = plant_zip(tmp_path / "lib", str(tmp_path / "files"))
    reads = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    assert archive in reads  # what every pyspark task pays without the guard
    reads.clear()
    guarded()
    importlib.invalidate_caches()
    assert reads == []


@PRE_313
def test_spark_files_zip_keeps_its_finder(plant_zip, guarded, tmp_path, monkeypatch):
    root = tmp_path / "files"
    shipped, _ = plant_zip(root, str(root))
    other, _ = plant_zip(tmp_path / "lib", str(root))
    guarded()
    # the shipped zip is still refreshed by the per-task invalidation
    reads = _count_directory_reads(monkeypatch)
    importlib.invalidate_caches()
    assert reads == [shipped]
    for archive in (shipped, other):
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)


_WORKER_PROBE = """
import gc, json, os, zipimport
import pandas as pd
from paddleocr_spark.tuning import local_session

def probe(batches):
    import paddleocr_spark  # the worker's first import of the package
    refresh = zipimport.zipimporter.invalidate_caches
    for _ in batches:
        yield pd.DataFrame({
            "pid": [os.getpid()], "frozen": [gc.get_freeze_count()],
            "guard": [id(refresh)],
            "guarded": [getattr(refresh, "spark_files_only", False)],
        })

spark = local_session(1, "worker-probe")
rows = spark.range(0, 3, numPartitions=3).mapInPandas(
    probe, "pid long, frozen long, guard long, guarded boolean"
).collect()
spark.stop()
print(json.dumps([[r.pid, r.frozen, r.guard, r.guarded] for r in rows]))
"""


@pytest.fixture(scope="module")
def worker_probe(tmp_path_factory):
    """[[pid, freeze count, id of zipimporter.invalidate_caches,
    guarded]] of three tasks at local[1], where one reused worker runs
    every task."""
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        cwd=tmp_path_factory.mktemp("probe"), env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(rows) == 3 and len({r[0] for r in rows}) == 1, rows
    return rows


def test_worker_heap_frozen_once_per_worker_never_on_driver(worker_probe):
    """The task that first imports the package freezes the heap, and
    later tasks find the same permanent generation, not a second freeze
    on top of it. A frozen object can still die, so the first task,
    which froze while its own setup objects were alive, may read a
    higher count."""
    counts = [frozen for _, frozen, _, _ in worker_probe]
    assert counts[1] > 0 and counts[1:] == [counts[1]] * 2, counts
    assert counts[0] >= counts[1], counts

    import pyspark  # noqa: F401  (loaded, as on a Spark driver)

    import paddleocr_spark

    before = gc.get_freeze_count()
    importlib.reload(paddleocr_spark)  # re-runs the import-time hook
    assert gc.get_freeze_count() == before


@PRE_313
def test_zip_guard_installed_once_per_worker_never_on_driver(worker_probe):
    """The first task's import installs the guard, and every later task
    on that worker runs under the same function object."""
    assert all(guarded for *_, guarded in worker_probe), worker_probe
    assert len({guard for _, _, guard, _ in worker_probe}) == 1, worker_probe

    import pyspark  # noqa: F401  (loaded, as on a Spark driver)

    import paddleocr_spark

    before = zipimport.zipimporter.invalidate_caches
    importlib.reload(paddleocr_spark)  # re-runs the import-time hook
    assert zipimport.zipimporter.invalidate_caches is before
    assert not getattr(before, "spark_files_only", False)


def test_cpus_is_the_env_override_or_the_affinity_mask(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert cpus() == 3
    # not a positive integer: the affinity mask, never local[0] or a crash
    for bad in ("abc", "0", "-2"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
        assert cpus() == len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert cpus() == len(os.sched_getaffinity(0))


def test_local_conf_sizes_a_local_run():
    conf = local_conf(4)
    assert conf["spark.master"] == "local[4]"
    assert conf["spark.sql.shuffle.partitions"] == "8"
    assert conf["spark.driver.memory"] == driver_memory()
    assert conf.items() >= SESSION_CONF.items()


@pytest.mark.parametrize("shm", [None, "/dev/shm/spark_graft_shuffle"])
def test_local_conf_sets_local_dir_only_on_tmpfs(monkeypatch, shm):
    monkeypatch.setattr(tuning, "tmpfs_shuffle_dir", lambda: shm)
    conf = local_conf(4)
    assert ("spark.local.dir" in conf) == (shm is not None)
    assert conf.get("spark.local.dir") == shm


def test_session_conf_leaves_master_heap_and_local_dir_to_the_deployment():
    owned = {"spark.master", "spark.driver.memory", "spark.local.dir"}
    assert not owned & SESSION_CONF.keys()


def test_python_workers_talk_over_a_unix_socket(spark):
    """Every session, local or submitted, sends Arrow batches to Python
    workers over a Unix socket, not TCP loopback."""
    key = "spark.python.unix.domain.socket.enabled"
    assert SESSION_CONF[key] == "true"
    assert spark.conf.get(key) == "true"


def test_submit_extract_passes_exactly_local_conf(monkeypatch, tmp_path):
    from tools import submit_pyfiles

    monkeypatch.setattr(
        tuning, "tmpfs_shuffle_dir", lambda: "/dev/shm/spark_graft_shuffle"
    )
    cmds = []

    def run(cmd, **_kwargs):
        cmds.append(cmd)
        with open(cmd[cmd.index("--bench-json") + 1], "w") as fh:
            json.dump({"docs": 0}, fh)
        return SimpleNamespace(returncode=0, stdout="")

    monkeypatch.setattr(submit_pyfiles.subprocess, "run", run)
    submit_pyfiles.submit_extract(
        3, "/sf", str(tmp_path), zip_path=str(tmp_path / "pkg.zip")
    )
    (cmd,) = cmds
    flags = cmd[1:cmd.index("--py-files")]
    named = {"--master": "spark.master", "--driver-memory": "spark.driver.memory"}
    pairs = [
        tuple(value.split("=", 1)) if flag == "--conf" else (named[flag], value)
        for flag, value in zip(flags[::2], flags[1::2])
    ]
    assert len(pairs) == len(dict(pairs)) and dict(pairs) == local_conf(3)
