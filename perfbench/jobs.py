"""Jobs through the program's public API, and the closed loop that times
them. One driver thread submits one job at a time; a job at N cores takes
N units of the workload, so every core gets the same work at any N."""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import pyarrow.parquet as pq

from perfbench.corpus import Workload, check, self_test, write_committed, write_unit

PARTITIONS_PER_CORE = 2


def partitions(cores: int) -> int:
    """Partitions of a job at `cores` cores: one at one core, so one task
    runs at a time."""
    return PARTITIONS_PER_CORE * cores if cores > 1 else 1


def weights_for(wl: Workload) -> bytes:
    if wl.backend == "onnx":
        from paddleocr_spark.kernels.onnx_models import build_onnx_bundle

        return build_onnx_bundle()
    from paddleocr_spark.kernels.font import export_weights

    return export_weights()


class Runner:
    """Owns a workload's input files and runs its jobs."""

    def __init__(self, wl: Workload, work: str):
        self.wl, self.work = wl, work
        os.makedirs(f"{work}/in", exist_ok=True)
        self.inputs, self.committed = [], []
        for k, unit in enumerate(wl.units):
            path = f"{work}/in/unit{k}.parquet"
            write_unit(unit, path)
            self.inputs.append(path)
            if wl.resume:
                path = f"{work}/in/committed{k}.parquet"
                write_committed(unit, path)
                self.committed.append(path)
        self.jobs = 0

    def group(self, k: int, cores: int) -> list[int]:
        """The units of the k-th job at `cores` cores, cycling the corpus."""
        n = len(self.wl.units)
        width = min(cores, n)
        return [(k * width + j) % n for j in range(width)]

    def job(self, spark, units: list[int], partitions: int, weights: bytes) -> dict:
        """Run one job over `units`; returns its wall time and where its
        output rows landed. Only the program's own call is timed."""
        from paddleocr_spark.plans.pipeline import extract_pages, run_job

        self.jobs += 1
        tag = f"job{self.jobs}"
        out = f"{self.work}/out/{tag}"
        paths = [self.inputs[u] for u in units]
        kw = dict(orient=self.wl.orient, backend=self.wl.backend, weights=weights)
        if self.wl.resume:
            sink = f"{out}/results"
            os.makedirs(f"{sink}/run_id=committed")
            for u in units:
                shutil.copy(self.committed[u], f"{sink}/run_id=committed/part-{u}.parquet")
            t0 = time.perf_counter()
            pages = spark.read.parquet(*paths)
            run_job(spark, pages, sink, f"{out}/audit", num_partitions=partitions, run_id=tag, **kw)
            wall = time.perf_counter() - t0
            rows_at = f"{sink}/run_id={tag}"
        else:
            t0 = time.perf_counter()
            pages = spark.read.parquet(*paths)
            extract_pages(pages, num_partitions=partitions, **kw).write.mode(
                "overwrite"
            ).parquet(out)
            wall = time.perf_counter() - t0
            rows_at = out
        return {"tag": tag, "units": units, "wall_s": wall, "rows_at": rows_at, "out": out}

    def verify(self, job: dict) -> dict:
        """Check one job's output rows against the oracle, then drop them."""
        docs = [d for u in job["units"] for d in self.wl.units[u]]
        table = pq.read_table(job["rows_at"])
        keys = list(zip(table.column("url").to_pylist(), table.column("img_idx").to_pylist()))
        rows = dict(zip(keys, table.column("extracted_text").to_pylist()))
        bad = check(docs, rows)
        if len(rows) < len(keys):  # a page written twice
            bad += [url for (url, _idx), n in Counter(keys).items() if n > 1]
        if self.wl.resume and not bad:
            audit = pq.read_table(f"{job['out']}/audit")
            if sum(audit.column("page_count").to_pylist()) != table.num_rows:
                bad = [d.url for d in docs]
        extracted = [d for d in docs if not d.committed]
        job.update(
            docs=len(extracted),
            failed=len(set(bad)),
            oracle_self_test=self_test(docs, rows),
            skipped=len(docs) - len(extracted),
            pages=table.num_rows,
        )
        job["table"] = table
        shutil.rmtree(job["out"], ignore_errors=True)
        return job


def setup(cores: int, work: str, runner: Runner, event_log: str | None = None) -> tuple:
    """Session start, weight export or ONNX bundle build, and a warmup
    job on one unit: all a job needs before the first timed one. Returns
    the session, the weights, the set-up's times and the checked warmup."""
    from perfbench.host import build_session

    t0 = time.perf_counter()
    spark = build_session(cores, work, event_log)
    t1 = time.perf_counter()
    weights = weights_for(runner.wl)
    t2 = time.perf_counter()
    warmup = runner.job(spark, [len(runner.inputs) - 1], partitions(cores), weights)
    t3 = time.perf_counter()
    return spark, weights, {
        "session_s": t1 - t0, "weights_s": t2 - t1, "warmup_s": t3 - t2, "total_s": t3 - t0,
    }, runner.verify(warmup)


def tally(jobs: list[dict]) -> dict:
    """Docs attempted and failed over checked jobs, and whether every
    job's oracle self-test passed."""
    return {
        "attempted": sum(j["docs"] for j in jobs),
        "failed": sum(j["failed"] for j in jobs),
        "self_test": all(j["oracle_self_test"] for j in jobs),
    }


def closed_loop(spark, runner: Runner, cores: int, seconds: float, weights: bytes,
                min_jobs: int = 3, warm: int = 0) -> tuple[list[dict], list[dict]]:
    """`warm` untimed jobs, then jobs back to back until the next would
    overrun `seconds`; each job takes `cores` units in `partitions(cores)`
    partitions.
    Each timed job records its wall time, the CPU time of the JVM and its
    Python workers, and its peak resident memory. Returns the checked
    warm and timed jobs."""
    from perfbench.host import RssSampler, jvm_pid, tree_cpu_s

    pid = jvm_pid()
    parts = partitions(cores)
    warmed = [runner.job(spark, runner.group(k, cores), parts, weights) for k in range(warm)]
    jobs: list[dict] = []
    t0 = time.perf_counter()
    with RssSampler(pid) as rss:
        while len(jobs) < min_jobs or (time.perf_counter() - t0) * (len(jobs) + 1) / len(jobs) <= seconds:
            rss.mark()
            cpu0 = tree_cpu_s(pid)
            job = runner.job(spark, runner.group(warm + len(jobs), cores), parts, weights)
            job["cpu_s"] = tree_cpu_s(pid) - cpu0
            job["peak"] = rss.mark()
            jobs.append(job)
    return [runner.verify(j) for j in warmed], [runner.verify(j) for j in jobs]
