"""The extraction benchmark.

    python3 perfbench/run.py --workload scan_ocr --seed 1 --seconds 20 --trace 0

Runs one seeded workload through the program's public API at
local[nproc], checks every output row against the closed-form oracle,
and prints one JSON line last: {correct, attempted, failed, metrics}.
`--trace 0` reports the end-to-end metrics; `--trace 1` runs the traced
pass and reports the per-layer ledger. `--workload all` runs every
workload in its own process, so one that fails or hangs cannot take the
others down. The command runs the benchmark in a child process and,
when it ends, stops and waits for every process it left behind (the
JVM, Spark's Python workers, multiprocessing helpers). See
perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("scan_ocr", "mixed_crawl")
# documents per unit; a job at N cores takes N units
UNIT_DOCS = {"scan_ocr": 120, "mixed_crawl": 400}
SETUPS = 3
WARM_JOBS = 1  # untimed jobs before the timed loop, while the JIT and workers settle
RUN_LIMIT_S = 150  # a run that is still going after this raises and reports failure
CHILD_LIMIT_S = 165  # the supervisor kills a run that is still going after this
REAP_GRACE_S = 5.0  # how long left-behind processes get to exit before SIGKILL
CHILD_ENV = "PERFBENCH_CHILD"  # set in the supervised child
PR_SET_CHILD_SUBREAPER = 36


def _program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "paddleocr_spark", "plans", "pipeline.py"))


def metric_spec(kind: str) -> dict:
    """Metric name -> unit for `kind` ("end_to_end" or "per_layer"), as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def measure(runner, seconds: float, work: str) -> tuple[dict, dict]:
    """End-to-end metrics, tracing off: SETUPS set-ups at nproc cores
    (the first also launches the JVM; their median is setup_s), then
    WARM_JOBS untimed jobs and the timed closed loop at nproc cores."""
    from perfbench.host import nproc
    from perfbench.jobs import closed_loop, setup, tally

    cores = nproc()
    setups, checked = [], []
    for k in range(SETUPS):
        spark, weights, s, warmup = setup(cores, work, runner)
        setups.append(s)
        checked.append(warmup)
        if k < SETUPS - 1:
            spark.stop()
    warmed, jobs = closed_loop(spark, runner, cores, seconds, weights, warm=WARM_JOBS)
    spark.stop()
    metrics = {
        "docs_per_s": statistics.median(j["docs"] / j["wall_s"] for j in jobs),
        "peak_rss_mb": statistics.median(j["peak"]["total_mb"] for j in jobs),
        "setup_s": statistics.median(s["total_s"] for s in setups),
    }
    keep = ("units", "wall_s", "cpu_s", "docs", "failed", "skipped", "pages", "peak")
    return metrics, {
        **tally(checked + warmed + jobs),
        "detail": {"setups": setups, "jobs": [{k: j[k] for k in keep} for j in jobs]},
    }


def run_one(args) -> dict:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    from perfbench import corpus
    from perfbench.host import fingerprint, nproc, probe, shutdown_gateway
    from perfbench.jobs import Runner

    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(STATE, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    artifact = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "host": fingerprint(), "probe_before": probe()}
    names = metric_spec("per_layer" if args.trace else "end_to_end")
    result = _failed(names)

    def _overrun(_sig, _frame):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(RUN_LIMIT_S)
    try:
        t0 = time.perf_counter()
        scans = corpus.scan_cache(ROOT, os.path.join(STATE, "cache"), nproc())
        wl = corpus.build_workload(args.workload, args.seed, scans, UNIT_DOCS)
        runner = Runner(wl, work)
        artifact["inputs_s"] = time.perf_counter() - t0
        artifact["inputs"] = wl.meta
        if args.trace:
            from perfbench.ledger import traced

            metrics, tally = traced(runner, work, f"{out}-spans.jsonl", names)
        else:
            metrics, tally = measure(runner, args.seconds, work)
        if set(metrics) != set(names):
            raise KeyError(f"metrics measured but not declared, or declared but not measured: "
                           f"{sorted(set(metrics) ^ set(names))}")
        artifact.update(tally.pop("detail"))
        artifact["fail_ratio"] = tally["failed"] / tally["attempted"]
        result = {
            "correct": tally["failed"] == 0 and tally["self_test"],
            "attempted": tally["attempted"],
            "failed": tally["failed"],
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in names.items()},
        }
    except Exception as exc:  # reported as a failed workload; the other workloads still run
        artifact["fail_ratio"] = 1.0
        artifact["error"] = "".join(traceback.format_exception_only(type(exc), exc)).strip()
        artifact["traceback"] = traceback.format_exc()
        print(f"{args.workload}: {artifact['error']}", file=sys.stderr)
    finally:
        signal.alarm(0)
        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
        except Exception:
            pass
        shutdown_gateway()
        shutil.rmtree(work, ignore_errors=True)
    artifact["probe_after"] = probe()
    artifact["result"] = result
    with open(f"{out}.json", "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    return result


def _failed(names: dict) -> dict:
    """The result of a run that raised: everything attempted failed."""
    return {"correct": False, "attempted": 1, "failed": 1,
            "metrics": {k: {"value": 0.0, "unit": u} for k, u in names.items()}}


def run_all(args) -> int:
    """Every workload in its own process with a time limit. A workload
    that fails or times out still reports every metric, with fail ratio 1
    and its error text. The last line sums all workloads, metric names
    prefixed with the workload's."""
    names = metric_spec("per_layer" if args.trace else "end_to_end")
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed",
               str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        try:
            env = {k: v for k, v in os.environ.items() if k != CHILD_ENV}  # each one supervised
            proc = subprocess.run(cmd, capture_output=True, text=True, env=env,
                                  timeout=CHILD_LIMIT_S + REAP_GRACE_S + 10)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            errors = [ln for ln in proc.stderr.splitlines() if ln.startswith(f"{wl}:")]
            err = errors[-1] if errors else None if res else "no result"
        except subprocess.TimeoutExpired:
            res, err = None, "timed out"
        except ValueError as exc:
            res, err = None, f"unparseable result: {exc}"
        res = res or _failed(names)
        print(f"== {wl}: fail_ratio={res['failed'] / res['attempted']:.4f}" + (f" ({err})" if err else ""))
        for k, m in res["metrics"].items():
            print(f"   {k:32s} {m['value']:14.4f} {m['unit']}")
            total["metrics"][f"{wl}.{k}"] = m
        total["correct"] = total["correct"] and res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
    print(json.dumps(total))
    return 0


def _children() -> list[int]:
    """Live (non-zombie) processes whose parent is this one."""
    me, out = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(f[1]) == me and f[0] != "Z":
            out.append(int(name))
    return out


def _reap_all(grace_s: float = REAP_GRACE_S) -> None:
    """Wait until no process started under this one is left: reap the
    ones that exit by themselves (Spark's Python daemon, the
    multiprocessing resource tracker), SIGKILL what is still there after
    `grace_s`. As child subreaper this process inherits every orphaned
    descendant, so the loop covers the whole tree."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        alive = _children()
        if not alive:
            break
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)
    try:
        while True:
            os.waitpid(-1, 0)
    except ChildProcessError:
        pass


def supervise(argv: list[str], names: dict) -> int:
    """Run the benchmark in a child process with a time limit, then stop
    and wait for every process it left behind, so nothing outlives the
    command. Prints the child's output, or a failed result line when the
    child printed none. The child's output goes to a file, not a pipe:
    processes it leaves behind inherit its stdout, and a pipe would stay
    open until they end."""
    import ctypes
    import tempfile

    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"perfbench: prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(ctypes.get_errno())}; "
              "processes orphaned by the run are not reaped", file=sys.stderr)

    def _terminated(_sig, _frame):
        raise SystemExit(1)

    signal.signal(signal.SIGTERM, _terminated)
    os.makedirs(STATE, exist_ok=True)
    with tempfile.TemporaryFile("w+", dir=STATE) as out:
        proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                                env={**os.environ, CHILD_ENV: "1"}, stdout=out)
        try:
            proc.wait(timeout=CHILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: the run exceeded {CHILD_LIMIT_S} s and was killed", file=sys.stderr)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            _reap_all()
        out.seek(0)
        lines = out.read().rstrip("\n").splitlines()
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, TypeError):
        ok = False
    sys.stdout.write("\n".join(lines if ok else lines + [json.dumps(_failed(names))]) + "\n")
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not _program_present():
        print("perfbench: the paddleocr_spark package is not in this checkout", file=sys.stderr)
        return 2
    if not os.environ.get(CHILD_ENV):
        return supervise(sys.argv[1:], metric_spec("per_layer" if args.trace else "end_to_end"))
    if args.workload == "all":
        return run_all(args)
    result = run_one(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
