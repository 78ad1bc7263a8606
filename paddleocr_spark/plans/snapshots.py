"""Iceberg-style snapshot layer over parquet directories.

The north_star calls for the pipeline to write "per-partition lineage +
throughput metrics to an Iceberg audit table, and resume idempotently
from the last committed snapshot". The sandbox has no Iceberg catalog,
so this module implements the part of Iceberg's table format that the
resume/audit contract actually depends on, from scratch, on a plain
filesystem:

- A table is a local directory, named by a plain path or a file:// URI
  (`resolve_root`): `data/<commit-uuid>/part-*.parquet` files plus
  `metadata/snap-<version>.json` manifests. A manifest lists EVERY live
  data file (path, row count, byte size), the schema as JSON, the
  parent version, and a summary (run_id, rows added, and the streaming
  sink's batch_id).
- Readers resolve the committed table state from the highest manifest
  only: data files not referenced by a committed manifest are invisible
  (a crashed writer leaves orphan files, never partial table state).
  This is the property the bare-directory sink in `pipeline.run_job`
  cannot give: there, a crashed run's task-committed part-files are
  picked up by the next `recursiveFileLookup` read.
- Commits are atomic and optimistic, exactly Iceberg's protocol shape:
  the full manifest is written to a temp file, then published with
  `os.link(tmp, snap-N.json)` — an atomic create-if-absent. A loser in
  a concurrent-commit race gets EEXIST, re-reads the new parent, and
  retries with its (already durable) data files; data is never
  rewritten during the retry loop. In production the link() is the
  catalog's compare-and-swap on the metadata pointer.
- One manifest can carry BOTH the results file set and the audit file
  set, so "results + this run's audit rows" become visible in a single
  atomic commit — crash between the two writes can't publish one
  without the other (multi-branch commit; Iceberg would model it as a
  single-transaction write to two tables).
- Resume is an anti-join of pages against committed urls
  (`resume_filter_exact`). It reads only the files the current manifest
  lists — at 10^12 docs the url column of committed data, not a
  recursive directory walk — so a crashed run's orphan files are
  re-extracted exactly once.

On top of the commit protocol the module carries the table-format
features a 10^12-doc pipeline actually uses: rewrite snapshots with
conflict validation (`compact`), additive schema evolution
(`_evolved_schema` — add columns, readers null-fill older files),
snapshot expiry (`expire_snapshots`), and the exactly-once streaming
sink built on the same atomic publish
(`streaming/pipeline.snapshot_batch_sink`). The
batch job and that sink commit an extraction the same way
(`commit_extraction`): results files plus the audit rows the
extraction tasks tallied, in one snapshot.

Sandbox-scale simplification, on purpose: ONE manifest carries the full
live file list, so a commit rewrites O(live files) of metadata. Real
Iceberg splits this into per-partition manifest files tracked by a
manifest list, making a commit O(changed partitions); the protocol
(optimistic CAS publish, snapshot isolation, orphan invisibility) is
identical and that is what the tests pin.

Reference behavior being re-expressed: PaddleOCR's CLI writes results
to a flat directory with no commit protocol (tools/infer/
predict_system.py:304-307 `save_results` appends a text file); the fork
serving layer keeps no resume state at all. This layer is the Spark
production analogue the north_star asks for, not a port.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from urllib.parse import urlsplit
from urllib.request import url2pathname

from pyspark import Accumulator
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_FMT_VERSION = 1


def resolve_root(root: str) -> str:
    """The local directory a table root names: a plain path as given, or
    the path of a file:// URI. This module reaches its tables with os.*
    calls, so any other scheme raises ValueError. Every path this module
    derives from a root goes through `_meta_dir` or `_data_dir`, which
    resolve it."""
    if "://" not in root:
        return root
    parts = urlsplit(root)
    if parts.scheme != "file" or parts.netloc not in ("", "localhost"):
        raise ValueError(
            f"snapshot table root {root!r}: only plain paths and "
            "file:// URIs are supported"
        )
    return url2pathname(parts.path)


def _meta_dir(root: str) -> str:
    return os.path.join(resolve_root(root), "metadata")


def _data_dir(root: str) -> str:
    return os.path.join(resolve_root(root), "data")


def _snap_path(root: str, version: int) -> str:
    return os.path.join(_meta_dir(root), f"snap-{version:010d}.json")


def current_version(root: str) -> int:
    """Highest committed snapshot version, or 0 if the table is empty.

    Scans manifest FILE NAMES only (no content reads); a half-written
    manifest cannot exist because publication is an atomic link() of a
    fully-written temp file.
    """
    meta = _meta_dir(root)
    if not os.path.isdir(meta):
        return 0
    best = 0
    for name in os.listdir(meta):
        if name.startswith("snap-") and name.endswith(".json"):
            try:
                best = max(best, int(name[5:-5]))
            except ValueError:
                continue
    return best


def load_snapshot(root: str, version: int | None = None) -> dict | None:
    """Manifest dict for `version` (default: current), or None if empty."""
    v = current_version(root) if version is None else version
    if v <= 0:
        return None
    path = _snap_path(root, v)
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def _file_stats(path: str) -> dict:
    """Footer-only stats for one parquet data file (no row reads)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    return {"path": path, "rows": md.num_rows, "bytes": os.path.getsize(path)}


def _list_parquet(d: str) -> list[str]:
    return sorted(
        os.path.join(d, n)
        for n in os.listdir(d)
        if n.endswith(".parquet") and not n.startswith(".")
    )


def _write_branch(df: DataFrame, root: str, branch: str) -> tuple[list[dict], str]:
    """Write one branch's data files under data/<uuid>/ and return
    (file entries, schema json). Files are durable but INVISIBLE until
    a manifest referencing them is committed."""
    from paddleocr_spark.plans.pipeline import NO_SUCCESS_MARKER

    dest = os.path.join(_data_dir(root), f"{branch}-{uuid.uuid4().hex}")
    df.write.mode("error").option(NO_SUCCESS_MARKER, "false").parquet(dest)
    stats = [_file_stats(p) for p in _list_parquet(dest)]
    # Zero-row part files (empty upstream partitions) carry no data:
    # tracking them would only bloat every future manifest rewrite. A
    # write with no row at all (a fully resumed run) leaves nothing.
    files = [s for s in stats if s["rows"] > 0]
    if not files:
        shutil.rmtree(dest)
    return files, df.schema.json()


def _evolved_schema(old_json: str | None, new_json: str | None) -> str | None:
    """Additive schema evolution (Iceberg add-column): a new append may
    ADD columns; every existing column must keep its name and type. The
    branch adopts the superset schema, and readers null-fill the new
    columns for pre-evolution data files (spark.read with an explicit
    schema does exactly that). Drops/retypes are refused — they would
    silently corrupt older readers."""
    if not old_json:
        return new_json
    if not new_json or new_json == old_json:
        return old_json
    old = StructType.fromJson(json.loads(old_json))
    new = StructType.fromJson(json.loads(new_json))
    new_by_name = {f.name: f for f in new.fields}
    for f in old.fields:
        nf = new_by_name.get(f.name)
        if nf is None or nf.dataType != f.dataType:
            raise ValueError(
                f"incompatible schema evolution for column {f.name!r}: "
                "appends may only ADD columns; existing columns keep "
                "their name and type"
            )
    return new_json


def commit(
    root: str,
    branches: dict[str, tuple[list[dict], str]],
    summary: dict | None = None,
    max_retries: int = 20,
    replace: set[str] | frozenset[str] = frozenset(),
    expect_files: dict[str, list[str]] | None = None,
) -> int:
    """Atomically publish a new snapshot appending `branches`
    ({name: (file_entries, schema_json)}) on top of the current state.
    Returns the committed version. Optimistic-concurrency loop: on a
    race the loser re-reads the parent and retries metadata-only.

    Branch names in `replace` have their file list REPLACED instead of
    appended (rewrite actions: compaction). A rewrite validates against
    concurrent writers via `expect_files` ({branch: [paths the rewrite
    consumed]}): if the parent's file list for that branch has changed
    since the rewrite read it, the commit raises instead of silently
    dropping the concurrent append — Iceberg's rewrite-conflict
    validation."""
    os.makedirs(_meta_dir(root), exist_ok=True)
    for _ in range(max_retries):
        parent_v = current_version(root)
        parent = load_snapshot(root, parent_v) if parent_v else None
        new_branches: dict[str, dict] = {}
        prev = parent["branches"] if parent else {}
        names = set(prev) | set(branches)
        for name in names:
            files = list(prev.get(name, {}).get("files", []))
            schema = prev.get(name, {}).get("schema")
            if name in branches:
                add_files, add_schema = branches[name]
                if name in replace:
                    expected = (expect_files or {}).get(name)
                    if expected is not None and sorted(
                        f["path"] for f in files
                    ) != sorted(expected):
                        raise RuntimeError(
                            f"rewrite conflict on branch {name!r}: the "
                            "file set changed since the rewrite read it"
                        )
                    files = list(add_files)
                else:
                    files.extend(add_files)
                schema = _evolved_schema(schema, add_schema)
            new_branches[name] = {"files": files, "schema": schema}
        manifest = {
            "format_version": _FMT_VERSION,
            "version": parent_v + 1,
            "parent": parent_v or None,
            "branches": new_branches,
            "summary": dict(summary or {}),
        }
        tmp = os.path.join(
            _meta_dir(root), f".tmp-{uuid.uuid4().hex}.json"
        )
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, _snap_path(root, parent_v + 1))
            return parent_v + 1
        except FileExistsError:
            continue  # lost the race: retry on the new parent
        finally:
            os.unlink(tmp)
    raise RuntimeError(
        f"snapshot commit on {root!r} lost {max_retries} consecutive races"
    )


def append(
    df: DataFrame, root: str, branch: str = "results",
    summary: dict | None = None,
) -> int:
    """Write `df` as new data files and commit them in one snapshot."""
    return commit(root, {branch: _write_branch(df, root, branch)}, summary)


def read(
    spark: SparkSession, root: str, branch: str = "results",
    version: int | None = None,
) -> DataFrame:
    """Committed state of `branch` at `version` (default current).
    Time travel = pass an older version. An empty table yields an empty
    DataFrame with the branch schema if any snapshot recorded one."""
    snap = load_snapshot(root, version)
    b = (snap or {}).get("branches", {}).get(branch)
    if not b or not b["files"]:
        if b and b.get("schema"):
            schema = StructType.fromJson(json.loads(b["schema"]))
            return spark.createDataFrame([], schema)
        raise ValueError(f"snapshot table {root!r} has no branch {branch!r}")
    schema = StructType.fromJson(json.loads(b["schema"]))
    paths = [f["path"] for f in b["files"]]
    return spark.read.schema(schema).parquet(*paths)


def watermark(root: str, key: str):
    """Highest value of summary `key` over the CURRENT snapshot chain
    (each commit stamps only its own value; the chain walk keeps it
    monotone), or None. O(snapshots) driver metadata reads, no data
    I/O. The exactly-once streaming sink reads its last committed
    `batch_id` this way."""
    best = None
    v = current_version(root)
    while v:
        try:
            snap = load_snapshot(root, v)
        except FileNotFoundError:
            break  # chain truncated by expire_snapshots: older summaries gone
        val = snap.get("summary", {}).get(key)
        if val is not None and (best is None or val > best):
            best = val
        v = snap.get("parent") or 0
    return best


def resume_filter_exact(pages: DataFrame, root: str) -> DataFrame:
    """Exact idempotent resume: anti-join against committed urls (reads
    only manifest-listed files; orphan files from crashed runs are NOT
    consulted, so their pages are re-extracted exactly once)."""
    snap = load_snapshot(root)
    if not snap or not snap["branches"].get("results", {}).get("files"):
        return pages
    done = read(pages.sparkSession, root, "results").select("url")
    return pages.join(done, "url", "left_anti")


def commit_extraction(
    root: str,
    results: DataFrame,
    tally: Accumulator,
    run_id: str,
    summary: dict | None = None,
) -> tuple[int | None, int]:
    """Write an extraction's `results` (an `extract_pages` frame run with
    `_tally=tally`) as results-branch files, then the audit rows its
    tasks tallied while writing them as one audit-branch file, and
    publish both in ONE snapshot. Returns (version, rows committed);
    the version is None when the write produced no row, and then
    nothing is committed.

    The audit is never a read-back of the files or a second run of the
    OCR stage: `pipeline.write_task_audit` writes it from the driver, so
    the whole commit is the one Spark job of the results write."""
    from paddleocr_spark.plans import pipeline

    res_branch = _write_branch(results, root, "results")
    rows = sum(f["rows"] for f in res_branch[0])
    if not rows:
        return None, 0
    audit_dir = os.path.join(_data_dir(root), f"audit-{uuid.uuid4().hex}")
    audit_file = pipeline.write_task_audit(tally, run_id, audit_dir)
    audit_branch = (
        [_file_stats(audit_file)],
        StructType.fromDDL(pipeline.AUDIT_SCHEMA).json(),
    )
    version = commit(
        root,
        {"results": res_branch, "audit": audit_branch},
        summary={"run_id": run_id, "added_rows": rows, **(summary or {})},
    )
    return version, rows


def run_job_snapshot(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    num_partitions: int | None = None,
    run_id: str | None = None,
    resume: bool = True,
    **extract_kwargs,
) -> dict:
    """`pipeline.run_job` with snapshot-commit semantics: resume from
    the last committed snapshot, extract the remainder, publish results
    AND this run's audit rows in ONE atomic commit. Returns a summary
    dict (rows 0 and the current version when nothing is left to do —
    an empty re-run does not create an empty snapshot)."""
    from paddleocr_spark.plans import pipeline

    root = resolve_root(root)  # an unsupported scheme fails before any job
    rid = run_id or uuid.uuid4().hex
    todo = resume_filter_exact(pages, root) if resume else pages
    tally = pipeline.task_audit(spark)
    results = pipeline.extract_pages(
        todo, num_partitions, _tally=tally, **extract_kwargs
    ).withColumn("run_id", F.lit(rid))
    version, rows = commit_extraction(root, results, tally, rid)
    return {"version": version or current_version(root), "rows": rows,
            "run_id": rid}


def compact(
    spark: SparkSession,
    root: str,
    branch: str = "results",
    target_files: int = 1,
    min_files: int = 2,
    zorder_by: list[tuple[str, str]] | None = None,
) -> int | None:
    """Small-file compaction as a rewrite snapshot: read the branch's
    current state, rewrite it as `target_files` files, publish a
    snapshot whose branch file list is REPLACED. Readers of older
    versions still see the pre-compaction files (time travel holds);
    `expire_snapshots` later reclaims the small files. A concurrent
    append between read and publish raises (rewrite-conflict
    validation) — rerun the compaction. Returns the new version, or
    None when the branch already has < min_files files.

    `zorder_by` = [(col, mode), ...] additionally re-CLUSTERS the
    rewrite in Z-order (plans/zorder.py) — Delta's OPTIMIZE ZORDER as
    the same maintenance op: the rewrite every compaction pays anyway
    also buys multi-dimension footer-stats pruning for every later
    read. With zorder_by, a single-file rewrite would put the whole
    branch in one footer — target_files stays the caller's knob and is
    honored as the cluster count."""
    snap = load_snapshot(root)
    b = (snap or {}).get("branches", {}).get(branch)
    if not b or len(b["files"]) < min_files:
        return None
    consumed = [f["path"] for f in b["files"]]
    df = read(spark, root, branch)
    if zorder_by:
        from paddleocr_spark.plans.zorder import zorder_frame

        df = zorder_frame(df, zorder_by, num_files=max(1, target_files))
    else:
        df = df.coalesce(max(1, target_files))
    new_branch = _write_branch(df, root, branch)
    return commit(
        root,
        {branch: new_branch},
        summary={
            "compacted": branch,
            "replaced_files": len(consumed),
            **(
                {"zorder_by": [f"{c}:{m}" for c, m in zorder_by]}
                if zorder_by
                else {}
            ),
        },
        replace={branch},
        expect_files={branch: consumed},
    )


def expire_snapshots(root: str, keep_last: int = 2) -> list[str]:
    """Maintenance: drop manifests older than the last `keep_last`
    versions and delete data files no surviving manifest references.
    Returns deleted file paths (Iceberg's expire_snapshots +
    remove_orphan_files). Every manifest carries the FULL live file
    list, so any kept manifest is self-contained. Caveat shared with
    Iceberg's remove_orphan_files: an in-flight writer's durable but
    not-yet-committed files look orphaned — only run this while no
    commit is in progress (production adds an age threshold)."""
    cur = current_version(root)
    keep_versions = {v for v in range(max(1, cur - keep_last + 1), cur + 1)}
    live: set[str] = set()
    for v in keep_versions:
        snap = load_snapshot(root, v)
        if snap:
            for b in snap["branches"].values():
                live.update(f["path"] for f in b["files"])
    deleted = []
    data_root = _data_dir(root)
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            full = os.path.join(data_root, d)
            for p in _list_parquet(full):
                if p not in live:
                    os.unlink(p)
                    deleted.append(p)
            if not os.listdir(full):
                os.rmdir(full)
    meta = _meta_dir(root)
    if not os.path.isdir(meta):  # empty/nonexistent table: nothing kept
        return deleted
    for name in list(os.listdir(meta)):
        if name.startswith("snap-") and name.endswith(".json"):
            v = int(name[5:-5])
            if v not in keep_versions:
                os.unlink(os.path.join(meta, name))
                deleted.append(os.path.join(meta, name))
    return deleted

