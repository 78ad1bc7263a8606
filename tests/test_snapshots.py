"""Iceberg-style snapshot layer: atomic commit, crash invisibility,
time travel, exact resume, concurrent-commit retry, expiry.

These pin the production resume contract from BASELINE.json's
north_star ("resumes idempotently from the last committed snapshot",
"per-partition lineage + throughput metrics to an Iceberg audit
table"): a crashed run's durable-but-uncommitted files must never be
visible, and results + audit must appear in ONE atomic commit.
"""

import json
import os

from conftest import SF_SMALL

from paddleocr_spark.plans import snapshots as snap
from paddleocr_spark.sources.pages import pages_from_documents


def _mini(spark, lo, hi):
    return spark.range(lo, hi).select(
        (snap.F.concat(snap.F.lit("u"), snap.F.col("id"))).alias("url"),
        snap.F.col("id").cast("double").alias("score"),
    )


def test_append_read_time_travel(spark, tmp_path):
    root = str(tmp_path / "tbl")
    v1 = snap.append(_mini(spark, 0, 3), root)
    v2 = snap.append(_mini(spark, 3, 6), root)
    assert (v1, v2) == (1, 2)
    assert snap.read(spark, root).count() == 6
    assert snap.read(spark, root, version=1).count() == 3
    m = snap.load_snapshot(root)
    assert m["parent"] == 1 and m["version"] == 2
    # manifest carries footer stats (row count, byte size) per file
    files = m["branches"]["results"]["files"]
    assert all(f["rows"] > 0 and f["bytes"] > 0 for f in files)


def test_crashed_writer_files_invisible_and_resumed(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snap.append(_mini(spark, 0, 2), root)
    # simulate a crash: data files written durably, commit never happened
    snap._write_branch(_mini(spark, 2, 4), root, "results")
    assert snap.read(spark, root).count() == 2  # orphans invisible
    todo = snap.resume_filter_exact(_mini(spark, 0, 4), root)
    # the crashed run's urls are re-extracted exactly once
    assert sorted(r["url"] for r in todo.collect()) == ["u2", "u3"]


def test_concurrent_commit_retries_metadata_only(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snap.append(_mini(spark, 0, 2), root)
    branch = snap._write_branch(_mini(spark, 2, 4), root, "results")
    # another committer wins version 2 mid-flight
    winner = snap._snap_path(root, 2)
    os.makedirs(snap._meta_dir(root), exist_ok=True)
    base = snap.load_snapshot(root, 1)
    base["version"], base["parent"] = 2, 1
    with open(winner, "w", encoding="utf-8") as fh:
        json.dump(base, fh)
    v = snap.commit(root, {"results": branch})
    assert v == 3  # loser retried on top of the winner
    assert snap.read(spark, root).count() == 4


def test_run_job_snapshot_atomic_and_idempotent(spark, tmp_path):
    """Holds for plain table roots and for file:// URIs alike; any other
    scheme is refused before a Spark job starts."""
    pages = pages_from_documents(spark, SF_SMALL, limit=10).cache()
    for root in (str(tmp_path / "plain"), (tmp_path / "uri").as_uri()):
        out1 = snap.run_job_snapshot(
            spark, pages.limit(6), root, num_partitions=4, run_id="s1"
        )
        assert out1["version"] == 1 and out1["rows"] == 6
        m = snap.load_snapshot(root)
        # ONE commit published results AND audit together
        assert set(m["branches"]) == {"results", "audit"}
        assert snap.read(spark, root, "audit").count() >= 1
        out2 = snap.run_job_snapshot(
            spark, pages, root, num_partitions=4, run_id="s2"
        )
        assert out2["rows"] == 4
        res = snap.read(spark, root)
        assert res.count() == 10
        assert res.select("url").distinct().count() == 10
        # audit is incremental: run s2's rows count only its own 4 pages
        audit = snap.read(spark, root, "audit")
        s2 = audit.filter("run_id = 's2'").agg({"page_count": "sum"}).collect()[0][0]
        assert s2 == 4
        # fully-committed input: no-op, no empty snapshot, no orphan
        # data directory left behind by the empty write
        data = snap._data_dir(root)
        before = sorted(os.listdir(data))
        # the branch writes leave no Hadoop `_SUCCESS` marker
        for d in before:
            assert "_SUCCESS" not in os.listdir(os.path.join(data, d)), d
        out3 = snap.run_job_snapshot(
            spark, pages, root, num_partitions=4, run_id="s3"
        )
        assert out3 == {"version": 2, "rows": 0, "run_id": "s3"}
        assert snap.current_version(root) == 2
        assert sorted(os.listdir(data)) == before

    import pytest as _pytest

    sc = spark.sparkContext
    sc.setJobGroup("snapshot-bad-root", "run_job_snapshot on an s3:// root")
    try:
        with _pytest.raises(ValueError, match="file://"):
            snap.run_job_snapshot(spark, pages, "s3://bucket/tbl", resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("snapshot-bad-root") == []
    pages.unpersist()


def test_expire_snapshots_keeps_live_state(spark, tmp_path):
    root = str(tmp_path / "tbl")
    for k in range(3):
        snap.append(_mini(spark, 3 * k, 3 * (k + 1)), root)
    # plus an orphan from a crashed run
    snap._write_branch(_mini(spark, 100, 101), root, "results")
    deleted = snap.expire_snapshots(root, keep_last=1)
    assert deleted  # old manifests + the orphan went away
    assert snap.current_version(root) == 3
    assert snap.read(spark, root).count() == 9  # live state intact
    assert not os.path.exists(snap._snap_path(root, 1))


def test_compaction_rewrite_and_conflict(spark, tmp_path):
    """Compaction replaces many small files with few, preserves rows,
    keeps time travel intact, and REFUSES to publish over a concurrent
    append (rewrite-conflict validation)."""
    root = str(tmp_path / "tbl")
    snap.append(_mini(spark, 0, 3), root)
    snap.append(_mini(spark, 3, 6), root)
    before = snap.load_snapshot(root)["branches"]["results"]["files"]
    assert len(before) > 1
    v = snap.compact(spark, root, target_files=1)
    assert v == 3
    after = snap.load_snapshot(root)["branches"]["results"]["files"]
    assert len(after) == 1
    assert snap.read(spark, root).count() == 6
    # pre-compaction state still readable (time travel)
    assert snap.read(spark, root, version=2).count() == 6
    assert {f["path"] for f in snap.load_snapshot(root, 2)["branches"][
        "results"]["files"]} == {f["path"] for f in before}
    # conflict: append lands between the rewrite's read and publish
    consumed = [f["path"] for f in after]
    new_branch = snap._write_branch(_mini(spark, 6, 7), root, "results")
    snap.append(_mini(spark, 7, 8), root)  # the concurrent append wins
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="rewrite conflict"):
        snap.commit(
            root, {"results": new_branch}, replace={"results"},
            expect_files={"results": consumed},
        )
    assert snap.read(spark, root).count() == 7  # append intact, rewrite dropped


def test_compaction_noop_below_min_files(spark, tmp_path):
    root = str(tmp_path / "tbl")
    snap.append(_mini(spark, 0, 2).coalesce(1), root)
    assert snap.compact(spark, root) is None
    assert snap.current_version(root) == 1


def test_schema_evolution_add_column(spark, tmp_path):
    """An append may ADD columns (readers null-fill older files); drops
    and retypes are refused; time travel keeps each version's schema."""
    import pytest as _pytest

    root = str(tmp_path / "tbl")
    snap.append(_mini(spark, 0, 3), root)
    snap.append(
        _mini(spark, 3, 5).withColumn("lang", snap.F.lit("en")), root
    )
    got = snap.read(spark, root)
    assert got.columns == ["url", "score", "lang"]
    langs = {r["url"]: r["lang"] for r in got.collect()}
    assert langs["u0"] is None and langs["u3"] == "en"
    # dropping an existing column is refused (orphan files stay
    # invisible: the table is unchanged)
    v_before = snap.current_version(root)
    with _pytest.raises(ValueError, match="schema evolution"):
        snap.append(_mini(spark, 5, 6).drop("score"), root)
    with _pytest.raises(ValueError, match="schema evolution"):
        snap.append(
            _mini(spark, 5, 6).withColumn(
                "score", snap.F.col("score").cast("string")
            ),
            root,
        )
    assert snap.current_version(root) == v_before
    assert snap.read(spark, root).count() == 5
    # time travel: v1 still presents the pre-evolution schema
    assert snap.read(spark, root, version=1).columns == ["url", "score"]


def test_expire_snapshots_on_missing_table_is_noop(tmp_path):
    """--maintain --expire-keep on a mistyped/empty root must not crash
    (compact already tolerates it; expire must match)."""
    assert snap.expire_snapshots(str(tmp_path / "nope"), keep_last=2) == []
