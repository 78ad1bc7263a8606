"""`frames.map_rows`, the one Python row boundary, and
`frames.union_branches`, the suite union.

map_rows owns the Arrow batch loop, so its edges are checked here once:
an input with no rows, a row function emitting 0, 1 and many rows,
column order and types from the DDL schema, and a row function that
raises. An AST check keeps every other `mapInPandas` call on a short
keep-list, so a new hand-written batch loop fails here."""

import ast
import datetime
from pathlib import Path

import pytest
from pyspark.sql.types import StructType

from paddleocr_spark.frames import map_rows, union_branches
from tests.conftest import SF_SMALL

PKG = Path(__file__).resolve().parent.parent / "paddleocr_spark"

SCHEMA = "tag string, n long, half double, blob binary, ts timestamp"

# The mapInPandas calls that stay hand-written: each needs the whole
# batch or task, not one row at a time.
KEEP = {
    "frames.py:map_rows": "the helper itself",
    "plans/pipeline.py:extract_pages":
        "per-task weight install, audit tally and timings (_ocr_batches)",
    "functions/unigram.py:train_unigram":
        "the E-step is a map-side combine: one row per piece per task",
    "operators/wat.py:wat_archives":
        "packs a task's rows into archives named by a per-task counter",
    "sources/pages.py:wet_archives":
        "packs a task's rows into archives named by a per-task counter",
    "sources/pages.py:pages_from_warc":
        "emits a frame per 256 records so an archive never sits in memory whole",
}


def _copies():
    """Row i -> i copies (0, 1, many), columns in schema order. Built
    inside each test: Spark workers cannot import a test module, so the
    row function must travel by value."""

    def copies(i):
        ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
        return [
            (f"r{i}", i * 10 + k, i / 2, bytes([i, k]), ts)
            for k in range(i)
        ]

    return copies


def test_rows_zero_one_many_in_schema_order(spark):
    out = map_rows(spark.range(4), _copies(), SCHEMA)
    assert out.schema == StructType.fromDDL(SCHEMA)
    rows = sorted(tuple(r) for r in out.collect())
    ts = datetime.datetime(2026, 1, 1)
    assert rows == [
        ("r1", 10, 0.5, bytearray(b"\x01\x00"), ts),
        ("r2", 20, 1.0, bytearray(b"\x02\x00"), ts),
        ("r2", 21, 1.0, bytearray(b"\x02\x01"), ts),
        ("r3", 30, 1.5, bytearray(b"\x03\x00"), ts),
        ("r3", 31, 1.5, bytearray(b"\x03\x01"), ts),
        ("r3", 32, 1.5, bytearray(b"\x03\x02"), ts),
    ]


def test_empty_input_and_empty_output(spark):
    # no input rows at all, and input rows that all map to nothing
    empty = map_rows(spark.range(0), _copies(), SCHEMA)
    assert empty.collect() == []
    assert empty.schema == StructType.fromDDL(SCHEMA)
    nothing = map_rows(spark.range(3, numPartitions=2), lambda i: [], SCHEMA)
    assert nothing.collect() == []


def test_cols_pick_and_order_the_row(spark):
    df = spark.range(3).selectExpr("id", "id * 2 AS twice", "'x' AS pad")
    out = map_rows(
        df, lambda t, i: [(t - i, str(i))], "d long, s string",
        cols=["twice", "id"],
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (0, "0"), (1, "1"), (2, "2")
    ]


def test_row_function_error_fails_the_task(spark):
    def boom(i):
        if i == 2:
            raise ValueError("row function refused row 2")
        return [(i,)]

    with pytest.raises(Exception, match="row function refused row 2"):
        map_rows(spark.range(4), boom, "i long").collect()


def test_union_keeps_the_literal_order(spark):
    builders = [
        (str(k), lambda k=k: spark.range(k, k + 1).selectExpr("id AS v"))
        for k in range(10)
    ]
    rows = union_branches(spark, builders).coalesce(1).collect()
    assert [r.v for r in rows] == list(range(10))


def _group_jobs(spark, group, thunk) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_suite_build_jobs_join_the_callers_group(spark):
    """The jobs embedding_ops_suite submits while building its branches
    on threads land in the caller's job group, as many as a serial
    build of the same branches submits."""
    from paddleocr_spark.functions.kmeans import (
        embedding_branch_builders,
        embedding_ops_suite,
    )

    def build_serially():
        return [
            build() for _, build in embedding_branch_builders(spark, SF_SMALL)
        ]

    build_serially()  # the session's first build adds one-off jobs (2)
    serial = _group_jobs(spark, "emb-serial", build_serially)
    suite = _group_jobs(
        spark, "emb-suite", lambda: embedding_ops_suite(spark, SF_SMALL)
    )
    assert serial > 0
    assert suite == serial


def _map_in_pandas_sites():
    """`file:owner` of every mapInPandas call under the package, where
    the owner is the module-level definition holding the call."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "mapInPandas"
                ):
                    yield f"{rel}:{owner}"


def test_every_map_in_pandas_is_the_helpers_or_kept():
    sites = list(_map_in_pandas_sites())
    stray = sorted(set(sites) - set(KEEP))
    assert not stray, (
        f"hand-written mapInPandas in {stray}: use frames.map_rows, or "
        "keep-list the site with the reason it needs the whole batch"
    )
    assert len(sites) == len(KEEP), sites  # one call per kept site
    assert not set(KEEP) - set(sites), "keep-list names a site that is gone"
