"""Z-order layout (plans/zorder.py): the pruning claim is tested against
the actual parquet footers — for an equality filter on host AND a range
filter on day, the Z-ordered layout must let a min/max-stats reader skip
a large majority of files, where the insertion-order layout skips ~none.
Also pins: key bit-interleave against a Python reference, order
preservation of both modes, and row-set equality across layouts."""

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from paddleocr_spark.plans.zorder import zorder_frame, zorder_key

N_HOSTS = 64
N_DAYS = 64
N_FILES = 16


def _corpus(spark):
    # insertion order deliberately round-robins hosts and days so the
    # natural layout has no accidental locality in either dimension
    return spark.range(8192).select(
        F.col("id").alias("doc_id"),
        F.format_string("%02xhost.example.test", F.col("id") % N_HOSTS)
        .alias("host"),
        (F.col("id") % N_DAYS).alias("day"),
    )


def _stats(path_glob, col):
    """[(min, max)] per parquet file for `col` (files here are single
    row groups, so file stats == row-group stats)."""
    out = []
    for f in sorted(glob.glob(path_glob)):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            out.append((lo, hi))
    return out


def _files_matching_eq(stats, v):
    return sum(1 for lo, hi in stats if lo <= v <= hi)


def _files_matching_range(stats, a, b):
    return sum(1 for lo, hi in stats if not (hi < a or lo > b))


@pytest.fixture(scope="module")
def layouts(tmp_path_factory, spark):
    root = tmp_path_factory.mktemp("zorder")
    df = _corpus(spark)
    nat = str(root / "natural")
    df.repartition(N_FILES).write.mode("overwrite").parquet(nat)
    zo = str(root / "zordered")
    zorder_frame(
        df, [("host", "prefix"), ("day", "value")], num_files=N_FILES
    ).write.mode("overwrite").parquet(zo)
    return nat, zo


def test_zorder_skips_on_both_dimensions(layouts):
    nat, zo = layouts
    host = "2ahost.example.test"  # id % 64 == 0x2a
    day_lo, day_hi = 10, 17

    nat_host = _files_matching_eq(_stats(f"{nat}/*.parquet", "host"), host)
    zo_host = _files_matching_eq(_stats(f"{zo}/*.parquet", "host"), host)
    nat_day = _files_matching_range(
        _stats(f"{nat}/*.parquet", "day"), day_lo, day_hi
    )
    zo_day = _files_matching_range(
        _stats(f"{zo}/*.parquet", "day"), day_lo, day_hi
    )
    # round-robin insertion puts every host and every day in every file
    assert nat_host == N_FILES and nat_day == N_FILES
    # the Z-curve gives each dimension partial locality: a stats reader
    # skips most files on EITHER predicate (neither dimension hogs the
    # whole key the way a plain sort would)
    assert zo_host <= N_FILES // 2, zo_host
    assert zo_day <= N_FILES // 2, zo_day


def test_zorder_preserves_rows(layouts, spark):
    nat, zo = layouts
    a = sorted(spark.read.parquet(nat).collect())
    b = sorted(spark.read.parquet(zo).collect())
    assert a == b


def _py_key(host, day, bits=16):
    two = (ord(host[0]) * 256 + ord(host[1])) >> (16 - bits)
    dv = day & ((1 << bits) - 1)
    key = 0
    for i in range(bits):
        key |= ((two >> i) & 1) << (2 * i)
        key |= ((dv >> i) & 1) << (2 * i + 1)
    return key


def test_key_matches_python_reference(spark):
    rows = (
        _corpus(spark)
        .limit(512)
        .select(
            "host",
            "day",
            zorder_key([("host", "prefix"), ("day", "value")]),
        )
        .collect()
    )
    for r in rows:
        assert r["__zorder"] == _py_key(r["host"], r["day"]), r


def test_modes_preserve_order(spark):
    # value mode: identity on small ints; prefix mode: coarse lex order
    rows = spark.createDataFrame(
        [("aa",), ("ab",), ("ba",), ("zz",), ("",)], ["s"]
    ).select("s", zorder_key([("s", "prefix")], bits=16)).collect()
    keyed = {r["s"]: r["__zorder"] for r in rows}
    assert keyed[""] < keyed["aa"] < keyed["ab"] < keyed["ba"] < keyed["zz"]


def test_guardrails():
    with pytest.raises(ValueError):
        zorder_key([("a", "value")] * 4, bits=16)  # 64 bits > 63
    with pytest.raises(ValueError):
        zorder_key([("a", "prefix")], bits=17)
    with pytest.raises(ValueError):
        zorder_key([("a", "hash")])


def test_day_mode_orders_timestamps(spark):
    rows = spark.createDataFrame(
        [("2024-01-01 23:59:59",), ("2024-01-02 00:00:01",),
         ("2024-03-01 12:00:00",)], ["t"]
    ).select(
        "t",
        zorder_key([(F.to_timestamp("t"), "day")], bits=16),
    ).collect()
    keys = [r["__zorder"] for r in rows]
    assert keys[0] < keys[1] < keys[2]
    # one calendar day apart differs by exactly one interleaved unit
    assert keys[1] - keys[0] == 1


def test_parse_zorder_spec():
    from paddleocr_spark.plans.zorder import parse_zorder_spec

    assert parse_zorder_spec("url:prefix,warc_ts:day") == [
        ("url", "prefix"), ("warc_ts", "day"),
    ]
    with pytest.raises(ValueError):
        parse_zorder_spec("url")


def test_compact_zorder_rewrite_snapshot(spark, tmp_path):
    """--maintain --zorder end to end at the snapshots layer: the
    rewrite is Z-clustered (footer day-ranges narrow vs the appended
    layout), rows survive byte-for-byte, and time travel still sees
    the pre-compaction files."""
    from paddleocr_spark.plans import snapshots as snap

    root = str(tmp_path / "tbl")
    df = spark.range(2048).select(
        F.format_string("%02xh.example.test", F.col("id") % 32).alias("url"),
        (F.col("id") % 32).alias("day"),
    )
    # two appends of interleaved data -> no locality in either dim
    snap.append(df.repartition(4), root)
    snap.append(df.repartition(4), root)
    v = snap.compact(
        spark, root, zorder_by=[("url", "prefix"), ("day", "value")],
        target_files=8,
    )
    assert v == 3
    files = [f["path"] for f in snap.load_snapshot(root)["branches"][
        "results"]["files"]]
    stats = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == "day" and c.statistics is not None:
                    stats.append((c.statistics.min, c.statistics.max))
    assert len(stats) >= 4
    # clustered: a mid-range day value is prunable from most footers
    hit = sum(1 for lo, hi in stats if lo <= 13 <= hi)
    assert hit <= len(stats) // 2, (hit, stats)
    # contents preserved (two appends of the same frame = every row x2)
    assert snap.read(spark, root).count() == 4096
    # time travel to the pre-compaction version still works
    assert snap.read(spark, root, version=2).count() == 4096
    assert "zorder_by" in snap.load_snapshot(root)["summary"]
