"""End-to-end `job.py --curate` contract: raw documents table in,
lang-partitioned training shards + funnel report out, with the shard
layout, packing arithmetic, and funnel counts all cross-checked against
independent recomputations (funnel via the DuckDB oracle SQL, packing
via a driver-side prefix sum over the survivor set)."""

import glob
import os

import duckdb
import pytest

from paddleocr_spark.functions.curation import CORPUS_PIPELINE_SQL
from paddleocr_spark.functions.text import PACK_BUDGET

SF_DIR = "/root/testdata/sf0.001"
SHARDS = 3


@pytest.fixture(scope="module")
def curated(tmp_path_factory, spark):
    out = str(tmp_path_factory.mktemp("curate"))
    from paddleocr_spark.plans.curate import curate_job

    res = curate_job(spark, SF_DIR, out, shards_per_partition=SHARDS)
    return out, res


def _oracle_stages():
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    return dict(
        con.sql(
            "SELECT stage, count(*) FROM ("
            + CORPUS_PIPELINE_SQL
            + ") GROUP BY stage"
        ).fetchall()
    )


def test_funnel_report_matches_oracle(curated, spark):
    out, res = curated
    oracle = _oracle_stages()
    assert res["stages"] == oracle
    # the written report is the same frame
    rep = {
        r["stage"]: r["n_docs"]
        for r in spark.read.parquet(f"{out}/funnel_report.parquet").collect()
    }
    assert rep == oracle
    assert res["total"] == sum(oracle.values())
    assert 0 < res["kept"] < res["total"]


def test_shard_layout_contract(curated):
    out, _ = curated
    lang_dirs = glob.glob(f"{out}/shards/lang=*")
    assert lang_dirs, "no lang partition directories written"
    for d in lang_dirs:
        files = glob.glob(os.path.join(d, "*.parquet"))
        assert 1 <= len(files) <= SHARDS, (d, files)


def test_shards_carry_exactly_the_survivors(curated, spark):
    out, res = curated
    df = spark.read.parquet(f"{out}/shards")
    assert df.count() == res["kept"]
    # every surviving doc appears once, with its verbatim text
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    )
    gold = con.sql(
        "SELECT v.doc_id, d.text FROM ("
        + CORPUS_PIPELINE_SQL
        + ") v JOIN documents d USING (doc_id) WHERE v.keep = 1 "
        "ORDER BY v.doc_id"
    ).fetchall()
    got = sorted(
        (r["doc_id"], r["text"]) for r in df.select("doc_id", "text").collect()
    )
    assert got == [(i, t) for i, t in gold]


def test_pack_bins_are_the_survivor_prefix_sum(curated, spark):
    out, _ = curated
    rows = sorted(
        (r["doc_id"], r["n_tokens"], r["bin"], r["bin_offset"])
        for r in spark.read.parquet(f"{out}/shards").collect()
    )
    start = 0
    for doc_id, n_tokens, bin_, off in rows:
        assert bin_ == start // PACK_BUDGET, doc_id
        assert off == start % PACK_BUDGET, doc_id
        start += n_tokens


def test_files_are_doc_id_sorted_within_shard(curated):
    out, _ = curated
    con = duckdb.connect()
    for f in glob.glob(f"{out}/shards/lang=*/*.parquet"):
        ids = [r[0] for r in con.sql(
            f"SELECT doc_id FROM read_parquet('{f}')"
        ).fetchall()]
        assert ids == sorted(ids), f


def test_cli_surface():
    # --curate parses without --audit (the funnel report is the audit);
    # the execution path itself is the `curated` fixture above (main()
    # would stop the shared test session, so it isn't invoked here)
    from paddleocr_spark.job import build_parser

    args = build_parser().parse_args([
        "--sf-dir", SF_DIR, "--results", "/tmp/x", "--curate",
        "--shards-per-partition", "2",
    ])
    assert args.curate and args.shards_per_partition == 2
    assert args.audit is None


def test_train_quality_funnel(spark, tmp_path):
    """--train-quality: the funnel's quality verdicts come from the
    TRAINED calibrated model; the report stays a complete partition of
    the corpus and the quality stage equals the direct threshold rule."""
    from pyspark.sql import functions as F

    from paddleocr_spark.functions.clftrain import (
        _score_expr,
        calibrate_rows,
        train_perceptron,
    )
    from paddleocr_spark.plans.curate import curate_job
    from tests.conftest import SF_SMALL

    out = str(tmp_path / "curated")
    res = curate_job(spark, SF_SMALL, out, train_quality=True)
    assert res["total"] == sum(res["stages"].values())
    assert 0 < res["kept"] < res["total"]
    # independent replication of the trained quality rule
    w, b, _t, base = train_perceptron(spark, SF_SMALL)
    scored = base.select(
        "doc_id",
        (F.col("y") == 1).cast("long").alias("keep"),
        _score_expr(w, b).alias("sum_w"),
    ).localCheckpoint()
    (v,) = [
        r["v"]
        for r in calibrate_rows(scored.select("keep", "sum_w")).collect()
    ]
    tau = int(v.split("|")[0])
    n_below = scored.where(F.col("sum_w") <= tau).count()
    # quality drops are a subset of the below-threshold docs (those
    # not already dropped by lang/gopher)
    assert 0 < res["stages"].get("quality", 0) <= n_below


def test_wat_export_fails_fast_on_non_html_payloads(spark, tmp_path, capsys):
    """--wat needs HTML payloads; the default --sf-dir source renders
    PNG bytes into the html column — main() must exit with a readable
    error BEFORE running the extraction (round-3 advice item)."""
    import sys

    from paddleocr_spark.job import main

    argv = sys.argv
    sys.argv = [
        "job.py", "--sf-dir", "/root/testdata/sf0.001",
        "--results", str(tmp_path / "res"),
        "--audit", str(tmp_path / "audit"),
        "--wat", str(tmp_path / "wat"),
        "--page-limit", "1",
    ]
    try:
        rc = main()
    finally:
        sys.argv = argv
    assert rc == 2
    assert "non-HTML" in capsys.readouterr().err
    # nothing was extracted: the sink directory was never created
    import os

    assert not os.path.exists(str(tmp_path / "res"))


def test_main_inprocess_never_stops_a_shared_session(spark, tmp_path):
    """Round-4 regression: job.main() acquires its session via
    getOrCreate(), which under pytest returns the shared fixture; any
    exit path that called spark.stop() killed the fixture's JVM for
    every Spark test scheduled after it (224-test cascade). main() must
    only stop a session it created — after BOTH a fail-fast exit (rc=2)
    and a successful run, the shared session must still work."""
    import sys

    from pyspark.sql import SparkSession

    from paddleocr_spark.job import main

    def run(argv):
        old = sys.argv
        sys.argv = ["job.py"] + argv
        try:
            return main()
        finally:
            sys.argv = old

    # fail-fast path (--wat over PNG payloads)
    rc = run([
        "--sf-dir", "/root/testdata/sf0.001",
        "--results", str(tmp_path / "r1"),
        "--audit", str(tmp_path / "a1"),
        "--wat", str(tmp_path / "w1"), "--page-limit", "1",
    ])
    assert rc == 2
    assert SparkSession.getActiveSession() is spark
    assert spark.range(3).count() == 3  # the JVM handle is alive
    # success path
    rc = run([
        "--sf-dir", "/root/testdata/sf0.001",
        "--results", str(tmp_path / "r2"),
        "--audit", str(tmp_path / "a2"), "--page-limit", "1",
    ])
    assert rc == 0
    assert SparkSession.getActiveSession() is spark
    assert spark.range(3).count() == 3


def test_main_in_another_thread_never_stops_the_shared_session(
    spark, tmp_path
):
    """getActiveSession() is thread-local: main() run from a second
    thread sees no active session there, yet getOrCreate() hands it the
    fixture's. Its fail-fast exit must leave that session running."""
    import sys
    import threading

    from paddleocr_spark.job import main

    old = sys.argv
    sys.argv = [
        "job.py", "--sf-dir", "/root/testdata/sf0.001",
        "--results", str(tmp_path / "r"), "--audit", str(tmp_path / "a"),
        "--wat", str(tmp_path / "w"), "--page-limit", "1",
    ]
    rc = []
    try:
        t = threading.Thread(target=lambda: rc.append(main()))
        t.start()
        t.join(timeout=600)
    finally:
        sys.argv = old
    assert not t.is_alive() and rc == [2]
    assert spark.range(3).count() == 3  # the JVM handle is alive


def test_wat_happy_path_over_html_warc(spark, tmp_path):
    """--warc of HTML response records + --wat: the sniff admits HTML,
    extraction routes payloads through the DOM main-content strip (not
    the OCR chain), the WAT archives decode back to one metadata record
    per input url, and the shared session survives the in-process run."""
    import json as _json
    import sys

    from paddleocr_spark.job import main
    from paddleocr_spark.operators.html_extract import synthesize_html
    from paddleocr_spark.sources.warc import warc_decode
    from paddleocr_spark.sources.warc import warc_encode_responses

    texts = {
        f"https://site{i}.example.test/page": f"MAIN CONTENT {i} survives."
        for i in range(4)
    }
    recs = [
        (url, f"2026-01-02T03:04:0{i}Z", "text/html",
         synthesize_html(txt, seed=i).encode("utf-8"))
        for i, (url, txt) in enumerate(texts.items())
    ]
    (tmp_path / "in.warc.gz").write_bytes(
        warc_encode_responses(recs, gzip_members=True)
    )

    argv = sys.argv
    sys.argv = [
        "job.py", "--warc", str(tmp_path / "in.warc.gz"),
        "--results", str(tmp_path / "res"),
        "--audit", str(tmp_path / "audit"),
        "--wat", str(tmp_path / "wat"),
    ]
    try:
        rc = main()
    finally:
        sys.argv = argv
    assert rc == 0

    got = {
        r["url"]: r["extracted_text"]
        for r in spark.read.option("recursiveFileLookup", "true")
        .parquet(str(tmp_path / "res")).collect()
    }
    assert got == texts  # byte-identical main text per url
    # WAT archives: metadata records for every input url
    wat_urls = set()
    for row in spark.read.parquet(str(tmp_path / "wat")).collect():
        for rec in warc_decode(bytes(row["wat"])):
            if rec["type"] == "metadata":
                wat_urls.add(rec["url"])
                _json.loads(rec["payload"])  # well-formed JSON envelope
    assert wat_urls == set(texts)
