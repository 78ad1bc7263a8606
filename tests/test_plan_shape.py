"""Physical-plan regression guards: the properties that make the engine
scale are plan shapes, not results — a correct-but-reshuffled plan would
pass every value oracle and still fall over at 10^12 docs. Pin them.

- Parquet scans must prune columns (ReadSchema) and push filters down
  (PushedFilters) so a 100 TB scan reads only what the query projects.
- The postcode dimension join must stay a broadcast (no shuffle of the
  fact side) — tested in test_fields.py; here we pin the events-side
  dimension join used by the query surface.
- The extraction pipeline must contain exactly one Exchange (the salted
  repartition) — a second one would double the shuffle volume of the
  dominant stage.
- A resumed run_job is at most three Spark jobs, and a snapshot
  streaming epoch is one: nothing reads back what was just written.
- The link-analysis branches (PageRank, TrustRank, HITS) share one host
  graph, and each power step is one shuffle plus one broadcast.
- The k-means branch sorts nothing: the suite's union drops row order.
"""

import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_documents_scan_prunes_and_pushes(spark):
    df = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "text")
    )
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # ReadSchema carries only the projected+filtered columns, not the
    # full table width
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "props" not in read_schema and "score" not in read_schema


def test_dimension_lookup_is_broadcast(spark):
    from paddleocr_spark.functions.relational import dimension_lookup_join

    plan = _formatted(dimension_lookup_join(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_extraction_pipeline_single_exchange(spark, tmp_path):
    """Over a REAL pages table (binary payloads on disk — the
    input_hint shape) the pipeline must shuffle exactly once: the
    salted repartition. The fixture-render path adds one more tiny
    text-row exchange for render parallelism; that one never exists in
    production, so the pin runs on the materialized table."""
    from paddleocr_spark.plans.pipeline import extract_pages
    from paddleocr_spark.sources.pages import pages_from_documents

    path = str(tmp_path / "pages.parquet")
    pages_from_documents(spark, SF_SMALL, limit=32).write.parquet(path)
    res = extract_pages(spark.read.parquet(path), num_partitions=8)
    plan = _formatted(res)
    # "Exchange (n)" is the tree-section form; the details section
    # prints "(n) Exchange" and must not double-count
    assert plan.count("Exchange (") == 1, plan


def test_run_job_resumed_sink_job_count(spark, tmp_path):
    """A run_job over a resumed sink is one extraction pass: the resume
    side's broadcast, the salted shuffle and the results write. The
    driver writes the audit file itself, so it adds no job. A Spark-side
    or read-back audit, or schema inference over the sink, adds jobs and
    fails this pin."""
    from paddleocr_spark.plans.pipeline import run_job
    from paddleocr_spark.sources.pages import pages_from_documents

    path = str(tmp_path / "pages.parquet")
    pages_from_documents(spark, SF_SMALL, limit=24).write.parquet(path)
    pages = spark.read.parquet(path)
    results, audit = str(tmp_path / "results"), str(tmp_path / "audit")
    seed = pages.limit(8)
    run_job(spark, seed, results, audit, num_partitions=2, run_id="r1")
    sc = spark.sparkContext
    sc.setJobGroup("run-job-shape", "run_job over a resumed sink")
    try:
        n = run_job(
            spark, pages, results, audit, num_partitions=4, run_id="r2"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("run-job-shape")
    assert 0 < len(jobs) <= 3, jobs
    assert n == 16


def test_run_job_snapshot_resumed_job_count(spark, tmp_path):
    """A resumed run_job_snapshot is one extraction pass, like run_job:
    the resume anti-join's broadcast, the salted shuffle and the results
    write (measured 3 on local[4]; 8 while a pre-extraction
    max(warc_ts) collect stamped a watermark and the resume side ran a
    distinct). The driver writes and commits the audit itself."""
    from paddleocr_spark.plans.snapshots import run_job_snapshot
    from paddleocr_spark.sources.pages import pages_from_documents

    path = str(tmp_path / "pages.parquet")
    pages_from_documents(spark, SF_SMALL, limit=24).write.parquet(path)
    pages = spark.read.parquet(path)
    root = str(tmp_path / "tbl")
    run_job_snapshot(spark, pages.limit(8), root, num_partitions=2,
                     run_id="s1")
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-job-shape", "run_job_snapshot, resumed")
    try:
        out = run_job_snapshot(
            spark, pages, root, num_partitions=4, run_id="s2"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("snapshot-job-shape")
    assert 0 < len(jobs) <= 3, jobs
    assert out["rows"] == 16


def test_link_analysis_job_count(spark):
    """One host_graph build plus the three link-analysis row builders
    over it, collected, is at most 58 Spark jobs (measured 58 on
    local[4] and local[8]; with one census per branch and a join back
    onto the node list every round they took 91). A second census, an
    extra checkpoint or a join back adds jobs and fails this pin."""
    from paddleocr_spark.functions.webgraph import (
        hits_rows,
        host_graph,
        host_pagerank_rows,
        trustrank_rows,
    )

    sc = spark.sparkContext
    sc.setJobGroup("link-analysis-shape", "host graph + three branches")
    try:
        graph = host_graph(spark, SF_SMALL)
        for rows in (host_pagerank_rows, trustrank_rows, hits_rows):
            assert len(rows(graph).collect()) == graph[1]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("link-analysis-shape")
    assert 0 < len(jobs) <= 58, len(jobs)


def test_kmeans_semdedup_bitext_job_count(spark):
    """Collecting the built `kmeans_semdedup_bitext` branch is at most
    10 Spark jobs (measured 10 on local[8] at sf0.001). Its rows are
    unioned into `embedding_ops_suite`, where order is lost, so a
    global sort of the SemDeDup verdicts (a range-partitioning exchange
    plus its sampling job: 12 jobs) fails this pin."""
    from paddleocr_spark.functions.kmeans import embedding_branch_builders

    build = dict(embedding_branch_builders(spark, SF_SMALL))
    branch = build["kmeans_semdedup_bitext"]()
    sc = spark.sparkContext
    sc.setJobGroup("kmeans-branch-shape", "collect the kmeans branch")
    try:
        assert branch.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("kmeans-branch-shape")
    assert 0 < len(jobs) <= 10, len(jobs)


def test_snapshot_stream_epoch_job_count(spark, tmp_path, monkeypatch):
    """A stream_extract_snapshot epoch is one Spark job, the results
    write: its audit rows come from the extraction tasks' tally and the
    driver writes and commits them. A read-back of the epoch's files or
    a Spark-side audit aggregation adds jobs and fails this pin."""
    from paddleocr_spark.sources.pages import pages_from_documents
    from paddleocr_spark.streaming import pipeline as streaming

    src, root = str(tmp_path / "pages"), str(tmp_path / "tbl")
    pages_from_documents(spark, SF_SMALL, limit=8).coalesce(1).write.parquet(src)
    sc = spark.sparkContext
    inner = streaming.snapshot_batch_sink
    groups = []

    def counted_sink(*args):
        sink = inner(*args)

        def run(batch_df, batch_id):
            groups.append(f"snapshot-epoch-{batch_id}")
            sc.setJobGroup(groups[-1], "one snapshot streaming epoch")
            try:
                sink(batch_df, batch_id)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        return run

    monkeypatch.setattr(streaming, "snapshot_batch_sink", counted_sink)
    streaming.stream_extract_snapshot(
        spark, src, root, str(tmp_path / "ckpt"), num_partitions=4
    ).awaitTermination()
    assert groups
    for group in groups:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) == 1, (group, jobs)


def test_markdown_recovery_single_exchange(spark):
    """The composed markdown recovery is a narrow region walk plus ONE
    doc_id shuffle (the grouped ordered fold). A second Exchange would
    mean the reading-order sort leaked into a global sort."""
    from paddleocr_spark.functions.recovery import doc_markdown_recovery

    plan = _formatted(doc_markdown_recovery(spark, SF_SMALL))
    assert plan.count("Exchange (") == 1
    # the scan reads only doc_id + text (norm source), nothing else
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "props" not in read_schema


def test_codec_suite_spreads_but_never_keys_a_shuffle(spark):
    """Narrow codec maps over a pruned scan. The ONLY exchanges allowed
    are the deliberate round-robin spreads of the single-split fixture
    scan (CPU-bound synth+decode must not serialize onto one task; a
    many-split production table makes them no-ops) — no keyed shuffle,
    no join, no aggregation anywhere in the suite."""
    import re

    from paddleocr_spark.operators.media import media_codec_suite

    plan = _formatted(media_codec_suite(spark, SF_SMALL))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    n_rr = plan.count("RoundRobinPartitioning")
    assert n_exchange > 0, "the single-split spread disappeared"
    assert n_exchange == n_rr, (n_exchange, n_rr, "keyed shuffle crept in")
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_rtl_reverse_is_shuffle_free(spark):
    from paddleocr_spark.functions.recovery import rtl_reverse

    plan = _formatted(rtl_reverse(spark, SF_SMALL))
    assert "Exchange" not in plan


def test_url_ops_are_shuffle_free_and_jvm_side(spark):
    """url_canon rows: pure per-row JVM expressions — zero Exchange and
    no Python eval node. (parse_url is CodegenFallback, so the Project
    sits outside whole-stage codegen, but it is still evaluated in the
    JVM — the pin is scan+project only, nothing else in the plan.)"""
    from paddleocr_spark.functions.weburl import url_canon_rows

    plan = _formatted(url_canon_rows(spark, SF_SMALL))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # plan is exactly: scan -> columnar-to-row -> project
    steps = [l for l in plan.splitlines() if l.startswith(("Project", "+-", "   +-"))]
    assert len(steps) <= 3


def test_host_rollup_partial_aggregates(spark):
    """host_docs: one shuffle, with a map-side partial aggregate before
    it (HashAggregate appears on both sides of the Exchange)."""
    from paddleocr_spark.functions.weburl import host_rollup_rows

    plan = _formatted(host_rollup_rows(spark, SF_SMALL))
    # count plan NODES (the formatted dump names each node twice:
    # once in the tree, once in the detail section)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    tree = plan.split("\n\n")[0]
    assert tree.index("HashAggregate") < tree.index("Exchange")


def test_latest_capture_single_window_shuffle(spark):
    """latest_capture: exactly the window's hash partitioning — no
    global sort Exchange (rangepartitioning) anywhere."""
    from paddleocr_spark.functions.weburl import latest_capture_rows

    plan = _formatted(latest_capture_rows(spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "rangepartitioning" not in plan.lower()


def test_pages_from_warc_no_shuffle(spark, tmp_path):
    """WARC explosion is a narrow 1->N map on the binaryFile scan:
    zero Exchange before the extraction stage's own salting."""
    from paddleocr_spark.kernels.font import render_page
    from paddleocr_spark.kernels.png import encode_gray_png
    from paddleocr_spark.sources.pages import pages_from_warc, wrap_lines
    from paddleocr_spark.sources.warc import warc_encode_responses

    recs = [
        ("https://p.test/1", "2026-01-02T03:04:05Z", "image/png",
         bytes(encode_gray_png(render_page(wrap_lines("PLANPIN")))))
    ]
    (tmp_path / "a.warc.gz").write_bytes(
        warc_encode_responses(recs, gzip_members=True)
    )
    plan = _formatted(pages_from_warc(spark, str(tmp_path)))
    assert "Exchange" not in plan


def test_robots_filter_broadcasts_rules(spark):
    """robots_allow: the per-host rules dim joins via BroadcastHashJoin —
    the page/fact side must not shuffle for the join."""
    from paddleocr_spark.functions.weburl import robots_filter_rows

    plan = _formatted(robots_filter_rows(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    # exactly one shuffle Exchange, and it belongs to the RULES side
    # (the distinct over ~hosts rows); the fact side reaches the join
    # straight from its scan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    # fact side = tree lines above the BroadcastExchange: must reach
    # the join straight from its scan, no Exchange of any kind
    tree = plan.split("\n\n")[0]
    fact_side = tree[: tree.index("BroadcastExchange")]
    assert "Exchange" not in fact_side


def test_boilerplate_grams_shared_key_join(spark):
    """boilerplate_grams: at most 3 shuffles — ONE explicit repartition
    on (host, gram) that the occurrence agg, the host-DF agg, AND the
    SortMergeJoin all inherit (HashPartitioning on a subset of the
    group keys satisfies the clustering), plus the per-doc agg — with
    a SortMergeJoin on the shared key: never a broadcast of the
    (unbounded at corpus scale) DF table and never a cartesian.
    Broadcast threshold is disabled so the pin tests the shape the
    100 TB plan would take, not the tiny-fixture shortcut."""
    from paddleocr_spark.functions.text import boilerplate_gram_rows

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _formatted(boilerplate_gram_rows(spark, SF_SMALL))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_crawl_schedule_bounded_exchanges(spark):
    """crawl_schedule: the two-phase exact ranking costs the (host,
    shard) window hash partitioning, the counts aggregation, the
    per-host offset window, and the join back — bounded Exchange
    count, and NEVER a global sort (no rangepartitioning: the hottest
    host's sort stays a 1/16 shard slice inside window tasks)."""
    from paddleocr_spark.functions.weburl import crawl_schedule

    plan = _formatted(crawl_schedule(spark, SF_SMALL))
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n <= 5, plan[:2000]
    assert "rangepartitioning" not in plan.lower()


def test_redirect_round_is_one_join_exchange(spark):
    """One resolver round = one equi-join against the src-clustered
    edge table: the per-round plan must not smuggle in extra shuffles
    (the bounded-round scale argument rests on it)."""
    import pandas as pd

    from paddleocr_spark.functions.redirects import resolve_redirects

    starts = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i}" for i in range(20)]})
    )
    edges = spark.createDataFrame(
        pd.DataFrame({"src": ["u1", "u2"], "dst": ["u2", "u3"]})
    )
    plan = _formatted(resolve_redirects(starts, edges, max_hops=1))
    # starts-side hash, checkpointed-edges side reuse, and the final
    # probe's join: allow the joins' exchanges but no range sort
    assert "rangepartitioning" not in plan.lower()
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4, plan[:2000]


def test_clf_train_epoch_plan_shape(spark):
    """Scoring rides the weight-vector array literal (no join, no
    exchange below the gradient agg's own 66-key hash exchange):
    exactly one Exchange in the whole epoch job, and it partitions on
    the bucket key."""
    from pyspark.sql import functions as F

    from paddleocr_spark.functions.clftrain import (
        _GRAD_PAIRS,
        _base_frame,
        _score_expr,
    )

    base = _base_frame(spark, SF_SMALL)
    mis = base.where(F.col("y") * _score_expr([3] * 64, 7) <= 0)
    grad = (
        mis.select(F.explode(F.expr(_GRAD_PAIRS)).alias("p"))
        .groupBy(F.col("p.b").alias("b"))
        .agg(F.sum("p.v").alias("g"))
    )
    plan = _formatted(grad)
    # tree-section form only (details section repeats "(n) Exchange")
    assert plan.count("Exchange (") == 1
    assert "hashpartitioning(_groupingexpression" in plan or (
        "hashpartitioning(b" in plan
    )
    # map-side partial aggregation before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
