#!/usr/bin/env python
"""Per-branch wall-clock profile of text_stats_suite: times each branch
of the suite's OWN builder registry (text.suite_branch_builders — no
hand-copied list to drift) as its own noop-sink write in one warm
session, so the serialized per-branch cost is visible next to the
one-union-job cost the gate/bench actually pays. Usage:

    PYTHONPATH=/root/repo python tools/profile_suite.py [sf_dir]
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    from paddleocr_spark.tuning import cpus, local_session

    spark = local_session(cpus(), "profile_suite")
    spark.range(8).selectExpr("md5(string(id)) m").write.format("noop").mode(
        "overwrite"
    ).save()

    from paddleocr_spark.functions import text
    from paddleocr_spark.operators.html_extract import html_links
    from paddleocr_spark.sources.pages import html_pages_from_documents

    t0 = time.time()
    _pages = html_pages_from_documents(spark, SF_DIR).localCheckpoint()
    t_pages = time.time() - t0
    t0 = time.time()
    _links = html_links(spark, SF_DIR, pages=_pages).localCheckpoint()
    t_links = time.time() - t0
    print(f"{t_pages:7.2f}  [shared html pages walk]")
    print(f"{t_links:7.2f}  [shared links walk]")

    total = t_pages + t_links
    rows = []
    for name, build in text.suite_branch_builders(
        spark, SF_DIR, _pages, _links
    ):
        t0 = time.time()
        try:
            build().write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
        except Exception as exc:  # noqa: BLE001
            print(f"  ERR   {name}: {str(exc)[:120]}")
            continue
        rows.append((dt, name))
        total += dt
    for dt, name in sorted(rows, reverse=True):
        print(f"{dt:7.2f}  {name}")
    print(f"{total:7.2f}  TOTAL (sum of serialized branches)")

    t0 = time.time()
    text.text_stats_suite(spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    print(f"{time.time() - t0:7.2f}  text_stats_suite (one union job)")
    spark.stop()


if __name__ == "__main__":
    main()
