#!/usr/bin/env python
"""Per-branch profile of text_stats_suite: builds each shared input of
text.suite_input_builders, then times each branch of the suite's OWN
builder registry (text.suite_branch_builders — no hand-copied list to
drift) as its own count() action in one warm session, the same rows as
bench.py's `suite_breakdown`. Prints seconds and Spark jobs per input
and per branch, so the serialized per-branch cost is visible next to
the one-union-job cost the gate/bench actually pays. Usage:

    PYTHONPATH=/root/repo python tools/profile_suite.py [sf_dir]
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    from bench import counted, text_suite_breakdown
    from paddleocr_spark.functions import text
    from paddleocr_spark.tuning import cpus, local_session

    spark = local_session(cpus(), "profile_suite")
    spark.range(8).selectExpr("md5(string(id)) m").write.format("noop").mode(
        "overwrite"
    ).save()

    rows = text_suite_breakdown(spark, SF_DIR)
    for r in sorted(rows, key=lambda r: r.get("sec", 0.0), reverse=True):
        if "error" in r:
            print(f"  ERR   {r['op']}: {r['error'][:120]}")
        else:
            print(f"{r['sec']:7.2f} {r['jobs']:5d}  {r['op']}")
    ok = [r for r in rows if "error" not in r]
    print(f"{sum(r['sec'] for r in ok):7.2f} {sum(r['jobs'] for r in ok):5d}"
          "  TOTAL (sum of serialized inputs and branches)")

    _, cost = counted(spark, lambda: text.text_stats_suite(
        spark, SF_DIR).write.format("noop").mode("overwrite").save())
    print(f"{cost['sec']:7.2f} {cost['jobs']:5d}"
          "  text_stats_suite (one union job)")
    spark.stop()


if __name__ == "__main__":
    main()
