"""DOM template clustering (tag-skeleton fingerprints per host).

Pages rendered by the same CMS template share a tag skeleton even when
every text node differs; clustering a host's pages by skeleton is how
crawl-curation stacks find template families before boilerplate
removal (the repeated-fragment detector in `functions/text.py
boilerplate` finds repeated TEXT; this finds repeated STRUCTURE — the
two signals complement each other: a template family with unique nav
text per page only shows up here). The per-host template census
(how many structural templates, how dominant is the top one) is also
the standard seed for per-template extraction rules.

Skeleton: document-order tag names from the SAME real DOM build as
main-content extraction (`operators/html_extract.build_dom` — void
tags, script/style exclusion, tag-soup recovery all identical), joined
with '>' and md5'd. Attributes and text are excluded by definition:
a skeleton is structure only.

Spark shape: one narrow Arrow mapInPandas (page -> (host, tpl)) riding
the shared checkpointed pages frame, then a (host, tpl) groupBy and a
host-level rollup — both map-side combined, per-key cardinality is
#templates-per-host (tiny). At 10^12 docs the census frame is
#hosts x #templates, never corpus-sized.

Oracle: the fixture layouts are keyed doc_id % 4
(`html_extract.synthesize_html`), and each layout has a distinct
deterministic skeleton, so the expected per-host census is pure
count-by-(source, doc_id % 4) arithmetic — the DuckDB twin never
hashes a skeleton. The strict compare therefore also PINS that the
four layouts stay structurally distinct: if two layouts collapsed to
one skeleton, n_templates would drop and the row would go red.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def page_templates(spark: SparkSession, sf_dir: str, pages=None) -> DataFrame:
    """(host, tpl) per page: tpl = md5 of the document-order tag
    skeleton from the shared DOM build."""
    import hashlib

    import pandas as pd

    from paddleocr_spark.operators.html_extract import _Node, build_dom
    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            hosts, tpls = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                host = url.split("://", 1)[-1].split("/", 1)[0].lower()
                tags = []
                stack = [build_dom(bytes(blob).decode("utf-8"))]
                while stack:
                    node = stack.pop()
                    if isinstance(node, _Node):
                        if node.tag != "#root":
                            tags.append(node.tag)
                        # children reversed so pop() walks doc order
                        stack.extend(reversed(node.children))
                skel = ">".join(tags)
                hosts.append(host)
                tpls.append(hashlib.md5(skel.encode()).hexdigest())
            yield pd.DataFrame({"host": hosts, "tpl": tpls})

    return pages.mapInPandas(run, schema="host string, tpl string")


def dom_template_census(
    spark: SparkSession, sf_dir: str, pages=None
) -> DataFrame:
    """(host, n_docs, n_templates, counts_desc, top_share_micro) —
    per-host template census; counts_desc joins the per-template doc
    counts sorted descending ('412-301-...'), so the census is
    hash-free and closed-form comparable."""
    t = page_templates(spark, sf_dir, pages=pages)
    per_tpl = t.groupBy("host", "tpl").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        per_tpl.groupBy("host")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_templates"),
            F.array_join(
                F.reverse(F.array_sort(F.collect_list("n"))), "-"
            ).alias("counts_desc"),
            F.max("n").alias("top_n"),
        )
        .select(
            "host",
            "n_docs",
            "n_templates",
            "counts_desc",
            F.expr("(1000000 * top_n) div n_docs").alias(
                "top_share_micro"
            ),
        )
    )


def dom_template_rows(
    spark: SparkSession, sf_dir: str, pages=None
) -> DataFrame:
    """(op='dom_template', k=host, v=n|templates|counts|share)."""
    return dom_template_census(spark, sf_dir, pages=pages).select(
        F.lit("dom_template").alias("op"),
        F.col("host").alias("k"),
        F.concat_ws(
            "|", "n_docs", "n_templates", "counts_desc", "top_share_micro"
        ).alias("v"),
    )


# Census by (source, doc_id % 4): layout IS the template (module
# docstring). counts_desc is rebuilt by sorting the per-layout counts.
DOM_TEMPLATE_SQL = """
WITH d AS (
  SELECT lower(source) || '.example.test' AS host,
         doc_id % 4 AS layout
  FROM documents),
per_tpl AS (
  SELECT host, layout, CAST(count(*) AS bigint) AS n
  FROM d GROUP BY host, layout),
census AS (
  SELECT host,
         CAST(sum(n) AS bigint) AS n_docs,
         CAST(count(*) AS bigint) AS n_templates,
         array_to_string(list_reverse(list_sort(list(n))), '-')
           AS counts_desc,
         CAST(max(n) AS bigint) AS top_n
  FROM per_tpl GROUP BY host)
SELECT host, n_docs, n_templates, counts_desc,
       (1000000 * top_n) // n_docs AS top_share_micro
FROM census
ORDER BY host
"""
