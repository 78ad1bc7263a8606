"""Evaluation-metric analogues of the reference's metric stack
(SURVEY.md §2.4): the detection IoU precision/recall/hmean evaluator
(ppocr/metrics/det_metric.py DetMetric / eval_det_iou.py
DetectionIoUEvaluator) and the table TEDS similarity
(ppocr/metrics/table_metric.py, tree-edit-distance over parsed table
HTML).

Both run as aggregate queries over the REAL pipeline output:
- det_iou_hmean renders every page, runs the full det stage, matches
  predicted quads against synthetic ground-truth quads (the renderer's
  line geometry pushed through the same public dilation/unclip
  arithmetic the det contract documents) with the reference's
  one-to-one IoU>0.5 greedy pairing, and aggregates corpus-level
  precision/recall/hmean. The oracle pins total gt/pred/matched counts
  (pure ceil arithmetic over text lengths) and hmean == 1.0 — any det
  drift beyond the IoU margin flips the row red.
- table_teds parses generated table HTML into trees and computes
  Zhang-Shasha tree edit distance per document against a ground truth
  that deliberately drops one cell for doc_id%4==0, so the metric takes
  nontrivial values the oracle reproduces in closed form
  (1 - 1/(1+4R) for an R-row table).

Scale: both are map (per-doc metric) + single aggregation — one shuffle.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paddleocr_spark.frames import map_rows

# ---------------------------------------------------------------------------
# Detection IoU evaluator (upright-rect specialization of the ICDAR
# polygon evaluator the reference wraps; det boxes here are upright by
# construction).


def rect_iou(a, b) -> float:
    """IoU of two upright quads given as [4,2] (TL,TR,BR,BL)."""
    ax0, ay0 = a[0][0], a[0][1]
    ax1, ay1 = a[2][0], a[2][1]
    bx0, by0 = b[0][0], b[0][1]
    bx1, by1 = b[2][0], b[2][1]
    ix = max(0.0, min(ax1, bx1) - max(ax0, bx0))
    iy = max(0.0, min(ay1, by1) - max(ay0, by0))
    inter = ix * iy
    union = (ax1 - ax0) * (ay1 - ay0) + (bx1 - bx0) * (by1 - by0) - inter
    return inter / union if union > 0 else 0.0


def det_eval_sample(
    gt_quads, pred_quads, iou_thresh: float = 0.5
) -> tuple[int, int, int]:
    """One-to-one greedy matching at IoU>thresh (det_metric semantics):
    each gt pairs with the first unmatched pred clearing the threshold.
    Returns (matched, n_gt, n_pred)."""
    used = [False] * len(pred_quads)
    matched = 0
    for g in gt_quads:
        for i, p in enumerate(pred_quads):
            if used[i]:
                continue
            if rect_iou(g, p) > iou_thresh:
                used[i] = True
                matched += 1
                break
    return matched, len(gt_quads), len(pred_quads)


def _gt_line_quads(n_chars: int):
    """Synthetic labels: the renderer's line rects pushed through the
    det contract's public geometry (h_dilate/v_dilate expansion, then
    the rect unclip) — see kernels/det.py / kernels/db_postprocess.py.
    Approximate to within a few pixels; the IoU 0.5 threshold leaves
    ample margin, while a wrong/missing line cannot match at all."""
    from paddleocr_spark.kernels.db_postprocess import unclip_rect
    from paddleocr_spark.kernels.det import DetConfig

    import numpy as np

    cfg = DetConfig()
    wrap = 24
    quads = []
    n_lines = math.ceil(n_chars / wrap) if n_chars else 0
    page_w = min(n_chars, wrap) * 32 + 36 if n_chars else 80
    for k in range(n_lines):
        ln = min(n_chars - k * wrap, wrap)
        x0 = max(24 - cfg.h_dilate, 0)
        x1 = min(24 + ln * 32 - 12 + cfg.h_dilate, page_w)
        y0 = 24 + 80 * k - cfg.v_dilate
        y1 = 24 + 80 * k + 28 + cfg.v_dilate
        rect = np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float64
        )
        quads.append(unclip_rect(rect, cfg.unclip_ratio))
    return quads


def det_iou_hmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from paddleocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(spark, sf_dir).select("url", "html", "text")

    from paddleocr_spark.kernels.det import DetModel, detect_lines
    from paddleocr_spark.kernels.png import decode_gray_png
    from paddleocr_spark.sources.pages import normalize_text

    model = DetModel()

    def sample(payload, text):
        boxes, _ = detect_lines(decode_gray_png(bytes(payload)), model)
        gt = _gt_line_quads(len(normalize_text(text)))
        return [det_eval_sample(gt, list(boxes))]

    per_page = map_rows(
        pages, sample, "matched long, n_gt long, n_pred long",
        cols=["html", "text"],
    )
    agg = per_page.agg(
        F.sum("matched").alias("matched"),
        F.sum("n_gt").alias("n_gt"),
        F.sum("n_pred").alias("n_pred"),
    )
    return agg.select(
        "matched",
        "n_gt",
        "n_pred",
        F.round(F.col("matched") / F.col("n_pred"), 6).alias("precision"),
        F.round(F.col("matched") / F.col("n_gt"), 6).alias("recall"),
        F.round(
            2 * F.col("matched") / (F.col("n_gt") + F.col("n_pred")), 6
        ).alias("hmean"),
    )


DET_IOU_HMEAN_SQL = """
WITH n AS (
  SELECT CAST(ceil(length(upper(substring(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'), 1, 120))) / 24.0) AS bigint) AS n_lines
  FROM documents
)
SELECT CAST(sum(n_lines) AS bigint) AS matched,
       CAST(sum(n_lines) AS bigint) AS n_gt,
       CAST(sum(n_lines) AS bigint) AS n_pred,
       CAST(1.0 AS double) AS precision,
       CAST(1.0 AS double) AS recall,
       CAST(1.0 AS double) AS hmean
FROM n
"""


# ---------------------------------------------------------------------------
# TEDS: tree edit distance similarity over table HTML.


class _Node:
    __slots__ = ("label", "children")

    def __init__(self, label: str):
        self.label = label
        self.children: list[_Node] = []


_TAG_RE = re.compile(r"<(/?)(table|tr|td)>")


def parse_table_html(html: str) -> _Node:
    """Minimal parser for the engine's generated <table><tr><td>text
    structure; td text becomes part of the td node's label (so a cell
    edit is a relabel, a cell drop a delete)."""
    root = _Node("root")
    stack = [root]
    pos = 0
    for m in _TAG_RE.finditer(html):
        text = html[pos : m.start()]
        if text.strip() and stack:
            stack[-1].label += ":" + text.strip()
        pos = m.end()
        if m.group(1):  # closing
            if len(stack) > 1:
                stack.pop()
        else:
            node = _Node(m.group(2))
            stack[-1].children.append(node)
            stack.append(node)
    return root.children[0] if root.children else root


def _postorder(root: _Node):
    """Zhang-Shasha preliminaries: postorder nodes, leftmost-leaf index."""
    nodes: list[_Node] = []
    lmld: list[int] = []

    def walk(n: _Node) -> int:
        if not n.children:
            nodes.append(n)
            lmld.append(len(nodes) - 1)
            return len(nodes) - 1
        first = None
        for c in n.children:
            lm = walk(c)
            if first is None:
                first = lm
        nodes.append(n)
        lmld.append(first)
        return first

    walk(root)
    return nodes, lmld


def tree_edit_distance(a: _Node, b: _Node) -> int:
    """Zhang-Shasha with unit insert/delete/relabel costs."""
    an, al = _postorder(a)
    bn, bl = _postorder(b)

    def keyroots(lml, n):
        # highest postorder index per distinct leftmost leaf
        seen = {}
        for i in range(n):
            seen[lml[i]] = i
        return sorted(seen.values())

    akr = keyroots(al, len(an))
    bkr = keyroots(bl, len(bn))
    td = [[0] * len(bn) for _ in range(len(an))]

    def dist(i: int, j: int) -> None:
        m = i - al[i] + 2
        n = j - bl[j] + 2
        fd = [[0] * n for _ in range(m)]
        ioff = al[i] - 1
        joff = bl[j] - 1
        for x in range(1, m):
            fd[x][0] = fd[x - 1][0] + 1
        for y in range(1, n):
            fd[0][y] = fd[0][y - 1] + 1
        for x in range(1, m):
            for y in range(1, n):
                if al[x + ioff] == al[i] and bl[y + joff] == bl[j]:
                    cost = 0 if an[x + ioff].label == bn[y + joff].label else 1
                    fd[x][y] = min(
                        fd[x - 1][y] + 1,
                        fd[x][y - 1] + 1,
                        fd[x - 1][y - 1] + cost,
                    )
                    td[x + ioff][y + joff] = fd[x][y]
                else:
                    p = al[x + ioff] - 1 - ioff
                    q = bl[y + joff] - 1 - joff
                    fd[x][y] = min(
                        fd[x - 1][y] + 1,
                        fd[x][y - 1] + 1,
                        fd[p][q] + td[x + ioff][y + joff],
                    )

    for i in akr:
        for j in bkr:
            dist(i, j)
    return td[len(an) - 1][len(bn) - 1]


def _count_nodes(n: _Node) -> int:
    return 1 + sum(_count_nodes(c) for c in n.children)


def teds_similarity(pred_html: str, gt_html: str) -> float:
    """TEDS = 1 - dist / max(|pred|, |gt|) (table_metric semantics)."""
    p = parse_table_html(pred_html)
    g = parse_table_html(gt_html)
    dist = tree_edit_distance(p, g)
    denom = max(_count_nodes(p), _count_nodes(g))
    return 1.0 - dist / denom if denom else 1.0


def table_teds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc TEDS of the real table_html_assembly output against a gt
    that drops the final cell for doc_id%4==0 (known closed-form
    similarity 1 - 1/(1+4R)) and is identical otherwise (TEDS 1.0)."""
    from paddleocr_spark.functions.structure import table_html_assembly

    pred = table_html_assembly(spark, sf_dir)

    def teds(doc_id, html):
        gt = html
        if int(doc_id) % 4 == 0:
            gt = re.sub(r"<td>[^<]*</td></tr></table>$", "</tr></table>", html)
        return [(doc_id, round(teds_similarity(html, gt), 6))]

    return map_rows(
        pred, teds, "doc_id long, teds double", cols=["doc_id", "table_html"]
    )


TABLE_TEDS_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0
            THEN round(1.0 - 1.0 / (1 + 4 * (doc_id % 3 + 1)), 6)
            ELSE 1.0 END AS teds
FROM documents
"""
