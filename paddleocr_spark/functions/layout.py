"""Layout-region detection query (SURVEY §2.9 layout net row): the
PicoDet decode tail (kernels/layout.py) run per document over
deterministic raw-head candidates, Spark-side as one `frames.map_rows` over
the documents scan — a narrow map, no shuffle; at 100 TB this stage is
embarrassingly parallel and the candidate generator is where an ONNX
head would batch-infer instead (ppstructure/layout/predict_layout.py).

The candidate sets are designed so every decode-tail branch fires and
the survivor set is CLOSED-FORM in doc_id, giving the strict DuckDB
oracle below; the score wiggle w = (doc_id % 5) * 0.01 moves output
values without ever flipping a survival decision (margins >= 0.06
everywhere):

- doc_id%4 == 0: same-class NMS drop (IoU 0.82 text pair) + a
  sub-threshold figure -> 1 survivor.
- doc_id%4 == 1: text inside table (containment 1.0) -> table wins the
  conflict group despite the LOWER score; disjoint title survives
  -> 2 survivors.
- doc_id%4 == 2: figure inside a text box, no table in group -> highest
  score (the figure) wins; the far-away text survives -> 2 survivors.
- doc_id%4 == 3: NMS pick-order flip: which of two overlapping text
  boxes wins depends on doc_id%8, flipping the surviving geometry
  -> 1 survivor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from paddleocr_spark.frames import map_rows
from paddleocr_spark.sources.scan import scan_parquet

# class indices into kernels.layout.LAYOUT_LABELS
_TEXT, _TITLE, _TABLE, _FIGURE = 0, 1, 3, 4


def head_candidates(doc_id: int):
    """Deterministic raw-head stand-in: [(class_idx, score, box), ...]."""
    w = (doc_id % 5) * 0.01
    case = doc_id % 4
    if case == 0:
        return [
            (_TEXT, 0.8 + w, (10.0, 10.0, 110.0, 50.0)),
            (_TEXT, 0.6, (10.0, 14.0, 110.0, 54.0)),
            (_FIGURE, 0.35, (200.0, 10.0, 260.0, 50.0)),
        ]
    if case == 1:
        return [
            (_TEXT, 0.9, (30.0, 30.0, 150.0, 60.0)),
            (_TITLE, 0.7, (300.0, 20.0, 400.0, 40.0)),
            (_TABLE, 0.5 + w, (20.0, 20.0, 220.0, 160.0)),
        ]
    if case == 2:
        return [
            (_TEXT, 0.7 + w, (10.0, 200.0, 110.0, 240.0)),
            (_TEXT, 0.6, (300.0, 200.0, 400.0, 240.0)),
            (_FIGURE, 0.95, (305.0, 205.0, 395.0, 235.0)),
        ]
    flag = doc_id % 8 == 3
    return [
        (_TEXT, 0.8 if flag else 0.6, (50.0, 50.0, 150.0, 90.0)),
        (_TEXT, 0.7 + (0.0 if flag else w), (50.0, 54.0, 150.0, 94.0)),
    ]


# ---------------------------------------------------------------------------
# PicoDet-shaped ONNX head: the same candidate table exported as a real
# graph — per-anchor class scores from a linear classification branch,
# boxes decoded IN-GRAPH by the Distribution-Focal-Loss integral
# (Softmax over distance bins -> expectation -> anchor-center +/-
# distance), the decode picodet_postprocess feeds from a real net
# (ppocr/postprocess/picodet_postprocess.py:99-135 warp/dis integral;
# ppstructure/layout/predict_layout.py:38-114 drives it).
# ---------------------------------------------------------------------------

# (case, class_idx, [coef map over the feature basis], (x0, y0, x1, y1))
# The feature basis is [c0..c3, c0*w..c3*w, flag, w*flag]: every score
# in head_candidates is affine in it, and case-gating (c_i, c_i*w) makes
# inactive anchors score EXACTLY 0.0 (all-zero coefficient rows), so
# the graph's post-threshold candidate set equals head_candidates'.
_N_FEATS = 10
_REG_BINS = 128  # DFL bins at stride 1: covers the largest half-extent
_ANCHORS = [
    # case 0
    (_TEXT, {0: 0.8, 4: 1.0}, (10.0, 10.0, 110.0, 50.0)),
    (_TEXT, {0: 0.6}, (10.0, 14.0, 110.0, 54.0)),
    (_FIGURE, {0: 0.35}, (200.0, 10.0, 260.0, 50.0)),
    # case 1
    (_TEXT, {1: 0.9}, (30.0, 30.0, 150.0, 60.0)),
    (_TITLE, {1: 0.7}, (300.0, 20.0, 400.0, 40.0)),
    (_TABLE, {1: 0.5, 5: 1.0}, (20.0, 20.0, 220.0, 160.0)),
    # case 2
    (_TEXT, {2: 0.7, 6: 1.0}, (10.0, 200.0, 110.0, 240.0)),
    (_TEXT, {2: 0.6}, (300.0, 200.0, 400.0, 240.0)),
    (_FIGURE, {2: 0.95}, (305.0, 205.0, 395.0, 235.0)),
    # case 3 (flag = doc_id%8==3 implies case 3, so the flag terms are
    # case-gated already; second box: 0.7 + w - w*flag)
    (_TEXT, {3: 0.6, 8: 0.2}, (50.0, 50.0, 150.0, 90.0)),
    (_TEXT, {3: 0.7, 7: 1.0, 9: -1.0}, (50.0, 54.0, 150.0, 94.0)),
]
_N_CLASSES = 5


def _doc_feats(doc_id: int):
    import numpy as np

    w = np.float32((doc_id % 5) * 0.01)
    case = doc_id % 4
    flag = 1.0 if doc_id % 8 == 3 else 0.0
    x = np.zeros((1, _N_FEATS), dtype=np.float32)
    x[0, case] = 1.0
    x[0, 4 + case] = w
    x[0, 8] = flag
    x[0, 9] = w * flag
    return x


def build_layout_onnx() -> bytes:
    """Export the PicoDet-shaped head: scores = feats @ W (linear cls
    branch), boxes = DFL integral decode. The Softmax one-hot rows use a
    logit gap of 120, at which exp(-120) underflows to exactly 0.0 in
    float32 — the integral (one-hot @ bin-values) is therefore float32-
    EXACT, so the graph's boxes equal the candidate table bit-for-bit."""
    import numpy as np

    from paddleocr_spark.kernels.onnx_proto import (
        DT_FLOAT,
        encode_model,
        encode_node,
        encode_tensor,
        encode_value_info,
    )

    a_n = len(_ANCHORS)
    ws = np.zeros((_N_FEATS, a_n * _N_CLASSES), dtype=np.float32)
    reg = np.zeros((a_n * 4, _REG_BINS), dtype=np.float32)
    centers = np.zeros((a_n, 4), dtype=np.float32)
    for i, (cls_idx, coefs, (x0, y0, x1, y1)) in enumerate(_ANCHORS):
        for fi, coef in coefs.items():
            ws[fi, i * _N_CLASSES + cls_idx] = coef
        cx, cy = (x0 + x1) / 2.0, (y0 + y1) / 2.0
        centers[i] = (cx, cy, cx, cy)
        for side, dist in enumerate(
            (cx - x0, cy - y0, x1 - cx, y1 - cy)
        ):
            reg[i * 4 + side, int(dist)] = 120.0
    bins = np.arange(_REG_BINS, dtype=np.float32).reshape(_REG_BINS, 1)
    sign = np.array([[-1.0, -1.0, 1.0, 1.0]], dtype=np.float32)
    score_shape = np.array([a_n, _N_CLASSES], dtype=np.int64)
    box_shape = np.array([a_n, 4], dtype=np.int64)
    nodes = [
        encode_node("MatMul", ["feats", "cls_w"], ["logits"],
                    name="cls_branch"),
        encode_node("Reshape", ["logits", "score_shape"], ["scores"],
                    name="per_anchor_scores"),
        encode_node("Softmax", ["reg_logits"], ["dfl"], name="dfl_softmax",
                    axis=1),
        encode_node("MatMul", ["dfl", "bins"], ["dist_col"],
                    name="dfl_integral"),
        encode_node("Reshape", ["dist_col", "box_shape"], ["dists"],
                    name="per_anchor_ltrb"),
        encode_node("Mul", ["dists", "sign"], ["signed"], name="ltrb_sign"),
        encode_node("Add", ["signed", "centers"], ["boxes"],
                    name="center_offset"),
    ]
    return encode_model(
        nodes,
        inputs=[encode_value_info("feats", DT_FLOAT, [1, _N_FEATS])],
        outputs=[
            encode_value_info("scores", DT_FLOAT, [a_n, _N_CLASSES]),
            encode_value_info("boxes", DT_FLOAT, [a_n, 4]),
        ],
        initializers=[
            encode_tensor("cls_w", ws),
            encode_tensor("score_shape", score_shape),
            encode_tensor("reg_logits", reg),
            encode_tensor("bins", bins),
            encode_tensor("box_shape", box_shape),
            encode_tensor("sign", sign),
            encode_tensor("centers", centers),
        ],
        graph_name="picodet_layout",
    )


class OnnxLayoutHead:
    """Executor-side head: graph -> (class, score, box) candidates for
    the decode tail. Emits every (anchor, class) with score > 0 — the
    case-gated weight rows make inactive anchors exactly 0.0, and the
    sub-threshold candidates the stand-in also emits survive into the
    list (layout_postprocess drops them, same as before)."""

    def __init__(self, model_bytes: bytes):
        from paddleocr_spark.kernels.onnx_rt import session_for

        self.session = session_for(model_bytes)

    def candidates(self, doc_id: int):
        out = self.session.run({"feats": _doc_feats(doc_id)})
        scores, boxes = out["scores"], out["boxes"]
        cands = []
        for a in range(scores.shape[0]):
            box = tuple(float(v) for v in boxes[a])
            for c in range(scores.shape[1]):
                s = float(scores[a, c])
                if s > 0.0:
                    cands.append((c, s, box))
        return cands


def layout_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = scan_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    model_bytes = build_layout_onnx()  # driver-side export, ships in closure

    from paddleocr_spark.kernels.layout import layout_postprocess

    def regions(d):
        # OnnxLayoutHead reuses the per-process session cache
        head = OnnxLayoutHead(model_bytes)
        return [
            (d, label, round(score, 6), int(x0), int(y0), int(x1), int(y1))
            for label, score, (x0, y0, x1, y1)
            in layout_postprocess(head.candidates(d))
        ]

    return map_rows(
        docs, regions,
        "doc_id long, label string, score double, "
        "x0 long, y0 long, x1 long, y1 long",
    )


LAYOUT_DETECT_SQL = """
WITH d AS (
  SELECT doc_id, doc_id % 4 AS c, (doc_id % 5) * 0.01 AS w
  FROM documents
)
SELECT doc_id, 'text' AS label, CAST(round(0.8 + w, 6) AS double) AS score,
       10 AS x0, 10 AS y0, 110 AS x1, 50 AS y1
FROM d WHERE c = 0
UNION ALL
SELECT doc_id, 'title', CAST(round(0.7, 6) AS double), 300, 20, 400, 40 FROM d WHERE c = 1
UNION ALL
SELECT doc_id, 'table', CAST(round(0.5 + w, 6) AS double), 20, 20, 220, 160 FROM d WHERE c = 1
UNION ALL
SELECT doc_id, 'text', CAST(round(0.7 + w, 6) AS double), 10, 200, 110, 240 FROM d WHERE c = 2
UNION ALL
SELECT doc_id, 'figure', CAST(round(0.95, 6) AS double), 305, 205, 395, 235 FROM d WHERE c = 2
UNION ALL
SELECT doc_id,
       'text',
       CAST(CASE WHEN doc_id % 8 = 3 THEN round(0.8, 6) ELSE round(0.7 + w, 6) END AS double),
       50,
       CASE WHEN doc_id % 8 = 3 THEN 50 ELSE 54 END,
       150,
       CASE WHEN doc_id % 8 = 3 THEN 90 ELSE 94 END
FROM d WHERE c = 3
"""
