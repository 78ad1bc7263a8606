"""The composed per-page OCR kernel: detected boxes -> order -> crop ->
recognize -> score-filter -> spans.

This is the numpy core that the Spark mapInPandas stage calls per page
(`plans/pipeline._ocr_batches_run`, after its det or orientation sweep)
— the analogue of the reference's TextSystem.__call__
(tools/infer/predict_system.py:76-157): sorted_boxes reading order
(:124), perspective crop per box (:126-132), batched rec, then drop
results with score < drop_score (:149-154, default 0.5). A page's
extracted text joins the kept span texts with '\n' in reading order (the
TSV sink's transcription order, :244-267).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .det import DetConfig, DetModel
from .geometry import sorted_boxes
from .imageops import warp_perspective
from .rec import RecConfig, RecModel, recognize_crops

DROP_SCORE = 0.5


def get_rotate_crop_image(img: np.ndarray, quad: np.ndarray) -> np.ndarray:
    """Perspective-warp a TL,TR,BR,BL quad to an upright crop; rotate 90
    if the crop is tall (h/w >= 1.5) — reference
    tools/infer/utility.py:865-906 semantics."""
    q = np.asarray(quad, dtype=np.float64)
    crop_w = int(max(np.linalg.norm(q[0] - q[1]), np.linalg.norm(q[2] - q[3])))
    crop_h = int(max(np.linalg.norm(q[0] - q[3]), np.linalg.norm(q[1] - q[2])))
    # Axis-aligned integer quads (the common case: DB emits rounded
    # upright rects for horizontal text) reduce the homography to an
    # identity sample grid — a slice copy, skipping the warp math.
    x0, y0 = q[0]
    if (
        q[0][1] == q[1][1]
        and q[2][1] == q[3][1]
        and q[0][0] == q[3][0]
        and q[1][0] == q[2][0]
        and float(x0).is_integer()
        and float(y0).is_integer()
        and q[1][0] - x0 == crop_w
        and q[3][1] - y0 == crop_h
    ):
        xi, yi = int(x0), int(y0)
        crop = img[yi : yi + crop_h, xi : xi + crop_w].astype(np.float32)
    else:
        crop = warp_perspective(img, q, crop_w, crop_h)
    if crop.shape[1] > 0 and crop.shape[0] / max(crop.shape[1], 1) >= 1.5:
        crop = np.rot90(crop, 3).copy()
    return crop


@dataclass
class OcrConfig:
    det: DetConfig = field(default_factory=DetConfig)
    rec: RecConfig = field(default_factory=RecConfig)
    drop_score: float = DROP_SCORE


@dataclass
class OcrEngine:
    """Holds the (stub) model instances; one per executor process, cached
    by plans/pipeline.py the way the reference caches predictors."""

    cfg: OcrConfig = field(default_factory=OcrConfig)

    def __post_init__(self):
        self.det_model = DetModel(self.cfg.det)
        self.rec_model = RecModel(self.cfg.rec)
        # orientation probe scorer: an onnx_models.OnnxClsModel while a
        # three-model bundle is installed, else rec confidence scores
        self.cls_model = None

    def ocr_page(self, gray: np.ndarray, boxes: np.ndarray) -> list[dict]:
        """uint8 grayscale page and its detected boxes -> reading-ordered,
        score-filtered spans: [{box: [[x,y]x4], text: str, score: float}]."""
        boxes = sorted_boxes(boxes)
        crops = [get_rotate_crop_image(gray, b) for b in boxes]
        rec_res = recognize_crops(crops, self.rec_model)
        return [
            {
                "box": np.asarray(box, dtype=np.float32).tolist(),
                "text": text,
                "score": float(score),
            }
            for box, (text, score) in zip(boxes, rec_res)
            if score >= self.cfg.drop_score
        ]
