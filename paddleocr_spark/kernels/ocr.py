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
from .font import load_weights
from .geometry import sorted_boxes
from .imageops import warp_perspective
from .onnx_models import (
    OnnxClsModel,
    is_onnx_bundle,
    onnx_engine_models,
    split_onnx_bundle,
)
from .onnx_rt import session_for
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
    """Holds the model instances: the stub models by default, or those
    of a broadcast weights blob (`from_weights`)."""

    cfg: OcrConfig = field(default_factory=OcrConfig)

    def __post_init__(self):
        self.det_model = DetModel(self.cfg.det)
        self.rec_model = RecModel(self.cfg.rec)
        # orientation probe scorer: an onnx_models.OnnxClsModel from a
        # three-model bundle, else rec confidence scores
        self.cls_model = None

    @classmethod
    def from_weights(cls, blob: bytes) -> OcrEngine:
        """The engine of a broadcast weights blob: an ONNX bundle's det
        and rec (plus cls when the bundle has a third part), on sessions
        cached per process (onnx_rt.session_for, the reference's
        create_predictor), or else font templates for the stub rec
        head. Each extraction task builds its own, so no task sees
        another's weights."""
        engine = cls()
        if is_onnx_bundle(blob):
            parts = split_onnx_bundle(blob)
            engine.det_model, engine.rec_model = onnx_engine_models(
                parts[0], parts[1], engine.cfg.det, engine.cfg.rec
            )
            if len(parts) > 2:
                engine.cls_model = OnnxClsModel(session_for(parts[2]))
        else:
            engine.rec_model = RecModel(engine.cfg.rec, load_weights(blob))
        return engine

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
