"""Page orientation: the prioritized rotation sweep extraction runs when
`orient` is on.

Page-level semantics from the fork's rotation sweep
(fastapi_app.py:304-455): try prioritized angles, score each by how much
readable horizontal text it yields, early-exit on a confident hit,
prefer 0 on ties. Probes are scored by rec read confidence, or by the
reference's 0/180 text-direction net (tools/infer/predict_cls.py) when a
three-model ONNX bundle supplies one (onnx_models.OnnxClsModel, which
also keeps the reference's per-crop cls_thresh rotate rule).
"""

from __future__ import annotations

import numpy as np

from .imageops import rot90k
from .rec import RecModel, recognize_crops


def _read_score(crop: np.ndarray, model: RecModel) -> float:
    """Mean CTC confidence of the crop under the rec model (0 if no text)."""
    return recognize_crops([crop], model)[0][1]


# cls-probe early exit: measured corpus-wide (sf0.001 + sf0.01, all 4
# sweep angles, 5,500 pages — see tests/test_onnx.py), wrong-angle mean
# p(0) <= 0.59. 0.65 sits safely above it, so early exit NEVER fires
# on a wrong angle — the only property correctness needs; a correct
# angle scoring under 0.65 just falls through to the best-score
# comparison, where the worst per-page correct-vs-wrong gap is +0.04
# (0/5,500 pages chose a wrong angle in the corpus check).
CLS_PROBE_EARLY_EXIT = 0.65
# rec-probe early exit, measured on the sf0.01 corpus: correct-
# orientation probes score >= 0.973, wrong-orientation 180-symmetric
# glyph reads <= 0.857 — 0.93 splits the gap, so early exit never
# fires on a wrong angle.
REC_PROBE_EARLY_EXIT = 0.93
# detected lines scored per probed angle
PROBE_BOXES = 3


def orient_page(
    img: np.ndarray,
    detect_fn,
    crop_fn,
    rec_model: RecModel | None = None,
    cls_model=None,
) -> tuple[np.ndarray, int]:
    """Prioritized rotation sweep scored by recognition confidence of up
    to PROBE_BOXES detected lines (the fork scores candidate angles by
    OCR quality and early-exits on a confident hit,
    fastapi_app.py:365-408); ties keep the earliest priority angle. A
    coarse geometric vote picks the axis first (the fork's prioritized
    candidate list, fastapi_app.py:316-323): a 90/270-rotated page then
    skips the two useless upright probes.

    With `cls_model` (an onnx_models.OnnxClsModel from the broadcast
    bundle), probes are scored by the classifier's p("0") instead of rec
    read confidence — the reference's dedicated text-direction net
    (predict_cls.py) doing the angle scoring, through the same
    per-process ONNX session cache as det/rec.

    The returned page is the very array the accepted angle's probe ran
    `detect_fn` on, so a caller can reuse that probe's boxes."""
    from .rotation import estimate_rotation

    early_exit = (
        CLS_PROBE_EARLY_EXIT if cls_model is not None else REC_PROBE_EARLY_EXIT
    )
    rec_model = rec_model or RecModel()
    axis, _ = estimate_rotation(img)
    priority = (0, 180, 90, 270) if axis == 0 else (90, 270, 0, 180)
    best_angle, best_score = priority[0], -1.0
    probed = {}
    for angle in priority:
        rotated = probed[angle] = rot90k(img, angle // 90) if angle else img
        boxes, _ = detect_fn(rotated)
        if len(boxes) == 0:
            continue
        crops = [crop_fn(rotated, box) for box in boxes[:PROBE_BOXES]]
        if cls_model is not None:
            confs = cls_model.prob0_batch(crops)  # one batched run
        else:
            confs = [_read_score(c, rec_model) for c in crops]
        score = float(np.mean(confs)) if confs else 0.0
        if score >= early_exit:
            return rotated, angle
        if score > best_score + 1e-9:
            best_angle, best_score = angle, score
    return probed[best_angle], best_angle
