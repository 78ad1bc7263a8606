"""Orientation handling: per-crop 0/180 classification and page-level
rotation search.

Per-crop semantics from the reference text classifier
(tools/infer/predict_cls.py:67-137 + cls_postprocess.py): label space
["0","180"], rotate the crop 180 degrees only when the "180" score
exceeds cls_thresh=0.9. Our deterministic model scores an orientation by
the mean template correlation of its recognized glyphs — the orientation
that reads better wins (a real ONNX classifier drops in behind
`classify`).

Page-level semantics from the fork's rotation sweep
(fastapi_app.py:304-455): try prioritized angles, score each by how much
readable horizontal text it yields, early-exit on a confident hit,
prefer 0 on ties.
"""

from __future__ import annotations

import re

import numpy as np

from .imageops import rot90k, rotate180
from .rec import RecModel, recognize_crops

CLS_THRESH = 0.9

# The fork's exact page-orientation scoring rubric
# (fastapi_app.py:365-408): +2 per IC-header keyword, +3 for an IC
# number, +1 for >=5 text lines, -0.5 per noise line once there are
# more than 5 of them; ties prefer higher line count, then angle 0,
# then no flip; early exit at score>=3 with >=10 lines.
MALAYSIA_IC_KEYWORDS = [
    "KAD PENGENALAN", "MYKAD", "IDENTITYCARD", "IDENTITY CARD",
    "WARGANEGARA", "MYIAD", "KAD PENGE",
]
_IC_NUM_RE = re.compile(r"\d{6}-\d{2}-\d{4}")


def score_orientation_text(text_list: list[str]) -> float:
    """Rubric score of one (angle, flip) candidate's OCR line list."""
    full = " ".join(text_list).upper()
    score = 0.0
    for kw in MALAYSIA_IC_KEYWORDS:
        if kw in full:
            score += 2
    if _IC_NUM_RE.search(full):
        score += 3
    if len(text_list) >= 5:
        score += 1
    noise = sum(1 for t in text_list if len(t.strip()) <= 1)
    if noise > 5:
        score -= noise * 0.5
    return score


def sweep_orientations_rubric(
    candidates: list[tuple[int, str | None, list[str]]],
) -> tuple[int, str | None]:
    """Best (angle, flip) under the rubric with the reference's exact
    tie-break condition and early-exit, over candidates in sweep order
    (angle-major, flip-minor, empty text lists skipped). The condition
    is copied faithfully from fastapi_app.py:395-398 INCLUDING its
    quirk: on an exact (score, count) tie a LATER candidate replaces
    the incumbent whenever the later one has angle 0 (clause 3) or is
    unflipped (clause 4) — the clauses test only the challenger, not
    the incumbent, so e.g. [(0,None), (270,None)] tied on everything
    resolves to (270,None). Pinned in tests/test_rotation.py. Falls
    back to the first candidate with >= 3 lines when nothing scored
    (fastapi_app.py:414-450)."""
    best: tuple[int, str | None] | None = None
    best_score, best_count = 0.0, 0
    for angle, flip, text_list in candidates:
        if not text_list:
            continue
        score = score_orientation_text(text_list)
        count = len(text_list)
        angle_pref = 2 if angle == 0 else 0
        if (
            score > best_score
            or (score == best_score and count > best_count)
            or (score == best_score and count == best_count and angle_pref > 0)
            or (
                score == best_score
                and count == best_count
                and angle_pref == 0
                and flip is None
            )
        ):
            best, best_score, best_count = (angle, flip), score, count
            if best_score >= 3 and best_count >= 10:
                break
    if best is None:
        for angle, flip, text_list in candidates:
            if len(text_list) >= 3:
                return angle, flip
        return 0, None
    return best


def orient_page_rubric(
    img: np.ndarray,
    ocr_fn,
    angles: tuple[int, ...] = (0, 90, 180, 270),
) -> tuple[np.ndarray, int]:
    """Full-fidelity page sweep: OCR the page at every (angle, flip)
    combo (flips = none/horizontal like the serving path) and pick the
    rubric winner. ~8x the OCR work of the confidence-probe fast path
    (orient_page below), exactly like the reference; the pipeline uses
    the fast path and this is the byte-parity serving analogue."""
    cands: list[tuple[int, str | None, list[str]]] = []
    imgs: dict[tuple[int, str | None], np.ndarray] = {}
    for angle in angles:
        for flip in (None, "horizontal"):
            base = img[:, ::-1] if flip == "horizontal" else img
            rotated = rot90k(base, (angle // 90) % 4) if angle else base
            imgs[(angle, flip)] = rotated
            cands.append((angle, flip, ocr_fn(rotated)))
    angle, flip = sweep_orientations_rubric(cands)
    return imgs[(angle, flip)], angle


def _read_score(crop: np.ndarray, model: RecModel) -> float:
    """Mean CTC confidence of the crop under the rec model (0 if no text)."""
    return recognize_crops([crop], model)[0][1]


def classify(crop: np.ndarray, model: RecModel | None = None) -> tuple[str, float, np.ndarray]:
    """Returns (label, score, possibly-rotated crop)."""
    model = model or RecModel()
    s0 = _read_score(crop, model)
    flipped = rotate180(crop)
    s180 = _read_score(flipped, model)
    total = s0 + s180
    if total <= 1e-9:
        return "0", 0.5, crop
    score180 = s180 / total
    if score180 > 0.5:
        label, score = "180", score180
    else:
        label, score = "0", 1.0 - score180
    # Reference rotates only when the 180 score clears cls_thresh
    # (predict_cls.py:133-136); otherwise the crop passes through as-is.
    if label == "180" and score > CLS_THRESH:
        return label, score, flipped
    return label, score, crop


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
