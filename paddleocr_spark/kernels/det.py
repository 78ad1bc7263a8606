"""Text detection stage: resize policy + deterministic detection model.

DetResizeForTest semantics from the reference
(ppocr/data/imaug/operators.py:268-315, limit_type='max'): if the longest
side exceeds `limit_side_len` scale it down, then snap H and W to
multiples of 32 (round, min 32), and record (ratio_h, ratio_w).

The "model" is a deterministic stand-in for the DB net (the sandbox has
no onnxruntime): probability = ink intensity dilated horizontally so each
text line fuses into a single blob — the same line-level blob shape a DB
probability map has. Swapping in a real ONNX DB det is a one-function
change behind `DetModel.forward`.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .db_postprocess import (
    bitmap_runs,
    db_postprocess,
    db_postprocess_runs,
    dilate_runs,
    threshold_runs,
)
from .geometry import filter_det_boxes
from .imageops import dilate_horizontal, dilate_vertical, resize_bilinear


def det_resize(img: np.ndarray, limit_side_len: int = 960) -> tuple[np.ndarray, float, float]:
    """Returns (resized float32 [h,w], ratio_h, ratio_w)."""
    h, w = img.shape[:2]
    ratio = 1.0
    if max(h, w) > limit_side_len:
        ratio = limit_side_len / max(h, w)
    resize_h = max(int(round(h * ratio / 32) * 32), 32)
    resize_w = max(int(round(w * ratio / 32) * 32), 32)
    out = resize_bilinear(img, resize_h, resize_w)
    return out, resize_h / h, resize_w / w


@dataclass
class DetConfig:
    # The reference caps the det input at 960 (det_limit_side_len,
    # tools/infer/utility.py:64) and the fork further downscales pages to
    # 1500px for speed (fastapi_app.py:295-302). Our fixture pages render
    # glyphs at 4px/cell, so a 512 cap keeps every stroke >=2px while
    # cutting det memory traffic 2.4x — the det map is bandwidth-bound at
    # high core counts.
    limit_side_len: int = 512
    thresh: float = 0.3
    # The stub det map is binary (dilated ink), so bbox fill is a poor
    # proxy for "is text": a line mixing one tall glyph with many flat
    # dashes fills as little as ~0.27 of its min-area rect. The map is
    # also noiseless, so the score filter only needs to reject true
    # degenerates — 0.2 keeps every renderable line (exhaustively
    # property-tested) while the reference's 0.6 default stays in the
    # db_postprocess signature for real soft prob maps.
    box_thresh: float = 0.2
    unclip_ratio: float = 1.5
    max_candidates: int = 1000
    # Dilation is per-ROW, so the window must bridge the widest per-row
    # ink gap across a rendered space, not the column-projection gap: a
    # space is 44 blank px, plus each neighbor's per-row blank edge cells
    # (4px each). Worst pair over the whole charset is 'C'+' '+'-' whose
    # easiest bridging row still gaps 60px (measured exhaustively in
    # tests/test_space_pairs.py), and horizontal det ratios never exceed
    # 1 (widths snap down), so radius 31 (window 63) bridges every pair
    # at every det scale. Horizontal dilation cannot merge lines
    # vertically, so the 52px inter-line gap is untouched; nothing in
    # the fixture family needs two same-row boxes kept separate.
    h_dilate: int = 31
    # Radius 1 is a hard ceiling, not a tuning choice: the crop extends
    # v_dilate + unclip-delta rows past the ink band (delta ~22.7 for
    # the widest lines), and anything past the 24px inter-line blank
    # pulls neighbor-line ink into the crop, shifting the rec pooling
    # grid (observed as B->8 confusions at v_dilate=3).
    v_dilate: int = 1


class DetModel:
    """Deterministic DB-style detector head."""

    def __init__(self, cfg: DetConfig | None = None):
        self.cfg = cfg or DetConfig()

    def forward(self, gray: np.ndarray) -> np.ndarray:
        """Grayscale [h,w] (0..255, any dtype) -> binary prob map [h,w].

        Thresholding commutes with max-filter dilation (a dilated value
        exceeds t iff some window element does), so binarizing FIRST at
        the postprocess threshold (ink>0.3 <=> gray<=178.5) and dilating
        a uint8 0/1 map is exact — and moves every sliding-max pass from
        float32 to 1-byte traffic. The det stage is DRAM-bound at high
        core counts (measured: 32-core throughput capped at ~1.5k
        docs/sec while 8-core rose with kernel speedups), so bytes per
        pass, not FLOPs, set the scaling ceiling.
        """
        bit = (gray <= 178.5).astype(np.uint8)
        prob = dilate_horizontal(bit, self.cfg.h_dilate)
        if self.cfg.v_dilate:
            prob = dilate_vertical(prob, self.cfg.v_dilate)
        return prob


def detect_lines(
    img: np.ndarray, model: DetModel | None = None
) -> tuple[np.ndarray, list[float]]:
    """uint8/float grayscale page -> (boxes [N,4,2] float32 source coords,
    scores). Full det stage: resize -> model -> DB postprocess -> filters."""
    model = model or DetModel()
    cfg = model.cfg
    src_h, src_w = img.shape[:2]
    if getattr(model, "uses_forward", False):
        # A real net (ONNX session) owns the prob map: run it at source
        # scale (the dilation window inside the exported graph is
        # calibrated for source-scale gaps, like the run path below) and
        # hand the soft map to the reference-shaped DBPostProcess.
        prob = model.forward(img)
        boxes, scores = db_postprocess(
            prob,
            src_h,
            src_w,
            thresh=cfg.thresh,
            box_thresh=cfg.box_thresh,
            max_candidates=cfg.max_candidates,
            unclip_ratio=cfg.unclip_ratio,
        )
        boxes, kept = filter_det_boxes(boxes, src_h, src_w)
        return boxes, [s for s, k in zip(scores, kept) if k]
    # Run-space det: binarize the source once (only its inked rows), then
    # dilation, connected components, and the bbox-mean score all operate
    # on run lists — bit-identical to dilating a map (max-filter of 0/1
    # == union of expanded runs) with no full-page pass after the
    # binarize — and the boxes of a page are fitted, scored and unclipped
    # together. No det resize either: the dilation window is calibrated
    # for source-scale gaps (worst per-row space gap 60px, window 63).
    # det_resize and the map-based db_postprocess stay exported for the
    # reference DetResizeForTest semantics and real soft-prob-map models.
    # ink > cfg.thresh in 0..255 gray space; on integer pixels "<= 178"
    # is the same mask and skips the cast to float
    if img.dtype.kind in "ui":
        rows, starts, ends = threshold_runs(img, 178)
    else:
        rows, starts, ends = bitmap_runs(img <= 178.5)
    rows, starts, ends = dilate_runs(
        rows, starts, ends, cfg.h_dilate, cfg.v_dilate, src_h, src_w
    )
    boxes, scores = db_postprocess_runs(
        rows,
        starts,
        ends,
        src_h,
        src_w,
        src_h,
        src_w,
        box_thresh=cfg.box_thresh,
        max_candidates=cfg.max_candidates,
        unclip_ratio=cfg.unclip_ratio,
    )
    boxes, kept = filter_det_boxes(boxes, src_h, src_w)
    return boxes, [s for s, k in zip(scores, kept) if k]
