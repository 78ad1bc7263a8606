"""Text recognition stage: batch resize policy + deterministic CTC model.

Resize semantics from the reference (tools/infer/predict_rec.py:205-258):
target height 48; per-batch max width = ceil(48 * max_wh_ratio) computed
over the aspect-sorted batch; each crop is width-scaled proportionally,
capped at the batch width, zero-padded on the right. `recognize_crops`
sorts crops by aspect ratio and scatters results back by original index
(predict_rec.py:580-600), but here that only fixes each batch's shared pad
width: `RecModel.forward` still runs one crop at a time, so the
reference's throughput gain from batching is not reproduced.

The "model" is a deterministic CTC head: binarize the crop, split into
glyph cells at low-ink columns, correlate each pooled 7x5 cell against the
font templates, and emit [T, C] probabilities shaped like a CTC output
(char frames separated by blank frames) so the real CTCLabelDecode runs
downstream. A real ONNX SVTR/CRNN drops in behind `RecModel.forward`.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .ctc import ctc_decode
from . import font as _font
from .font import CHARSET, GLYPH_H, GLYPH_W, REC_CHARSET
from .imageops import pool_cells, resize_bilinear

REC_H = 48


def rec_resize(crop: np.ndarray, max_wh_ratio: float) -> np.ndarray:
    """Resize a crop to [48, ceil(48*max_wh_ratio)] with proportional width
    + right zero-pad (white background = 255 pre-normalize, so pad with 0
    ink after normalization; we pad with 255 in pixel space)."""
    img_h, img_w = crop.shape[:2]
    img_w_target = int(math.ceil(REC_H * max_wh_ratio))
    ratio = img_w / float(img_h)
    resized_w = img_w_target if math.ceil(REC_H * ratio) > img_w_target else int(
        math.ceil(REC_H * ratio)
    )
    resized = resize_bilinear(crop, REC_H, resized_w)
    out = np.full((REC_H, img_w_target), 255.0, dtype=np.float32)
    out[:, :resized_w] = resized
    return out


@dataclass
class RecConfig:
    batch_num: int = 6  # reference rec_batch_num default (utility.py:102)
    # Column ink threshold: absolute floor catches thin strokes (the 1-row
    # crossbars of H/L/J survive bilinear downscale at ~0.03 mean ink);
    # bilinear bleed into true inter-glyph gaps stays below 0.012.
    col_ink_abs: float = 0.012
    col_ink_rel: float = 0.03
    min_cell_w: int = 3
    min_gap_w: int = 3  # gaps narrower than this are glyph-internal
    # A rendered space advances a full glyph cell (~44px source, ~29px at
    # rec height); ordinary inter-glyph gaps resize to ~8px. Gaps wider
    # than this emit a space class frame.
    space_gap_w: int = 20


# Width at rec height of a glyph cell with ink in all five font columns
# (the dash is one) on a line holding full-height glyphs: the scale at
# which space_gap_w holds.
FULL_CELL_W = 16


class RecModel:
    """Deterministic recognition head emitting CTC-style [T, C] probs."""

    def __init__(self, cfg: RecConfig | None = None):
        self.cfg = cfg or RecConfig()
        self.num_classes = len(REC_CHARSET) + 1  # + blank at 0, space at 1

    def forward(self, batch: list[np.ndarray]) -> list[np.ndarray]:
        return [self._forward_one(img) for img in batch]

    def segment(
        self, img: np.ndarray, ink: np.ndarray | None = None
    ) -> list[tuple[int, int]]:
        """Glyph cell column ranges of a (resized) crop — shared by the
        CTC head (which passes its already-computed ink map) and the
        word-box geometry (cal_ocr_word_box analogue)."""
        if ink is None:
            ink = np.clip(1.0 - img / 255.0, 0.0, 1.0)
        col_frac = ink.mean(axis=0)
        thr = max(self.cfg.col_ink_abs, self.cfg.col_ink_rel * float(col_frac.max()))
        inked = col_frac >= thr
        return self._merge_cells(self._runs(inked))

    def _forward_one(self, img: np.ndarray) -> np.ndarray:
        # bilinear output stays within the input range, so no clip is
        # needed on the resized crop
        ink = 1.0 - img * np.float32(1.0 / 255.0)
        cells = self.segment(img, ink)
        # vertical trim is per LINE, not per cell: the text band is the
        # rows holding any ink, so glyphs that do not span the full band
        # (the dash) keep their vertical position in the pooled grid.
        # (Every full-height glyph pools identically to per-cell trim.)
        band = np.flatnonzero(ink.max(axis=1) > 0.4)
        if band.size == 0:
            return np.zeros((0, self.num_classes), dtype=np.float32)
        ink_band = ink[band[0] : band[-1] + 1]
        col_max = ink_band.max(axis=0)
        spans = [
            (c0, c1)
            for c0, c1 in cells
            if c1 - c0 >= self.cfg.min_cell_w and col_max[c0:c1].max() > 0.4
        ]
        k = len(spans)
        if k == 0:
            return np.zeros((0, self.num_classes), dtype=np.float32)
        # one batched separable pool for every glyph cell (they share the
        # band height), then one [K,35]x[35,C] matmul — identical math to
        # K adaptive_avg_pool + match_glyph calls at ~1/K the overhead
        pooled = pool_cells(ink_band, spans, GLYPH_H, GLYPH_W)
        v = pooled.reshape(k, GLYPH_H * GLYPH_W)
        # A line holding only flat glyphs (all-dash) has no full-height
        # ink, so the band collapses to the bar and pooling can no
        # longer tell '-' from a solid block. A cell markedly wider than
        # the band it sits in can only be the charset's one flat glyph.
        band_h = ink_band.shape[0]
        flat = np.array([(c1 - c0) > 2 * band_h for c0, c1 in spans])
        scores, norms = self.class_scores(v)  # [K, num_chars], [K]
        best = scores.argmax(axis=1)
        corr = scores[np.arange(k), best]
        corr = np.where(norms < 1e-9, 0.0, corr)
        best = np.where(norms < 1e-9, 0, best)
        conf = np.clip(corr, 0.0, 0.999).astype(np.float32)
        if flat.any():
            best = np.where(flat, CHARSET.index("-"), best)
            conf = np.where(flat, np.float32(0.95), conf).astype(np.float32)
        # one [frame, frame, blank] triple per emitted symbol; a gap wider
        # than space_gap_w between kept cells inserts a space triple
        # (class 1) — how the decoded text recovers rendered word breaks.
        # An all-flat line's crop is only the bar tall, so the resize
        # magnifies its cells and gaps several times over: measure its
        # gaps against its own cells, scaled to a full-height line's.
        space_w = float(self.cfg.space_gap_w)
        if flat.all():
            space_w *= np.mean([c1 - c0 for c0, c1 in spans]) / FULL_CELL_W
        sym_class = [2 + int(best[0])]
        sym_conf = [conf[0]]
        for gi in range(1, k):
            if spans[gi][0] - spans[gi - 1][1] >= space_w:
                sym_class.append(1)  # space class
                sym_conf.append(np.float32(0.95))
            sym_class.append(2 + int(best[gi]))
            sym_conf.append(conf[gi])
        m = len(sym_class)
        cls_arr = np.array(sym_class)
        conf_arr = np.array(sym_conf, dtype=np.float32)
        frames = np.empty((3 * m, self.num_classes), dtype=np.float32)
        fill = (1.0 - conf_arr) / (self.num_classes - 1)
        frames[0::3] = fill[:, None]
        frames[0::3][np.arange(m), cls_arr] = conf_arr
        frames[1::3] = frames[0::3]
        frames[2::3] = 0.005
        frames[2::3, 0] = 0.99
        return frames

    def class_scores(self, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Pooled glyph cells [K, 35] -> (correlation scores [K, C],
        centered-cell norms [K]). This is the classifier head — the seam
        where kernels/onnx_models.OnnxRecModel swaps in an ONNX session
        (reference: the rec net behind predict_rec.py). Module-attribute
        read of TEMPLATES (NOT an import-time binding): broadcast weight
        installs (font.load_weights) must reach this matmul."""
        v = v - v.mean(axis=1, keepdims=True)
        n = np.linalg.norm(v, axis=1, keepdims=True)
        scores = (v / np.maximum(n, 1e-9)) @ _font.TEMPLATES.T
        return scores, n.ravel()

    def _merge_cells(self, cells: list[tuple[int, int]]) -> list[tuple[int, int]]:
        """Fuse cells separated by sub-min_gap_w gaps (glyph-internal dips)."""
        merged: list[tuple[int, int]] = []
        for c0, c1 in cells:
            if merged and c0 - merged[-1][1] < self.cfg.min_gap_w:
                merged[-1] = (merged[-1][0], c1)
            else:
                merged.append((c0, c1))
        return merged

    @staticmethod
    def _runs(mask: np.ndarray) -> list[tuple[int, int]]:
        padded = np.empty(len(mask) + 2, dtype=bool)
        padded[0] = padded[-1] = False
        padded[1:-1] = mask
        d = np.flatnonzero(padded[1:] != padded[:-1])
        return list(zip(d[0::2].tolist(), d[1::2].tolist()))


def recognize_crops(
    crops: list[np.ndarray], model: RecModel | None = None
) -> list[tuple[str, float]]:
    """Aspect-sorted micro-batched recognition over a list of crops.

    Mirrors the reference batching (predict_rec.py:580-693): argsort by
    w/h, process in chunks of batch_num with a shared per-batch
    max_wh_ratio, scatter results back by original index.
    """
    model = model or RecModel()
    n = len(crops)
    results: list[tuple[str, float]] = [("", 0.0)] * n
    if n == 0:
        return results
    ratios = [c.shape[1] / float(c.shape[0]) for c in crops]
    order = np.argsort(np.array(ratios))
    bs = model.cfg.batch_num
    for beg in range(0, n, bs):
        idxs = order[beg : beg + bs]
        max_wh = max(max(ratios[i] for i in idxs), REC_H / REC_H)
        batch = [rec_resize(crops[i], max_wh) for i in idxs]
        outs = model.forward(batch)
        for i, probs in zip(idxs, outs):
            results[int(i)] = ctc_decode(probs, REC_CHARSET)
    return results
