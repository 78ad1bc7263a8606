"""Text recognition stage: batch resize policy + deterministic CTC model.

Resize semantics from the reference (tools/infer/predict_rec.py:205-258):
target height 48; per-batch max width = ceil(48 * max_wh_ratio) computed
over the aspect-sorted batch; each crop is width-scaled proportionally,
capped at the batch width, zero-padded on the right. `recognize_crops`
sorts crops by aspect ratio and scatters results back by original index
(predict_rec.py:580-600). Each batch is resized into one [n, 48, W] array
and read in one pass: segmentation, the text band, pooling and symbol
assembly are array operations over all its crops and cells, with every
reduction in the order a crop-at-a-time pass uses, so a crop's result
does not depend on its batch. Only the classifier head
(`RecModel.class_scores`) still runs once per crop, to keep each crop's
own matmul. The orientation probe (`cls._read_score`) reads through
`recognize_crops` too; `RecModel.forward` gives the same symbols as CTC
frames.

The "model" is a deterministic CTC head: binarize the crop, split into
glyph cells at low-ink columns, correlate each pooled 7x5 cell against the
font templates, and read one symbol per cell. `forward` shapes them like
a CTC output (char frames separated by blank frames) for the real
CTCLabelDecode; `recognize_crops` decodes them with the same result
without building frames. The classifier drops in behind
`RecModel.class_scores` (`onnx_models.OnnxRecModel` runs it as an ONNX
graph).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from .font import CHARSET, GLYPH_H, GLYPH_W, REC_CHARSET, TEMPLATES
from .imageops import pool_bins_batch, resize_bilinear

REC_H = 48


def rec_resize(
    crop: np.ndarray, max_wh_ratio: float, out: np.ndarray | None = None
) -> np.ndarray:
    """Resize a crop to [48, ceil(48*max_wh_ratio)] with proportional width
    + right zero-pad (white background = 255 pre-normalize, so pad with 0
    ink after normalization; we pad with 255 in pixel space). With `out`
    (a float32 [48, ceil(48*max_wh_ratio)] array), it is filled instead."""
    img_h, img_w = crop.shape[:2]
    img_w_target = int(math.ceil(REC_H * max_wh_ratio))
    ratio = img_w / float(img_h)
    resized_w = img_w_target if math.ceil(REC_H * ratio) > img_w_target else int(
        math.ceil(REC_H * ratio)
    )
    if out is None:
        out = np.empty((REC_H, img_w_target), dtype=np.float32)
    out[:, resized_w:] = 255.0
    resize_bilinear(crop, REC_H, resized_w, out=out[:, :resized_w])
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

# Work arrays up to this size are kept for reuse (RecModel._scratch): a
# batch of six ~600-column crops needs about 1.3 MB for the largest.
_SCRATCH_MAX_BYTES = 8 << 20


class RecModel:
    """Deterministic recognition head emitting CTC-style [T, C] probs.
    `templates` are its classifier weights (`font.load_weights` of a
    broadcast blob); the font's own by default."""

    def __init__(
        self, cfg: RecConfig | None = None, templates: np.ndarray | None = None
    ):
        self.cfg = cfg or RecConfig()
        self.templates = TEMPLATES if templates is None else templates
        self.num_classes = len(REC_CHARSET) + 1  # + blank at 0, space at 1
        self._buffers: dict[str, np.ndarray] = {}

    def forward(self, batch: list[np.ndarray]) -> list[np.ndarray]:
        """rec_resize outputs (float32 [48, W]) -> CTC frames [T, C] each,
        for a real CTCLabelDecode (`ctc.ctc_decode`). recognize_crops
        decodes the same symbols directly (`_decode`)."""
        width = max((b.shape[1] for b in batch), default=1)
        img = np.full((len(batch), REC_H, width), 255.0, dtype=np.float32)
        for i, b in enumerate(batch):
            img[i, :, : b.shape[1]] = b
        sym, conf, bounds = self._symbols(img)
        return [self._frames(sym[a:b], conf[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]

    def _decode(
        self, sym: np.ndarray, conf: np.ndarray, bounds: np.ndarray
    ) -> list[tuple[str, float]]:
        """ctc_decode of each crop's frames, straight from its symbols:
        each symbol's [frame, frame, blank] triple keeps exactly one frame
        iff its confidence beats the frame's fill (an argmax tie goes to
        blank, index 0), and the kept frame's max is that confidence, so
        each crop's kept values, and their mean, are the same."""
        kept = conf > (1.0 - conf) / (self.num_classes - 1)
        chars = [REC_CHARSET[c - 1] for c in sym[kept].tolist()]
        vals = conf[kept]
        cuts = np.concatenate(([0], np.cumsum(kept))).take(bounds).tolist()
        return [
            ("".join(chars[a:b]), float(vals[a:b].mean())) if b > a else ("", 0.0)
            for a, b in zip(cuts[:-1], cuts[1:])
        ]

    def segment(
        self, img: np.ndarray, ink: np.ndarray | None = None
    ) -> list[tuple[int, int]]:
        """Glyph cell column ranges of a (resized) crop — the word-box
        geometry's (cal_ocr_word_box analogue) view of the cells the CTC
        head finds in `_symbols`."""
        if ink is None:
            ink = np.clip(1.0 - img / 255.0, 0.0, 1.0)
        col_frac = ink.mean(axis=0)
        thr = max(self.cfg.col_ink_abs, self.cfg.col_ink_rel * float(col_frac.max()))
        inked = col_frac >= thr
        return self._merge_cells(self._runs(inked))

    def _symbols(self, img: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Symbols of a stacked float32 [n, 48, W] batch (overwritten):
        (classes [m] int, confidences [m] float32, per-crop bounds [n+1]).

        One pass over the whole batch; right-padding with background is
        zero ink and never reaches a cell. Every reduction runs in the
        order a pass over the crop alone would, so a crop's bits do not
        depend on its batch: column means add the 48 rows in order, the
        band's row cumsum starts at the band's first row (rows above it
        are zeroed, and 0 + x == x), the column cumsum starts at the
        crop's column 0, and each crop keeps its own class_scores matmul.
        """
        n, _, width = img.shape
        cfg = self.cfg
        # ink = 1 - img/255, in place; bilinear output stays within the
        # input range, so no clip is needed on the resized crop
        ink = img
        np.multiply(ink, np.float32(1.0 / 255.0), out=ink)
        np.subtract(1.0, ink, out=ink)

        # glyph cells: column runs at or above each crop's ink threshold,
        # fused across sub-min_gap_w gaps (segment, for all crops at once)
        col_frac = ink.mean(axis=1)
        thr = np.maximum(
            cfg.col_ink_abs, cfg.col_ink_rel * col_frac.max(axis=1).astype(np.float64)
        )
        inked = np.zeros((n, width + 2), dtype=bool)
        inked[:, 1:-1] = col_frac >= thr.astype(np.float32)[:, None]
        d = np.flatnonzero(inked[:, 1:].ravel() != inked[:, :-1].ravel())
        crop = d[0::2] // (width + 1)
        c0 = d[0::2] - crop * (width + 1)
        c1 = d[1::2] - crop * (width + 1)
        fresh = np.ones(len(crop), dtype=bool)
        fresh[1:] = (crop[1:] != crop[:-1]) | (c0[1:] - c1[:-1] >= cfg.min_gap_w)
        first = np.flatnonzero(fresh)
        last = np.append(first[1:], len(fresh))[: len(first)] - 1
        crop, c0, c1 = crop[first], c0[first], c1[last]

        # vertical trim is per LINE, not per cell: the text band is the
        # rows holding any ink, so glyphs that do not span the full band
        # (the dash) keep their vertical position in the pooled grid.
        # (Every full-height glyph pools identically to per-cell trim.)
        has_ink = ink.max(axis=2) > 0.4
        banded = has_ink.any(axis=1)
        b0 = has_ink.argmax(axis=1)
        b1 = REC_H - 1 - has_ink[:, ::-1].argmax(axis=1)
        top, bottom = int(b0[banded].min(initial=0)), int(b1[banded].max(initial=0))
        b0, b1 = np.where(banded, b0, top), np.where(banded, b1, top)
        band_h = b1 - b0 + 1
        rows = np.arange(REC_H)
        ink[(rows < b0[:, None]) | (rows > b1[:, None])] = 0.0
        band = ink[:, top : bottom + 1]

        # keep cells at least min_cell_w wide whose band ink peaks over
        # 0.4 (a float32 peak compared in float64, as a numpy scalar is)
        col_max = np.append(band.max(axis=1).ravel(), np.float32(0.0))
        cuts = np.stack((crop * width + c0, crop * width + c1), axis=1).ravel()
        peak = np.maximum.reduceat(col_max, cuts)[0::2] if len(crop) else col_max[:0]
        keep = banded[crop] & (c1 - c0 >= cfg.min_cell_w) & (peak.astype(np.float64) > 0.4)
        crop, c0, c1 = crop[keep], c0[keep], c1[keep]
        k = len(crop)
        counts = np.bincount(crop, minlength=n)
        if k == 0:
            none = np.zeros(0, dtype=np.int64)
            return none, none.astype(np.float32), np.zeros(n + 1, dtype=np.int64)

        # one separable pool for every glyph cell: a float64 row cumsum
        # per crop from its band's first row (one leading zero row), the
        # crop's GLYPH_H row bins, a column cumsum per (crop, bin) row,
        # then each cell's GLYPH_W column bins as gathers. The row cumsum
        # runs row by row over a [row, crop, column] copy: numpy's cumsum
        # along an outer axis runs one short inner loop per column and
        # costs several times more (same adds in the same order, and
        # x + y == y + x).
        cs = self._scratch("cs", (bottom - top + 2, n, width), np.float64)
        cs[0] = 0.0
        cs[1:] = band.transpose(1, 0, 2)
        for r in range(1, bottom - top + 2):
            np.add(cs[r - 1], cs[r], out=cs[r])
        r_lo, r_hi = pool_bins_batch(band_h, GLYPH_H)  # [n, GLYPH_H] each
        off = b0 - top
        binned = self._scratch("binned", (n, GLYPH_H, width), np.float64)
        for i in range(n):
            np.subtract(cs[off[i] + r_hi[i], i], cs[off[i] + r_lo[i], i], out=binned[i])
        csum = self._scratch("csum", (n, GLYPH_H, width + 1), np.float64)
        csum[:, :, 0] = 0.0
        np.cumsum(binned, axis=2, out=csum[:, :, 1:])
        cw = c1 - c0
        lo, hi = pool_bins_batch(cw, GLYPH_W)
        # each cell's [GLYPH_H, GLYPH_W] bin sums, gathered from the
        # flattened csum at (crop, row bin, column) offsets
        at = (crop[:, None] * GLYPH_H + np.arange(GLYPH_H)) * (width + 1) + c0[:, None]
        at = at[:, :, None]
        flat = csum.reshape(-1)
        sums = flat[at + hi[:, None, :]] - flat[at + lo[:, None, :]]
        area = (r_hi - r_lo)[crop][:, :, None] * (hi - lo)[:, None, :]
        pooled = (sums / np.maximum(area, 1)).astype(np.float32)
        v = pooled.reshape(k, GLYPH_H * GLYPH_W)

        bounds = np.concatenate(([0], np.cumsum(counts)))
        parts = [
            self.class_scores(v[a:b]) for a, b in zip(bounds[:-1], bounds[1:]) if b > a
        ]
        scores = np.concatenate([p[0] for p in parts])  # [K, num_chars]
        norms = np.concatenate([p[1] for p in parts])
        best = scores.argmax(axis=1)
        corr = scores[np.arange(k), best]
        corr = np.where(norms < 1e-9, 0.0, corr)
        best = np.where(norms < 1e-9, 0, best)
        conf = np.clip(corr, 0.0, 0.999).astype(np.float32)
        # A line holding only flat glyphs (all-dash) has no full-height
        # ink, so the band collapses to the bar and pooling can no
        # longer tell '-' from a solid block. A cell markedly wider than
        # the band it sits in can only be the charset's one flat glyph.
        flat = cw > 2 * band_h[crop]
        best = np.where(flat, CHARSET.index("-"), best)
        conf = np.where(flat, np.float32(0.95), conf).astype(np.float32)

        # one symbol per cell, after a space symbol (class 1) where the
        # gap to the previous kept cell reaches space_gap_w — how the
        # decoded text recovers rendered word breaks. An all-flat line's
        # crop is only the bar tall, so the resize magnifies its cells and
        # gaps several times over: measure its gaps against its own
        # cells, scaled to a full-height line's.
        space_w = np.full(n, float(cfg.space_gap_w))
        for i in np.flatnonzero(np.bincount(crop, weights=flat, minlength=n) == counts):
            if counts[i]:
                cells = cw[bounds[i] : bounds[i + 1]]
                space_w[i] *= np.mean(cells.tolist()) / FULL_CELL_W
        space = np.zeros(k, dtype=bool)
        space[1:] = (crop[1:] == crop[:-1]) & (c0[1:] - c1[:-1] >= space_w[crop[1:]])
        at = np.arange(k) + np.cumsum(space)
        m = k + int(space.sum())
        sym = np.ones(m, dtype=np.int64)
        sym_conf = np.full(m, np.float32(0.95), dtype=np.float32)
        sym[at] = 2 + best
        sym_conf[at] = conf
        per_crop = counts + np.bincount(crop[space], minlength=n)
        return sym, sym_conf, np.concatenate(([0], np.cumsum(per_crop)))

    def _scratch(self, key: str, shape: tuple, dtype) -> np.ndarray:
        """A work array reused across calls. A fresh array past malloc's
        mmap threshold comes back as new zeroed pages once the heap is
        trimmed, and those page faults cost more than the arithmetic on
        a batch-sized [n, 48, W] array."""
        size = int(np.prod(shape))
        buf = self._buffers.get(key)
        if buf is None or buf.size < size:
            buf = np.empty(size, dtype=dtype)
            if buf.nbytes <= _SCRATCH_MAX_BYTES:
                self._buffers[key] = buf
        return buf[:size].reshape(shape)

    def _frames(self, sym: np.ndarray, conf: np.ndarray) -> np.ndarray:
        """One [frame, frame, blank] triple per symbol."""
        m = len(sym)
        frames = np.empty((3 * m, self.num_classes), dtype=np.float32)
        fill = (1.0 - conf) / (self.num_classes - 1)
        frames[0::3] = fill[:, None]
        frames[0::3][np.arange(m), sym] = conf
        frames[1::3] = frames[0::3]
        frames[2::3] = 0.005
        frames[2::3, 0] = 0.99
        return frames

    def class_scores(self, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Pooled glyph cells [K, 35] -> (correlation scores [K, C],
        centered-cell norms [K]). This is the classifier head — the seam
        where kernels/onnx_models.OnnxRecModel swaps in an ONNX session
        (reference: the rec net behind predict_rec.py)."""
        v = v - v.mean(axis=1, keepdims=True)
        n = np.linalg.norm(v, axis=1, keepdims=True)
        scores = (v / np.maximum(n, 1e-9)) @ self.templates.T
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
        img = model._scratch(
            "img", (len(idxs), REC_H, int(math.ceil(REC_H * max_wh))), np.float32
        )
        for j, i in enumerate(idxs):
            rec_resize(crops[i], max_wh, out=img[j])
        for i, res in zip(idxs, model._decode(*model._symbols(img))):
            results[int(i)] = res
    return results
