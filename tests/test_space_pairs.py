"""Exhaustive space-bridging regression: every charset pair "X Y" must
extract as one line with the space intact.

Detection dilation is per-row, so the window must bridge the worst
per-row ink gap across a rendered space — 60px for 'C'+' '+'-' (C's
middle rows trail 4 blank px, the dash's rows lead with 8) — not just
the 44px column-projection gap. h_dilate=24 passed the projection math
yet split '1 400' into two boxes via staggered per-row components; this
test pins the fix (h_dilate=31, window 63) against the full pair space
so no future charset or font change can silently reintroduce the split.
"""

from conftest import page_text

from paddleocr_spark.kernels.font import CHARSET, render_page
from paddleocr_spark.kernels.ocr import OcrEngine

_ENGINE = OcrEngine()


def test_every_charset_pair_bridges_a_space():
    chars = [c for c in CHARSET if c != " "]
    bad = []
    for a in chars:
        for b in chars:
            line = f"{a} {b}"
            got = page_text(_ENGINE, render_page([line]))
            if got != line:
                bad.append((line, got))
    assert not bad, f"{len(bad)} pairs failed, first: {bad[:5]}"
