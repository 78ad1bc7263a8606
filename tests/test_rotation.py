"""Coarse rotation detectors + prioritized sweep integration
(SURVEY.md §2.9 rotation detectors, §2.4 rotation-vote combine)."""

import numpy as np

from conftest import page_text

from paddleocr_spark.kernels.cls import orient_page
from paddleocr_spark.kernels.det import detect_lines
from paddleocr_spark.kernels.font import render_page
from paddleocr_spark.kernels.imageops import rot90k
from paddleocr_spark.kernels.ocr import OcrEngine, get_rotate_crop_image
from paddleocr_spark.kernels.rotation import (
    contour_detector,
    estimate_rotation,
    gradient_detector,
    projection_detector,
)

TEXT = "THEQUICKBROWNFOXJUMPSOVER"
LINES = [TEXT[i : i + 12] for i in range(0, len(TEXT), 12)]


def test_detectors_find_axis_at_all_four_rotations():
    img = render_page(LINES)
    for k in range(4):
        rotated = rot90k(img, k)
        want_axis = 90 if k % 2 else 0
        axis, score = estimate_rotation(rotated)
        assert axis == want_axis, f"k={k}"
        assert score > 0.4
        for det in (projection_detector, gradient_detector, contour_detector):
            a, conf = det(rotated)
            assert a == want_axis and conf > 0.5


def test_blank_page_votes_axis0_with_zero_confidence():
    blank = np.full((100, 100), 255, np.uint8)
    axis, score = estimate_rotation(blank)
    assert axis == 0 and score == 0.0


def test_orient_page_recovers_all_four_rotations():
    eng = OcrEngine()
    img = render_page(LINES)
    for k in range(4):
        rotated = rot90k(img, k)
        upright, angle = orient_page(
            rotated,
            lambda im: detect_lines(im, eng.det_model),
            get_rotate_crop_image,
            eng.rec_model,
        )
        assert angle == (360 - 90 * k) % 360 or (k == 0 and angle == 0)
        assert page_text(eng, upright) == "\n".join(LINES)


def test_oriented_page_runs_det_once_per_probe(monkeypatch):
    """The extraction task reuses the accepted orientation probe's det:
    a 180-degree page costs one detect_lines call per probe, not
    probes + 1, and a page read without orientation costs exactly one
    (`OcrEngine.ocr_page` takes the boxes, it never detects)."""
    import pandas as pd

    from paddleocr_spark.kernels import cls, det, ocr
    from paddleocr_spark.kernels.imageops import rotate180
    from paddleocr_spark.kernels.png import encode_gray_png
    from paddleocr_spark.plans.pipeline import _ocr_batches_run

    real_det, real_orient = det.detect_lines, cls.orient_page

    def counting_det(*args, **kwargs):
        calls["det"] += 1
        return real_det(*args, **kwargs)

    def counting_orient(img, detect_fn, *args, **kwargs):
        def probe(im):
            calls["probe"] += 1
            return detect_fn(im)

        return real_orient(img, probe, *args, **kwargs)

    monkeypatch.setattr(det, "detect_lines", counting_det)
    # also counted if the page chain ever imports det again
    monkeypatch.setattr(ocr, "detect_lines", counting_det, raising=False)
    monkeypatch.setattr(cls, "orient_page", counting_orient)
    # (orient, page, probes): the upright probe of the 180-degree page
    # fails and 180 is accepted; without orient there is no probe
    upright = render_page(LINES)
    for orient, page, probes in (
        (True, rotate180(upright), 2),
        (False, upright, 0),
    ):
        calls = {"det": 0, "probe": 0}
        batch = pd.DataFrame({"url": ["u"], "html": [encode_gray_png(page)]})
        (out,) = list(_ocr_batches_run(iter([batch]), OcrEngine(), 0, orient))
        assert out["extracted_text"][0] == "\n".join(LINES)
        assert calls["probe"] == probes
        assert calls["det"] == max(probes, 1)


def test_reverse_rtl_segments_matches_reference_semantics():
    from paddleocr_spark.kernels.ctc import reverse_rtl_segments

    # pure LTR: unchanged
    assert reverse_rtl_segments("ABC 123") == "ABC 123"
    # pure Arabic: fully reversed
    assert reverse_rtl_segments("ابت") == "تبا"
    # mixed: LTR runs intact, run order flipped, Arabic chars reversed
    assert (
        reverse_rtl_segments("abابcd")
        == "cdباab"
    )
    assert reverse_rtl_segments("") == ""
