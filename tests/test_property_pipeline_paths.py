"""Property round-trips for the non-flagship kernel paths: multipage
PDF payloads and the rotation sweep. The flagship single-page
path is covered by test_property_roundtrip.py; these pin the container
explode order and the orientation search against the same random page
space so a det/rec regression cannot hide behind the happy path.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from conftest import page_text

from paddleocr_spark.kernels.cls import orient_page
from paddleocr_spark.kernels.det import detect_lines
from paddleocr_spark.kernels.font import CHARSET, render_page
from paddleocr_spark.kernels.imageops import rot90k
from paddleocr_spark.kernels.multipage import decode_payload
from paddleocr_spark.kernels.ocr import OcrEngine, get_rotate_crop_image
from paddleocr_spark.kernels.pdf import pdf_encode_gray_pages

_ENGINE = OcrEngine()

_line = st.text(alphabet=CHARSET, min_size=1, max_size=24)
_page = st.lists(_line, min_size=1, max_size=3)


@settings(max_examples=25, deadline=None)
@given(st.lists(_page, min_size=1, max_size=3))
def test_multipage_payload_roundtrips_in_order(pages):
    payload = pdf_encode_gray_pages([render_page(ls) for ls in pages])
    decoded = decode_payload(payload)
    assert len(decoded) == len(pages)
    for ls, img in zip(pages, decoded):
        assert page_text(_ENGINE, img) == "\n".join(ls)


# Orientation needs evidence: pages built only from rotation-symmetric
# glyphs ('000\n001', a lone '1') are GENUINELY ambiguous — the rotated
# page is itself a valid page, and the sweep's confidence scoring is
# allowed to pick it. The fork's real inputs (ID cards) always carry
# asymmetric text, so require every line to lead with a few strongly
# chiral characters while the rest stays fully random.
_CHIRAL = "ACEFGJKLPQRTUY2457"
_orient_line = st.tuples(
    st.text(alphabet=_CHIRAL, min_size=3, max_size=6),
    st.text(alphabet=CHARSET, min_size=0, max_size=18),
).map(lambda t: t[0] + t[1])
_orient_page = st.lists(_orient_line, min_size=2, max_size=3)


@settings(max_examples=20, deadline=None)
@given(_orient_page, st.sampled_from([0, 1, 2, 3]))
def test_rotation_sweep_recovers_any_quarter_turn(lines, k):
    rotated = rot90k(render_page(lines), k)
    upright, _angle = orient_page(
        rotated,
        lambda im: detect_lines(im, _ENGINE.det_model),
        get_rotate_crop_image,
        _ENGINE.rec_model,
    )
    assert page_text(_ENGINE, upright) == "\n".join(lines)
