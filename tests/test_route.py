"""The payload router (kernels/multipage.route): one table of real-world
byte shapes, each pinned to its route AND to the rows the extraction
UDF emits for it, plus the scan image kinds end to end through Spark."""

import numpy as np
import pandas as pd
import pytest

from paddleocr_spark.kernels.font import render_page
from paddleocr_spark.kernels.jpeg import ZIGZAG, _IDCT, jpeg_encode_blocks
from paddleocr_spark.kernels.multipage import route
from paddleocr_spark.kernels.ocr import OcrEngine
from paddleocr_spark.kernels.pdf import pdf_encode_gray_pages, pdf_encode_text_pages
from paddleocr_spark.kernels.png import encode_gray_png
from paddleocr_spark.operators.html_extract import synthesize_html
from paddleocr_spark.operators.media import gif_encode, tiff_encode
from paddleocr_spark.plans.pipeline import _ocr_batches_run

LINES = ["ROUTE 42", "SCAN-7 PAGE"]
TEXT = "The router sends this article body to the DOM main-content strip."
PDF_PAGES = [["FIRST PAGE", "LINE TWO"], ["SECOND PAGE"]]


def _jpeg(img: np.ndarray) -> bytes:
    """Near-lossless baseline JPEG (all-ones quantizer) of a gray page,
    padded white to whole 8x8 blocks."""
    h, w = img.shape
    ny, nx = -(-h // 8), -(-w // 8)
    page = np.full((ny * 8, nx * 8), 255, dtype=np.float64)
    page[:h, :w] = img
    blocks = []
    for by in range(ny):
        for bx in range(nx):
            tile = page[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            coeffs = (_IDCT.T @ tile @ _IDCT).ravel()
            blocks.append([int(round(coeffs[ZIGZAG[k]])) for k in range(64)])
    return jpeg_encode_blocks(blocks, nx, ny, [1] * 64)


def _gif(img: np.ndarray) -> bytes:
    h, w = img.shape
    gray = [(v, v, v) for v in range(256)]
    return gif_encode([img.tobytes()], w, h, gray)


def _tiff(img: np.ndarray) -> bytes:
    h, w = img.shape
    return tiff_encode(img.tobytes(), w, h, big_endian=True, packbits=True)


def _text_pdf() -> bytes:
    return pdf_encode_text_pages(PDF_PAGES, [[0, 1], [2]])


SCANS = {
    "png": encode_gray_png,
    "jpeg": _jpeg,
    "gif": _gif,
    "tiff": _tiff,
}
ERROR = [(-1, "")]
OCR = [(0, "\n".join(LINES))]
PDF_ROWS = [(k, "\n".join(lines)) for k, lines in enumerate(PDF_PAGES)]

# (id, payload factory, route, rows as [(img_idx, extracted_text)])
TABLE = [
    ("text-quoting-html",
     lambda: b"release notes: the old page opened with <html> and <body>\n",
     ("error", 0), ERROR),
    ("bom-doctype",
     lambda: b"\xef\xbb\xbf" + synthesize_html(TEXT, 0).encode(),
     ("html", 0), [(0, TEXT)]),
    ("xml-prolog",
     lambda: b'<?xml version="1.0" encoding="utf-8"?>\n'
     + synthesize_html(TEXT, 1).encode().replace(b"<!DOCTYPE html>", b""),
     ("html", 0), [(0, TEXT)]),
    ("comment-banner",
     lambda: b"<!-- cached page, generated 2026 -->\n"
     + synthesize_html(TEXT, 2).encode(),
     ("html", 0), [(0, TEXT)]),
    ("pdf-at-0", _text_pdf, ("pdf", 0), PDF_ROWS),
    ("pdf-after-200-junk-bytes",
     lambda: bytes(range(200)) + _text_pdf(), ("pdf", 200), PDF_ROWS),
    ("pdf-past-1kib", lambda: b" " * 1100 + _text_pdf(), ("error", 0), ERROR),
    ("pdf-of-no-page", lambda: pdf_encode_gray_pages([]), ("pdf", 0), ERROR),
    ("gzip", lambda: b"\x1f\x8b\x08\x00" + bytes(60), ("error", 0), ERROR),
] + [
    (kind, lambda enc=enc: enc(render_page(LINES)), (kind, 0), OCR)
    for kind, enc in SCANS.items()
]


def _rows(payload: bytes) -> list[tuple[int, str]]:
    batch = pd.DataFrame({"url": ["u"], "html": [payload]})
    (out,) = list(_ocr_batches_run(iter([batch]), OcrEngine(), page_limit=0))
    return list(zip(out["img_idx"], out["extracted_text"]))


@pytest.mark.parametrize(
    "make, want_route, want_rows",
    [case[1:] for case in TABLE],
    ids=[case[0] for case in TABLE],
)
def test_route_table(make, want_route, want_rows):
    payload = make()
    assert route(payload) == want_route
    assert _rows(payload) == want_rows


def test_dom_strip_exception_is_an_error_row(monkeypatch):
    import paddleocr_spark.operators.html_extract as html_extract

    def boom(_html):
        raise RuntimeError("parser blew up")

    monkeypatch.setattr(html_extract, "extract_main_text", boom)
    assert _rows(synthesize_html(TEXT, 0).encode()) == ERROR


def test_scan_kinds_through_extract_pages(spark):
    from paddleocr_spark.plans.pipeline import extract_pages

    page = render_page(LINES)
    pages = spark.createDataFrame(
        [(f"https://scan.example.test/{kind}", bytearray(enc(page)))
         for kind, enc in SCANS.items()],
        "url string, html binary",
    )
    rows = extract_pages(pages, num_partitions=2).collect()
    got = {r.url.rsplit("/", 1)[1]: (r.img_idx, r.extracted_text) for r in rows}
    assert got == {kind: OCR[0] for kind in SCANS}
