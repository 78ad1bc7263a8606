"""Payload router: the one place extraction decides what a payload is.

The reference picks a decoder from the bytes in one function
(`check_and_read`, ppocr/utils/utility.py:119-152). `route` is that
function here, on `operators/media.sniff_mime`'s WHATWG rules, and
returns `(kind, offset)`:
- `html`: the tag-open rule, after a UTF-8 BOM and one `<?xml ...?>`;
- `pdf`: `%PDF-` anywhere in the first 1 KiB; the file is
  `payload[offset:]`;
- `png`, `jpeg`, `gif` (frame 0, as the reference), `tiff`: a scan;
- `error`: anything else.

`decode_payload` turns a pdf or scan payload into gray pages, one per
PDF page (the 1->N explode before OCR), capped like the reference's
page_num flag (tools/infer/predict_system.py:221-224). operators/media
is imported at call time, so importing this module stays Spark-free."""

from __future__ import annotations

import numpy as np

from .jpeg import jpeg_decode
from .pdf import pdf_decode_pages
from .png import decode_gray_png

_BOM = b"\xef\xbb\xbf"
_PDF_WINDOW = 1024
_MIME_KINDS = {"text/html": "html", "application/pdf": "pdf"} | {
    f"image/{k}": k for k in ("png", "jpeg", "gif", "tiff")
}


def route(payload: bytes) -> tuple[str, int]:
    """(kind, offset) of a payload; see the module docstring."""
    from paddleocr_spark.operators.media import sniff_mime

    start = len(_BOM) if payload.startswith(_BOM) else 0
    if payload.startswith(b"<?xml", start):
        end = payload.find(b"?>", start)
        if end >= 0:
            start = end + 2
    # sniff_mime reads at most the first 512 bytes
    kind = _MIME_KINDS.get(sniff_mime(payload[start : start + 512])[0])
    if kind is not None:
        return kind, 0
    offset = payload.find(b"%PDF-", 0, _PDF_WINDOW)
    return ("pdf", offset) if offset >= 0 else ("error", 0)


def _gif_gray(data: bytes) -> np.ndarray:
    from paddleocr_spark.operators.media import gif_decode

    w, h, palette, frames = gif_decode(data)
    # ITU-R BT.601 luma, exact for gray palette entries
    luma = np.array(
        [(299 * r + 587 * g + 114 * b + 500) // 1000 for r, g, b in palette],
        dtype=np.uint8,
    )
    return luma[np.frombuffer(frames[0], dtype=np.uint8)].reshape(h, w)


def _tiff_gray(data: bytes) -> np.ndarray:
    from paddleocr_spark.operators.media import tiff_decode

    w, h, pixels = tiff_decode(data)
    return np.frombuffer(pixels, dtype=np.uint8).reshape(h, w)


_SCAN_DECODERS = {
    "png": decode_gray_png,
    "jpeg": lambda data: jpeg_decode(data)[4],
    "gif": _gif_gray,
    "tiff": _tiff_gray,
}


def decode_pages(
    payload: bytes, kind: str, offset: int, page_limit: int = 0
) -> list[np.ndarray]:
    """Gray pages of a payload routed to (kind, offset). PDF FlateDecode
    pages decode losslessly, DCTDecode pages through the JPEG kernel;
    the cap goes INTO the page-tree walk, so pages past it are never
    decompressed."""
    if kind == "pdf":
        return [
            np.frombuffer(img, dtype=np.uint8).reshape(h, w)
            if filt == "FlateDecode"
            else jpeg_decode(img)[4]
            for w, h, filt, img, _content in pdf_decode_pages(
                payload[offset:], page_limit
            )
        ]
    decoder = _SCAN_DECODERS.get(kind)
    if decoder is None:
        raise ValueError(f"no page decoder for a {kind} payload")
    return [decoder(payload)]


def decode_payload(data: bytes, page_limit: int = 0) -> list[np.ndarray]:
    """Route `data`, then decode it to gray pages."""
    return decode_pages(data, *route(data), page_limit)
