"""Golden identity of the scan OCR kernels.

About 200 deterministic pages, upright and rotated, go through
`detect_lines` -> `sorted_boxes` -> crop -> `recognize_crops` on the stub
engine and on the `build_onnx_bundle()` engine. The digest covers the
box bytes, the det score bits, the texts and the rec score bits, plus
the results rows of the extraction task (`_ocr_batches`): with
orientation for the rotated pages, without it for the upright ones. The
pinned digests were computed from the kernels before they were
vectorized (the upright rows' before the task built its engine with
`OcrEngine.from_weights`); a rewrite must reproduce them bit for bit,
never regenerate them.

Recompute (prints the digests, asserts nothing):

    python tests/test_ocr_golden.py
"""

from __future__ import annotations

import hashlib
import random
import struct

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from paddleocr_spark.kernels import font
from paddleocr_spark.kernels.ctc import ctc_decode
from paddleocr_spark.kernels.cls import orient_page
from paddleocr_spark.kernels.det import detect_lines
from paddleocr_spark.kernels.font import CHARSET, REC_CHARSET, render_line, render_page
from paddleocr_spark.kernels.geometry import sorted_boxes
from paddleocr_spark.kernels.imageops import rot90k, rotate180
from paddleocr_spark.kernels.ocr import OcrEngine, get_rotate_crop_image
from paddleocr_spark.kernels.onnx_models import (
    OnnxClsModel,
    build_onnx_bundle,
    onnx_engine_models,
    split_onnx_bundle,
)
from paddleocr_spark.kernels.onnx_rt import session_for
from paddleocr_spark.kernels.png import encode_gray_png
from paddleocr_spark.kernels.rec import RecModel, rec_resize, recognize_crops

GOLDEN = {
    "stub": "550d5e140924eb122cda6618489623d97c2f38ac1bb7e7545c4cea9e3cdc7f45",
    "onnx": "a09b4129c3427619b1c786a70d0726ada0c4321b9b16992f1948f34330427de2",
    "rows_stub": "77e420e408a4eab9910b1f556263f23a63f9f884e9c76f837100c21c38415250",
    "rows_onnx": "23306e4c1d70c0d4b04f306cfaf0b0a7ed9c6c711cc7f70ede9e9763a2ae214a",
    "rows_upright_stub": "077a5ed859278faae0f41725b6807f05b64a3fee6f14a125a0f961e215e88c24",
    "rows_upright_onnx": "1b8d87920965eab03f1cc18272d891e9d88f24e628b79a53bd50d89a54f2c78f",
}

_SPECIAL = [
    [],  # blank page
    ["-"],
    ["-----"],
    ["--", "A"],
    ["-- ---", "AB"],
    ["A"],
    ["7"],
    ["A", "B", "C"],
    ["AB   CD"],
    ["X    Y    Z"],
    ["HELLO  WORLD", "-  -"],
    ["   "],
    ["Q", "   ", "W"],
    ["0O0O0O", "1I1I1I"],
    ["M" * 24],
    ["-" * 24, "W" * 24],
]


def _line(rng: random.Random) -> str:
    kind = rng.random()
    if kind < 0.08:
        return "-" * rng.randint(1, 12)
    if kind < 0.16:
        return rng.choice(CHARSET)
    n = rng.randint(2, 24)
    chars = [rng.choice(CHARSET) for _ in range(n)]
    for _ in range(rng.randint(0, 2)):
        pos = rng.randint(1, n - 1)
        chars[pos : pos + rng.randint(1, 3)] = [" "] * rng.randint(1, 3)
    return "".join(chars)[:24]


def golden_pages() -> tuple[list[np.ndarray], list[np.ndarray]]:
    """(upright pages, rotated pages), deterministic."""
    rng = random.Random(20261018)
    upright = [render_page(ls) for ls in _SPECIAL]
    while len(upright) < 160:
        upright.append(render_page([_line(rng) for _ in range(rng.randint(1, 5))]))
    rotated = []
    for i in range(40):
        lead = "".join(rng.choice("ACEFGJKLPQRTUY2457") for _ in range(4))
        page = render_page([lead + _line(rng), _line(rng)][: 1 + i % 2])
        rotated.append(rot90k(page, 1 + 2 * (i % 3 == 0)) if i % 5 == 0 else rotate180(page))
    return upright, rotated


def _engine(backend: str) -> OcrEngine:
    engine = OcrEngine()
    engine.cls_model = None
    if backend == "onnx":
        parts = split_onnx_bundle(build_onnx_bundle())
        engine.det_model, engine.rec_model = onnx_engine_models(
            parts[0], parts[1], engine.cfg.det, engine.cfg.rec
        )
        engine.cls_model = OnnxClsModel(session_for(parts[2]))
    return engine


def _page_record(h, img: np.ndarray, engine: OcrEngine) -> None:
    boxes, scores = detect_lines(img, engine.det_model)
    h.update(np.ascontiguousarray(boxes, dtype=np.float32).tobytes())
    h.update(struct.pack(f"<{len(scores)}d", *scores))
    ordered = sorted_boxes(boxes)
    crops = [get_rotate_crop_image(img, b) for b in ordered]
    for text, score in recognize_crops(crops, engine.rec_model):
        h.update(text.encode() + b"\0" + struct.pack("<d", score))


def kernel_digest(backend: str) -> str:
    engine = _engine(backend)
    upright, rotated = golden_pages()
    h = hashlib.sha256()
    for img in upright:
        _page_record(h, img, engine)
    for img in rotated:
        probed, angle = orient_page(
            img,
            lambda im: detect_lines(im, engine.det_model),
            get_rotate_crop_image,
            engine.rec_model,
            cls_model=engine.cls_model,
        )
        h.update(struct.pack("<i", angle))
        _page_record(h, probed, engine)
    return h.hexdigest()


class _Broadcast:
    def __init__(self, value: bytes):
        self.value = value


def rows_digest(backend: str, orient: bool = True) -> str:
    """Results rows of the extraction task: over the rotated pages with
    the orientation sweep on, or over the upright pages with it off."""
    from paddleocr_spark.plans.pipeline import _ocr_batches

    blob = build_onnx_bundle() if backend == "onnx" else font.export_weights()
    upright, rotated = golden_pages()
    pages = rotated if orient else upright
    batch = pd.DataFrame(
        {
            "url": [f"golden/{i}" for i in range(len(pages))],
            "html": [encode_gray_png(p) for p in pages],
        }
    )
    h = hashlib.sha256()
    for frame in _ocr_batches(iter([batch]), 0, orient, _Broadcast(blob)):
        for url, idx, spans, text, n in zip(
            frame["url"], frame["img_idx"], frame["spans"],
            frame["extracted_text"], frame["n_spans"],
        ):
            h.update(f"{url}\0{idx}\0{text}\0{n}\0".encode())
            for s in spans:
                h.update(np.asarray(s["box"], dtype=np.float64).tobytes())
                h.update(s["text"].encode() + b"\0" + struct.pack("<d", s["score"]))
    return h.hexdigest()


@pytest.mark.parametrize("backend", ["stub", "onnx"])
def test_kernel_outputs_match_golden(backend):
    assert kernel_digest(backend) == GOLDEN[backend]


@pytest.mark.parametrize("backend", ["stub", "onnx"])
def test_oriented_rows_match_golden(backend):
    assert rows_digest(backend) == GOLDEN[f"rows_{backend}"]


@pytest.mark.parametrize("backend", ["stub", "onnx"])
def test_upright_rows_match_golden(backend):
    assert rows_digest(backend, orient=False) == GOLDEN[f"rows_upright_{backend}"]


_crop_line = st.text(alphabet=CHARSET + " ", min_size=1, max_size=24).filter(str.strip)


@settings(max_examples=40, deadline=None)
@given(
    st.lists(_crop_line, min_size=1, max_size=9),
    st.integers(0, 8),
    st.integers(0, 9),
)
@example(["0"], 0, 0)  # a blank crop ahead of every inked one
def test_crop_result_does_not_depend_on_its_batch(lines, pad, blank_at):
    """A crop's (text, score) is the same alone and in any
    `recognize_crops` call: batch neighbours only set the shared pad
    width, which never reaches a glyph cell. A blank crop reads empty
    wherever it sits."""
    crops = [
        np.pad(render_line(ln), pad + i % 3, constant_values=255).astype(np.float32)
        for i, ln in enumerate(lines)
    ]
    crops.insert(min(blank_at, len(crops)), np.full((30, 40 + pad), 255, np.float32))
    model = RecModel()
    together = recognize_crops(crops, model)
    alone = [recognize_crops([c], model)[0] for c in crops]
    assert together == alone
    assert recognize_crops(crops[::-1], model) == together[::-1]


@settings(max_examples=40, deadline=None)
@given(st.lists(_crop_line, min_size=1, max_size=6), st.integers(0, 8))
@example(["-", "--"], 0)
def test_direct_decode_matches_ctc_of_forward_frames(lines, pad):
    """recognize_crops' direct decode gives each crop what ctc_decode
    reads from RecModel.forward's frames of the same resized crop."""
    crops = [
        np.pad(render_line(ln), pad, constant_values=255).astype(np.float32)
        for ln in lines
    ] + [np.full((30, 40 + pad), 255, np.float32)]
    model = RecModel()
    for crop, got in zip(crops, recognize_crops(crops, model)):
        ratio = max(crop.shape[1] / crop.shape[0], 1.0)
        frames = model.forward([rec_resize(crop, ratio)])[0]
        assert got == ctc_decode(frames, REC_CHARSET)


if __name__ == "__main__":
    for name in ("stub", "onnx"):
        print(name, kernel_digest(name))
        print(f"rows_{name}", rows_digest(name))
        print(f"rows_upright_{name}", rows_digest(name, orient=False))
