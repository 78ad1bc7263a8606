"""Deterministic 5x7 bitmap font and page renderer.

The sandbox has no cv2/PIL and no network, so fixture pages are rendered
with this font (seeded, reproducible) and the recognition stage recovers
text from the same glyph space. This mirrors the reference's fixture-image
strategy (reference tests/test_files/*.png are known-text renders used by
tests/pipelines/test_ocr.py:17-39) while keeping CI hermetic.

Charset is A-Z0-9: the OCR round-trip contract normalizes text to this
class (see sources/pages.py), which keeps the DuckDB oracle expressible as
plain SQL (upper + regexp_replace).
"""

from __future__ import annotations

import numpy as np

# 7 rows x 5 cols per glyph; '#' = ink.
_RAW = {
    "A": [".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"],
    "B": ["####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."],
    "C": [".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."],
    "D": ["####.", "#...#", "#...#", "#...#", "#...#", "#...#", "####."],
    "E": ["#####", "#....", "#....", "####.", "#....", "#....", "#####"],
    "F": ["#####", "#....", "#....", "####.", "#....", "#....", "#...."],
    "G": [".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".####"],
    "H": ["#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"],
    "I": ["#####", "..#..", "..#..", "..#..", "..#..", "..#..", "#####"],
    "J": ["..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."],
    "K": ["#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"],
    "L": ["#....", "#....", "#....", "#....", "#....", "#....", "#####"],
    "M": ["#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"],
    "N": ["#...#", "##..#", "##..#", "#.#.#", "#..##", "#..##", "#...#"],
    "O": [".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."],
    "P": ["####.", "#...#", "#...#", "####.", "#....", "#....", "#...."],
    "Q": [".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"],
    "R": ["####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"],
    "S": [".####", "#....", "#....", ".###.", "....#", "....#", "####."],
    "T": ["#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."],
    "U": ["#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."],
    "V": ["#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."],
    "W": ["#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"],
    "X": ["#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"],
    "Y": ["#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."],
    "Z": ["#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"],
    "0": [".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."],
    "1": ["..#..", ".##..", "..#..", "..#..", "..#..", "..#..", "#####"],
    "2": [".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"],
    "3": [".###.", "#...#", "....#", "..##.", "....#", "#...#", ".###."],
    "4": ["...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."],
    "5": ["#####", "#....", "####.", "....#", "....#", "#...#", ".###."],
    "6": [".###.", "#....", "#....", "####.", "#...#", "#...#", ".###."],
    "7": ["#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."],
    "8": [".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."],
    "9": [".###.", "#...#", "#...#", ".####", "....#", "....#", ".###."],
    "-": [".....", ".....", ".....", "#####", ".....", ".....", "....."],
}

CHARSET = "".join(sorted(_RAW))  # deterministic order: '-' then 0-9 then A-Z
# Recognition label space: space is decoded from wide inter-glyph gaps
# (no ink -> no template), so it is a rec class but not a glyph.
REC_CHARSET = " " + CHARSET
GLYPH_H, GLYPH_W = 7, 5

GLYPHS = {
    ch: np.array([[c == "#" for c in row] for row in rows], dtype=np.float32)
    for ch, rows in _RAW.items()
}

# Normalized templates for correlation-based matching (recognition stub).
_templates = np.stack([GLYPHS[c].ravel() for c in CHARSET])  # [K, 35]
_t_mean = _templates.mean(axis=1, keepdims=True)
_t_cent = _templates - _t_mean
_t_norm = np.linalg.norm(_t_cent, axis=1, keepdims=True)
TEMPLATES = _t_cent / np.maximum(_t_norm, 1e-9)  # [K, 35], unit vectors


_SCALED_CACHE: dict = {}


def _scaled_glyph(ch: str, scale: int) -> np.ndarray:
    """uint8 rendered glyph block, cached per (char, scale): kron-scaling
    every glyph occurrence dominated fixture rendering cost otherwise."""
    key = (ch, scale)
    block = _SCALED_CACHE.get(key)
    if block is None:
        g = np.kron(GLYPHS[ch], np.ones((scale, scale), dtype=np.float32))
        block = np.where(g > 0.5, np.uint8(0), np.uint8(255))
        _SCALED_CACHE[key] = block
    return block


def render_line(
    text: str, scale: int = 4, spacing: int = 12
) -> np.ndarray:
    """Render one text line to a uint8 grayscale image (255 bg, 0 ink).

    scale: pixels per font cell; spacing: blank pixels between glyphs.
    Unknown chars raise (the normalization upstream guarantees charset).
    """
    h = GLYPH_H * scale
    adv = GLYPH_W * scale + spacing
    w = max(1, len(text) * adv - spacing)
    img = np.full((h, w), 255, dtype=np.uint8)
    x = 0
    gw = GLYPH_W * scale
    for ch in text:
        if ch == " ":
            x += adv
            continue
        block = _scaled_glyph(ch, scale)
        np.minimum(img[:, x : x + gw], block, out=img[:, x : x + gw])
        x += adv
    return img


def render_page(
    lines: list[str],
    scale: int = 4,
    spacing: int = 12,
    margin: int = 24,
    line_gap: int = 52,
) -> np.ndarray:
    # line_gap must exceed 2x the DB unclip delta (< 0.75 * line height,
    # see kernels/db_postprocess.unclip_rect) so unclipped boxes of
    # adjacent lines never overlap — same role as DB's shrink-map training.
    """Render lines top-to-bottom onto a white page; returns uint8 [H, W]."""
    rendered = [render_line(ln, scale, spacing) for ln in lines if ln]
    if not rendered:
        return np.full((margin * 2 + GLYPH_H * scale, margin * 2 + 32), 255, np.uint8)
    line_h = GLYPH_H * scale
    w = max(r.shape[1] for r in rendered) + 2 * margin
    h = 2 * margin + len(rendered) * line_h + (len(rendered) - 1) * line_gap
    page = np.full((h, w), 255, dtype=np.uint8)
    y = margin
    for r in rendered:
        page[y : y + line_h, margin : margin + r.shape[1]] = r
        y += line_h + line_gap
    return page


def match_glyph(cell: np.ndarray) -> tuple[str, float]:
    """Match a pooled 7x5 float cell against the font; returns (char, corr).

    Correlation of mean-centered unit vectors; corr in [-1, 1].
    """
    v = cell.astype(np.float32).ravel()
    v = v - v.mean()
    n = np.linalg.norm(v)
    if n < 1e-9:
        return CHARSET[0], 0.0
    scores = TEMPLATES @ (v / n)
    k = int(np.argmax(scores))
    return CHARSET[k], float(scores[k])


def export_weights() -> bytes:
    """Serialize the recognition head's 'model weights' — the normalized
    glyph templates and their label order. The driver broadcasts this
    blob and every extraction task builds its engine from it
    (plans/pipeline.extract_pages), the same ship-weights-once pattern
    the reference's spark-ready deployment describes for ONNX payloads
    (north_star: 'broadcast model weights'); a real model swap replaces
    this blob with the ONNX bytes."""
    import io

    buf = io.BytesIO()
    np.savez(
        buf,
        templates=TEMPLATES,
        charset=np.frombuffer(CHARSET.encode("ascii"), dtype=np.uint8),
    )
    return buf.getvalue()


def load_weights(blob: bytes) -> np.ndarray:
    """The recognition head's templates from a broadcast weights blob
    (`export_weights`). Validates the label space; template values come
    from the blob, so a driver-side weight change genuinely propagates
    to every worker (`ocr.OcrEngine.from_weights`)."""
    import io

    z = np.load(io.BytesIO(blob))
    charset = z["charset"].tobytes().decode("ascii")
    if charset != CHARSET:
        raise ValueError("weight blob label space does not match CHARSET")
    t = np.asarray(z["templates"], dtype=np.float32)
    if t.shape != (len(CHARSET), GLYPH_H * GLYPH_W):
        raise ValueError(f"bad template shape {t.shape}")
    return t
