"""What the benchmark in `perfbench/` reaches of the package.

perfbench imports names from `paddleocr_spark` and, in its traced run,
replays the extraction path layer by layer (`perfbench.ledger.replay`)
and compares that text with the Spark job's rows. A refactor that
renames one of those names, or makes the extraction task read a page
differently from the replay, would otherwise only show in a traced
perfbench run. Both are checked here without Spark.
"""

import ast
import importlib
import importlib.util
from pathlib import Path
from types import SimpleNamespace

import pytest

from paddleocr_spark.kernels.font import export_weights, render_page
from paddleocr_spark.kernels.imageops import rotate180
from paddleocr_spark.kernels.onnx_models import build_onnx_bundle
from paddleocr_spark.kernels.pdf import pdf_encode_gray_pages
from paddleocr_spark.kernels.png import encode_gray_png
from paddleocr_spark.operators.html_extract import synthesize_html
from paddleocr_spark.operators.media import synth_text_pdf

PERFBENCH = Path(__file__).resolve().parent.parent / "perfbench"


def _imported_names():
    """(file, module, name) of every `from paddleocr_spark... import`
    in perfbench, plus (file, module, attr) of every attribute read off
    a package module it imports by name (`font.load_weights`)."""
    out = []
    for path in sorted(PERFBENCH.glob("*.py")):
        tree = ast.parse(path.read_text())
        modules = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "paddleocr_spark"
            ):
                for alias in node.names:
                    out.append((path.name, node.module, alias.name))
                    sub = f"{node.module}.{alias.name}"
                    if _is_module(sub):
                        modules[alias.asname or alias.name] = sub
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in modules
            ):
                out.append((path.name, modules[node.value.id], node.attr))
    return sorted(set(out))


def _is_module(name: str) -> bool:
    try:
        return importlib.util.find_spec(name) is not None
    except ModuleNotFoundError:
        return False


NAMES = _imported_names()


def test_names_include_the_replay_and_weights_seams():
    assert {(m, n) for _f, m, n in NAMES} >= {
        ("paddleocr_spark.plans.pipeline", "extract_pages"),
        ("paddleocr_spark.plans.pipeline", "_sniff_html"),
        ("paddleocr_spark.kernels.font", "load_weights"),
        ("paddleocr_spark.kernels.font", "TEMPLATES"),
    }


@pytest.mark.parametrize("file, module, name", NAMES, ids=[":".join(n) for n in NAMES])
def test_perfbench_name_resolves(file, module, name):
    assert hasattr(importlib.import_module(module), name), f"{file}: {module}.{name}"


def _task_rows(docs, orient: bool, weights: bytes) -> dict:
    """Text per (url, img_idx) of one extraction task over `docs`."""
    import pandas as pd

    from paddleocr_spark.plans.pipeline import _ocr_batches

    batch = pd.DataFrame(
        {"url": [d.url for d in docs], "html": [d.payload for d in docs]}
    )
    return {
        (url, idx): text
        for frame in _ocr_batches(iter([batch]), 0, orient, SimpleNamespace(value=weights))
        for url, idx, text in zip(frame["url"], frame["img_idx"], frame["extracted_text"])
    }


def _replay(docs, orient: bool, weights: bytes) -> dict:
    from perfbench.ledger import Tracer, replay

    return replay(docs, orient, weights, Tracer())


def _docs(pages: dict[str, bytes]):
    from perfbench.corpus import Doc

    return [Doc(f"https://bench.example.test/{k}", p, []) for k, p in pages.items()]


SCAN_LINES = ["ROUTE 42 SCAN", "SECOND LINE"]


def test_replay_reads_each_route_as_the_task_does():
    docs = _docs(
        {
            "html": synthesize_html("The article body the strip keeps.", 3).encode(),
            "text-pdf": synth_text_pdf(5)[0],
            "image-pdf": pdf_encode_gray_pages(
                [render_page(SCAN_LINES), render_page(["PAGE TWO"])]
            ),
            "png": encode_gray_png(render_page(SCAN_LINES)),
        }
    )
    weights = export_weights()
    rows = _task_rows(docs, False, weights)
    assert len(rows) == 6  # html 1, text pdf 2 pages, image pdf 2, png 1
    assert rows[(docs[3].url, 0)] == "\n".join(SCAN_LINES)
    assert _replay(docs, False, weights) == rows


def test_replay_reads_rotated_scans_as_the_task_does():
    docs = _docs(
        {
            f"rot{i}": encode_gray_png(rotate180(render_page(lines)))
            for i, lines in enumerate([SCAN_LINES, ["KEY ORDER 7", "TABLE"]])
        }
    )
    weights = build_onnx_bundle()
    rows = _task_rows(docs, True, weights)
    assert rows[(docs[0].url, 0)] == "\n".join(SCAN_LINES)
    assert _replay(docs, True, weights) == rows
