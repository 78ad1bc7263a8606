"""Package surface: every module-level name in `paddleocr_spark/` is
reached by production code, except the reference implementations that
tests compare the production path against.

A name counts as reached when production code names it: an import, a
bare name, an attribute, or one of `__spark_entry__.py`'s string
constants (its `getattr` dispatch over slicing and metrics queries).
Docstrings do not count. Production code is `paddleocr_spark/`,
`tools/`, `perfbench/`, `bench.py` and `__spark_entry__.py`; tests are
not. A new helper that only a test calls fails here: wire it to a
production surface, or delete it with its test.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "paddleocr_spark"

# Unreached on purpose, each with the reason it stays.
KEEP = {
    "functions/bpe.py:bpe_reference":
        "textbook BPE merge loop the Spark trainer is compared against",
    "functions/layout.py:head_candidates":
        "raw-head stand-in the layout postprocess and ONNX head are checked with",
    "kernels/cls.py:orient_page_rubric":
        "the fork's rubric sweep; ROADMAP item 2 decides its fate",
    "kernels/ctc.py:ctc_decode":
        "per-crop CTC reference for recognize_crops' direct decode",
    "kernels/db_postprocess.py:connected_components":
        "bool-map form of the run-space labelling the kernel tests check",
    "kernels/db_postprocess.py:box_score_slow":
        "polygon-mask box score the fast run-space score must equal",
    "kernels/det.py:det_resize":
        "DetResizeForTest semantics, the COVERAGE.md reference row",
    "kernels/font.py:match_glyph":
        "one-glyph template match the font tests read",
    "kernels/geometry.py:order_points_clockwise":
        "one-box form of the batched point ordering (predict_det.py)",
    "kernels/table_struct.py:recover_structure":
        "numpy table-structure reference the ONNX path must equal",
    "kernels/varint.py:varint_len":
        "closed-form encoded length the varint codec is checked with",
    "operators/justext.py:justext_classify":
        "reads production `_analyze`; the DuckDB-oracle tests use it",
    "operators/justext.py:justext_extract_text":
        "reads production `_analyze`; the DuckDB-oracle tests use it",
    "sources/pages.py:cdx_rows":
        "reader proving `--wet`/`--wat` output is range-addressable",
    "sources/warc.py:fetch_record":
        "reader proving `--wet`/`--wat` output is range-addressable",
}


def _production_files() -> list[Path]:
    return [
        *sorted(PKG.rglob("*.py")),
        *sorted((REPO / "tools").rglob("*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]


def _docstrings(tree: ast.Module) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def _reached() -> set[str]:
    used: set[str] = set()
    for path in _production_files():
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and not isinstance(
                node.ctx, ast.Store
            ):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.add(node.name.rsplit(".", 1)[-1])
        if path.name == "__spark_entry__.py":
            docs = _docstrings(tree)
            used.update(
                node.value
                for node in ast.walk(tree)
                if isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.isidentifier()
                and id(node) not in docs
            )
    return used


def _module_names(path: Path) -> list[str]:
    names = []
    for node in ast.parse(path.read_text(encoding="utf-8")).body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            names.append(node.target.id)
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def test_only_reference_implementations_are_unreached():
    used = _reached()
    unreached = {
        f"{path.relative_to(PKG).as_posix()}:{name}"
        for path in sorted(PKG.rglob("*.py"))
        for name in _module_names(path)
        if name not in used
    }
    assert unreached == set(KEEP), (
        f"unreached, not kept: {sorted(unreached - set(KEEP))}; "
        f"kept, but reached now: {sorted(set(KEEP) - unreached)}"
    )
