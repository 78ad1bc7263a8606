"""Package surface: every module-level name in `paddleocr_spark/` is
reached by production code, except the reference implementations that
tests compare the production path against.

A name counts as reached when reached code names it: an import, a bare
name, an attribute, or one of `__spark_entry__.py`'s string constants
(its `getattr` dispatch over slicing and metrics queries). Docstrings do
not count. The roots are `tools/`, `perfbench/`, `bench.py`,
`__spark_entry__.py`, the statements of `paddleocr_spark/` modules that
run at import (other than definitions and imports), and the keep-list
below. Inside `paddleocr_spark/`, a module-level definition's body is
reached only once its name is, and a module-level `import a as b`
reaches `a` only once `b` is reached: a helper that only unreached code
calls is unreached too. Tests are not production code. A new helper
that only a test calls fails here: wire it to a production surface, or
delete it with its test.
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


def _names(node: ast.AST) -> set[str]:
    """Every name `node` mentions: bare names read, attributes, and the
    last dotted part of each import."""
    used = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name) and not isinstance(sub.ctx, ast.Store):
            used.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            used.add(sub.attr)
        elif isinstance(sub, ast.alias):
            used.add(sub.name.rsplit(".", 1)[-1])
    return used


def _dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _defined(stmt: ast.stmt) -> list[str]:
    """The module-level names a top-level statement defines."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _graph() -> tuple[set[str], dict[str, set[str]]]:
    """(root names, {name: names its module-level definitions mention})."""
    roots: set[str] = set()
    edges: dict[str, set[str]] = {}
    for path in [
        *sorted((REPO / "tools").rglob("*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        roots |= _names(tree)
        if path.name == "__spark_entry__.py":
            docs = _docstrings(tree)
            roots.update(
                node.value
                for node in ast.walk(tree)
                if isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and node.value.isidentifier()
                and id(node) not in docs
            )
    for path in sorted(PKG.rglob("*.py")):
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for alias in stmt.names:
                    local = alias.asname or alias.name.split(".", 1)[0]
                    edges.setdefault(local, set()).add(
                        alias.name.rsplit(".", 1)[-1]
                    )
                continue
            defined = _defined(stmt)
            if defined and not any(_dunder(n) for n in defined):
                for name in defined:
                    edges.setdefault(name, set()).update(_names(stmt))
            else:  # runs at import, or Python itself calls it
                roots |= _names(stmt)
    return roots, edges


def _closure(names, edges: dict[str, set[str]]) -> set[str]:
    todo, seen = list(names), set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(edges.get(name, ()))
    return seen


def _module_names(path: Path) -> list[str]:
    return [
        name
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body
        for name in _defined(stmt)
        if not _dunder(name)
    ]


def test_only_reference_implementations_are_unreached():
    roots, edges = _graph()
    kept = {key.split(":", 1)[1] for key in KEEP}
    # what a kept reference calls stays with it
    reached = _closure(roots, edges) | (
        _closure(set().union(*(edges[name] for name in kept)), edges) - kept
    )
    unreached = {
        f"{path.relative_to(PKG).as_posix()}:{name}"
        for path in sorted(PKG.rglob("*.py"))
        for name in _module_names(path)
        if name not in reached
    }
    assert unreached == set(KEEP), (
        f"unreached, not kept: {sorted(unreached - set(KEEP))}; "
        f"kept, but reached now: {sorted(set(KEEP) - unreached)}"
    )
