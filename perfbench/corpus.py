"""Seeded inputs and the independent oracle for the extraction benchmark.

The base corpus is fixed: BASE_DOCS word-salad documents shaped like the
sf0.1 `documents` table (a 30-word vocabulary, 8-110 words, 20 hosts).
Its rendered scans are cached once per checkout, because rendering costs
more than the job it feeds. The seed then decides everything a workload
varies: which documents take which route, their order, which urls are
already committed to the sink, and a url salt that moves partition
placement under `salted_repartition`.

Expected text is computed in closed form, never from the program's
output:
- a scan page holds `norm(text)` wrapped into 24-character lines, so its
  extracted text is those lines joined by newlines;
- an HTML page must give back the document text verbatim;
- a born-digital PDF must give back the page texts its fixture encodes.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

BASE_DOCS = 5000
PAGE_CHARS = 120
MULTI_CHARS = 300
WRAP = 24
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
CORPUS_VERSION = 1
ROTATED_DOCS = 48  # 180-degree scans for the traced orientation pass

_NORM_RE = re.compile(r"[^a-zA-Z0-9]")


def base_documents() -> list[tuple[int, str, str]]:
    """(doc_id, text, host) for the fixed base corpus."""
    rng = random.Random(20260101)
    docs = []
    for doc_id in range(BASE_DOCS):
        words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 110))]
        docs.append((doc_id, " ".join(words), f"src{doc_id % 20}"))
    return docs


def norm(text: str, n_chars: int = PAGE_CHARS) -> str:
    return _NORM_RE.sub("", text)[:n_chars].upper()


def scan_text(chunk: str) -> str:
    """Extracted text of one rendered scan page holding `chunk`."""
    return "\n".join(chunk[i : i + WRAP] for i in range(0, len(chunk), WRAP))


def multipage_chunks(text: str) -> list[str]:
    n = norm(text, MULTI_CHARS)
    return [n[i : i + PAGE_CHARS] for i in range(0, len(n), PAGE_CHARS)]


# ---------------------------------------------------------------- render cache


def _render_scans(docs: list[tuple[int, str, str]]) -> list[tuple[bytes, bytes]]:
    from paddleocr_spark.kernels.font import render_page
    from paddleocr_spark.kernels.imageops import rotate180
    from paddleocr_spark.kernels.png import encode_gray_png

    out = []
    for _doc_id, text, _host in docs:
        chunk = norm(text)
        page = render_page([chunk[i : i + WRAP] for i in range(0, len(chunk), WRAP)])
        out.append((encode_gray_png(page), encode_gray_png(rotate180(page))))
    return out


def _cache_key(repo_root: str) -> str:
    h = hashlib.sha1(f"v{CORPUS_VERSION}".encode())
    for rel in ("font.py", "png.py", "imageops.py"):
        with open(os.path.join(repo_root, "paddleocr_spark", "kernels", rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scan_cache(repo_root: str, cache_dir: str, procs: int) -> pa.Table:
    """(doc_id, png, png_rot180) for every base document, rendered once
    per checkout and renderer version."""
    path = os.path.join(cache_dir, f"scans-{_cache_key(repo_root)}.parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    docs = base_documents()
    step = -(-len(docs) // (procs * 4))
    parts = [docs[i : i + step] for i in range(0, len(docs), step)]
    if procs > 1:
        import multiprocessing as mp

        with mp.get_context("spawn").Pool(procs) as pool:
            rendered = [r for part in pool.map(_render_scans, parts) for r in part]
            pool.close()
            pool.join()
    else:
        rendered = _render_scans(docs)
    table = pa.table(
        {
            "doc_id": [d[0] for d in docs],
            "png": pa.array([r[0] for r in rendered], pa.binary()),
            "png_rot180": pa.array([r[1] for r in rendered], pa.binary()),
        }
    )
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return table


# ---------------------------------------------------------------- workloads


@dataclass
class Doc:
    url: str
    payload: bytes
    expected: list[str]  # text per img_idx
    committed: bool = False  # already in the sink before the job runs


@dataclass
class Workload:
    name: str
    units: list[list[Doc]]  # equal-size slices; a job at N cores takes N
    orient: bool = False
    backend: str = "stub"
    resume: bool = False  # run_job against a pre-seeded sink
    meta: dict = field(default_factory=dict)
    rotated: list[Doc] = field(default_factory=list)  # traced orientation pass


def _url(host: str, salt: str, doc_id: int) -> str:
    return f"https://{host}.example.test/{salt}/doc/{doc_id}"


def build_workload(name: str, seed: int, scans: pa.Table, per_unit: dict) -> Workload:
    """Inputs of one workload for one seed. `per_unit` maps a workload
    name to its unit size in documents."""
    rng = random.Random(f"{name}:{seed}")
    salt = f"{rng.getrandbits(32):08x}"
    docs = base_documents()
    order = list(range(len(docs)))
    rng.shuffle(order)
    png = scans.column("png").to_pylist()
    rot = scans.column("png_rot180").to_pylist()

    def scan_doc(i: int, payload: bytes) -> Doc:
        doc_id, text, host = docs[i]
        return Doc(_url(host, salt, doc_id), payload, [scan_text(norm(text))])

    if name == "scan_ocr":
        chosen = [scan_doc(i, png[i]) for i in order]
        wl = Workload(name, [])
        wl.rotated = [scan_doc(i, rot[i]) for i in order[-ROTATED_DOCS:]]
    elif name == "mixed_crawl":
        from paddleocr_spark.kernels.font import render_page
        from paddleocr_spark.kernels.pdf import pdf_encode_gray_pages
        from paddleocr_spark.operators.html_extract import synthesize_html
        from paddleocr_spark.operators.media import synth_text_pdf

        chosen = []
        n = len(order)
        for rank, i in enumerate(order):
            doc_id, text, host = docs[i]
            url = _url(host, salt, doc_id)
            if rank < n * 2 // 100:
                chunks = multipage_chunks(text)
                payload = pdf_encode_gray_pages(
                    [render_page([c[j : j + WRAP] for j in range(0, len(c), WRAP)]) for c in chunks]
                )
                doc = Doc(url, payload, [scan_text(c) for c in chunks])
            elif rank < n * 10 // 100:
                payload, pages = synth_text_pdf(doc_id)
                doc = Doc(url, payload, list(pages))
            else:
                payload = synthesize_html(text, doc_id).encode("utf-8")
                doc = Doc(url, payload, [text])
            chosen.append(doc)
        rng.shuffle(chosen)  # routes interleave, as in a crawl
        for doc in rng.sample(chosen, len(chosen) // 4):
            doc.committed = True
        wl = Workload(name, [], resume=True)
    else:
        raise ValueError(f"unknown workload {name!r}")
    size = per_unit[name]
    wl.units = [chosen[i : i + size] for i in range(0, len(chosen) - size + 1, size)]
    wl.meta = {"salt": salt, "docs": sum(len(u) for u in wl.units), "unit_docs": size}
    return wl


def write_unit(docs: list[Doc], path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "url": [d.url for d in docs],
                "html": pa.array([d.payload for d in docs], pa.binary()),
            }
        ),
        path,
    )


def write_committed(docs: list[Doc], path: str) -> None:
    """Sink rows for the already-committed urls, in the results schema's
    key columns (resume reads only `url`)."""
    rows = [(d.url, k, t) for d in docs if d.committed for k, t in enumerate(d.expected)]
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in rows],
                "img_idx": pa.array([r[1] for r in rows], pa.int32()),
                "extracted_text": [r[2] for r in rows],
                "run_id": ["committed"] * len(rows),
            }
        ),
        path,
    )


# ---------------------------------------------------------------- oracle


def check(docs: list[Doc], rows: dict[tuple[str, int], str]) -> list[str]:
    """Urls of the documents the job got wrong. A document fails when
    any expected page is missing or differs byte for byte, when an error
    row (img_idx = -1) or an unexpected page appears for it, or when an
    already-committed url was extracted again."""
    by_url: dict[str, dict[int, str]] = {}
    for (url, idx), text in rows.items():
        by_url.setdefault(url, {})[idx] = text
    bad = []
    for d in docs:
        got = by_url.pop(d.url, {})
        want = {} if d.committed else dict(enumerate(d.expected))
        if got != want:
            bad.append(d.url)
    bad.extend(by_url)  # rows for urls nobody submitted
    return bad


def self_test(docs: list[Doc], rows: dict[tuple[str, int], str]) -> bool:
    """True when corrupting one expectation makes `check` report exactly
    one more failure: the oracle can see a wrong byte."""
    target = next((d for d in docs if not d.committed), None)
    if target is None:
        return False
    base = len(check(docs, rows))
    saved = target.expected
    target.expected = [saved[0] + "#"] + saved[1:]
    try:
        return len(check(docs, rows)) == base + 1
    finally:
        target.expected = saved
