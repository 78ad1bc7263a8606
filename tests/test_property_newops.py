"""Property-based hardening for the session-11 operators: URL
resolution against the stdlib over generated references, exact-Viterbi
optimality against brute-force enumeration, and chunking invariants.

All pure-Python/driver-side — no Spark session needed (resolve_url is
exercised through Catalyst in tests/test_urlresolve.py; here the same
ALGORITHM is checked via its python twin urljoin on a far wider input
space)."""

import itertools
from urllib.parse import urljoin

from hypothesis import given, settings
from hypothesis import strategies as st

from paddleocr_spark.functions.ragchunk import chunk_spans
from paddleocr_spark.functions.unigram import viterbi_segment

# --- RFC 3986 resolution vs urljoin ---------------------------------------

# non-empty segments only: CPython's urljoin deviates from strict
# RFC 3986 (and WHATWG) on EMPTY segments — it collapses '//x/'->'/x/'
# and 'a//b'->'a/b' where the spec preserves them — so the sweep
# compares on the input space where urljoin IS a faithful oracle; the
# divergent spellings are pinned explicitly below.
_seg = st.text(alphabet="abc.", min_size=1, max_size=4)
_path = st.lists(_seg, min_size=0, max_size=4).map("/".join)
_query = st.one_of(st.just(""), _path.map(lambda p: "?q=" + p.replace("/", "")))


@st.composite
def _refs(draw):
    kind = draw(st.integers(0, 4))
    p = draw(_path)
    q = draw(_query)
    if kind == 0:
        # path-absolute may not begin '//' (RFC: segment-nz after the
        # slash) — that spelling IS the protocol-relative form
        return "/" + p.lstrip("/") + q
    if kind == 1:
        ref = p + q                 # relative (may be empty)
        return ref.lstrip("/") if ref.startswith("//") else ref
    if kind == 2:
        return "?x=" + p.replace("/", "")  # query-only
    if kind == 3:
        # dot-free path: urljoin skips dot-normalization whenever the
        # ref carries an authority (the scheme-present deviation class)
        return "//h2.test/" + p.replace(".", "x")
    return "#frag"                  # fragment-only (stripped)


@given(base_path=_path, ref=_refs())
@settings(max_examples=300, deadline=None)
def test_python_resolution_model_matches_urljoin(base_path, ref):
    """The python model of the Catalyst resolver (same case order,
    same remove_dot_segments) agrees with urljoin for scheme-less
    references."""
    base = "https://h.test/" + base_path

    def remove_dots(path):
        # the Catalyst fold's semantics: only '.'/'..' are special,
        # interior empty segments survive, the final segment doubles
        # as the trailing-slash signal
        if not path:
            return ""
        segs = path.split("/")
        stack = []
        for s in segs[1:-1]:
            if s == ".":
                continue
            if s == "..":
                if stack:
                    stack.pop()
                continue
            stack.append(s)
        last = segs[-1]
        if last == "..":
            if stack:
                stack.pop()
        elif last not in ("", "."):
            stack.append(last)
        trailing = "/" if last in ("", ".", "..") else ""
        if not stack:
            return "/"
        return "/" + "/".join(stack) + trailing

    def resolve(base, ref):
        ref = ref.split("#")[0]
        root = "https://h.test"
        b_path = base[len(root):].split("?")[0]
        b_noq = base.split("?")[0]
        r_path = ref.split("?")[0]
        r_q = ("?" + ref.split("?", 1)[1]) if "?" in ref else ""
        if ref == "":
            return b_noq
        if ref.startswith("//"):
            auth = ref[2:].split("/")[0]
            rest = ref[2 + len(auth):].split("?")[0]
            return "https://" + auth + remove_dots(rest) + r_q
        if ref.startswith("/"):
            return root + remove_dots(r_path) + r_q
        if ref.startswith("?"):
            return b_noq + ref
        b_dir = b_path[: b_path.rfind("/") + 1]
        return root + remove_dots(b_dir + r_path) + r_q

    assert resolve(base, ref) == urljoin(base, ref.split("#")[0])


def test_empty_segments_preserved_strictly(spark):
    """Strict RFC/WHATWG keeps interior empty path segments; stdlib
    urljoin collapses them. We pin the STRICT answers (what a browser
    resolves) — the same deviation class as the scheme-present
    dot-normalization pinned in test_urlresolve.py."""
    from pyspark.sql import functions as F

    from paddleocr_spark.functions.urlresolve import resolve_url

    cases = [
        ("https://h.test//", "a", "https://h.test//a"),
        ("https://h.test//x/", "a", "https://h.test//x/a"),
        ("https://h.test/p", "a//b", "https://h.test/a//b"),
        ("https://h.test/", "/a//b", "https://h.test/a//b"),
        ("https://h.test/a//b/c", "../d", "https://h.test/a//d"),
    ]
    df = spark.createDataFrame(
        [(b, r) for b, r, _ in cases], ["base", "ref"]
    ).select(resolve_url(F.col("base"), F.col("ref")).alias("got"))
    got = [r["got"] for r in df.collect()]
    assert got == [w for _, _, w in cases]


# --- exact-rational Viterbi optimality ------------------------------------


def _all_segmentations(word, pieces):
    n = len(word)
    outs = []

    def rec(i, acc):
        if i == n:
            outs.append(tuple(acc))
            return
        for j in range(i + 1, n + 1):
            if word[i:j] in pieces:
                rec(j, acc + [word[i:j]])

    rec(0, [])
    return outs


@given(
    word=st.text(alphabet="ab", min_size=1, max_size=7),
    extra=st.lists(
        st.text(alphabet="ab", min_size=2, max_size=3),
        min_size=0, max_size=4,
    ),
    counts=st.lists(st.integers(1, 9), min_size=6, max_size=6),
)
@settings(max_examples=200, deadline=None)
def test_viterbi_is_globally_optimal(word, extra, counts):
    pieces = {"a", "b"} | set(extra)
    table = {p: c for p, c in zip(sorted(pieces), itertools.cycle(counts))}
    total = sum(table.values())
    got = viterbi_segment(word, table, total)
    assert "".join(got) == word  # always a valid segmentation
    segs = _all_segmentations(word, set(table))
    assert segs

    def key(seg):
        num = 1
        for p in seg:
            num *= table[p]
        # maximize num/total^k == maximize (num, -k) under exact
        # cross-multiplied compare; emulate with fractions
        from fractions import Fraction

        return (Fraction(num, total ** len(seg)), -len(seg), tuple(
            [-ord(c) for p in seg for c in p]  # placeholder, unused
        ))

    from fractions import Fraction

    best_p = max(Fraction(
        __import__("math").prod(table[p] for p in s), total ** len(s)
    ) for s in segs)
    got_p = Fraction(
        __import__("math").prod(table[p] for p in got), total ** len(got)
    )
    assert got_p == best_p
    # among probability ties: fewest pieces, then lexicographic
    ties = [
        s for s in segs
        if Fraction(
            __import__("math").prod(table[p] for p in s),
            total ** len(s),
        ) == best_p
    ]
    min_k = min(len(s) for s in ties)
    assert len(got) == min_k
    assert got == min(s for s in ties if len(s) == min_k)


# --- chunking invariants ---------------------------------------------------


@given(
    spans=st.lists(
        st.lists(
            st.sampled_from(["w1", "w2", "w3"]), min_size=0, max_size=40
        ).map(" ".join),
        min_size=0,
        max_size=6,
    ),
    budget=st.integers(1, 12),
)
@settings(max_examples=300, deadline=None)
def test_chunk_spans_invariants(spans, budget):
    chunks = chunk_spans(spans, budget=budget)
    all_tokens = [t for s in spans for t in s.split()]
    out_tokens = [t for _, _, _, text in chunks for t in text.split()]
    # token stream preserved exactly, in order
    assert out_tokens == all_tokens
    for n_spans, n_tokens, oversize, text in chunks:
        assert n_tokens == len(text.split()) > 0
        assert n_tokens <= budget  # no chunk ever exceeds the budget
        if not oversize:
            assert n_spans >= 1
    # non-oversize chunks never merge across an oversize neighbour:
    # counts of span-sourced tokens reconcile
    assert sum(c[1] for c in chunks) == len(all_tokens)
