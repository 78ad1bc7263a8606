"""Readability-style HTML main-content extraction (stdlib only).

The north_star mandates boilerplate stripping via DOM text-density
scoring (Arya/Readability/Boilerpipe heuristics — published, public
algorithms; the reference has no counterpart, SURVEY.md §7.4). Parse to
a lightweight DOM (`build_dom`: html.parser's tree, built by one compiled
scan), score candidate containers by text mass, link density, tag and
class/id hints, and return the text of the best candidate.

Scoring (classic Readability shape):
    score(node) = text_len * (1 - link_density)
                + 25 per direct block child with >= 40 chars
                + tag bonus (article/main +50, section/div +5)
                - hint penalty (nav/footer/aside/header tags or
                  nav|sidebar|ad|footer|comment|menu class/id: gate to 0)
Deepest highest-scoring node wins; ties break to the earlier node in
document order. Text is the concatenation of the node's text nodes in
order (entities already decoded by the parser), so content placed
verbatim in a single block round-trips byte-identically.
"""

from __future__ import annotations

import html as html_mod
import re
from html.parser import HTMLParser

_BLOCK_TAGS = {"p", "div", "section", "article", "main", "td", "li", "pre", "blockquote"}
_CANDIDATE_TAGS = {"article", "main", "section", "div", "td", "body"}
_NEGATIVE_TAGS = {"nav", "footer", "aside", "header", "script", "style", "form", "noscript"}
_NEGATIVE_HINTS = (
    "nav", "sidebar", "side-bar", "ad", "ads", "advert", "footer",
    "comment", "menu", "banner", "promo", "related", "share", "social",
)
# matches where any of the hints is a substring
_NEGATIVE_HINT = re.compile("|".join(map(re.escape, _NEGATIVE_HINTS)))
_TAG_BONUS = {"article": 50.0, "main": 50.0, "section": 5.0, "div": 5.0}
_VOID_TAGS = {"br", "hr", "img", "meta", "link", "input", "area", "base", "col", "embed", "source", "track", "wbr"}


class _Node:
    __slots__ = ("tag", "attrs", "children", "parent", "order")

    def __init__(self, tag: str, attrs: dict[str, str], parent: "_Node | None", order: int):
        self.tag = tag
        self.attrs = attrs
        self.children: list[object] = []  # _Node | str
        self.parent = parent
        self.order = order


class _DomBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = _Node("#root", {}, None, 0)
        self.stack = [self.root]
        self.counter = 0
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if self._skip_depth:
            if tag not in _VOID_TAGS:
                self._skip_depth += 1
            return
        if tag in ("script", "style", "noscript"):
            self._skip_depth = 1
            return
        self.counter += 1
        # a bare attribute (`<div hidden>`) has the value "", as in the HTML DOM
        attrs = {k: "" if v is None else v for k, v in attrs}
        node = _Node(tag, attrs, self.stack[-1], self.counter)
        self.stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            self.stack.append(node)

    def handle_endtag(self, tag):
        if self._skip_depth:
            self._skip_depth -= 1
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data):
        if self._skip_depth or not data:
            return
        self.stack[-1].children.append(data)


# One compiled scan over the markup for `build_dom`. Every pattern
# mirrors html.parser's (Python 3.11) where the two could differ: the
# tag-name class, `--\s*>` closing a comment, `</\s*name\s*>` end tags,
# an ASCII case-insensitive `</script>`/`</style>` ending the raw text.
# Attributes are a strict subset of html.parser's grammar: one `=`, a
# non-empty value, whitespace between attributes. Each attribute is
# possessive, so the scan never re-splits a tag html.parser would read
# otherwise. Groups: 1 text, 2 tag name, 3 attributes, 4 `/` of `/>`,
# 5 end-tag name, 6 a `<` outside the grammar. Script and style bodies,
# comments, doctypes, bogus comments and processing instructions (`<?`
# to the first `>`, as html.parser's parse_pi reads it) match with no
# group: none of them adds anything to the tree.
_ATTR_SRC = (
    r"""\s++[^\s/>=][^\s/=>]*+"""
    r"""(?:\s*+=\s*+(?:"[^"]*+"|'[^']*+'|[^\s>"'=][^\s>]*+))?+"""
)


def _rawtext(name: str) -> str:
    ci = "".join(f"[{c}{c.upper()}]" for c in name)
    return (
        rf"<{ci}(?=[\t\n\r\f />])(?:{_ATTR_SRC})*+\s*+>"
        rf"[^<]*+(?:<(?!/\s*+{ci}\s*+>)[^<]*+)*+</\s*+{ci}\s*+>"
    )


_TOKEN = re.compile(
    r"([^<]++)"
    + "|" + _rawtext("script")
    + "|" + _rawtext("style")
    + rf"|<([a-zA-Z][^\t\n\r\f />\x00]*+)((?:{_ATTR_SRC})*+)\s*+(/?)>"
    + r"|</\s*+([a-zA-Z][-.a-zA-Z0-9:_]*+)\s*+>"
    + r"|<!--[^-]*+(?:-(?!-\s*>)[^-]*+)*+--\s*+>"
    + r"|<!(?!--|\[)[^>]*+>"
    + r"|<\?[^>]*+>"
    + r"|(<)"
)
# splits an attribute run `_TOKEN` has accepted into (name,
# double-quoted, single-quoted, unquoted value); all three values are ""
# for a bare attribute
_ATTR = re.compile(
    r"""\s+([^\s/>=][^\s/=>]*)(?:\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+)))?"""
)
_TEXT_END = re.compile(r"[\s;]")


def _parse_dom(markup: str) -> _Node:
    builder = _DomBuilder()
    builder.feed(markup)
    return builder.root


def build_dom(markup: str) -> _Node:
    """The root of `markup`'s DOM: the tree html.parser gives through
    `_DomBuilder`, built by one `_TOKEN` scan. Markup outside the scan's
    grammar (CDATA, an unterminated `<?`, a `<` that opens no tag, an
    unterminated or malformed tag, `<script/>`, a trailing text run
    html.parser holds back for a charref that may continue) goes to
    `_DomBuilder` itself, so the tree is html.parser's either way. A bare
    attribute's value is "" in both."""
    # html.parser keeps back a last text run whose final '&' (within 34
    # chars of the end) has no whitespace or ';' after it
    n = len(markup)
    amp = markup.rfind("&", max(markup.rfind("<") + 1, n - 34))
    if amp >= 0 and not _TEXT_END.search(markup, amp):
        return _parse_dom(markup)
    root = node = _Node("#root", {}, None, 0)
    kids = root.children
    stack = [root]
    counter = skip = 0
    for text, tag, attrs, slash, end, stray in _TOKEN.findall(markup):
        if text:
            if not skip:
                if "&" in text:
                    text = html_mod.unescape(text)
                    if not text:
                        continue
                kids.append(text)
            continue
        if tag:
            tag = tag.lower()
            if tag == "script" or tag == "style":
                return _parse_dom(markup)
            if skip:
                if tag not in _VOID_TAGS:
                    skip += 1
            elif tag == "noscript":
                skip = 1
            else:
                counter += 1
                amap = {}
                if attrs:
                    for name, dq, sq, bare in _ATTR.findall(attrs):
                        value = dq or sq or bare
                        if "&" in value:
                            value = html_mod.unescape(value)
                        amap[name.lower()] = value
                child = _Node(tag, amap, node, counter)
                kids.append(child)
                if tag not in _VOID_TAGS:
                    stack.append(child)
                    node, kids = child, child.children
            if not slash:
                continue
            end = tag
        elif end:
            end = end.lower()
        else:
            if stray:
                return _parse_dom(markup)
            continue
        if skip:
            skip -= 1
        elif end == node.tag:
            stack.pop()
            node = stack[-1]
            kids = node.children
        elif end not in _VOID_TAGS:
            for i in range(len(stack) - 2, 0, -1):
                if stack[i].tag == end:
                    del stack[i:]
                    node = stack[-1]
                    kids = node.children
                    break
    return root


def _iter_nodes(node: _Node):
    """`node` and its descendant elements in document order."""
    stack = [node]
    while stack:
        node = stack.pop()
        yield node
        stack.extend([c for c in reversed(node.children) if isinstance(c, _Node)])


def _node_text(node: _Node) -> str:
    parts: list[str] = []

    def walk(n: _Node) -> None:
        for c in n.children:
            if isinstance(c, str):
                parts.append(c)
            else:
                walk(c)

    walk(node)
    return "".join(parts)


def _is_negative(node: _Node) -> bool:
    if node.tag in _NEGATIVE_TAGS:
        return True
    attrs = node.attrs
    if "class" not in attrs and "id" not in attrs:
        return False
    hint = (attrs.get("class", "") + " " + attrs.get("id", "")).lower()
    return _NEGATIVE_HINT.search(hint) is not None


def _clean_stats(node: _Node, is_neg=_is_negative) -> tuple[int, int, int]:
    """(clean_len, boiler_len, clean_link_len): text mass outside vs
    inside negative subtrees, and link text within the clean part."""
    clean = boiler = link = 0

    def walk(n: _Node, in_boiler: bool, in_link: bool) -> None:
        nonlocal clean, boiler, link
        for c in n.children:
            if isinstance(c, str):
                ln = len(c.strip())
                if in_boiler:
                    boiler += ln
                else:
                    clean += ln
                    if in_link:
                        link += ln
            else:
                walk(c, in_boiler or is_neg(c), in_link or c.tag == "a")

    walk(node, is_neg(node), False)
    return clean, boiler, link


def score_node(node: _Node, is_neg=_is_negative) -> float:
    """Clean text mass discounted by link density, minus half the
    boilerplate mass the node drags along, plus tag/block bonuses.
    `is_neg` answers `_is_negative`; `best_node` passes a memo."""
    p = node
    while p is not None:
        if is_neg(p):
            return 0.0
        p = p.parent
    clean, boiler, link = _clean_stats(node, is_neg)
    if clean == 0:
        return 0.0
    # Link text counts doubly against: once for not being content, once as
    # a boilerplate signal (anchors-in-flow = nav/related blocks).
    score = (clean - 2.0 * link) - 0.5 * boiler
    for c in node.children:
        if isinstance(c, _Node) and c.tag in _BLOCK_TAGS and not is_neg(c):
            if len(_node_text(c).strip()) >= 40:
                score += 25.0
    return score + _TAG_BONUS.get(node.tag, 0.0)


def best_node(html: str) -> "_Node | None":
    """The main-content winner node (None if nothing scored) — the ONE
    selection rule shared by extract_main_text and the span extractor
    (operators/spans.py), so span output can never drift from the
    extracted text.

    Ties (within 1e-9) break to the LATER node in document order, which
    prefers the deepest of nested equal-content containers (body >
    wrapper > article chains all carry the same clean text; article also
    earns the tag bonus)."""
    # each node's negativity once: scoring a candidate reads it for the
    # candidate's ancestors and for its whole subtree. Lazily, so a node
    # scoring never reaches is never asked.
    memo: dict[_Node, bool] = {}

    def is_neg(n: _Node) -> bool:
        v = memo.get(n)
        if v is None:
            v = memo[n] = _is_negative(n)
        return v

    best: _Node | None = None
    best_score = 0.0
    for node in _iter_nodes(build_dom(html)):
        if node.tag not in _CANDIDATE_TAGS:
            continue
        s = score_node(node, is_neg)
        if s >= best_score + 1e-9 or (best is not None and abs(s - best_score) < 1e-9):
            if s > 0:
                best, best_score = node, s
    return best


def extract_main_text(html: str) -> str:
    """Best-candidate main content text; '' if nothing scored."""
    best = best_node(html)
    if best is None:
        return ""
    return _node_text(best)


def synthesize_html(text: str, seed: int) -> str:
    """Deterministic Common-Crawl-style page with the content verbatim
    (escaped) inside one of FOUR layouts chosen by seed%4, so the
    corpus exercises every scoring branch, not just the article bonus:

    0. classic: <article> among header/nav/aside/ads/comments/footer —
       the tag-bonus path;
    1. no semantic tags: content in a plain <div class="content"> whose
       siblings are negative-hinted boxes — text density + hint gates
       must pick the right div;
    2. <main> with the content SPLIT across two <p> blocks — the winner
       must reassemble its text nodes in order byte-identically;
    3. density battle: content in <section>, next to a non-negative
       link farm (high link density drives its score negative) and a
       long negative-class comment wall (big text mass, gated to 0).

    All layouts round-trip through extract_main_text byte-identically.
    """
    esc = html_mod.escape(text, quote=False)
    sid = seed % 1000
    nav_items = "".join(
        f'<li><a href="/s{(seed + i) % 20}">Section {(seed + i) % 20}</a></li>'
        for i in range(5)
    )
    # head metadata is deterministic in seed so extract_metadata has a
    # closed-form oracle; og:title only on even layouts so the absent-
    # tag path is exercised corpus-wide
    og = (
        f'<meta property="og:title" content="OG doc {sid}">'
        if seed % 4 in (0, 2)
        else ""
    )
    # article:published_time meta on layout 0 ONLY (keyed to the %4
    # layout so each layout keeps ONE deterministic tag skeleton —
    # dom_template's census counts by doc_id % 4); its DAY field always
    # differs from the JSON-LD datePublished on the same page (10..28
    # vs 01), so extract_pub_date's meta-beats-jsonld precedence is
    # observable on every layout-0 page, not just asserted.
    pub_meta = (
        '<meta property="article:published_time" '
        f'content="2026-0{seed % 9 + 1}-{10 + seed % 19}T08:30:00+00:00">'
        if seed % 4 == 0
        else ""
    )
    # JSON-LD block deterministic in seed so extract_structured has a
    # closed-form oracle: a valid Article on even layouts, a MALFORMED
    # blob (trailing comma) on layout 1 so the parse-error path is
    # exercised corpus-wide, absent on layout 3. Script content never
    # reaches the content DOM (the builder skips script/style), so main
    # text, links, tables, and metadata are byte-identical with or
    # without it.
    if seed % 4 in (0, 2):
        ld = (
            '<script type="application/ld+json">'
            '{"@context":"https://schema.org","@type":"Article",'
            f'"headline":"doc {sid}",'
            f'"datePublished":"2026-0{seed % 9 + 1}-01",'
            f'"author":{{"@type":"Person","name":"Author {seed % 13}"}}}}'
            "</script>"
        )
    elif seed % 4 == 1:
        ld = (
            '<script type="application/ld+json">'
            f'{{"@type":"Article","headline":"doc {sid}",}}'
            "</script>"
        )
    else:
        ld = ""
    # robots directive cycles by seed%5 with CONSTANT structure (the
    # tag is always present, only the content attr varies), so the
    # per-layout tag skeletons — and dom_template's census oracle —
    # are unchanged. 'none' (= noindex,nofollow) and mixed-case/space
    # variants keep the token parse honest corpus-wide.
    robots_meta = (
        "noindex, nofollow", "NoIndex", " nofollow ", "index, follow",
        "none",
    )[seed % 5]
    head = (
        f"<!DOCTYPE html><html><head><title>doc {sid}</title>"
        '<meta charset="utf-8">'
        f'<meta name="robots" content="{robots_meta}">'
        f'<meta name="description" content="summary {sid} layout {seed % 4}">'
        f'<link rel="canonical" href="https://canon{seed % 7}.example.test/page/{sid}">'
        f"{og}{pub_meta}{ld}"
        "<style>body{margin:0}</style>"
        f"<script>var t={sid};</script></head><body>"
    )
    # a deterministic fenced code snippet rides in a negative-hinted
    # box before the footer (shared by ALL layouts): candidates inside
    # it are gated to 0 and it only LOWERS the scores of the body/
    # wrapper ancestors (already non-winners), so main-content
    # extraction stays byte-identical; its &/</> exercise the escape
    # round-trip the way the title's entities do. Language cycles by
    # seed%3 so every highlight class appears corpus-wide.
    code_lang = ("python", "javascript", "sql")[seed % 3]
    if code_lang == "python":
        code = (
            f"def f{sid}(x):\n    return x & {seed % 97} < {seed % 13}"
        )
    elif code_lang == "javascript":
        code = (
            f"if (a < {seed % 97} && b > {seed % 13}) "
            f"{{ return {sid}; }}"
        )
    else:
        code = f"SELECT {sid} AS v FROM t WHERE a <> {seed % 97};"
    code_box = (
        '<div class="snippet comment"><pre>'
        f'<code class="language-{code_lang}">'
        + html_mod.escape(code, quote=False)
        + "</code></pre></div>"
    )
    # a <time datetime> byline rides in a negative-hinted box on layout
    # 1 ONLY (its JSON-LD is the malformed blob, so the pub-date
    # cascade's time-element fallback is reachable there and nowhere
    # else); candidates inside it are hint-gated to 0, so main-content
    # extraction stays byte-identical on every layout.
    time_box = (
        '<div class="byline comment"><time '
        f'datetime="2026-0{seed % 9 + 1}-0{seed % 7 + 1}">updated</time>'
        "</div>"
        if seed % 4 == 1
        else ""
    )
    # image/media box (shared by ALL layouts): LAION-style alt-text
    # mining fodder in a negative-hinted wrapper — candidates inside are
    # hint-gated to 0, <img> is a void tag, and none of the new elements
    # are <a>/<table>/<time>/<meta>/itemprop, so main-content, links,
    # tables, metadata, pub-date and structured-data oracles all stay
    # byte-identical. Four imgs exercise the full pairing matrix:
    # alt text / figcaption fallback (hero alt empty on odd seeds) /
    # empty alt / missing alt attribute.
    hero_alt = f"hero photo {sid}" if seed % 2 == 0 else ""
    media_box = (
        '<div class="media promo"><figure>'
        f'<img src="/img/{sid}-hero.jpg" alt="{hero_alt}">'
        f"<figcaption>Figure {sid}: scene {seed % 11}</figcaption>"
        "</figure>"
        f'<img src="/img/{sid}-inline.png" alt="inline view {seed % 5}" '
        f'srcset="/img/{sid}-inline-480.png 480w, '
        f'/img/{sid}-inline-960.png 960w">'
        f'<img src="/thumb/{seed % 9}.gif" alt="">'
        '<img src="/track/pix.gif"></div>'
    )
    # schema.org microdata rides as ATTRIBUTES on the existing footer —
    # zero text/link change, so every prior closed-form oracle holds
    tail = (
        media_box + time_box + code_box + '<footer class="site-footer" itemscope '
        'itemtype="https://schema.org/Organization">'
        '<a itemprop="url" href="/about">about</a>'
        '<span itemprop="name">copyright 2026 example</span></footer>'
        "</body></html>"
    )
    layout = seed % 4
    if layout == 0:
        return (
            head
            + '<header class="site-header"><h1>Example Site</h1></header>'
            + f'<nav class="topnav"><ul>{nav_items}</ul></nav>'
            + '<div class="wrapper">'
            + '<aside class="sidebar"><h3>Related</h3>'
            + '<a href="/r1">related one</a><a href="/r2">related two</a>'
            + '<div class="ad-box">BUY NOW limited offer click here</div></aside>'
            + f"<article><p>{esc}</p></article>"
            + "</div>"
            + '<div class="comments"><p>first comment lorem</p><p>another comment</p></div>'
            # deterministic data table inside a negative-hinted box: the
            # main-content winner (the article) never sees it, but
            # extract_tables must recover it cell-exactly
            + '<div class="related-data"><table>'
            + "<tr><th>k</th><th>v</th></tr>"
            + f"<tr><td>id</td><td>{sid}</td></tr>"
            + f"<tr><td>mod</td><td>{seed % 7}</td></tr>"
            + "</table></div>"
            + tail
        )
    if layout == 1:
        return (
            head
            + '<div class="page">'
            + f'<div class="menu-box"><ul>{nav_items}</ul></div>'
            + f'<div class="content"><p>{esc}</p></div>'
            + '<div class="promo-box">subscribe now best deals of the'
            + " year click through for savings</div>"
            + "</div>"
            + tail
        )
    if layout == 2:
        k = len(text) // 2
        esc_a = html_mod.escape(text[:k], quote=False)
        esc_b = html_mod.escape(text[k:], quote=False)
        return (
            head
            + f'<nav class="topnav"><ul>{nav_items}</ul></nav>'
            + f"<main><p>{esc_a}</p><p>{esc_b}</p></main>"
            + '<aside class="sidebar">trending stories you may have'
            + " missed this week</aside>"
            + tail
        )
    farm = "".join(
        f'<a href="/t{(seed + i) % 30}">trending topic number {(seed + i) % 30} read more now</a>'
        for i in range(6)
    )
    return (
        head
        + f'<div class="links">{farm}</div>'
        + f'<section class="post-body"><p>{esc}</p></section>'
        + '<div class="comments">' + "<p>great post thanks for sharing "
        "this really helped me understand the topic</p>" * 3 + "</div>"
        + tail
    )


def extract_links(html: str) -> list[tuple[str, str]]:
    """[(href, anchor_text)] in document order via the same DOM build
    the main-content extractor uses (a real parse — attribute quoting,
    entity decoding, void tags — not an href regex). The outlink layer
    of a crawl pipeline: host-graph edges, frontier seeding, PageRank
    all start here."""
    root = build_dom(html)
    out: list[tuple[str, str]] = []

    def walk(node: _Node) -> None:
        for ch in node.children:
            if isinstance(ch, str):
                continue
            if ch.tag == "a" and "href" in ch.attrs:
                out.append((ch.attrs["href"], _node_text(ch)))
            walk(ch)

    walk(root)
    return out


def html_links(spark, sf_dir: str, pages=None):
    """ONE DOM walk over the rendered HTML corpus shared by every
    link-derived operator: (doc_id, host, href, anchor) per outlink.
    `pages` lets a caller hand in an already-checkpointed pages frame
    so the HTML synthesis is paid once across several walks (the suite
    shares one with html_metadata_rows).
    Narrow mapInPandas (1 page -> N link rows, zero shuffles). Host is
    parsed scheme-agnostically (up to the first path slash) and
    lowercased, so the frame also serves WARC-sourced pages whose
    urls are arbitrary. Callers that run several link operators in one
    plan should localCheckpoint the frame — the suite does — so the
    synthesize+parse cost is paid once, not once per operator."""
    import pandas as pd

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ids, hosts, hrefs, anchors = [], [], [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                doc_id = url.rsplit("/", 1)[1]
                host = url.split("://", 1)[-1].split("/", 1)[0].lower()
                for href, anchor in extract_links(
                    bytes(blob).decode("utf-8")
                ):
                    ids.append(doc_id)
                    hosts.append(host)
                    hrefs.append(href)
                    anchors.append(anchor)
            yield pd.DataFrame(
                {"doc_id": ids, "host": hosts, "href": hrefs,
                 "anchor": anchors}
            )

    return pages.mapInPandas(
        run, schema="doc_id string, host string, href string, anchor string"
    )


def doc_links_rows(spark, sf_dir: str, links=None):
    """(op='doc_links', k=doc_id, v=n_links|sorted hrefs joined): per-doc
    outlink census from the shared DOM walk; the hrefs are deterministic
    per layout so the DuckDB twin reconstructs them closed-form."""
    from pyspark.sql import functions as F

    if links is None:
        links = html_links(spark, sf_dir)
    return (
        links.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.array_join(F.array_sort(F.collect_list("href")), ",").alias(
                "sorted_hrefs"
            ),
        )
        .select(
            F.lit("doc_links").alias("op"),
            F.col("doc_id").alias("k"),
            F.concat_ws("|", "n_links", "sorted_hrefs").alias("v"),
        )
    )


DOC_LINKS_SQL = """
SELECT doc_id,
       CAST(len(hrefs) AS bigint) AS n_links,
       array_to_string(list_sort(hrefs), ',') AS sorted_hrefs
FROM (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN list_concat(
             list_transform(generate_series(0, 4),
                            i -> '/s' || ((doc_id + i) % 20)),
             ['/r1', '/r2', '/about'])
           WHEN 3 THEN list_concat(
             list_transform(generate_series(0, 5),
                            i -> '/t' || ((doc_id + i) % 30)),
             ['/about'])
           ELSE list_concat(
             list_transform(generate_series(0, 4),
                            i -> '/s' || ((doc_id + i) % 20)),
             ['/about'])
         END AS hrefs
  FROM documents)
"""


ANCHOR_CAP = 64  # sorted-distinct anchors kept per target href


def anchor_text_rows(spark, sf_dir: str, links=None):
    """(op='anchor_text', k=href, v=n_refs|sorted distinct anchors):
    the anchor-text index — every (target href, anchor text) pair from
    the DOM link walk, aggregated per target. The web-search / quality
    signal a crawl pipeline derives from links: how many documents point
    at a target and with what text.

    Plan: the shared html_links walk -> ONE groupBy(href) with map-side
    partial aggregation.
    The anchor set is CAPPED at ANCHOR_CAP sorted-distinct entries
    (slice after sort_array so the kept subset is deterministic): a
    megasite target referenced with millions of distinct anchor texts
    can't balloon a single reduce key (same bounded-key discipline as
    the DF_CAP in ngram_jaccard). n_refs stays exact — only the sample
    of anchor strings is bounded."""
    from pyspark.sql import functions as F

    if links is None:
        links = html_links(spark, sf_dir)
    return index_links(links.select("href", "anchor")).select(
        F.lit("anchor_text").alias("op"),
        F.col("href").alias("k"),
        F.concat_ws("|", "n_refs", "anchors").alias("v"),
    )


def index_links(links):
    """links(href, anchor) -> per-href (n_refs exact, anchors = first
    ANCHOR_CAP sorted-distinct anchor texts). Separated from the corpus
    walk so the cap semantics are unit-testable."""
    from pyspark.sql import functions as F

    return links.groupBy("href").agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.concat_ws(
            ",",
            F.slice(F.sort_array(F.collect_set("anchor")), 1, ANCHOR_CAP),
        ).alias("anchors"),
    )


# href~anchor pairs reconstructed closed-form per layout (same CASE as
# DOC_LINKS_SQL, carrying the anchor text after a '~' — no anchor in the
# corpus contains '~').
ANCHOR_TEXT_SQL = """
SELECT href,
       CAST(count(*) AS bigint) AS n_refs,
       array_to_string(list_sort(list(DISTINCT anchor))[1:64], ',') AS anchors
FROM (
  SELECT split_part(ha, '~', 1) AS href, split_part(ha, '~', 2) AS anchor
  FROM (
    SELECT UNNEST(CASE doc_id % 4
      WHEN 0 THEN list_concat(
        list_transform(generate_series(0, 4),
          i -> '/s' || ((doc_id + i) % 20)
               || '~Section ' || ((doc_id + i) % 20)),
        ['/r1~related one', '/r2~related two', '/about~about'])
      WHEN 3 THEN list_concat(
        list_transform(generate_series(0, 5),
          i -> '/t' || ((doc_id + i) % 30)
               || '~trending topic number ' || ((doc_id + i) % 30)
               || ' read more now'),
        ['/about~about'])
      ELSE list_concat(
        list_transform(generate_series(0, 4),
          i -> '/s' || ((doc_id + i) % 20)
               || '~Section ' || ((doc_id + i) % 20)),
        ['/about~about'])
    END) AS ha
    FROM documents))
GROUP BY href
ORDER BY href
"""


# -- image-text pair mining (LAION/DataComp alt-text harvesting) -------------

def pick_srcset(src: str, srcset: str) -> str:
    """The fetchable URL for an <img>: the LARGEST candidate from
    `srcset` (width `NNNw` or density `N.Nx` descriptors, HTML spec
    §4.8.4.3 comma-separated form; a bare URL counts as 1x), falling
    back to `src` when srcset is empty/unparseable — the
    highest-resolution-variant rule a LAION-style harvester applies
    before downloading."""
    best, best_w = src, -1.0
    for cand in srcset.split(","):
        parts = cand.strip().split()
        if not parts:
            continue
        url, w = parts[0], 1.0
        if len(parts) > 1:
            d = parts[-1]
            try:
                if d.endswith("w"):
                    w = float(d[:-1])
                elif d.endswith("x"):
                    w = float(d[:-1])
                else:
                    continue  # malformed descriptor: skip candidate
            except ValueError:
                continue
        if w > best_w:
            best, best_w = url, w
    return best


def extract_image_pairs(html: str) -> list[tuple[str, str, str]]:
    """[(src, alt, caption)] for every <img> carrying a src attribute,
    in document order, via the shared DOM build (attribute quoting,
    entity decoding, void-tag handling identical to main-content
    extraction). src is the FETCHABLE variant — the largest srcset
    candidate when present (`pick_srcset`), else the src attribute.
    caption = the text of the nearest ancestor <figure>'s first
    <figcaption> child ('' when none). This is the image-text mining
    primitive of multimodal training pipelines (LAION, DataComp:
    harvest <img src, alt> from Common Crawl): downstream pairing keeps
    alt when non-blank, else the figcaption."""
    root = build_dom(html)
    out: list[tuple[str, str, str]] = []

    def figcaption_text(fig: _Node) -> str:
        for c in fig.children:
            if isinstance(c, _Node) and c.tag == "figcaption":
                return _node_text(c)
        return ""

    def walk(node: _Node, caption: str) -> None:
        for ch in node.children:
            if isinstance(ch, str):
                continue
            if ch.tag == "img" and "src" in ch.attrs:
                out.append((
                    pick_srcset(ch.attrs["src"], ch.attrs.get("srcset", "")),
                    ch.attrs.get("alt", ""),
                    caption,
                ))
            walk(ch, figcaption_text(ch) if ch.tag == "figure" else caption)

    walk(root, "")
    return out


def img_pairs_rows(spark, sf_dir: str, pages=None):
    """(op='img_pairs', k=doc_id, v=n_imgs|n_kept|sorted src~text pairs)
    suite row: per-doc image census (every <img src>) plus the kept
    image-text pairs. One narrow walk emits a tagged (doc_id, src~text,
    kept) frame, then ONE map-side-combined groupBy(doc_id) — the same
    bounded-key shape as doc_links."""
    import pandas as pd
    from pyspark.sql import functions as F

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ids, pairs, kept = [], [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                doc_id = url.rsplit("/", 1)[1]
                for src, alt, cap in extract_image_pairs(
                    bytes(blob).decode("utf-8")
                ):
                    text = alt.strip() or cap.strip()
                    ids.append(doc_id)
                    pairs.append(src + "~" + text if text else "")
                    kept.append(1 if text else 0)
            yield pd.DataFrame({"doc_id": ids, "pair": pairs, "kept": kept})

    walked = pages.mapInPandas(
        run, schema="doc_id string, pair string, kept int"
    )
    return (
        walked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_imgs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.array_join(
                F.array_sort(
                    F.filter(F.collect_list("pair"), lambda p: p != "")
                ),
                ",",
            ).alias("pairs"),
        )
        .select(
            F.lit("img_pairs").alias("op"),
            F.col("doc_id").alias("k"),
            F.concat_ws("|", "n_imgs", "n_kept", "pairs").alias("v"),
        )
    )


# Closed-form per doc: the media box plants 4 imgs — hero (alt on even
# doc_id, figcaption fallback on odd), inline (always alt, and a 2-way
# srcset whose 960w variant wins the largest-candidate rule), empty-alt
# thumb and attribute-less tracker (both dropped). '/img/{sid}-hero.jpg'
# sorts before '/img/{sid}-inline-960.png' ('h' < 'i' at the shared
# prefix).
IMG_PAIRS_SQL = """
SELECT CAST(doc_id AS string) AS doc_id,
       CAST(4 AS bigint) AS n_imgs,
       CAST(2 AS bigint) AS n_kept,
       '/img/' || (doc_id % 1000) || '-hero.jpg~'
       || CASE WHEN doc_id % 2 = 0
               THEN 'hero photo ' || (doc_id % 1000)
               ELSE 'Figure ' || (doc_id % 1000) || ': scene '
                    || (doc_id % 11) END
       || ',/img/' || (doc_id % 1000) || '-inline-960.png~inline view '
       || (doc_id % 5) AS pairs
FROM documents
ORDER BY doc_id
"""


def crawl_frontier_rows(spark, sf_dir: str, links=None):
    """(op='crawl_frontier', k=target_url, v=n_refs|n_hosts): the next
    crawl wave — every outlink target NOT already in the crawled set,
    with its reference count and distinct referring hosts (the two
    standard frontier-prioritization signals).

    Shape: narrow DOM-walk link explode (1 page -> N links, no
    shuffle) -> resolve relative hrefs against the page's host -> ONE
    groupBy(target) with map-side partial agg -> LEFT ANTI join
    against the crawled-url set on the same key. Both sides are
    corpus-scale, so the anti-join is one url-key shuffle; a Bloom
    filter of the crawled urls (`functions/bloom.py`, 2^17 bits here,
    sized up at 10^12) is probed on the link side first so
    definite-miss traffic — the overwhelming majority of a real
    frontier — never enters the exchange. n_hosts is bounded by the
    host census, never corpus-sized."""
    from pyspark.sql import functions as F

    from paddleocr_spark.sources.scan import scan_parquet

    if links is None:
        links = html_links(spark, sf_dir)
    crawled = scan_parquet(spark, f"{sf_dir}/documents.parquet").select(
        F.concat(
            F.lit("https://"),
            F.lower("source"),
            F.lit(".example.test/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("u")
    )
    frontier = frontier_targets(
        links.select("host", "href"), crawled, bloom_bits=1 << 17
    )
    return frontier.select(
        F.lit("crawl_frontier").alias("op"),
        F.col("target").alias("k"),
        F.concat_ws("|", "n_refs", "n_hosts").alias("v"),
    )


# Honest relational twin: same explode -> aggregate -> ANTI JOIN in
# DuckDB (the fixture's hrefs never point at /doc/ pages, but the
# anti-join is executed, not assumed away; the intra-crawl removal case
# is pinned by pytest on a corpus whose links do hit crawled urls).
CRAWL_FRONTIER_SQL = """
WITH links AS (
  SELECT lower(source) || '.example.test' AS host,
         UNNEST(CASE doc_id % 4
           WHEN 0 THEN list_concat(
             list_transform(generate_series(0, 4),
                            i -> '/s' || ((doc_id + i) % 20)),
             ['/r1', '/r2', '/about'])
           WHEN 3 THEN list_concat(
             list_transform(generate_series(0, 5),
                            i -> '/t' || ((doc_id + i) % 30)),
             ['/about'])
           ELSE list_concat(
             list_transform(generate_series(0, 4),
                            i -> '/s' || ((doc_id + i) % 20)),
             ['/about'])
         END) AS href
  FROM documents),
agg AS (
  SELECT 'https://' || host || href AS target,
         count(*) AS n_refs,
         count(DISTINCT host) AS n_hosts
  FROM links GROUP BY 1),
crawled AS (
  SELECT 'https://' || lower(source) || '.example.test/doc/' || doc_id AS u
  FROM documents)
SELECT target,
       CAST(n_refs AS bigint) AS n_refs,
       CAST(n_hosts AS bigint) AS n_hosts
FROM agg ANTI JOIN crawled ON agg.target = crawled.u
ORDER BY target
"""


def frontier_targets(links, crawled, bloom_bits=None):
    """links(host, href) x crawled(u) -> (target, n_refs, n_hosts) for
    every resolved target NOT in the crawled set. Separated from the
    corpus walk so the anti-join semantics are unit-testable (the
    fixture corpus never links to its own /doc/ pages; the removal
    path needs a corpus that does).

    bloom_bits (power of two) turns on the Bloom pre-filter of the
    crawled set (`functions/bloom.py`): definite-miss targets — the
    overwhelming majority of a real frontier — bypass the anti-join
    exchange; only bloom-maybe rows pay it. No false negatives, so the
    result is byte-identical either way and the strict oracle verifies
    the pruned plan."""
    from pyspark.sql import functions as F

    agg = (
        links.select(
            F.concat(F.lit("https://"), "host", "href").alias("target"),
            "host",
        )
        .groupBy("target")
        .agg(
            F.count(F.lit(1)).alias("n_refs"),
            # countDistinct, NOT size(collect_set(...)): a universally
            # linked target (homepage, CDN asset) would materialize its
            # whole host set in one aggregation buffer; the two-phase
            # expanded-key distinct keeps every buffer bounded
            F.countDistinct("host").cast("long").alias("n_hosts"),
        )
    )
    if bloom_bits:
        from paddleocr_spark.functions.bloom import bloom_pruned_anti_join

        return bloom_pruned_anti_join(agg, "target", crawled, "u", bloom_bits)
    return agg.join(crawled, agg.target == crawled.u, "left_anti")


# -- page metadata extraction --------------------------------------------------

def extract_robots_meta(html: str) -> tuple[int, int, str]:
    """(noindex, nofollow, directive) from the page's first
    <meta name="robots"> — the per-PAGE exclusion layer on top of the
    per-host robots.txt rules (functions/robots.py): an indexing
    pipeline drops noindex pages from the index and a crawler stops
    expanding nofollow pages' outlinks. Token semantics per the Robots
    Meta Tag spec: comma-separated, ASCII case-insensitive, whitespace-
    tolerant; 'none' == 'noindex, nofollow'. Absent tag => (0, 0, '')
    (indexable by default). First tag wins, like extract_metadata."""
    root = build_dom(html)
    directive = None

    def walk(node: _Node) -> None:
        nonlocal directive
        for ch in node.children:
            if isinstance(ch, str):
                continue
            if (
                ch.tag == "meta"
                and directive is None
                and ch.attrs.get("name", "").lower() == "robots"
            ):
                directive = ch.attrs.get("content", "")
            walk(ch)

    walk(root)
    if directive is None:
        return 0, 0, ""
    toks = {t.strip().lower() for t in directive.split(",")}
    noindex = int("noindex" in toks or "none" in toks)
    nofollow = int("nofollow" in toks or "none" in toks)
    return noindex, nofollow, directive


def robots_meta_rows(spark, sf_dir: str, pages=None):
    """(op='meta_robots', k=doc_id, v=noindex|nofollow|directive) suite
    row: narrow mapInPandas over the shared pages frame."""
    import pandas as pd

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ks, vs = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                doc_id = url.rsplit("/", 1)[1]
                ni, nf, d = extract_robots_meta(bytes(blob).decode("utf-8"))
                ks.append(doc_id)
                vs.append(f"{ni}|{nf}|{d}")
            yield pd.DataFrame(
                {"op": ["meta_robots"] * len(ks), "k": ks, "v": vs}
            )

    return pages.mapInPandas(run, schema="op string, k string, v string")


# closed-form: directive cycles by doc_id % 5 (see synthesize_html)
META_ROBOTS_SQL = """
SELECT CAST(doc_id AS string) AS doc_id,
       CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 4 THEN 1
            ELSE 0 END AS noindex,
       CASE doc_id % 5 WHEN 0 THEN 1 WHEN 2 THEN 1 WHEN 4 THEN 1
            ELSE 0 END AS nofollow,
       CASE doc_id % 5 WHEN 0 THEN 'noindex, nofollow'
            WHEN 1 THEN 'NoIndex' WHEN 2 THEN ' nofollow '
            WHEN 3 THEN 'index, follow' ELSE 'none' END AS directive
FROM documents
ORDER BY doc_id
"""


def extract_metadata(html: str) -> tuple[str, str, str, str]:
    """(title, meta description, canonical url, og:title) from one page
    via the same DOM build the main-content extractor uses (real parse:
    attribute quoting, entity decoding, void meta/link tags — not a
    head regex). Every field is '-' when the tag is absent; first
    occurrence wins, matching browser/readability behavior. This is the
    record header a crawl pipeline stores next to the extracted text:
    dedup keys (canonical), snippet text (description), and display
    titles all come from here."""
    root = build_dom(html)
    title = desc = canon = og = None

    def walk(node: _Node) -> None:
        nonlocal title, desc, canon, og
        for ch in node.children:
            if isinstance(ch, str):
                continue
            if ch.tag == "title" and title is None:
                title = _node_text(ch)
            elif ch.tag == "meta":
                # meta names / link types are ASCII case-insensitive per
                # the HTML spec; html.parser lowercases attribute NAMES
                # but not their values
                name = ch.attrs.get("name", "").lower()
                prop = ch.attrs.get("property", "").lower()
                content = ch.attrs.get("content", "")
                if name == "description" and desc is None:
                    desc = content
                elif prop == "og:title" and og is None:
                    og = content
            elif ch.tag == "link":
                if (
                    ch.attrs.get("rel", "").lower() == "canonical"
                    and canon is None
                ):
                    canon = ch.attrs.get("href", "")
            walk(ch)

    walk(root)
    return (
        title if title is not None else "-",
        desc if desc is not None else "-",
        canon if canon is not None else "-",
        og if og is not None else "-",
    )


def html_metadata_rows(spark, sf_dir: str, pages=None):
    """(op='html_meta', k=doc_id, v=title|description|canonical|og)
    suite row. Narrow mapInPandas over the HTML corpus (zero shuffles —
    metadata extraction is a per-page map, like the main-content
    strip); the DuckDB twin reconstructs the deterministic head
    closed-form from doc_id. `pages` as in html_links."""
    import pandas as pd

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ks, vs = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                doc_id = url.rsplit("/", 1)[1]
                t, d, c, o = extract_metadata(bytes(blob).decode("utf-8"))
                ks.append(doc_id)
                vs.append("|".join((t, d, c, o)))
            yield pd.DataFrame({"op": ["html_meta"] * len(ks), "k": ks, "v": vs})

    return pages.mapInPandas(run, schema="op string, k string, v string")


HTML_META_SQL = """
SELECT CAST(doc_id AS string) AS doc_id,
       'doc ' || (doc_id % 1000) AS title,
       'summary ' || (doc_id % 1000) || ' layout ' || (doc_id % 4)
         AS description,
       'https://canon' || (doc_id % 7) || '.example.test/page/'
         || (doc_id % 1000) AS canonical,
       CASE WHEN doc_id % 4 IN (0, 2) THEN 'OG doc ' || (doc_id % 1000)
            ELSE '-' END AS og_title
FROM documents
ORDER BY doc_id
"""


# -- fenced code-block extraction --------------------------------------------


def extract_code_blocks(html: str) -> list[tuple[str, str]]:
    """[(lang, code)] for every `<pre><code>` block in document order —
    the training-data slice a code-LLM pipeline mines from web pages
    (StarCoder/The-Stack-style). `lang` is the `language-*` highlight
    class ('' when unhinted); code text keeps its internal newlines and
    decodes entities through the same DOM build as the main-content
    extractor, so `&amp;`/`&lt;` round-trip to raw source."""
    root = build_dom(html)
    out: list[tuple[str, str]] = []
    for node in _iter_nodes(root):
        if node.tag != "code" or node.parent is None:
            continue
        if node.parent.tag != "pre":
            continue
        lang = ""
        for cls in node.attrs.get("class", "").split():
            if cls.startswith("language-"):
                lang = cls[len("language-"):]
                break
        out.append((lang, _node_text(node)))
    return out


def code_blocks_rows(spark, sf_dir: str, pages=None):
    """(op='code_blocks', k=doc_id|idx, v=lang|n_lines|code) suite row.
    Narrow mapInPandas over the HTML corpus (zero shuffles — a per-page
    map like the metadata walk); the DuckDB twin reconstructs the
    deterministic snippet closed-form from doc_id. `pages` as in
    html_links."""
    import pandas as pd

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ks, vs = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                doc_id = url.rsplit("/", 1)[1]
                blocks = extract_code_blocks(bytes(blob).decode("utf-8"))
                for i, (lang, code) in enumerate(blocks):
                    ks.append(f"{doc_id}|{i}")
                    vs.append(f"{lang}|{code.count(chr(10)) + 1}|{code}")
            yield pd.DataFrame(
                {"op": ["code_blocks"] * len(ks), "k": ks, "v": vs}
            )

    return pages.mapInPandas(run, schema="op string, k string, v string")


CODE_BLOCKS_SQL = """
SELECT CAST(doc_id AS string) AS doc_id, 0 AS idx,
       CASE doc_id % 3 WHEN 0 THEN 'python' WHEN 1 THEN 'javascript'
            ELSE 'sql' END AS lang,
       CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS n_lines,
       CASE doc_id % 3
         WHEN 0 THEN 'def f' || (doc_id % 1000) || '(x):' || chr(10)
                     || '    return x & ' || (doc_id % 97) || ' < '
                     || (doc_id % 13)
         WHEN 1 THEN 'if (a < ' || (doc_id % 97) || ' && b > '
                     || (doc_id % 13) || ') { return ' || (doc_id % 1000)
                     || '; }'
         ELSE 'SELECT ' || (doc_id % 1000) || ' AS v FROM t WHERE a <> '
              || (doc_id % 97) || ';'
       END AS code
FROM documents
ORDER BY doc_id
"""


# -- structured data (JSON-LD + schema.org microdata) -----------------------


class _ScriptScan(HTMLParser):
    """Collects the text of `<script type="application/ld+json">`
    blocks. A separate tiny parse: the content DOM deliberately drops
    script bodies (boilerplate stripping must never see them), while
    JSON-LD lives ONLY there."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._in_ld = False
        self.blocks: list[str] = []

    def handle_starttag(self, tag, attrs):
        if tag == "script":
            a = dict(attrs)
            self._in_ld = (
                (a.get("type") or "").strip().lower()
                == "application/ld+json"
            )
            if self._in_ld:
                self.blocks.append("")

    def handle_endtag(self, tag):
        if tag == "script":
            self._in_ld = False

    def handle_data(self, data):
        if self._in_ld and self.blocks:
            self.blocks[-1] += data


def extract_structured(html: str) -> tuple[str, str, str, str, str, str]:
    """(ld_type, headline, date_published, author, org_name, org_url):
    the schema.org record a Common-Crawl derivative pipeline (Web Data
    Commons) extracts per page, from BOTH embedding syntaxes:

    - JSON-LD: first `application/ld+json` script block, parsed with a
      real JSON parser (never a regex); a malformed blob yields the
      sentinel ld_type='!err' (crawl data is full of broken JSON-LD and
      the pipeline must count it, not crash); a top-level array takes
      its first object. `author` accepts both the nested Person object
      and the plain-string shorthand.
    - Microdata: first `itemscope` subtree in the content DOM (the
      attributes survive the script strip); itemprop values follow the
      spec's element rules — href for a/link, content for meta, text
      otherwise; first occurrence per property wins.

    Absent fields are '-' (the html_meta convention).
    """
    import json

    scan = _ScriptScan()
    scan.feed(html)
    ld_type = headline = date_pub = author = "-"
    for block in scan.blocks:
        s = block.strip()
        if not s:
            continue
        try:
            obj = json.loads(s)
        except ValueError:
            ld_type = "!err"
            break
        if isinstance(obj, list):
            obj = next((o for o in obj if isinstance(o, dict)), None)
        if not isinstance(obj, dict):
            continue
        ld_type = str(obj.get("@type", "-"))
        headline = str(obj.get("headline", "-"))
        date_pub = str(obj.get("datePublished", "-"))
        a = obj.get("author")
        if isinstance(a, dict):
            author = str(a.get("name", "-"))
        elif isinstance(a, str):
            author = a
        break
    root = build_dom(html)
    org_name = org_url = "-"
    scope = next(
        (n for n in _iter_nodes(root) if "itemscope" in n.attrs),
        None,
    )
    if scope is not None:
        for n in _iter_nodes(scope):
            prop = n.attrs.get("itemprop")
            if not prop:
                continue
            if n.tag in ("a", "link"):
                val = n.attrs.get("href", "")
            elif n.tag == "meta":
                val = n.attrs.get("content", "")
            else:
                val = _node_text(n)
            if prop == "name" and org_name == "-":
                org_name = val
            elif prop == "url" and org_url == "-":
                org_url = val
    return ld_type, headline, date_pub, author, org_name, org_url


def structured_data_rows(spark, sf_dir: str, pages=None):
    """(op='structured_data', k=doc_id,
    v=ld_type|headline|date|author|org_name|org_url) suite row. Narrow
    zero-shuffle mapInPandas like html_meta; the fixture embeds a valid
    Article JSON-LD on layouts 0/2, a malformed blob on layout 1, and
    none on layout 3, plus an Organization microdata footer everywhere,
    so the DuckDB twin is closed-form CASE arithmetic in doc_id."""
    import pandas as pd

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ks, vs = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                doc_id = url.rsplit("/", 1)[1]
                fields = extract_structured(bytes(blob).decode("utf-8"))
                ks.append(doc_id)
                vs.append("|".join(fields))
            yield pd.DataFrame(
                {"op": ["structured_data"] * len(ks), "k": ks, "v": vs}
            )

    return pages.mapInPandas(run, schema="op string, k string, v string")


STRUCTURED_DATA_SQL = """
SELECT CAST(doc_id AS string) AS doc_id,
       CASE WHEN doc_id % 4 IN (0, 2) THEN 'Article'
            WHEN doc_id % 4 = 1 THEN '!err' ELSE '-' END AS ld_type,
       CASE WHEN doc_id % 4 IN (0, 2) THEN 'doc ' || (doc_id % 1000)
            ELSE '-' END AS headline,
       CASE WHEN doc_id % 4 IN (0, 2)
            THEN '2026-0' || (doc_id % 9 + 1) || '-01'
            ELSE '-' END AS date_published,
       CASE WHEN doc_id % 4 IN (0, 2) THEN 'Author ' || (doc_id % 13)
            ELSE '-' END AS author,
       'copyright 2026 example' AS org_name,
       '/about' AS org_url
FROM documents
ORDER BY doc_id
"""


# -- publication-date extraction (htmldate-style cascade) --------------------


def extract_pub_date(html: str) -> tuple[str, str]:
    """(date 'YYYY-MM-DD' or '-', source) — the htmldate-style
    publication-date cascade a news/article curation pipeline runs per
    page (freshness ranking, dated dedup, recency mixes):

    1. `<meta property="article:published_time">` (the Open Graph
       article tag — the most reliable publisher signal),
    2. JSON-LD `datePublished` (first ld+json block; malformed JSON is
       skipped, the structured_data '!err' discipline),
    3. first `<time datetime=...>` element in document order,
    4. '-' when nothing validates.

    Every candidate must match ^\\d{4}-\\d{2}-\\d{2} and is truncated
    to the date prefix; an invalid candidate FALLS THROUGH to the next
    source (htmldate's validate-then-descend behavior). htmldate's
    URL-segment fallback (/2026/03/…) is a documented swap point — the
    fixture corpus encodes no dates in URLs. `source` names the
    winning rule ('meta' / 'jsonld' / 'time' / 'none') so downstream
    mixes can weight by signal quality."""
    import json
    import re as _re

    date_re = _re.compile(r"^\d{4}-\d{2}-\d{2}")

    def _valid(cand: str | None) -> str | None:
        if cand and date_re.match(cand.strip()):
            return cand.strip()[:10]
        return None

    root = build_dom(html)
    meta_cand = time_cand = None
    for n in _iter_nodes(root):
        if (
            meta_cand is None
            and n.tag == "meta"
            and n.attrs.get("property", "").lower()
            == "article:published_time"
        ):
            meta_cand = n.attrs.get("content", "")
        elif (
            time_cand is None
            and n.tag == "time"
            and "datetime" in n.attrs
        ):
            time_cand = n.attrs.get("datetime", "")
        if meta_cand is not None and time_cand is not None:
            break
    got = _valid(meta_cand)
    if got:
        return got, "meta"
    scan = _ScriptScan()
    scan.feed(html)
    for block in scan.blocks:
        s = block.strip()
        if not s:
            continue
        try:
            obj = json.loads(s)
        except ValueError:
            break
        if isinstance(obj, list):
            obj = next((o for o in obj if isinstance(o, dict)), None)
        if not isinstance(obj, dict):
            continue
        got = _valid(str(obj.get("datePublished", "")))
        if got:
            return got, "jsonld"
        break
    got = _valid(time_cand)
    if got:
        return got, "time"
    return "-", "none"


def pub_date_rows(spark, sf_dir: str, pages=None):
    """(op='pub_date', k=doc_id, v=date|source) suite row. Narrow
    zero-shuffle mapInPandas like html_meta; the fixture plants the
    meta tag on layout 0 (conflicting with that page's JSON-LD — the
    precedence is observable), JSON-LD-only on layout 2, a <time>
    byline on layout 1 (whose JSON-LD is malformed), nothing on layout
    3, so the DuckDB twin is closed-form CASE arithmetic in doc_id."""
    import pandas as pd

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ks, vs = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                doc_id = url.rsplit("/", 1)[1]
                date, src = extract_pub_date(bytes(blob).decode("utf-8"))
                ks.append(doc_id)
                vs.append(date + "|" + src)
            yield pd.DataFrame(
                {"op": ["pub_date"] * len(ks), "k": ks, "v": vs}
            )

    return pages.mapInPandas(run, schema="op string, k string, v string")


PUB_DATE_SQL = """
SELECT CAST(doc_id AS string) AS doc_id,
       CASE doc_id % 4
         WHEN 0 THEN '2026-0' || (doc_id % 9 + 1) || '-'
                     || (10 + doc_id % 19)
         WHEN 1 THEN '2026-0' || (doc_id % 9 + 1) || '-0'
                     || (doc_id % 7 + 1)
         WHEN 2 THEN '2026-0' || (doc_id % 9 + 1) || '-01'
         ELSE '-' END AS pub_date,
       CASE doc_id % 4 WHEN 0 THEN 'meta' WHEN 1 THEN 'time'
            WHEN 2 THEN 'jsonld' ELSE 'none' END AS source
FROM documents
ORDER BY doc_id
"""


# -- charset-sniffing decode ----------------------------------------------------

def sniff_decode(payload: bytes) -> tuple[str, str]:
    """(encoding, decoded text) for one raw crawl payload — the decode
    step a WARC pipeline needs BEFORE any DOM parse: Common Crawl
    payloads arrive as bytes in whatever encoding the origin served.
    Detection order follows the WHATWG encoding sniffing algorithm's
    practical core:

    1. BOM wins: UTF-8 / UTF-16LE / UTF-16BE.
    2. A `charset=` declaration inside the first 1024 bytes (ASCII
       superset scan, attribute quoting optional).
    3. Strict UTF-8 attempt.
    4. Fallback windows-1252/latin-1 (never fails; the browser default).

    Returned encoding is the canonical lowercase python codec name."""
    if payload.startswith(b"\xef\xbb\xbf"):
        return "utf-8-sig", payload[3:].decode("utf-8", errors="replace")
    if payload.startswith(b"\xff\xfe"):
        return "utf-16-le", payload[2:].decode("utf-16-le", errors="replace")
    if payload.startswith(b"\xfe\xff"):
        return "utf-16-be", payload[2:].decode("utf-16-be", errors="replace")
    import re as _re

    head = payload[:1024]
    m = _re.search(rb'charset\s*=\s*["\']?([A-Za-z0-9_\-]+)', head)
    if m:
        name = m.group(1).decode("ascii").lower()
        aliases = {"utf8": "utf-8", "iso-8859-1": "latin-1",
                   "windows-1252": "cp1252"}
        codec = aliases.get(name, name)
        try:
            return codec, payload.decode(codec, errors="replace")
        except LookupError:
            pass  # unknown label: fall through to content sniffing
    try:
        return "utf-8", payload.decode("utf-8")
    except UnicodeDecodeError:
        return "cp1252", payload.decode("cp1252", errors="replace")


# doc_id % 4 -> on-the-wire encoding of the synthesized page
_CHARSET_CASES = ("utf-8", "utf-8-sig", "utf-16-le", "cp1252")


def encoded_variant(html: str, doc_id: int) -> bytes:
    """Deterministically re-encode a synthesized page the way origins
    actually serve them (plain utf-8 / utf-8 BOM / utf-16le BOM /
    windows-1252 with an injected meta charset declaration)."""
    case = _CHARSET_CASES[doc_id % 4]
    if case == "utf-8":
        return html.encode("utf-8")
    if case == "utf-8-sig":
        return b"\xef\xbb\xbf" + html.encode("utf-8")
    if case == "utf-16-le":
        return b"\xff\xfe" + html.encode("utf-16-le")
    tagged = html.replace(
        "<head>", '<head><meta charset="windows-1252">', 1
    )
    return tagged.encode("cp1252", errors="replace")


def charset_decode_rows(spark, sf_dir: str, pages=None):
    """(op='charset_decode', k=doc_id, v=encoding|main_text) suite row:
    re-encode each synthesized page per doc_id%4, sniff+decode it back,
    run the SAME main-content extraction — the decoded text must be
    byte-identical to documents.text end-to-end (the strongest possible
    oracle for a decoder: the whole DOM pipeline must survive the
    round-trip). Narrow mapInPandas, zero shuffles. `pages` as in
    html_links."""
    import pandas as pd

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ks, vs = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                doc_id = int(url.rsplit("/", 1)[1])
                wire = encoded_variant(bytes(blob).decode("utf-8"), doc_id)
                enc, decoded = sniff_decode(wire)
                ks.append(str(doc_id))
                vs.append(enc + "|" + extract_main_text(decoded))
            yield pd.DataFrame(
                {"op": ["charset_decode"] * len(ks), "k": ks, "v": vs}
            )

    return pages.mapInPandas(run, schema="op string, k string, v string")


# the detected codec is closed-form in doc_id; the text must round-trip
CHARSET_DECODE_SQL = """
SELECT CAST(doc_id AS string) AS doc_id,
       CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-sig'
            WHEN 2 THEN 'utf-16-le' ELSE 'cp1252' END AS encoding,
       text AS main_text
FROM documents
ORDER BY doc_id
"""


# -- HTML table extraction ------------------------------------------------------

def extract_tables(html: str) -> list[list[list[str]]]:
    """All <table> elements as [table][row][cell text] via the shared
    DOM build — the HTML counterpart of the image-side PP-Structure
    table reconstruction (kernels/table_struct.py): a crawl pipeline
    extracts structured relational data from markup directly when the
    page HAS markup, and falls back to the vision path for scans. Cells
    are <td>/<th> in document order; a nested table gets its OWN entry
    and its rows never leak into the enclosing table's row list (cell
    text of the outer cell still includes the nested text, matching
    _node_text semantics everywhere else)."""
    root = build_dom(html)
    out: list[list[list[str]]] = []

    def collect_rows(tnode: _Node) -> list[list[str]]:
        rows: list[list[str]] = []

        def wr(n: _Node) -> None:
            for c in n.children:
                if not isinstance(c, _Node):
                    continue
                if c.tag == "table":
                    continue  # nested table: handled by the outer walk
                if c.tag == "tr":
                    cells = [
                        _node_text(cc)
                        for cc in c.children
                        if isinstance(cc, _Node) and cc.tag in ("td", "th")
                    ]
                    if cells:
                        rows.append(cells)
                wr(c)

        wr(tnode)
        return rows

    def walk(node: _Node) -> None:
        for ch in node.children:
            if isinstance(ch, str):
                continue
            if ch.tag == "table":
                out.append(collect_rows(ch))
            walk(ch)

    walk(root)
    return out


def html_tables_rows(spark, sf_dir: str, pages=None):
    """(op='html_tables', k=doc_id|table|row, v=cells joined '|') suite
    row. Only layout-0 pages carry a table, so 3/4 of the corpus
    exercises the absent case. Narrow mapInPandas; `pages` as in
    html_links."""
    import pandas as pd

    from paddleocr_spark.sources.pages import html_pages_from_documents

    if pages is None:
        pages = html_pages_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            ks, vs = [], []
            for url, blob in zip(pdf["url"], pdf["html"]):
                doc_id = url.rsplit("/", 1)[1]
                tables = extract_tables(bytes(blob).decode("utf-8"))
                for t, rows in enumerate(tables):
                    for r, cells in enumerate(rows):
                        ks.append(f"{doc_id}|{t}|{r}")
                        vs.append("|".join(cells))
            yield pd.DataFrame(
                {"op": ["html_tables"] * len(ks), "k": ks, "v": vs}
            )

    return pages.mapInPandas(run, schema="op string, k string, v string")


HTML_TABLES_SQL = """
SELECT CAST(doc_id AS string) || '|0|' || r AS k,
       CASE r WHEN 0 THEN 'k|v'
              WHEN 1 THEN 'id|' || (doc_id % 1000)
              ELSE 'mod|' || (doc_id % 7) END AS v
FROM documents, UNNEST(generate_series(0, 2)) AS t(r)
WHERE doc_id % 4 = 0
ORDER BY doc_id, r
"""
