"""`html_extract.build_dom` builds the tree html.parser builds.

`build_dom` scans the markup with one compiled pattern and hands
anything outside that pattern's grammar to the html.parser
`_DomBuilder`. Every test here compares the two trees node for node:
tag, attributes (values and order), element order numbers, and every
text chunk, in document order. The tag-soup property covers the
grammar's edges; the fixture tests cover the markup the extractors
actually see, and assert it takes the scan, not the fallback.
"""

import ast
import random
from pathlib import Path

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from paddleocr_spark.operators import html_extract as he

TESTS = Path(__file__).resolve().parent


def _shape(node):
    return (
        node.tag,
        tuple(node.attrs.items()),
        node.order,
        tuple(c if isinstance(c, str) else _shape(c) for c in node.children),
    )


def _reference(markup):
    b = he._DomBuilder()
    b.feed(markup)
    return b.root


def _scan(markup):
    """(build_dom's root, True when the scan built it with no fallback)."""
    fell_back = []
    parse = he._parse_dom

    def fallback(m):
        fell_back.append(m)
        return parse(m)

    he._parse_dom = fallback
    try:
        root = he.build_dom(markup)
    finally:
        he._parse_dom = parse
    return root, not fell_back


def _assert_same(markup):
    """Equal trees, or the same exception; returns whether the scan
    built the tree."""
    try:
        want = _shape(_reference(markup))
    except Exception as exc:  # html.parser asserts on some marked sections
        with pytest.raises(type(exc)):
            _scan(markup)
        return False
    root, fast = _scan(markup)
    assert _shape(root) == want, markup
    return fast


# -- tag soup ---------------------------------------------------------

_NAMES = ["div", "p", "a", "DIV", "Br", "img", "span", "noscript", "section",
          "td", "x-y", "nav", "scriptx", "li", "meta", "pre", "code", "time",
          "link", "table", "tr"]
_TEXT = st.text(alphabet="ab &;#x1<>/'\"=-!\n\t\xa0ſ", max_size=12)
_ENTITY = st.sampled_from(["&amp;", "&amp", "&lt;", "&#39;", "&#x41", "&#1;",
                           "&nbsp", "&notin;", "&", "&#", "&#x;", "&zz;"])
_VALUE = st.one_of(
    st.builds(lambda v: f'="{v}"', _TEXT),
    st.builds(lambda v: f"='{v}'", _TEXT),
    st.builds(lambda v: f"={v}", st.text(alphabet="ab/&;=#'\"", max_size=6)),
    st.sampled_from(["", "", '=""', "=''", "=", "==a", ' = "s p"', "=a/",
                     '="a>b"', "='&amp;x'", '="&lt"']),
)
_ATTR = st.builds(
    lambda sep, name, value: sep + name + value,
    st.sampled_from([" ", " ", "\n", "  ", "", "/", " / "]),
    st.sampled_from(["class", "id", "href", "CLASS", "data-x", "alt", "b",
                     "'q", "=x", "name", "property", "content", "rel", "src",
                     "srcset", "itemprop", "itemscope", "datetime"]),
    _VALUE,
)
_START = st.builds(
    lambda name, attrs, close: f"<{name}{''.join(attrs)}{close}",
    st.sampled_from(_NAMES),
    st.lists(_ATTR, max_size=3),
    st.sampled_from([">", ">", "/>", " />", "/ >", " >", ""]),
)
_END = st.builds(
    lambda name, form: form.format(name),
    st.sampled_from(_NAMES),
    st.sampled_from(["</{}>", "</{}>", "</ {} >", "</{} x>", "</{}", "</{}\n>"]),
)
_RAW = st.builds(
    lambda name, body, close: f"<{name}>{body}{close}",
    st.sampled_from(["script", "style", "SCRIPT", "Style"]),
    st.sampled_from(["", "a < b", "if (a<b) {}", "</scr", "<p>x</p>",
                     "</ſcript>", "&amp;"]),
    st.sampled_from(["</script>", "</style>", "</SCRIPT >", "</ style>", ""]),
)
_OTHER = st.sampled_from([
    "<!--c-->", "<!--c-- >", "<!-- a --!> b -->", "<!---->", "<!-->x-->",
    "<!--open", "<!DOCTYPE html>", "<!doctype>", "<!x>", "<!>", "<!-x>",
    "<![CDATA[x<y]]>", '<?xml version="1.0"?>', "<?pi", "<", "< ", "<3",
    "</>", "</3>", "<script/>", "<br/>", "<p/>", "<noscript/>",
])
_SOUP = st.lists(
    st.one_of(_TEXT, _ENTITY, _START, _END, _RAW, _OTHER), max_size=14
).map("".join)


@settings(max_examples=1500, deadline=None)
@given(_SOUP)
@example("<div class=a>x &amp y</div>&")
@example("<p a=1 a=2 A=3 b>t</p>")
@example('<a href="/x?a=1&amp;b=2" title=\'&lt;\'>q</a>')
@example("<noscript><br/><div>x</div></noscript><p>y</p>")
@example("<div><script>a</div>b</script>c</div>")
@example("<p>a<!-- x -- >b -->c</p>")
@example("<p><script>x</ſcript>y</script>z</p>")
@example("<p>tail &amp")
@example("<DIV><P>a</DIV>b</p>c")
@example("<p a= =b c==d>x</p><p e = =f>y</p>")
@example("<p>a<script/>b<style/>c</p>")
@example("<p>&#1;<b>&#1;x</b></p>")
def test_tag_soup_matches_html_parser(markup):
    _assert_same(markup)


def test_tag_soup_reaches_the_scan():
    """The soup exercises both paths: the scan builds some of its
    documents and hands the others to html.parser."""
    seen = [0, 0]

    @settings(max_examples=300, deadline=None, database=None, derandomize=True)
    @given(_SOUP)
    def draw(markup):
        seen[_assert_same(markup)] += 1

    draw()
    assert min(seen) >= 30, seen


# -- the markup the extractors see -------------------------------------

_WORDS = ["alpha", "beta", "gamma", "delta", "a&b", "x<y", "q>r", "\"quoted\"",
          "it's", "café", " nbsp", "tab\tbed", "line\nbreak", "&amp;"]


def _text(rng):
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(0, 40)))


def test_synthesized_layouts_take_the_scan():
    rng = random.Random(11)
    for seed in range(1200):
        assert _assert_same(he.synthesize_html(_text(rng), seed)), seed


def test_markdown_pages_take_the_scan():
    from paddleocr_spark.operators.markdown import markdown_page

    rng = random.Random(12)
    for seed in range(90):
        assert _assert_same(markdown_page(_text(rng), seed)), seed


def test_feed_and_sitemap_documents():
    from paddleocr_spark.operators.feeds import synth_host_feed
    from paddleocr_spark.operators.sitemap import synth_host_sitemaps

    for c in range(33, 127):
        source = "src" + chr(c)
        docs = [synth_host_feed(source)[1], *synth_host_sitemaps(source).values()]
        for xml in docs:
            # the XML declaration (a `<?` up to the first `>`) is on the
            # scan; only a raw '<' in the host name falls back
            assert _assert_same(xml) or chr(c) == "<", xml


def _test_file_markup():
    """Every string constant in the test files that holds a tag."""
    out = set()
    for path in sorted(TESTS.glob("test_*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "<" in node.value
            ):
                out.add(node.value)
    return sorted(out)


def test_test_file_fixtures():
    markup = _test_file_markup()
    assert len(markup) > 100
    fast = sum(_assert_same(m) for m in markup)
    assert fast > len(markup) // 2, (fast, len(markup))


# -- the readers of the tree -------------------------------------------


def _readers():
    """Every HTML/XML extractor that `extract_pages` or a board row calls."""
    from paddleocr_spark.operators import feeds, justext, markdown, sitemap, spans

    return [
        he.extract_main_text,
        he.extract_links,
        he.extract_image_pairs,
        he.extract_robots_meta,
        he.extract_metadata,
        he.extract_code_blocks,
        he.extract_structured,
        he.extract_pub_date,
        he.extract_tables,
        markdown.render_markdown,
        feeds.parse_feed,
        sitemap.parse_sitemap,
        justext._analyze,
        spans.extract_spans,
    ]


@settings(max_examples=400, deadline=None)
@given(_SOUP)
@example("<div class>hello world and more words here</div>")
@example("<meta property content><meta name><link rel href><time datetime>")
@example("<pre><code class>x</code></pre><a href>y</a><img src srcset alt>")
@example("<div itemscope><a itemprop href>z</a></div>")
def test_readers_never_raise_on_tag_soup(markup):
    """A valid page never becomes an error row: each reader returns on
    any tree, bare attributes (value "") included."""
    for read in _readers():
        read(markup)


_BARE = [
    # the same result as without the bare attribute
    ("extract_main_text",
     "<div class>hello world and more words here</div>",
     "<div>hello world and more words here</div>"),
    ("extract_pub_date", "<meta property><p>x</p>", "<meta><p>x</p>"),
    ("extract_metadata", "<meta name><title>t</title>", "<meta><title>t</title>"),
    ("extract_robots_meta", "<meta name content=x><p>x</p>",
     "<meta content=x><p>x</p>"),
    ("extract_code_blocks", "<pre><code class>x</code></pre>",
     "<pre><code>x</code></pre>"),
    ("render_markdown", "<pre><code class>x</code></pre>",
     "<pre><code>x</code></pre>"),
    ("extract_structured", '<div itemscope><a itemprop href="/u">n</a></div>',
     '<div itemscope><a href="/u">n</a></div>'),
    # the same result as the empty value
    ("extract_links", "<a href>x</a>", '<a href="">x</a>'),
    ("extract_image_pairs", "<img src alt>", '<img src="" alt="">'),
    ("parse_feed",
     '<feed><title>t</title><entry><id>i</id><link href></entry></feed>',
     '<feed><title>t</title><entry><id>i</id><link href=""></entry></feed>'),
]


@pytest.mark.parametrize("reader, bare, plain", _BARE, ids=[r[0] for r in _BARE])
def test_bare_attribute_reads_as_empty_value(reader, bare, plain):
    (read,) = [r for r in _readers() if r.__name__ == reader]
    assert read(bare) == read(plain)


def test_bare_attribute_values():
    assert he.extract_links("<a href>x</a>") == [("", "x")]
    assert he.build_dom("<p hidden class=a>").children[0].attrs == {
        "hidden": "", "class": "a"
    }
