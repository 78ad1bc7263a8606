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
          "td", "x-y", "nav", "scriptx", "li"]
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
                     "'q", "=x"]),
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
            _assert_same(xml)
            # without the XML declaration (a `<?`), and with no raw '<'
            # in the host name, the same documents take the scan
            body = xml.split("?>", 1)[1]
            assert _assert_same(body) or chr(c) == "<", body


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
