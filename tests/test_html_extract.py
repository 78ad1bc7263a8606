"""Main-content extraction: byte-identical round trip + boilerplate
resistance (FIXTURES.md §1 case 8)."""

from paddleocr_spark.operators.html_extract import extract_main_text, synthesize_html


def test_roundtrip_byte_identical():
    texts = [
        "plain words only " * 10,
        "entities & <angles> and 'quotes' plus more words to beat boilerplate mass",
        "x" * 400,
        "short",
    ]
    for i, t in enumerate(texts):
        assert extract_main_text(synthesize_html(t, i)) == t


def test_plain_div_content():
    h = (
        '<html><body><nav class="nav"><a href="/">home</a><a href="/b">b</a></nav>'
        '<div id="content"><p>the real article body with enough words to win '
        "the scoring contest comfortably today</p></div>"
        '<footer><a href="/x">x</a></footer></body></html>'
    )
    assert "real article body" in extract_main_text(h)
    assert "home" not in extract_main_text(h)


def test_link_density_penalty():
    h = (
        "<html><body>"
        '<div class="x"><a href="1">link text one</a><a href="2">link text two</a>'
        "<a href='3'>link text three</a></div>"
        "<div><p>genuine paragraph content that has no links at all and therefore "
        "scores higher despite similar length</p></div>"
        "</body></html>"
    )
    out = extract_main_text(h)
    assert "genuine paragraph" in out
    assert "link text one" not in out


def test_script_style_ignored():
    h = (
        "<html><head><script>var x = 'scripted garbage';</script>"
        "<style>.a{color:red}</style></head><body>"
        "<article><p>visible content words here enough for scoring rules</p>"
        "</article></body></html>"
    )
    out = extract_main_text(h)
    assert "scripted" not in out
    assert "visible content" in out


def test_negativity_read_only_where_scoring_reaches():
    """best_node asks a node's class/id hints only when scoring reaches
    the node: a bare `class` in <head>, under a negative box or on a
    page with no candidate never reaches `_is_negative`."""
    body = "<p>visible content words here enough for scoring rules</p>"
    assert extract_main_text(
        f"<html><head><link class></head><body><div>{body}</div></body></html>"
    ) == "visible content words here enough for scoring rules"
    assert "visible" in extract_main_text(
        f'<body><nav><a id>x</a></nav><div class="post">{body}</div></body>'
    )
    assert extract_main_text("<p class>no candidate</p>") == ""


def test_empty_and_garbage():
    assert extract_main_text("") == ""
    assert extract_main_text("<p></p>") == ""
    # malformed HTML must not raise
    extract_main_text("<div><p>unclosed <b>stuff</div>")


class TestLayoutVariants:
    """The four synthesize_html layouts each exercise a different scoring
    branch; all must round-trip byte-identically."""

    TEXT = "The quick brown fox jumps over the lazy dog near the river bank."

    def test_all_layouts_roundtrip(self):
        from paddleocr_spark.operators.html_extract import (
            extract_main_text,
            synthesize_html,
        )

        for seed in range(8):  # two full layout cycles
            html = synthesize_html(self.TEXT, seed)
            assert extract_main_text(html) == self.TEXT, seed

    def test_layout1_wins_without_semantic_tags(self):
        from paddleocr_spark.operators.html_extract import synthesize_html

        html = synthesize_html(self.TEXT, 1)
        assert "<article" not in html and "<main" not in html

    def test_layout2_reassembles_split_paragraphs(self):
        from paddleocr_spark.operators.html_extract import (
            extract_main_text,
            synthesize_html,
        )

        html = synthesize_html(self.TEXT, 2)
        k = len(self.TEXT) // 2
        # the content really is split mid-string across two <p> blocks
        assert f"<p>{self.TEXT[:k]}</p><p>{self.TEXT[k:]}</p>" in html
        assert extract_main_text(html) == self.TEXT

    def test_layout3_link_farm_scores_negative(self):
        from paddleocr_spark.operators.html_extract import (
            _DomBuilder,
            _iter_nodes,
            score_node,
            synthesize_html,
        )

        b = _DomBuilder()
        b.feed(synthesize_html(self.TEXT, 3))
        farm = next(
            n for n in _iter_nodes(b.root)
            if n.attrs.get("class") == "links"
        )
        assert score_node(farm) <= 0.0

    def test_short_and_empty_text_roundtrip_all_layouts(self):
        from paddleocr_spark.operators.html_extract import (
            extract_main_text,
            synthesize_html,
        )

        for t in ("", "x", "two words"):
            for seed in range(4):
                assert extract_main_text(synthesize_html(t, seed)) == t, (t, seed)


def test_extract_links_dom_semantics():
    """Link extraction rides the DOM parse: quoted attrs, entities in
    anchor text, links inside skipped script blocks are NOT collected,
    nested anchors all found."""
    from paddleocr_spark.operators.html_extract import extract_links

    html = (
        "<html><body>"
        '<script>var s = "<a href=\\"/fake\\">x</a>";</script>'
        '<div><a href="/a?x=1&amp;y=2">A &amp; B</a>'
        '<p><a href="/b">inner</a></p></div>'
        "<a>no href</a>"
        "</body></html>"
    )
    links = extract_links(html)
    assert links == [("/a?x=1&y=2", "A & B"), ("/b", "inner")]


def test_extract_links_matches_fixture_layouts():
    from paddleocr_spark.operators.html_extract import (
        extract_links,
        synthesize_html,
    )

    for seed, want in [(0, 8), (1, 6), (2, 6), (3, 7)]:
        got = extract_links(synthesize_html("some text", seed))
        assert len(got) == want
        assert ("/about", "about") in got


def test_anchor_text_index_matches_bruteforce(spark):
    """anchor_text_rows == a plain-Python index over the same corpus
    slice: per-href ref count and sorted distinct anchor set."""
    from collections import defaultdict

    from conftest import SF_SMALL

    from paddleocr_spark.operators.html_extract import (
        anchor_text_rows,
        extract_links,
        synthesize_html,
    )

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    refs: dict[str, int] = defaultdict(int)
    anchors: dict[str, set] = defaultdict(set)
    for r in docs:
        for href, anchor in extract_links(
            synthesize_html(str(r["text"]), int(r["doc_id"]))
        ):
            refs[href] += 1
            anchors[href].add(anchor)
    want = {
        h: f"{refs[h]}|" + ",".join(sorted(anchors[h])[:64]) for h in refs
    }
    got = {
        r["k"]: r["v"] for r in anchor_text_rows(spark, SF_SMALL).collect()
    }
    assert got == want


def test_anchor_cap_bounds_reduce_key(spark):
    """A target referenced with more than ANCHOR_CAP distinct anchors
    keeps an exact n_refs but only the first CAP sorted anchors — the
    bounded-reduce-key discipline, actually enforced."""
    from paddleocr_spark.operators.html_extract import ANCHOR_CAP, index_links

    links = spark.createDataFrame(
        [("/hot", f"anchor {i:04d}") for i in range(ANCHOR_CAP + 36)]
        + [("/hot", "anchor 0000")],  # dup: distinct < refs
        "href string, anchor string",
    )
    row = index_links(links).collect()[0]
    assert row["n_refs"] == ANCHOR_CAP + 37
    kept = row["anchors"].split(",")
    assert len(kept) == ANCHOR_CAP
    assert kept == sorted(kept) == [f"anchor {i:04d}" for i in range(ANCHOR_CAP)]


def test_frontier_anti_join_removes_crawled_targets(spark):
    """Outlink targets already in the crawled set are dropped; the rest
    carry exact ref and distinct-host counts."""
    from paddleocr_spark.operators.html_extract import frontier_targets

    links = spark.createDataFrame(
        [
            ("a.test", "/doc/1"),   # crawled -> removed
            ("a.test", "/new"),
            ("b.test", "/new"),     # different host, different target
            ("a.test", "/new"),     # second ref from the same host
        ],
        "host string, href string",
    )
    crawled = spark.createDataFrame(
        [("https://a.test/doc/1",)], "u string"
    )
    got = {
        r.target: (r.n_refs, r.n_hosts)
        for r in frontier_targets(links, crawled).collect()
    }
    assert got == {
        "https://a.test/new": (2, 1),
        "https://b.test/new": (1, 1),
    }


# -- page metadata extraction --------------------------------------------------

def test_extract_metadata_all_layouts():
    """Every synthesized layout yields the deterministic head fields;
    og:title is present on even layouts only and '-' otherwise."""
    from paddleocr_spark.operators.html_extract import (
        extract_metadata,
        synthesize_html,
    )

    for seed in range(8):
        t, d, c, o = extract_metadata(synthesize_html("some text", seed))
        sid = seed % 1000
        assert t == f"doc {sid}"
        assert d == f"summary {sid} layout {seed % 4}"
        assert c == f"https://canon{seed % 7}.example.test/page/{sid}"
        assert o == (f"OG doc {sid}" if seed % 4 in (0, 2) else "-")


def test_extract_metadata_absent_first_wins_entities():
    """Absent tags -> '-'; duplicated tags -> first occurrence; entity
    references in title/content decode (real parse, not a regex)."""
    from paddleocr_spark.operators.html_extract import extract_metadata

    html = (
        "<html><head><title>A &amp; B</title><title>second</title>"
        '<meta name="description" content="first desc">'
        '<meta name="description" content="second desc">'
        "</head><body><p>x</p></body></html>"
    )
    t, d, c, o = extract_metadata(html)
    assert (t, d, c, o) == ("A & B", "first desc", "-", "-")
    assert extract_metadata("<html><body>no head</body></html>") == (
        "-", "-", "-", "-",
    )


def test_extract_metadata_attr_values_case_insensitive():
    """Real pages use Canonical/Description/OG:title casing; attribute
    VALUES must match case-insensitively (names already lowercase via
    html.parser)."""
    from paddleocr_spark.operators.html_extract import extract_metadata

    html = (
        "<html><head><title>t</title>"
        '<meta name="Description" content="d">'
        '<meta property="OG:Title" content="o">'
        '<link rel="Canonical" href="https://c.example.test/x">'
        "</head><body><p>x</p></body></html>"
    )
    assert extract_metadata(html) == (
        "t", "d", "https://c.example.test/x", "o",
    )


def test_sniff_decode_all_paths():
    """BOMs win over meta; first meta charset wins; strict utf-8 then
    cp1252 fallback; decoded text round-trips byte-identically."""
    from paddleocr_spark.operators.html_extract import (
        encoded_variant,
        sniff_decode,
        synthesize_html,
    )

    html = synthesize_html("content words here", 5)
    # the four wire variants decode back to a page whose main text is
    # the original (the cp1252 variant gains an injected meta tag)
    for doc_id, want_enc in enumerate(
        ("utf-8", "utf-8-sig", "utf-16-le", "cp1252")
    ):
        enc, dec = sniff_decode(encoded_variant(html, doc_id))
        assert enc == want_enc, (doc_id, enc)
        assert "content words here" in dec

    # UTF-16BE BOM path
    enc, dec = sniff_decode(b"\xfe\xff" + "hi".encode("utf-16-be"))
    assert (enc, dec) == ("utf-16-be", "hi")
    # no BOM, no meta, invalid utf-8 -> cp1252 fallback
    enc, dec = sniff_decode(b"caf\xe9")
    assert (enc, dec) == ("cp1252", "café")
    # unknown charset label falls through to utf-8 content sniff
    enc, dec = sniff_decode(b'<meta charset="bogus-enc">ok')
    assert (enc, dec) == ("utf-8", '<meta charset="bogus-enc">ok')
    # declared latin-1 maps through the alias table and decodes bytes
    enc, dec = sniff_decode(b'<meta charset="iso-8859-1">caf\xe9')
    assert enc == "latin-1" and dec.endswith("café")


def test_extract_tables_layouts_and_nesting():
    """Layout 0 carries the deterministic 3-row table (cell-exact,
    closed-form in seed); the other layouts have none. A nested table
    gets its own entry and its rows never leak into the outer table's
    row list, while the outer CELL text still contains the nested text
    (_node_text semantics)."""
    from paddleocr_spark.operators.html_extract import (
        extract_tables,
        synthesize_html,
    )

    for seed in (0, 4, 700):
        tables = extract_tables(synthesize_html("body text", seed))
        assert tables == [
            [["k", "v"], ["id", str(seed % 1000)], ["mod", str(seed % 7)]]
        ], seed
    for seed in (1, 2, 3):
        assert extract_tables(synthesize_html("body text", seed)) == []

    nested = (
        "<table><tr><td>outer"
        "<table><tr><td>inner</td></tr></table>"
        "</td></tr></table>"
    )
    assert extract_tables(nested) == [[["outerinner"]], [["inner"]]]
    # th cells, multiple rows, text outside td ignored
    assert extract_tables(
        "<table><caption>c</caption><tr><th>a</th><th>b</th></tr>"
        "<tr><td>1</td><td>2</td></tr></table>"
    ) == [[["a", "b"], ["1", "2"]]]


def test_extract_tables_randomized_wellformed_trees():
    """Property: for randomly generated WELL-FORMED table forests
    (random rows/cells/nesting/interleaved junk), extract_tables
    returns exactly the expected [table][row][cells] built during
    generation — document order, nested tables as their own entries,
    outer rows without nested rows."""
    import random

    from paddleocr_spark.operators.html_extract import extract_tables

    rng = random.Random(20260818)

    def gen_table(depth, counter):
        """Returns (html, expected_tables) — expected[0] is THIS table,
        the rest are nested ones in document order."""
        n_rows = rng.randint(1, 3)
        rows, nested_html, nested_expected = [], {}, []
        for r in range(n_rows):
            n_cells = rng.randint(1, 3)
            cells = []
            for c in range(n_cells):
                txt = f"c{next(counter)}"
                inner = ""
                if depth < 2 and rng.random() < 0.25:
                    ih, iexp = gen_table(depth + 1, counter)
                    inner = ih
                    nested_expected.extend(iexp)
                    # the outer cell's text includes the nested text
                    txt_full = txt + "".join(
                        cell for t in iexp[:1] for row in t for cell in row
                    )
                else:
                    txt_full = txt
                tag = rng.choice(("td", "th"))
                cells.append((f"<{tag}>{txt}{inner}</{tag}>", txt_full))
            rows.append(cells)
        html = "<table>" + "".join(
            "<tr>" + "".join(h for h, _ in row) + "</tr>" for row in rows
        ) + "</table>"
        this = [[t for _, t in row] for row in rows]
        return html, [this] + nested_expected

    for _ in range(40):
        counter = iter(range(10000))
        n_top = rng.randint(1, 3)
        html_parts, expected = ["<html><body>"], []
        for _ in range(n_top):
            html_parts.append(f"<p>junk {rng.randint(0, 9)}</p>")
            th, texp = gen_table(0, counter)
            html_parts.append(th)
            expected.extend(texp)
        html_parts.append("</body></html>")
        got = extract_tables("".join(html_parts))
        assert got == expected


class TestStructuredData:
    def test_four_fixture_layouts(self):
        from paddleocr_spark.operators.html_extract import (
            extract_structured,
            synthesize_html,
        )

        for seed in range(8):
            got = extract_structured(synthesize_html("body words", seed))
            org = ("copyright 2026 example", "/about")
            if seed % 4 in (0, 2):
                assert got == (
                    "Article",
                    f"doc {seed % 1000}",
                    f"2026-0{seed % 9 + 1}-01",
                    f"Author {seed % 13}",
                    *org,
                ), seed
            elif seed % 4 == 1:
                assert got == ("!err", "-", "-", "-", *org), seed
            else:
                assert got == ("-", "-", "-", "-", *org), seed

    def test_author_string_and_array_form(self):
        from paddleocr_spark.operators.html_extract import extract_structured

        html = (
            '<html><head><script type="application/ld+json">'
            '[{"@type":"NewsArticle","headline":"h","author":"Jo"}]'
            "</script></head><body></body></html>"
        )
        assert extract_structured(html)[:4] == ("NewsArticle", "h", "-", "Jo")

    def test_plain_script_is_not_jsonld(self):
        from paddleocr_spark.operators.html_extract import extract_structured

        html = (
            "<html><head><script>var x = {not: 'json-ld'};</script>"
            "</head><body></body></html>"
        )
        assert extract_structured(html) == ("-",) * 6

    def test_microdata_value_rules(self):
        from paddleocr_spark.operators.html_extract import extract_structured

        html = (
            "<html><body>"
            '<div itemscope itemtype="https://schema.org/Person">'
            '<meta itemprop="name" content="Meta Name">'
            '<a itemprop="url" href="/u">text ignored</a>'
            '<span itemprop="name">second name loses</span>'
            "</div></body></html>"
        )
        got = extract_structured(html)
        assert got[4] == "Meta Name"  # meta -> content, first wins
        assert got[5] == "/u"  # a -> href, not text

    def test_main_text_unchanged_by_structured_markup(self):
        """The JSON-LD block and microdata attributes must be invisible
        to boilerplate stripping: extraction stays byte-identical."""
        from paddleocr_spark.operators.html_extract import (
            extract_main_text,
            synthesize_html,
        )

        for seed in range(8):
            t = f"some content for seed {seed} with enough words to win"
            assert extract_main_text(synthesize_html(t, seed)) == t


class TestCodeBlocks:
    def test_multiple_blocks_document_order(self):
        from paddleocr_spark.operators.html_extract import (
            extract_code_blocks,
        )

        html = (
            "<html><body>"
            '<pre><code class="language-python">a = 1</code></pre>'
            "<p>prose</p>"
            "<pre><code>plain()</code></pre>"
            "<code>inline, not fenced</code>"
            '<pre><code class="hl language-rust">fn main() {}</code></pre>'
            "</body></html>"
        )
        assert extract_code_blocks(html) == [
            ("python", "a = 1"),
            ("", "plain()"),
            ("rust", "fn main() {}"),
        ]

    def test_entities_and_newlines_roundtrip(self):
        from paddleocr_spark.operators.html_extract import (
            extract_code_blocks,
        )

        html = (
            '<pre><code class="language-c">'
            "if (a &lt; b &amp;&amp; c &gt; 0)\n  return a &amp; c;"
            "</code></pre>"
        )
        assert extract_code_blocks(html) == [
            ("c", "if (a < b && c > 0)\n  return a & c;")
        ]

    def test_synthesized_block_matches_oracle_arithmetic(self):
        """The snippet closed-form the SQL oracle reconstructs."""
        from paddleocr_spark.operators.html_extract import (
            extract_code_blocks,
            synthesize_html,
        )

        for seed in range(9):
            blocks = extract_code_blocks(synthesize_html("text", seed))
            assert len(blocks) == 1
            lang, code = blocks[0]
            sid = seed % 1000
            if seed % 3 == 0:
                assert lang == "python"
                assert code == (
                    f"def f{sid}(x):\n    return x & {seed % 97}"
                    f" < {seed % 13}"
                )
            elif seed % 3 == 1:
                assert lang == "javascript"
                assert code == (
                    f"if (a < {seed % 97} && b > {seed % 13})"
                    f" {{ return {sid}; }}"
                )
            else:
                assert lang == "sql"
                assert code == (
                    f"SELECT {sid} AS v FROM t WHERE a <> {seed % 97};"
                )

    def test_main_text_unchanged_by_code_box(self):
        """The code box is negative-hinted: boilerplate stripping must
        stay byte-identical on every layout, including content shorter
        than the snippet."""
        from paddleocr_spark.operators.html_extract import (
            extract_main_text,
            synthesize_html,
        )

        for seed in range(8):
            for t in ("tiny", "some content with enough words to win"):
                assert extract_main_text(synthesize_html(t, seed)) == t


def test_extract_image_pairs_fixture_matrix():
    """The shared fixture's media box: 4 imgs per page — alt on even
    seeds, figcaption fallback on odd, empty-alt thumb and attr-less
    tracker both unkept."""
    from paddleocr_spark.operators.html_extract import extract_image_pairs

    for seed in (6, 7):
        sid = seed % 1000
        got = extract_image_pairs(synthesize_html("body words " * 30, seed))
        assert [g[0] for g in got] == [
            f"/img/{sid}-hero.jpg",
            f"/img/{sid}-inline-960.png",  # largest srcset variant wins
            f"/thumb/{seed % 9}.gif",
            "/track/pix.gif",
        ]
        hero = got[0]
        assert hero[2] == f"Figure {sid}: scene {seed % 11}"  # caption
        if seed % 2 == 0:
            assert hero[1] == f"hero photo {sid}"
        else:
            assert hero[1] == ""
        assert got[1][1] == f"inline view {seed % 5}"
        assert got[1][2] == ""  # not inside the figure
        assert got[2][1] == "" and got[3][1] == ""


def test_extract_image_pairs_nesting_and_quoting():
    from paddleocr_spark.operators.html_extract import extract_image_pairs

    h = (
        "<html><body><figure><div>"
        "<img src='/a.jpg' alt=\"cat &amp; dog\">"
        "</div><figcaption>outer cap</figcaption>"
        "<figure><img src=/b.jpg><figcaption>inner</figcaption></figure>"
        "</figure>"
        "<img alt='no src so skipped'>"
        "</body></html>"
    )
    got = extract_image_pairs(h)
    # nested figure rebinds the caption; entity decoded in alt;
    # unquoted src attribute survives the real parse; src-less img skipped
    assert got == [
        ("/a.jpg", "cat & dog", "outer cap"),
        ("/b.jpg", "", "inner"),
    ]


def test_main_text_unchanged_by_media_box():
    """The media box must never leak into main-content extraction."""
    for seed in range(8):
        t = f"content words for doc {seed} " * 20
        out = extract_main_text(synthesize_html(t, seed))
        assert out == t
        assert "Figure" not in out and "hero photo" not in out


def test_pick_srcset_rules():
    from paddleocr_spark.operators.html_extract import pick_srcset

    # width descriptors: largest wins
    assert pick_srcset("/s.png", "/a.png 480w, /b.png 960w") == "/b.png"
    # density descriptors; bare candidate counts as 1x
    assert pick_srcset("/s.png", "/a.png, /b.png 2x") == "/b.png"
    assert pick_srcset("/s.png", "/a.png, /b.png 0.5x") == "/a.png"
    # empty/garbage srcset falls back to src
    assert pick_srcset("/s.png", "") == "/s.png"
    assert pick_srcset("/s.png", "/a.png NaNqw, /b.png zz") == "/s.png"
    # whitespace-tolerant
    assert pick_srcset("/s.png", "  /a.png  640w ,  /b.png  320w ") == "/a.png"


def test_extract_robots_meta_tokens():
    from paddleocr_spark.operators.html_extract import extract_robots_meta

    mk = lambda c: f'<html><head><meta name="ROBOTS" content="{c}"></head><body><p>x</p></body></html>'
    assert extract_robots_meta(mk("noindex, nofollow")) == (1, 1, "noindex, nofollow")
    assert extract_robots_meta(mk("NoIndex")) == (1, 0, "NoIndex")
    assert extract_robots_meta(mk(" nofollow ")) == (0, 1, " nofollow ")
    assert extract_robots_meta(mk("none")) == (1, 1, "none")
    assert extract_robots_meta(mk("index, follow")) == (0, 0, "index, follow")
    # absent tag and non-robots meta are indexable; first tag wins
    assert extract_robots_meta("<html><body><p>x</p></body></html>") == (0, 0, "")
    two = ('<html><head><meta name="robots" content="noindex">'
           '<meta name="robots" content="all"></head></html>')
    assert extract_robots_meta(two) == (1, 0, "noindex")
    # fixture round-trip across all five directive cells
    for seed in range(5):
        ni, nf, d = extract_robots_meta(synthesize_html("w " * 50, seed))
        assert (ni, nf) == (
            int(seed % 5 in (0, 1, 4)), int(seed % 5 in (0, 2, 4)))
