"""DOM block parser robustness (kernels/boilerplate.py): table merging,
boilerplate ancestry, class hints, entities, malformed input."""

from usls_doc_spark.kernels.boilerplate import classify_block, parse_blocks


def blocks_of(html: str):
    return parse_blocks(html)


def test_table_cells_merge_into_one_block():
    html = """<table><tr><td>a1</td><td>a2</td></tr>
              <tr><td>b1</td><td>b2</td></tr></table>"""
    b = blocks_of(html)
    assert len(b) == 1
    assert b[0].tag == "table"
    assert b[0].text == "a1 a2 b1 b2"
    assert classify_block(b[0])[0] == "table"


def test_nav_aside_ancestry_marks_boilerplate():
    html = "<nav><ul><li>x</li></ul></nav><aside><p>promo</p></aside><p>body text here</p>"
    b = blocks_of(html)
    assert [blk.boilerplate_ancestor for blk in b] == [True, True, False]
    assert classify_block(b[0])[0] == "abandon"
    assert classify_block(b[2])[0] == "plain text"


def test_class_hint_divs():
    html = '<div class="Sidebar promo"><p>buy now</p></div><div class="content"><p>real</p></div>'
    b = blocks_of(html)
    assert b[0].boilerplate_ancestor is True
    assert b[1].boilerplate_ancestor is False


def test_link_density_counts_anchor_text():
    html = '<p><a href="/x">link text</a> and plain</p>'
    b = blocks_of(html)[0]
    assert b.link_chars == len("link text")
    assert 0 < b.link_density < 1
    pure = blocks_of('<p><a href="/y">only links</a></p>')[0]
    assert pure.link_density == 1.0
    assert classify_block(pure)[0] == "abandon"


def test_entities_unescaped():
    b = blocks_of("<p>a &amp; b &lt;c&gt;</p>")[0]
    assert b.text == "a & b <c>"


def test_script_style_skipped():
    html = "<script>var x = 'nope';</script><style>p{}</style><p>kept</p>"
    b = blocks_of(html)
    assert len(b) == 1 and b[0].text == "kept"


def test_malformed_html_degrades():
    # unclosed tags, stray close tags, truncated entity — never raises
    for bad in (
        "<p>unclosed",
        "</p></div><p>stray closes</p>",
        "<p>trunc &am",
        "<table><td>never closed",
        "\x00\x01<p>binary noise</p>",
    ):
        bs = blocks_of(bad)
        assert isinstance(bs, list)
    assert blocks_of("<p>unclosed")[0].text == "unclosed"


def test_whitespace_normalization():
    b = blocks_of("<p>  a\n\t b   c </p>")[0]
    assert b.text == "a b c"


def test_nested_blocks_inner_wins():
    # li inside ul: text lands in the li block
    b = blocks_of("<ul><li>one</li><li>two</li></ul>")
    assert [x.text for x in b] == ["one", "two"]


def test_void_element_with_hint_class_does_not_poison_page():
    # <img class="ad"> is a void element: it must not push a boilerplate
    # marker that never pops (round-1 ADVICE — every later block silently
    # became 'abandon' and its text was dropped)
    html = '<img class="ad"><p>real article text here</p>'
    b = blocks_of(html)
    assert len(b) == 1
    assert b[0].text == "real article text here"
    assert not b[0].boilerplate_ancestor


def test_nested_same_name_tag_keeps_outer_marker():
    # inner </div> must close the INNER div, not pop the sidebar marker —
    # the <p> is still inside the boilerplate container
    html = '<div class="sidebar"><div>x</div><p>sidebar junk text</p></div><p>body</p>'
    b = blocks_of(html)
    texts = {x.text: x.boilerplate_ancestor for x in b}
    assert texts["sidebar junk text"] is True
    assert texts["body"] is False


def test_self_closing_hinted_element_recovers():
    # XHTML-style self-closing non-void tag: start+end fire back to back
    html = '<div class="promo"/><p>after</p>'
    b = blocks_of(html)
    assert b[-1].text == "after"
    assert not b[-1].boilerplate_ancestor


def test_stray_end_tags_do_not_underflow():
    html = "</div></nav></footer><p>fine</p>"
    b = blocks_of(html)
    assert b[0].text == "fine" and not b[0].boilerplate_ancestor


ADVERSARIAL_HTML = [
    "",
    "plain text no markup at all",
    "<p>unclosed",
    "<p>trunc &am",
    "<p>a &amp; b &lt;c&gt; &#65; &unknown; d</p>",
    "</p></div><p>stray closes</p>",
    "<table><td>never closed",
    "\x00\x01<p>binary noise</p>",
    "<p>bare < less-than</p>",
    "<p>3 < 5 and 7 > 2</p>",
    "<!-- comment <p>not a block</p> --><p>real</p>",
    "<p><!--><p>short bogus comment</p>",
    "<p><!---><p>also bogus</p>",
    "<p>tail <!--never closed",
    # round-5 differential-fuzz finds: stdlib closes comments with the
    # regex '--\\s*>' (whitespace before '>' allowed), and its EOF
    # recovery emits unterminated constructs only up to the NEXT '<'
    # (then reprocesses) — never the whole remainder in one fragment
    "<!--><li>--\n>",
    "<a><table><y\n<",
    "<a><p><!\n<",
    "<p><!--x--\t>y</p>",
    "<a href='x'><!--a-- >b",
    "<!DOCTYPE html><?xml version='1.0'?><p>after decls</p>",
    '<script>var a = "<p>fake</p>";</script><p>kept</p>',
    "<style>p { color: red }</style><p>styled</p>",
    "<script>never closed <p>swallowed",
    "<P CLASS='AD'>upper tag</P>",
    '<div class="sidebar"><div>x</div><p>inner</p></div><p>outer</p>',
    '<img class="ad"><p>after void</p>',
    '<div class="promo"/><p>after self-closing</p>',
    "<p>a<br>b<br/>c</p>",
    '<a href="/x">link text</a><p>mixed <a href=y>inner link</a> tail</p>',
    '<p class="a&amp;b">entity in class</p>',
    "<ul><li>one<li>two</ul>",
    "<p>multi\n  line\t text  </p>",
    "<h1>T</h1><table><tr><td>c1</td><td>c2</td></tr></table>",
    "<p >space before gt</p >",
    "<p><></p>",
    "<p>emoji \U0001f600 &#128512;</p>",
    # noscript/template are NOT stdlib CDATA elements: inner tags still run
    # the handlers (round-2 ADVICE — the fast path treated them as raw text)
    '<noscript><div class="ad"></noscript><p>body</p>',
    "<noscript>x</noscript x><p>later</p>",
    "<template><p>tpl</p></template><p>real</p>",
    '<noscript><script>var x="</noscript>";</script></noscript><p>t</p>',
    "<noscript><p>fallback</p></noscript><p>shown</p>",
    "<template>never closed <p>still handled",
    # stdlib keeps the LAST class attribute (dict(attrs)), compares
    # attribute names exactly after str.lower() (no 'ſ' -> 's' folding),
    # and leaves CDATA only on a close tag with an ASCII name; '\v' after
    # a tag name is part of stdlib's tolerant tag name
    '<p class="x"\tclass="ad">x</p>',
    '<p class="ad"\tclass="x">x</p>',
    '<p data-class=1 claſs="ad">x</p>',
    "<script>x</ſcrİpt><p>after</p>",
    '<p\x0bclass="ad">x</p><p>y</p>',
    # an unterminated start tag that stdlib's tolerant grammar ends early
    # (here at '\x00') is raw text to that point, not unescaped
    "<p>x<nav&#65;\x00\nli",
]


def _block_key(b):
    return (b.tag, b.text, b.link_chars, b.boilerplate_ancestor)


def test_fast_tokenizer_matches_stdlib_on_adversarial_corpus():
    from usls_doc_spark.kernels.boilerplate import parse_blocks, parse_blocks_stdlib

    for html in ADVERSARIAL_HTML:
        fast = [_block_key(b) for b in parse_blocks(html)]
        slow = [_block_key(b) for b in parse_blocks_stdlib(html)]
        assert fast == slow, f"divergence on {html!r}:\n fast={fast}\n slow={slow}"


def test_fast_tokenizer_matches_stdlib_on_all_synth_pages():
    import duckdb

    from usls_doc_spark.io.synth import synth_page
    from usls_doc_spark.kernels.boilerplate import parse_blocks, parse_blocks_stdlib

    docs = duckdb.sql(
        "SELECT doc_id, text, lang FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchall()
    for doc_id, text, lang in docs:
        html = synth_page(doc_id, text, lang)["html"].decode()
        fast = [_block_key(b) for b in parse_blocks(html)]
        slow = [_block_key(b) for b in parse_blocks_stdlib(html)]
        assert fast == slow, f"divergence on doc {doc_id}"


def test_fast_tokenizer_fuzz_differential():
    """Property: on ANY string assembled from html-ish fragments, the fast
    tokenizer and stdlib html.parser produce identical block lists."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from usls_doc_spark.kernels.boilerplate import parse_blocks, parse_blocks_stdlib

    fragments = st.sampled_from(
        [
            "<p>", "</p>", "<div>", "</div>", "<li>", "</li>",
            '<div class="sidebar">', '<p class="ad">', "<nav>", "</nav>",
            "<a href='/x'>", "</a>", "<img class='banner'>", "<br>", "<br/>",
            "<table>", "</table>", "<td>", "</td>", "<tr>", "</tr>",
            "<h1>", "</h1>", "<script>", "</script>", "<style>", "</style>",
            "<noscript>", "</noscript>", "<template>", "</template>",
            '<noscript><div class="ad">', "</noscript x>",
            "<!-- c -->", "<!", "<!DOCTYPE html>", "<?pi?>",
            "<!--", "-->", "--\n>", "-- >", "<!--x--\t>", "<y\n<",
            "text ", "words here ", "&amp;", "&lt;", "&#65;", "&bogus;",
            "<", ">", "&", "  ", "\n", "\t", "<p", "p>", "</", "/>",
            "<P CLASS='MENU'>", "<span>", "</span>", "quoted='>'",
            # characters whose Python semantics differ from ASCII: case
            # folding, str.split()/regex whitespace, all three str kinds
            "ſ", "İ", "\u212a", "\x85", "\xa0", "\x1c", "\u3000",
            "\U0001f600", "\x0b",
            # odd spellings of class and script
            "<p claſs='ad'>", "<p CLASS=ad>", '<div class="x" class="menu">',
            '<div class="menu"\tclass="x">', "<p class>", "<li class=\xa0ad\u3000>",
            "<p a\xa0class=ad>", "<p\x0bclass=ad>", '<div class="a&#100;s">',
            "<SCRIPT>", "</SCRIPT >", "</ſcript>", "</scrİpt>", "</p \xa0>",
        ]
    )
    texts = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)), max_size=12
    )

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.one_of(fragments, texts), max_size=30))
    def check(parts):
        html = "".join(parts)
        fast = [_block_key(b) for b in parse_blocks(html)]
        slow = [_block_key(b) for b in parse_blocks_stdlib(html)]
        assert fast == slow, f"divergence on {html!r}"

    check()


def test_cdata_close_is_strict():
    """stdlib exits script/style CDATA only on a strict '</\\s*tag\\s*>':
    prefix names and attr junk stay inside the raw-content region."""
    from usls_doc_spark.kernels.boilerplate import parse_blocks, parse_blocks_stdlib

    for html in (
        '<script>a</scriptx><p>HI</p></script><p>b</p>',
        '<script>a</script x="1"><p>swallowed</p>',
        '<script>x</ script><p>y</p>',
        '<style>p{}</  STYLE ><p>kept</p>',
    ):
        fast = [_block_key(b) for b in parse_blocks(html)]
        slow = [_block_key(b) for b in parse_blocks_stdlib(html)]
        assert fast == slow, html


def test_confidence_literals_equal_float32_bands():
    """classify_block's hoisted double literals must be EXACTLY the
    float32 band values they replaced (invariant 4: confidences f32)."""
    import numpy as np

    for lit, f in [
        (0.550000011920929, 0.55),
        (0.949999988079071, 0.95),
        (0.8999999761581421, 0.90),
        (0.8500000238418579, 0.85),
        (0.800000011920929, 0.80),
    ]:
        assert lit == float(np.float32(f))


def test_nonascii_whitespace_and_lt_in_tags_fall_back():
    """Python's Unicode \\s treats \\x1c-\\x1f/\\x85/\\xa0 as whitespace and
    the old attr token class accepted '<' — both let the fast tokenizer
    parse garbage stdlib recovers from differently (hypothesis-found:
    '<p\\x1f<p>text '). The ASCII-strict grammar must reject these (falling
    back to stdlib), keeping fast == slow."""
    from usls_doc_spark.kernels.boilerplate import parse_blocks, parse_blocks_stdlib

    for html in (
        "<p\x1f<p>text ",
        "<p\x1c<p>text</p>",
        "<div\xa0class=ad>x</div><p>y</p>",
        "<div\x85id=z>x</div><p>y</p>",
        "<p a=<b>t</p>",
        "<p <span>>t</p>",
    ):
        fast = [_block_key(b) for b in parse_blocks(html)]
        slow = [_block_key(b) for b in parse_blocks_stdlib(html)]
        assert fast == slow, html


def test_classify_blocks_vectorized_ab():
    """A/B bitwise identity: the vectorized classify_blocks must return
    exactly the classes and float32 confidences of per-block
    classify_block — on every real corpus block and on adversarial
    synthetic blocks covering all branch boundaries."""
    import duckdb
    import numpy as np

    from usls_doc_spark.io.synth import synth_page
    from usls_doc_spark.kernels.boilerplate import (
        Block,
        classify_block,
        classify_blocks,
        parse_blocks,
    )

    def ab(blocks):
        classes, conf = classify_blocks(blocks)
        assert conf.dtype == np.float32
        for i, blk in enumerate(blocks):
            c_ref, conf_ref = classify_block(blk)
            assert classes[i] == c_ref
            assert np.float32(conf_ref).view(np.uint32) == conf[i].view(
                np.uint32
            ), f"block {i}: {conf_ref} vs {conf[i]}"

    rows = duckdb.sql(
        "SELECT doc_id, text, lang FROM '/root/testdata/sf0.001/documents.parquet'"
        " ORDER BY doc_id"
    ).fetchall()
    total = 0
    for doc_id, text, lang in rows:
        blocks = parse_blocks(synth_page(doc_id, text, lang)["html"].decode())
        ab(blocks)
        total += len(blocks)
    assert total > 500

    # adversarial: every branch + boundary values (chars 2000/2001,
    # ld exactly 0.5 and above, ld clamp at 1.0, zero chars)
    rng = np.random.default_rng(5)
    tags = ["p", "h1", "h2", "h6", "table", "caption", "figcaption", "li", "pre"]
    adv = []
    for t in tags:
        for bp_flag in (False, True):
            for chars, link in (
                (0, 0), (1, 1), (10, 5), (10, 6), (2, 1), (1999, 1999),
                (2000, 0), (2001, 0), (2001, 2001), (280, 140), (281, 0),
                (4, 8),  # link_chars > n_chars -> ld clamps at 1.0
            ):
                b = Block(tag=t, boilerplate_ancestor=bp_flag)
                b.text = "x" * chars
                b.link_chars = link
                adv.append(b)
    for _ in range(200):
        b = Block(
            tag=tags[int(rng.integers(0, len(tags)))],
            boilerplate_ancestor=bool(rng.integers(0, 2)),
        )
        b.text = "x" * int(rng.integers(0, 3000))
        b.link_chars = int(rng.integers(0, 3000))
        adv.append(b)
    ab(adv)
    ab([])
