"""Unit fixtures for the HTML extraction spec (pure Python, no Spark).

These pin the deterministic spec the way the reference's (absent) fixture
suite should have pinned its pipeline — SURVEY.md §5.2.
"""

from gonova_document_parser_spark.spec.htmlx import (
    MAX_DOM_DEPTH,
    extract_html_blocks,
    parse,
    select_candidate,
)


def _text(blocks):
    return [t for _, t in blocks]


def test_boilerplate_stripped():
    doc = (
        b"<html><body>"
        b"<nav><ul><li><a href='/a'>navigation link</a></li></ul></nav>"
        b"<header><h1>Site Title</h1></header>"
        b"<div id='main'><p>real content paragraph one</p></div>"
        b"<footer><p>copyright footer</p></footer>"
        b"<script>var x = '<p>fake</p>';</script>"
        b"<style>p { color: red }</style>"
        b"</body></html>"
    )
    texts = " ".join(_text(extract_html_blocks(doc)))
    assert "real content paragraph one" in texts
    for boiler in ("navigation link", "copyright footer", "fake", "color: red"):
        assert boiler not in texts


def test_density_scoring_picks_content_over_linkfarm():
    # sidebar has more raw text but it's all links; content div must win
    links = "".join(
        f'<p><a href="/x/{i}">sidebar link row {i} with plenty of words</a></p>'
        for i in range(20)
    )
    doc = (
        "<html><body>"
        f"<div id='sidebar'>{links}</div>"
        "<div id='content'><p>short but dense article text here</p>"
        "<p>second paragraph of running prose</p></div>"
        "</body></html>"
    ).encode()
    root = parse(doc.decode())
    cand = select_candidate(root)
    blocks = extract_html_blocks(doc)
    texts = " ".join(_text(blocks))
    assert "dense article text" in texts
    assert "sidebar link row 0" not in texts


def test_block_kinds():
    doc = (
        b"<body><article>"
        b"<h2>A Heading</h2><p>a paragraph</p>"
        b"<ul><li>item one</li><li>item two</li></ul>"
        b"<pre>pre formatted</pre>"
        b"</article></body>"
    )
    blocks = extract_html_blocks(doc)
    kinds = [k for k, _ in blocks]
    assert kinds == ["heading", "paragraph", "list", "list", "block"]


def test_entities_and_whitespace_normalized():
    doc = b"<body><p>a&amp;b   \n\t c&#65;</p></body>"
    blocks = extract_html_blocks(doc)
    assert blocks == [("paragraph", "a&b cA")]


def test_comments_doctype_cdata_skipped():
    doc = b"<!DOCTYPE html><!-- <p>not this</p> --><body><p>yes</p></body>"
    assert _text(extract_html_blocks(doc)) == ["yes"]


def test_unclosed_and_mismatched_tags_recover():
    doc = b"<body><p>first<p>second</div></span><p>third</body>"
    texts = _text(extract_html_blocks(doc))
    assert texts == ["first", "second", "third"]


def test_depth_cap_flattens_but_extracts():
    doc = b"<div>" * (MAX_DOM_DEPTH * 4) + b"<p>needle</p>"
    blocks = extract_html_blocks(doc)
    assert any("needle" in t for _, t in blocks)


def _shape(node):
    """Parse tree as nested lists: text as str, elements as (tag, children)."""
    return [c.text if c.tag == "#text" else (c.tag, _shape(c)) for c in node.children]


def test_tokenizer_script_raw_text():
    src = "<script>if (a<b) { x='</div>'; }</script><p>t</p>"
    # nothing inside the script leaked as text or markup
    assert _shape(parse(src)) == [("script", []), ("p", ["t"])]
    assert _text(extract_html_blocks(src.encode())) == ["t"]


def test_scanner_edge_cases():
    # comments/PIs/doctype dropped in place; a '<' that starts no tag stays
    # text up to its quote-aware '>'; an unterminated quote ends the tag at
    # the first '>', and with no '>' outside quotes the rest is text; '/'
    # before '>' self-closes despite whitespace
    cases = {
        "<body><!-- c --><p>a</p><?pi x?><!x y>b</body>": [("body", [("p", ["a"]), "b"])],
        "<p>1 < 2 and <1> and </> and <> end": [
            ("p", ["1 ", "< 2 and <1>", " and ", "</>", " and ", "<>", " end"])
        ],
        "< p>spaced</ p>after": [("p", ["spaced"]), "after"],
        '<div title="a>b">x</div><div title="open>y</div>z': [
            ("div", ["x"]), ("div", ["y"]), "z"
        ],
        "<a title='x>y' z=\"q>rest": [("a", ["y' z=\"q>rest"])],
        "<div / >in<br / >out<P>UP</p>": [("div", []), "in", ("br", []), "out", ("p", ["UP"])],
        "<p>x<": [("p", ["x", "<"])],
        '<p>a<b title="x>y"': [("p", ["a", '<b title="x>y"'])],
        "<script/>kept<style>a<b>c</style>d": [("script", []), "kept", ("style", []), "d"],
    }
    for src, want in cases.items():
        assert _shape(parse(src)) == want, src


def test_script_sibling_content_survives():
    # Regression: raw-text elements must emit a close token, else the
    # element stays on the open stack and following siblings attach inside
    # a boilerplate node (losing their text).
    doc = (
        b"<body><div><script>var x = 1;</script>"
        b"<p>sibling paragraph after an inline body script must survive</p>"
        b"</div></body>"
    )
    texts = " ".join(_text(extract_html_blocks(doc)))
    assert "sibling paragraph after an inline body script" in texts
    doc2 = (
        b"<body><style>a { color: blue }</style>"
        b"<p>content after a body style element also survives</p></body>"
    )
    texts2 = " ".join(_text(extract_html_blocks(doc2)))
    assert "content after a body style element" in texts2


def test_script_close_requires_delimiter():
    # '</scripts>' must NOT terminate a <script>; only '</script' followed
    # by whitespace, '/', or '>' does.
    src = "<script>a '</scripts>' b</script ><p>t</p>"
    assert _shape(parse(src)) == [("script", []), ("p", ["t"])]
    assert _text(extract_html_blocks(src.encode())) == ["t"]
    doc = (
        b"<body><script>var s = '</styled>';</script>"
        b"<p>delimiter guard keeps this visible</p></body>"
    )
    texts = " ".join(_text(extract_html_blocks(doc)))
    assert "delimiter guard keeps this visible" in texts


def test_textarea_rcdata_not_parsed_as_markup():
    doc = (
        b"<body><form><textarea><div>not content</div></textarea></form>"
        b"<p>real</p></body>"
    )
    assert _text(extract_html_blocks(doc)) == ["real"]


def test_inline_runs_become_anonymous_block():
    doc = b"<body><div>free text <b>bold</b> more text</div></body>"
    assert extract_html_blocks(doc) == [("block", "free text bold more text")]


def test_gt_inside_quoted_attribute_does_not_leak():
    doc = b'<body><div title="a>b" data-x=\'1>2\'><p>clean text</p></div></body>'
    blocks = extract_html_blocks(doc)
    assert blocks == [("paragraph", "clean text")]


def test_unterminated_quote_falls_back():
    doc = b'<body><div title="never closed><p>still extracted</p></div></body>'
    texts = " ".join(t for _, t in extract_html_blocks(doc))
    assert "still extracted" in texts


def test_unicode_nfc_normalization():
    import unicodedata

    # NFD input (decomposed é) must come out NFC — byte-stable across platforms
    nfd = unicodedata.normalize("NFD", "café 中文")
    doc = f"<body><p>{nfd}</p></body>".encode("utf-8")
    blocks = extract_html_blocks(doc)
    assert blocks == [("paragraph", "café 中文")]
    assert unicodedata.is_normalized("NFC", blocks[0][1])


def test_invalid_utf8_replaced_deterministically():
    doc = b"<body><p>ok \xff\xfe bytes</p></body>"
    a = extract_html_blocks(doc)
    assert a == extract_html_blocks(doc)
    assert a[0][1].startswith("ok ")


def test_charset_detection():
    latin = (
        '<html><head><meta charset="iso-8859-1"></head>'
        "<body><p>café crème</p></body></html>"
    ).encode("latin-1")
    assert extract_html_blocks(latin) == [("paragraph", "café crème")]
    bom = "﻿<body><p>bom page</p></body>".encode("utf-8-sig")[0:]
    assert extract_html_blocks(bom) == [("paragraph", "bom page")]
    gbk = (
        '<html><head><meta charset="gbk"></head><body><p>中文页面</p></body></html>'
    ).encode("gbk")
    assert extract_html_blocks(gbk) == [("paragraph", "中文页面")]
    # declared charset that doesn't decode -> utf-8-replace fallback
    broken = b'<meta charset="gbk"><body><p>ok \xff\xfe</p></body>'
    blocks = extract_html_blocks(broken)
    assert blocks and blocks[0][1].startswith("ok")


def test_deterministic():
    doc = b"<body><div><p>alpha</p><p>beta</p></div></body>"
    assert extract_html_blocks(doc) == extract_html_blocks(doc)
