"""Hypothesis fuzz: the fast regex scanner must match the stdlib
HTMLParser-based reference tokenizer on generated page structures, not
just the corpus shapes (tests/test_kernels.py covers those).

The generator produces the HTML constructs the engine supports:
nested block tags, anchors, skip-tag bodies (script/style), comments,
declarations, entities, void tags, self-closing `/>` tags, and
multilingual text.
"""

from hypothesis import given, settings, strategies as st

from win64_local_ocr_tool_spark.kernels.htmlblocks import tokenize_html
from win64_local_ocr_tool_spark.kernels.htmlscan import scan_html

_text = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs", "Cc"), blacklist_characters="<>"
    ),
    min_size=0,
    max_size=30,
)

_entity_text = st.sampled_from(
    ["a &amp; b", "x &lt; y", "&quot;q&quot;", "caf&eacute;", "&#65;BC"]
)

_block_tag = st.sampled_from(["p", "div", "td", "li", "h1", "blockquote"])

# `/>` forms: HTMLParser reads `<x …/>` as a start plus an end tag only
# when the `/` is not part of an unquoted attribute value
_self_closing = st.sampled_from(
    [
        "<br/>", "<div/>", "<td/>", '<p class="c"/>', '<a id="t" />',
        "<a href=x/>", "<a b=/>", '<script src="a.js"/>', "<STYLE/>",
        "<noscript/>", '<script type="t" / >var y;</script>', "<span/>",
    ]
)


@st.composite
def fragments(draw, depth=0):
    kind = draw(
        st.integers(0, 7 if depth < 3 else 3)
    )
    if kind == 0:
        return draw(_text)
    if kind == 1:
        return draw(_entity_text)
    if kind == 2:
        return f"<!-- {draw(_text)} -->"
    if kind == 3:
        return f'<a href="/x">{draw(_text)}</a>'
    if kind == 4:
        tag = draw(_block_tag)
        inner = "".join(
            draw(st.lists(fragments(depth=depth + 1), max_size=3))
        )
        return f"<{tag}>{inner}</{tag}>"
    if kind == 5:
        return f"<script>var x = '{draw(_text)}';</script>"
    if kind == 6:
        return draw(_self_closing) + draw(_text)
    return f"<br>{draw(_text)}<hr>"


@st.composite
def pages(draw):
    body = "".join(draw(st.lists(fragments(), min_size=1, max_size=8)))
    return f"<html><head><title>t</title></head><body>{body}</body></html>"


@given(pages())
@settings(max_examples=200, deadline=None)
def test_scanner_matches_htmlparser(page):
    payload = page.encode("utf-8")
    assert scan_html(payload) == tokenize_html(payload)


ADVERSARIAL = [
    b'<html><body><p class="a>b">text</p></body></html>',
    b"<html><body><P>Upper</P><DiV>mix</dIv></body></html>",
    b"<html><body><p>unclosed<div>next</body></html>",
    b"<html><body><p>a < b and c > d</p></body></html>",
    b"<html><body><p>5<6</p></body></html>",
    b"<html><body><script>if (a<b && c>d) {}</script><p>after</p></body></html>",
    b"<html><body><a href='/x'><a href='/y'>nested</a></a><p>t</p></body></html>",
    b"<!DOCTYPE html><html><body><p>doc</p></body></html>",
    b"<html><body><ul><li>one<li>two<li>three</ul></body></html>",
    # CDATA semantics (must mirror HTMLParser exactly)
    b"<body><SCRIPT>x</SCRIPT><p>ok</p></body>",
    b"<body><script>if(a</scriptfoo>)x;</script><p>after</p></body>",
    b'<body><script>a</script\tfoo="1">b</script><p>c</p></body>',
    b"<body><script>x</script ><p>w</p></body>",
    b"<body><STYLE>a{}</STYLE><p>s</p></body>",
    b"<body><script>no close",
    # noscript/template: text suppressed but tags still parsed
    b"<body><noscript><div></noscript><p>real text</p></body>",
    b"<body><noscript><nav></noscript><p>t1</p><p>t2</p></body>",
    b'<body><noscript><a href="/x">link</a></noscript><p>v</p></body>',
    b"<body><NOSCRIPT>hide</NOSCRIPT><p>v</p></body>",
    b"<body><noscript><script>x</script>hide</noscript><p>v</p></body>",
    # a stray close tag of a CDATA element moves the shared skip depth
    b"<body><noscript></script>shown</noscript><p>v</p></body>",
    b"<body><noscript></STYLE>shown</noscript><p>v</p></body>",
    # CDATA elements consumed whole by the split pattern
    b"<body><scriptx>text</scriptx><p>v</p></body>",
    b"<body><Script>var a = 1;</SCRIPT ><p>v</p></body>",
    b"<body><script>a <!-- b </p> c </scriptfoo> d</script><p>v</p></body>",
    b"<body><noscript><style>p{}</style>hidden</noscript><p>v</p></body>",
    b"<body><p>v</p><style>p{color:red}",
    # self-closing start tags: a start plus an end
    b'<body><script src="a.js"/><p>after script</p><p>two</p></body>',
    b"<body><STYLE/><p>after style</p></body>",
    b"<body><noscript/><p>after noscript</p></body>",
    b'<body><p>see <a id="t" /> the long text of this block here</p></body>',
    b"<body><div/><p>x</p><div><p>y</p></div></body>",
    b"<body><table><tr><td/><td>cell</td></tr></table><p>z</p></body>",
    b"<body><br/>a<hr/>b<p/>c</body>",
    b'<body><div a="1"/><p>x</p></body>',
    b"<body><a b='c'd/>x<p>y</p></body>",
    # ... but not when the `/` belongs to an unquoted value, or when
    # anything but whitespace-free `/>` ends the tag
    b"<body><p><a href=x/>link text</a> more words in the para</p><p>q</p></body>",
    b"<body><a b=/>x</a><p>y</p></body>",
    b"<body><a b= />x</a><p>y</p></body>",
    b'<body><script type="t" / >var a;</script><p>after</p></body>',
    b"<body><p/ >x</p></body>",
    b"</p/>x",
    b'<body><p a=x"y>text</p><p class="z">w</p></body>',
]


def test_scanner_matches_htmlparser_adversarial():
    """Quoted '>' in attributes, mixed-case tags, unclosed tags, stray
    '<' in text, script bodies with comparisons, nested anchors,
    doctype, implicit li closure, CDATA element edges, self-closing
    tags."""
    for payload in ADVERSARIAL:
        assert scan_html(payload) == tokenize_html(payload), payload


def test_scanner_linear_on_pathological_tag_runs():
    """Unclosed `<tag …` runs are the (A+)* catastrophic-backtracking
    shape; the possessive attribute-skipper must keep the scan linear
    AND byte-equal to the HTMLParser reference on truncated/malformed
    payloads (a crawl always contains them)."""
    import time

    from win64_local_ocr_tool_spark.kernels.htmlblocks import tokenize_html
    from win64_local_ocr_tool_spark.kernels.htmlscan import scan_html

    cases = [
        b"<a " + b"x" * 50000,
        b"<p>score a<b means keep iterating " + b"y" * 20000,
        b"<div><p>hello <span",
        b"<p>text<",
        b'<p foo="unterminated quote ' + b"z" * 30000,
        b"<" * 2000,
    ]
    for payload in cases:
        t0 = time.perf_counter()
        got = scan_html(payload)
        assert time.perf_counter() - t0 < 1.0, payload[:40]
        assert got == tokenize_html(payload), payload[:40]
