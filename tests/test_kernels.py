"""Unit/property tests of the pure-Python kernels (no Spark)."""

import unicodedata

import pytest
from hypothesis import given, settings, strategies as st

from win64_local_ocr_tool_spark.corpus import gen_row, gen_row_with_intent
from win64_local_ocr_tool_spark.kernels import (
    Block,
    classify_blocks,
    classify_chunk,
    detect_lang,
    extract_document,
    parse_pdf_payload,
    render_pdf_payload,
    tokenize_html,
)


def test_tokenize_basic():
    html = b"<html><body><p>Hello world</p><div><a href='/'>nav link</a></div></body></html>"
    blocks = tokenize_html(html)
    assert [b.text for b in blocks] == ["Hello world", "nav link"]
    assert blocks[0].link_text_len == 0
    assert blocks[1].link_text_len == len("nav link")
    assert blocks[0].block_id == 0 and blocks[1].block_id == 1
    # pos: cumulative visible-text offsets with one separator per block
    assert blocks[0].pos == 0
    assert blocks[1].pos == len("Hello world") + 1


def test_tokenize_skips_script_style_and_normalizes_ws():
    html = b"<body><script>var x=1;</script><p>  a\n\n  b\tc  </p></body>"
    blocks = tokenize_html(html)
    assert [b.text for b in blocks] == ["a b c"]


def test_tokenize_corrupt_raises():
    with pytest.raises(ValueError):
        tokenize_html(b"\xff\xfe broken")


def test_tokenize_nfc_normalization():
    # decomposed e + combining acute must come out precomposed
    html = "<p>café</p>".encode("utf-8")
    blocks = tokenize_html(html)
    assert blocks[0].text == "café"
    assert unicodedata.is_normalized("NFC", blocks[0].text)


def _mk(bid, text, link_len=0, tag="p"):
    return Block(bid, tag, 1, 0, text, len(text), link_len)


def test_classifier_rules():
    long_text = "x" * 40
    blocks = [
        _mk(0, long_text),  # content
        _mk(1, "short"),  # too short, no sandwich (right neighbor not content)
        _mk(2, "y" * 35, link_len=35),  # link-dominated
        _mk(3, long_text),  # content
        _mk(4, "middle bit"),  # sandwiched -> promoted
        _mk(5, long_text),  # content
    ]
    assert classify_blocks(blocks) == [True, False, False, True, True, True]


def test_classifier_excluded_context_never_content():
    b = Block(0, "nav", 1, 0, "z" * 100, 100, 0)
    assert classify_blocks([b]) == [False]


@given(
    texts=st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)), min_size=1, max_size=60
    ),
    chunk=st.integers(1, 10),
)
@settings(max_examples=60, deadline=None)
def test_chunked_classification_equals_whole(texts, chunk):
    """classify_chunk with 1-block halo == classify_blocks slice, any split."""
    blocks = [
        _mk(i, "a" * tl, link_len=min(ll, tl)) for i, (tl, ll) in enumerate(texts)
    ]
    whole = classify_blocks(blocks)
    stitched = []
    for start in range(0, len(blocks), chunk):
        core = blocks[start : start + chunk]
        lh = blocks[start - 1] if start > 0 else None
        rh = blocks[start + chunk] if start + chunk < len(blocks) else None
        stitched.extend(classify_chunk(core, lh, rh))
    assert stitched == whole


def test_pdf_roundtrip():
    lines = ["hello world", "second line here", "x"]
    payload = render_pdf_payload(lines)
    assert parse_pdf_payload(payload) == lines


def test_pdf_roundtrip_with_jitter_and_unicode():
    lines = ["नदी पर्वत", "अस्ति इति च"]
    payload = render_pdf_payload(lines, jitter=lambda li, ci: (li * 7 + ci * 3) % 9 - 4)
    assert parse_pdf_payload(payload) == lines


def test_langid():
    assert detect_lang("the cat and the dog of the house") == "en"
    assert detect_lang("der hund und die katze ist hier") == "de"
    assert detect_lang("नदी में पानी है और वर्षा है") == "hi"
    assert detect_lang("नदी अस्ति इति च पर्वतः एव") == "sa"
    assert detect_lang("") == "und"


def test_extract_document_error_isolation():
    res = extract_document(b"\xff\xfe\x00junk")
    assert res["status"] == "error"
    assert res["extracted_text"] == ""
    assert res["spans"] == []


def test_extract_recovers_generator_intent():
    """The extractor must pick exactly the generator's main paragraphs
    (and exactly the PDF layout lines) for every non-corrupt row."""
    for i in range(400):
        row, intent = gen_row_with_intent(i)
        res = extract_document(row["html"])
        want = "".join(t + "\n" for t in intent)
        assert res["extracted_text"] == want, f"row {i}"


def test_scan_equals_htmlparser():
    """The fast regex scanner used in the hot path must be observably
    identical to the stdlib-HTMLParser reference tokenizer."""
    from win64_local_ocr_tool_spark.kernels.htmlscan import scan_html

    for i in range(300):
        row = gen_row(i)
        if row["html"][:1] in (b"\xff", b"%"):
            continue
        assert scan_html(row["html"]) == tokenize_html(row["html"]), f"row {i}"
    for case in [
        b"<p>a &amp; b</p>",
        b"<P>UPPER</P><DIV>x</DIV>",
        b"<script>var a='<p>no</p>';</script><p>yes</p>",
        b"<!-- <p>c</p> --><p>ok</p>",
        b'<p class="x > y">attr gt</p>',
        b"<p>broken < soup</p>",
        b"<ul><li>a<li>b</ul>",
        "<p>café नदी</p>".encode(),
    ]:
        assert scan_html(case) == tokenize_html(case), case


def test_span_offsets_slice_text():
    row = gen_row(3)
    res = extract_document(row["html"])
    text = res["extracted_text"]
    for sid, start, end in res["spans"]:
        assert text[start:end] == text[start:end].strip("\n")
        assert text[end] == "\n"
    assert [s[0] for s in res["spans"]] == list(range(1, len(res["spans"]) + 1))


def test_lang_counts_fast_path_equals_reference_walk():
    """Both counting paths (ASCII [a-z]+ over the lowered text, and the
    per-whitespace-piece counts otherwise) must produce exactly the
    counts of the naive per-token walk, including pieces that hold
    several tokens, Unicode whitespace and case-fold characters."""
    from hypothesis import given, settings, strategies as st

    from win64_local_ocr_tool_spark.kernels import langid as L

    def reference(text):
        n = [0, 0, 0, 0, 0, 0]
        for tok in L._TOKEN.findall(text):
            n[5] += 1
            if L._DEVA.search(tok):
                n[4] += 1
                if tok in L.HI_MARKERS:
                    n[2] += 1
                elif tok in L.SA_MARKERS:
                    n[3] += 1
            else:
                low = tok.lower()
                if low in L.EN_MARKERS:
                    n[0] += 1
                elif low in L.DE_MARKERS:
                    n[1] += 1
        return tuple(n)

    words = st.sampled_from(
        "the und cat der of hund xyz है और अस्ति इति on ist".split()
        # case-fold characters whose lowering changes the token shape
        + ["The", "DER", "İ", "İstanbul", "ß", "STRASSE", "ﬁ", "ﬁnd", "ꭵ"]
    )
    # glue makes one whitespace piece hold several tokens, or none
    glue = st.sampled_from(["", ",", "।", "1", "_", "-", "'", "x1"])
    pieces = st.lists(st.tuples(words, glue), min_size=1, max_size=4).map(
        lambda wg: "".join(w + g for w, g in wg)
    )
    seps = st.sampled_from([" ", "\u00a0", "\u2009", "\t", "\n", "\x1f", "  "])
    texts = st.one_of(
        st.lists(words, max_size=30).map(" ".join),
        st.lists(st.tuples(pieces, seps), max_size=30).map(
            lambda ps: "".join(p + s for p, s in ps)
        ),
        st.lists(st.sampled_from(["the", "of", "x1the_the", "The,der", "and"]),
                 max_size=30).map(" ".join),
    )

    @settings(max_examples=200, deadline=None)
    @given(texts)
    def check(text):
        assert L.lang_counts(text) == reference(text)

    check()

    for t in (
        # non-ascii case-fold chars route to the per-piece path
        "İstanbul the the", "STRASSE ß und und", "ꭵ the", "ﬁ the\u00a0the",
        # pieces holding several tokens, repeated pieces, mixed scripts
        "the,der the,der", "है।और है।और है", "x1the_the x1the_the",
        "हैthe theहै\u2009हैthe", "und\x1fund\tder\nder",
    ):
        assert L.lang_counts(t) == reference(t)
