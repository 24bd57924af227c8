"""Fast regex-based HTML block scanner — same observable behavior as
the ``html.parser``-based tokenizer, about 3x faster (one core, the
UTF-8 pages among ids 0-999 of corpus seed 101: about 315 vs 105
µs/page).

The per-document parse is the engine's hottest loop (the analog of the
reference's CRAFT forward pass, its P3/P5 batching tactics); stdlib
HTMLParser spends most of its time in generic machinery this pipeline
never uses (attribute parsing, charref positions, pos tracking).
Equivalence with ``htmlblocks.tokenize_html`` is pinned by
tests/test_kernels.py::test_scan_equals_htmlparser (corpus shapes) and
tests/test_scan_fuzz.py (generated and adversarial pages).
"""

from __future__ import annotations

import html as _html
import re
import unicodedata

from .htmlblocks import BLOCK_TAGS, SKIP_TAGS, Block

# Attribute skipper: attribute bodies are skipped, never parsed (the
# classifier uses only tag names + text). The alternatives have
# disjoint first characters and none consumes `>`, so every quantifier
# is POSSESSIVE: a backtrackable run inside (?:…)* is the (A+)*
# catastrophic-backtracking shape, which hangs for seconds on any
# unclosed `<tag …` run (truncated pages, bare `a<b` prose). As in
# HTMLParser, `=` starts a value and an unquoted value keeps its `/`
# (`<a href=x/>` is not self-closing); any other `/` is consumed only
# when no `>` follows, which leaves a tag's own `/>` to the last group.
_ATTRS = r"""(?:[^>"'/=]++|"[^"]*+"|'[^']*+'|=\s*+(?:[^>\s"'][^>\s]*+)?+|/(?!>))*+"""

# One split over the page. The first two alternatives consume a whole
# CDATA-content element (script/style, HTMLParser's
# CDATA_CONTENT_ELEMENTS): its body ends only at a well-formed close
# tag — case-insensitive, optional whitespace, NO attributes, no name
# continuation (`</scriptfoo>` and `</script x=1>` stay inside) — or
# at EOF. `<script/>` opens no body and falls through to the tag
# alternative. Groups: closing slash, tag name, self-closing slash.
_CDATA = r"<(?i:{0})(?![a-zA-Z0-9]){1}>.*?(?:</\s*(?i:{0})\s*>|\Z)"
_TAG_RE = re.compile(
    _CDATA.format("script", _ATTRS)
    + "|" + _CDATA.format("style", _ATTRS)
    + rf"|<(/?)([a-zA-Z][a-zA-Z0-9]*){_ATTRS}(/?)>"
    r"|<!--.*?-->"
    r"|<![^>]*>",
    re.DOTALL,
)

# What a tag does. Skip tags suppress character data while open;
# script/style reach this table only as self-closing or stray close
# tags, which move the shared skip depth as in HTMLParser.
_SKIP, _LINK, _VOID, _NEST = range(4)
_ACTION = {**dict.fromkeys(BLOCK_TAGS, _NEST), "br": _VOID, "hr": _VOID,
           "a": _LINK, **dict.fromkeys(SKIP_TAGS, _SKIP)}
_END = (None, "br", None)  # a trailing void tag flushes the last run


def _norm(raw: str) -> str:
    if "&" in raw:
        raw = _html.unescape(raw)
    text = " ".join(raw.split())
    if text and not text.isascii():
        text = unicodedata.normalize("NFC", text)
    return text


def scan_html(payload: bytes) -> list[Block]:
    """Drop-in replacement for ``htmlblocks.tokenize_html``."""
    try:
        text = payload.decode("utf-8", errors="strict")
    except UnicodeDecodeError as exc:
        raise ValueError(f"undecodable payload: {exc}") from None

    blocks: list[Block] = []
    buf: list[str] = []
    link_buf: list[str] = []
    tag_stack: list[str] = []
    link_depth = skip_depth = pos = 0  # skip: inside noscript/template

    # split -> data, (slash, name, self-closing slash, data)*, read as
    # (data before the tag, tag) quads closed by the _END sentinel
    parts = _TAG_RE.split(text)
    parts += _END
    it = iter(parts)
    for data, slash, name, selfclose in zip(it, it, it, it):
        if data and not skip_depth:
            buf.append(data)
            if link_depth:
                link_buf.append(data)
        if name is None:  # comment, declaration, script/style element
            continue
        act = _ACTION.get(name)
        if act is None:
            name = name.lower()
            act = _ACTION.get(name)
            if act is None:
                continue
        # a self-closing start tag is a start plus an end tag
        # (HTMLParser's handle_startendtag): only its flush remains
        if act == _LINK:
            if slash:
                link_depth = max(0, link_depth - 1)
            elif not selfclose:
                link_depth += 1
            continue
        if act == _SKIP:
            if slash:
                skip_depth = max(0, skip_depth - 1)
            elif not selfclose:
                skip_depth += 1
            continue
        if buf:  # flush the text run into a block
            t = _norm("".join(buf))
            if t:
                lt = _norm("".join(link_buf)) if link_buf else ""
                blocks.append(Block(
                    len(blocks), tag_stack[-1] if tag_stack else "body",
                    len(tag_stack), pos, t, len(t), min(len(lt), len(t)),
                ))
                pos += len(t) + 1
            buf.clear()
            link_buf.clear()
        if slash:
            if name in tag_stack:
                while tag_stack and tag_stack[-1] != name:
                    tag_stack.pop()
                if tag_stack:
                    tag_stack.pop()
        elif act == _NEST and not selfclose:
            tag_stack.append(name)
    return blocks
