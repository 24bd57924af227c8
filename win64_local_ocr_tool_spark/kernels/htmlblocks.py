"""HTML -> content-unit (block) stream.

Web analog of the reference's detection + peak-extraction stage
(``/root/reference/backend/annotator/segmentation/segment_graph.py:17-59``):
the dense page representation (there: CRAFT heatmap; here: raw HTML) is
reduced to a discrete stream of content units with position features
(there: (x, y) character peaks; here: DOM text blocks with
(block_id, tag, depth, pos, text_len, link_text_len)).

Pure stdlib (``html.parser``) — deterministic, no external parser
dependency. Whitespace inside a block is collapsed to single spaces and
the text is NFC-normalized (pinned unicode normalization; byte-identity
discipline per SURVEY.md §7.1).
"""

from __future__ import annotations

import unicodedata
from html.parser import HTMLParser
from typing import NamedTuple

# Tags whose start or end flushes the current text run into a block.
BLOCK_TAGS = frozenset(
    """html head body title p div td th li h1 h2 h3 h4 h5 h6 blockquote
    pre section article header footer nav aside table tr ul ol dl dt dd
    figure figcaption main form fieldset hr br caption""".split()
)

# Content inside these is dropped entirely (not visible text).
SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})

# Blocks whose nearest block-level ancestor is one of these are always
# boilerplate (semantic-tag exclusion; cheap pre-filter, SURVEY F2).
EXCLUDED_CONTEXT = frozenset({"title", "head", "nav", "header", "footer", "aside"})


class Block(NamedTuple):
    """One content unit. Analog of one (x, y[, size]) point row
    (``segment_graph.py:100-102`` + the TODO third column ``:34-37``).
    A tuple, not a dataclass: a page builds about 14 of them, and a
    tuple builds in under half the time of a frozen dataclass."""

    block_id: int  # document-local, 0-based, DOM order
    tag: str  # nearest enclosing block-level tag
    depth: int  # block-tag nesting depth at flush time
    pos: int  # char offset of block start in the document's visible text
    text: str  # normalized visible text
    text_len: int
    link_text_len: int  # chars of `text` that were inside <a>

    @property
    def excluded(self) -> bool:
        return self.tag in EXCLUDED_CONTEXT


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._buf: list[str] = []  # raw text fragments of current run
        self._link_buf: list[str] = []  # fragments that are inside <a>
        self._tag_stack: list[str] = []  # open block-level tags
        self._skip_depth = 0  # inside script/style
        self._link_depth = 0  # inside <a>
        self._pos = 0  # cumulative visible-text offset

    # -- helpers ---------------------------------------------------------
    def _context_tag(self) -> str:
        return self._tag_stack[-1] if self._tag_stack else "body"

    def _flush(self) -> None:
        raw = "".join(self._buf)
        link_raw = "".join(self._link_buf)
        self._buf.clear()
        self._link_buf.clear()
        text = unicodedata.normalize("NFC", " ".join(raw.split()))
        if not text:
            return
        link_text = unicodedata.normalize("NFC", " ".join(link_raw.split()))
        self.blocks.append(
            Block(
                block_id=len(self.blocks),
                tag=self._context_tag(),
                depth=len(self._tag_stack),
                pos=self._pos,
                text=text,
                text_len=len(text),
                link_text_len=min(len(link_text), len(text)),
            )
        )
        self._pos += len(text) + 1  # +1: one separator per block

    # -- HTMLParser hooks --------------------------------------------------
    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if tag == "a":
            self._link_depth += 1
            return
        if tag in BLOCK_TAGS:
            self._flush()
            if tag not in ("br", "hr"):  # void tags don't nest
                self._tag_stack.append(tag)

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
            return
        if tag in BLOCK_TAGS:
            self._flush()
            # pop to the matching open tag if present (tolerant of
            # mis-nesting, like real-web HTML demands)
            if tag in self._tag_stack:
                while self._tag_stack and self._tag_stack[-1] != tag:
                    self._tag_stack.pop()
                if self._tag_stack:
                    self._tag_stack.pop()

    def handle_data(self, data: str) -> None:
        if self._skip_depth or not data:
            return
        self._buf.append(data)
        if self._link_depth:
            self._link_buf.append(data)


def tokenize_html(payload: bytes) -> list[Block]:
    """Decode + tokenize an HTML payload into its block stream.

    Raises ``ValueError`` on undecodable bytes — the caller turns that
    into a ``status='error'`` row (row-level failure isolation, analog of
    the corrupted-image dummy at reference ``dataset.py:203-210``).
    """
    try:
        text = payload.decode("utf-8", errors="strict")
    except UnicodeDecodeError as exc:  # corrupt payload -> error row
        raise ValueError(f"undecodable payload: {exc}") from None
    parser = _BlockParser()
    parser.feed(text)
    parser.close()
    parser._flush()  # trailing text outside any block tag
    return parser.blocks
