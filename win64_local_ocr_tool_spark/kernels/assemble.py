"""Span assembly + single-document extraction.

Analog of the reference's line rendering + recognition + export chain
(``segment_from_point_clusters.py:246-376`` -> ``recognition/demo.py``
-> ``annotationStore.js:227-235``): ordered content units become
reading-order spans; the document's extracted text is every span's text
followed by one ``\\n`` — INCLUDING the last span (the reference's
trailing-newline convention, SURVEY.md C14).

Offsets are character offsets into ``extracted_text``; ``char_end`` is
exclusive and excludes the trailing newline. ``span_id`` is 1-based
(``line%03d`` convention, ``segment_from_point_clusters.py:375-376``).
"""

from __future__ import annotations

import unicodedata

from .classify import classify_blocks
from .htmlblocks import Block
from .htmlscan import scan_html
from .ingest import maybe_decompress, recode_to_utf8
from .langid import detect_lang
from .pdfglyphs import PDF_MAGIC, parse_pdf_payload

STATUS_OK = "ok"
STATUS_ERROR = "error"


def tokenize_payload(payload: bytes) -> tuple[str, list[Block]]:
    """Dispatch a payload to its parser -> ('html'|'pdf'|'error', blocks).

    PDF payloads come back as one pseudo-block per layout line (already
    reading-ordered by the glyph clustering), flagged content by
    construction — the fallback path skips density classification, like
    the reference's old-method path skips the graph step.

    Ingest normalization (SURVEY S2) happens first: transport
    decompression by magic check, then — only if strict utf-8 parsing
    fails — evidence-gated charset recovery (``kernels/ingest.py``).
    """
    payload, _codec = maybe_decompress(payload)
    if payload.startswith(PDF_MAGIC):
        try:
            lines = parse_pdf_payload(payload)
        except (ValueError, UnicodeDecodeError):
            return ("error", [])
        blocks = []
        pos = 0
        for i, line in enumerate(lines):
            text = unicodedata.normalize("NFC", line)
            blocks.append(
                Block(
                    block_id=i,
                    tag="pdfline",
                    depth=0,
                    pos=pos,
                    text=text,
                    text_len=len(text),
                    link_text_len=0,
                )
            )
            pos += len(text) + 1
        return ("pdf", blocks)
    try:
        # scan_html == htmlblocks.tokenize_html observably (equivalence
        # pinned in tests), about 3x faster (htmlscan.py) — the hot-loop
        # choice.
        return ("html", scan_html(payload))
    except ValueError:
        recoded = recode_to_utf8(payload)
        if recoded is None:
            return ("error", [])
        try:
            return ("html", scan_html(recoded))
        except ValueError:
            return ("error", [])


def spans_from_flags(
    blocks: list[Block], flags: list[bool], *, base_offset: int = 0, base_span_id: int = 0
) -> tuple[str, list[tuple[int, int, int]]]:
    """Assemble (text, spans) from flagged blocks.

    ``base_offset``/``base_span_id`` support the mega-page chunk path:
    chunk k's spans are numbered/offset after the cumulative totals of
    chunks 0..k-1, which makes the chunked result identical to the
    single-pass result (property-tested).
    """
    parts: list[str] = []
    spans: list[tuple[int, int, int]] = []
    offset = base_offset
    sid = base_span_id
    for b, keep in zip(blocks, flags):
        if not keep:
            continue
        sid += 1
        spans.append((sid, offset, offset + b.text_len))
        parts.append(b.text + "\n")
        offset += b.text_len + 1
    return ("".join(parts), spans)


def extract_document(payload: bytes) -> dict:
    """Single-document extraction: the unit the whole engine scales out.

    Returns ``{status, extracted_text, spans, lang}`` where spans is a
    list of (span_id, char_start, char_end). Never raises on bad input —
    corrupt payloads yield an error row (failure isolation, analog of
    ``segment_old_method.py:229-238``).
    """
    kind, blocks = tokenize_payload(payload)
    if kind == "error":
        return {
            "status": STATUS_ERROR,
            "extracted_text": "",
            "spans": [],
            "lang": "und",
        }
    flags = [True] * len(blocks) if kind == "pdf" else classify_blocks(blocks)
    text, spans = spans_from_flags(blocks, flags)
    return {
        "status": STATUS_OK,
        "extracted_text": text,
        "spans": spans,
        "lang": detect_lang(text),
    }
