"""Output checks. They read the written parquet with pyarrow, so a check
shares no code path with the Spark job it checks."""

from __future__ import annotations

import pyarrow.parquet as pq

from perfbench.inputs import combine, row_digest

EXTRACTED_COLUMNS = ["url", "status", "extracted_text", "spans", "lang"]


def extracted_checksum(out_dir: str) -> tuple[int, int]:
    """(rows, order-insensitive checksum of (url, status, extracted_text,
    spans, lang)) of an extraction output directory."""
    rows = pq.read_table(out_dir, columns=EXTRACTED_COLUMNS).to_pylist()
    return len(rows), combine(row_digest(r) for r in rows)


def corpus_rows(corpus_dir: str) -> dict[int, str]:
    """doc_id -> text of a curated corpus directory."""
    t = pq.read_table(corpus_dir, columns=["doc_id", "text"]).to_pydict()
    return dict(zip(t["doc_id"], t["text"]))


# MinHash-LSH is approximate, and the program does not verify its
# candidate pairs against the text. Two unrelated documents that share a
# few word 3-grams (a site's boilerplate chunk, or one stopword trigram)
# can collide in a band and merge, so one is dropped. A near duplicate
# whose pairs all miss survives dedup, and the scrub then removes every
# 8-word unit it shares with its base, so the quality gate drops both.
# At seed 101 with 2,000 planted documents the two cost 12 (0.6%).
MAX_LOST_SHARE = 0.02


def planted_violations(kept: dict[int, str], n: int, plan: dict) -> list[str]:
    """What a curated corpus of documents ``0..n-1`` got wrong against
    the planted structure. It keeps no document the eval suite quotes
    and at most one member of each planted duplicate cluster. Every
    other document is kept, save for at most ``MAX_LOST_SHARE`` of
    ``n`` lost to the approximations above."""
    contaminated = set(plan["contaminated"])
    bad = [
        f"cluster {c} keeps {[d for d in c if d in kept]}"
        for c in plan["clusters"]
        if sum(d in kept for d in c) > 1
    ]
    bad += [f"contaminated doc {d} kept" for d in sorted(contaminated) if d in kept]
    extra = [d for d in kept if not 0 <= d < n]
    if extra:
        bad.append(f"unknown doc ids kept: {extra[:5]}")
    want = n - len(contaminated) - sum(len(c) - 1 for c in plan["clusters"])
    lost = want - (len(kept) - len(extra))
    if lost > MAX_LOST_SHARE * n:
        bad.append(f"{lost} of {want} expected docs lost")
    return bad
