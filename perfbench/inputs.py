"""Deterministic benchmark inputs, generated from ``--seed`` alone.

Three input sets, one per workload:

- ``crawl_pages``: raw pages from ``corpus.gen_row`` (the same generator
  the tests use), written as parquet parts, plus the order-insensitive
  checksum of ``golden.golden_row`` over the same ids.
- ``curation_docs``: a documents table with the planted duplicates,
  boilerplate and eval-suite quotes of ``scripts/dedup_stress.py``,
  plus that eval suite.
- ``stream_increments``: such a documents table split into ordered
  increments, landed one file at a time by the workload.

Every set is cached under ``<cache>/<kind>_v<CORPUS_VERSION>_<code>_n<size>_s<seed>``,
where ``<code>`` hashes the program's and this file's sources (so an
extractor change never meets a stale golden checksum), and marked
complete by ``meta.json``, written last.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

import win64_local_ocr_tool_spark
from win64_local_ocr_tool_spark.corpus import CORPUS_VERSION
from win64_local_ocr_tool_spark.operators.textops import QUALITY_STOPWORDS

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
_MASK64 = (1 << 64) - 1


# ---------------------------------------------------------------- checksums


def row_digest(row: dict) -> int:
    """64-bit digest of one extracted row: its url, status,
    extracted_text, spans and lang, in ``golden.golden_row``'s shape."""
    h = hashlib.blake2b(digest_size=8)
    for key in ("url", "status", "extracted_text", "lang"):
        h.update(row[key].encode("utf-8"))
        h.update(b"\x00")
    h.update(
        ",".join(
            f"{s['span_id']}:{s['char_start']}:{s['char_end']}" for s in row["spans"]
        ).encode()
    )
    return int.from_bytes(h.digest(), "little")


def combine(digests) -> int:
    """Order-insensitive combination: sum modulo 2**64."""
    total = 0
    for d in digests:
        total = (total + d) & _MASK64
    return total


def code_version() -> str:
    """Short hash of the program's Python sources and of this file."""
    h = hashlib.blake2b(digest_size=6)
    pkg = os.path.dirname(win64_local_ocr_tool_spark.__file__)
    files = [
        os.path.join(root, f)
        for root, _dirs, names in os.walk(pkg)
        for f in names
        if f.endswith(".py")
    ]
    for path in sorted(files) + [os.path.abspath(__file__)]:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# -------------------------------------------------------------- crawl pages


def _crawl_part(path: str, lo: int, hi: int, seed: int) -> tuple[int, int]:
    """Write one parquet part of pages ``[lo, hi)``; return (rows,
    golden checksum of those rows)."""
    from win64_local_ocr_tool_spark.corpus import gen_row
    from win64_local_ocr_tool_spark.golden import golden_row

    rows = [gen_row(i, seed) for i in range(lo, hi)]
    golden = combine(row_digest(golden_row(i, seed)) for i in range(lo, hi))
    table = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
            ]
        ),
    )
    pq.write_table(table, path)
    return len(rows), golden


def _cached(cache_dir: str, kind: str, key: str, build) -> tuple[str, dict]:
    d = os.path.join(cache_dir, f"{kind}_v{CORPUS_VERSION}_{code_version()}_{key}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = build(d)
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return d, meta


def crawl_pages(cache_dir: str, n: int, seed: int, procs: int) -> tuple[str, dict]:
    """Pages ``0..n-1`` of ``corpus.gen_row(i, seed)`` as ``<dir>/pages``
    parquet parts; ``meta['golden']`` is the checksum of
    ``golden.golden_row`` over the same ids. One child process per
    part, ``procs`` at a time, before any Spark session exists; each is
    waited for."""

    def build(d: str) -> dict:
        pages = os.path.join(d, "pages")
        os.makedirs(pages)
        n_parts = 2 * procs
        bounds = [n * k // n_parts for k in range(n_parts + 1)]
        todo = [
            [os.path.join(pages, f"part-{k:04d}.parquet"), str(lo), str(hi), str(seed)]
            for k, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
        ]
        parts = []
        while todo:
            batch, todo = todo[:procs], todo[procs:]
            children = [
                subprocess.Popen(
                    [sys.executable, "-m", "perfbench.inputs", *args],
                    stdout=subprocess.PIPE, text=True,
                )
                for args in batch
            ]
            for child in children:
                out, _ = child.communicate()
                if child.returncode != 0:
                    raise RuntimeError(f"page generation failed: {child.args}")
                parts.append(tuple(int(v) for v in out.split()))
        return {
            "n": sum(p[0] for p in parts),
            "golden": combine(p[1] for p in parts),
        }

    d, meta = _cached(cache_dir, "crawl", f"n{n}_s{seed}", build)
    return os.path.join(d, "pages"), meta


# ---------------------------------------------------------- curation docs

# The planted mix of scripts/dedup_stress.py (see its docstring), drawn
# from a seeded random.Random instead of Spark's xxhash64 so that it
# needs no Spark session:
# - ids in blocks of 20; ids with m = id % 20 in 0..3 share one seed
#   text: m=0 is the base, m=3 its exact duplicate, m=1 and m=2 each
#   have one word changed (at word 5 + 7m). 3 of every 20 ids are
#   duplicates the curation must drop (15%).
# - 56, 64, 72 or 80 words from a 512-word vocabulary that holds the
#   quality-gate stopwords 8 times each, so ~23% of the words are
#   stopwords. Here that share is exact per text (``round(w * 120/512)``
#   stopwords), which keeps every text over the gate's 10% floor.
# - every third seed text gets its site's 8-word boilerplate chunk
#   appended (one scrub unit, aligned since word counts are multiples
#   of 8); sites are drawn over max(64, n // 100).
# - the eval suite is the first 16 words of every 997th unique doc, so
#   those docs, and only those, must exit at the decontaminate stage.
# - each seed text's language is drawn from en/en/en/de/hi/sa.
BLOCK = 20
CLUSTER = 4
BOILER_EVERY = 3
EVAL_EVERY = 997
EVAL_WORDS = 16
DOC_LANGS = ("en", "en", "en", "de", "hi", "sa")
VOCAB_N = 512
EVAL_ID0 = 10**9  # eval-suite ids, disjoint from the documents' ids


def _vocab() -> tuple[list[str], list[str]]:
    """(stopwords, fillers): the dedup_stress vocabulary, split."""
    stops = list(QUALITY_STOPWORDS)
    n_fill = VOCAB_N - 8 * len(stops)
    return stops, [f"w{i:03d}" for i in range(n_fill)]


def _seed_text(rng: random.Random, stops: list[str], fillers: list[str]) -> list[str]:
    n_words = 56 + 8 * rng.randrange(4)
    n_stop = round(n_words * 8 * len(stops) / VOCAB_N)
    words = [rng.choice(stops) for _ in range(n_stop)]
    words += [rng.choice(fillers) for _ in range(n_words - n_stop)]
    rng.shuffle(words)
    return words


def make_documents(n: int, seed: int, tag: str) -> tuple[list[dict], list[dict], dict]:
    """(documents, eval suite, plan) with ids ``0..n-1``.
    ``plan['clusters']`` lists the planted duplicate clusters, base id
    first; ``plan['contaminated']`` the docs the eval suite quotes.
    Every other document should survive curation."""
    rng = random.Random(f"perfbench:{tag}:{seed}")
    stops, fillers = _vocab()
    vocab = stops * 8 + fillers
    n_sites = max(64, n // 100)
    site_chunk = {}
    docs, clusters, evals, contaminated = [], [], [], []
    for base in range(n):
        m = base % BLOCK
        if 0 < m < CLUSTER:
            continue  # written with its block's base below
        words = _seed_text(rng, stops, fillers)
        lang = DOC_LANGS[rng.randrange(len(DOC_LANGS))]
        site = rng.randrange(n_sites)
        if base % BOILER_EVERY == 0:
            if site not in site_chunk:
                site_chunk[site] = [rng.choice(vocab) for _ in range(8)]
            words = words + site_chunk[site]
        members = [(base, words)]
        if m == 0:
            for k in range(1, CLUSTER):
                if base + k >= n:
                    break
                dup = list(words)
                if k < 3:  # near duplicate: one word changed
                    at = 5 + 7 * k
                    dup[at] = rng.choice([f for f in fillers if f != dup[at]])
                members.append((base + k, dup))
            if len(members) > 1:
                clusters.append([d for d, _ in members])
        elif base % EVAL_EVERY == 0:
            evals.append((EVAL_ID0 + base, "en", words[:EVAL_WORDS], "eval"))
            contaminated.append(base)
        docs += [(d, lang, w, f"site{site}") for d, w in members]

    def rows(items):
        out = []
        for did, lang, words, source in items:
            text = " ".join(words)
            out.append(
                {"doc_id": did, "text": text, "lang": lang, "source": source,
                 "n_chars": len(text)}
            )
        return out

    plan = {"clusters": clusters, "contaminated": contaminated}
    return rows(docs), rows(evals), plan


def write_docs(rows: list[dict], path: str, parts: int) -> None:
    """Rows as ``<path>/part-*.parquet`` (a directory Spark reads as one
    table), shuffled by doc id so no part holds all of one kind."""
    os.makedirs(path)
    rows = sorted(rows, key=lambda r: r["doc_id"])
    for k in range(parts):
        pq.write_table(
            pa.Table.from_pylist(rows[k::parts], schema=DOCS_SCHEMA),
            os.path.join(path, f"part-{k:04d}.parquet"),
        )


def curation_docs(cache_dir: str, n: int, seed: int, parts: int) -> tuple[str, dict]:
    """``<dir>/docs/documents.parquet`` and ``<dir>/eval/documents.parquet``
    (the ``tables.load`` layout); the plan is returned as meta."""

    def build(d: str) -> dict:
        docs, evals, plan = make_documents(n, seed, "curate")
        write_docs(docs, os.path.join(d, "docs", "documents.parquet"), parts)
        write_docs(evals, os.path.join(d, "eval", "documents.parquet"), 1)
        return {"n": len(docs), **plan}

    return _cached(cache_dir, "curate", f"n{n}_s{seed}", build)


def stream_increments(
    cache_dir: str, n: int, increments: int, seed: int
) -> tuple[str, dict]:
    """``<dir>/inc/e<k>.parquet`` for k < increments, in arrival order,
    plus ``<dir>/all/documents.parquet`` (the whole set, for the batch
    twin). Duplicates of a base may arrive before or after it."""

    def build(d: str) -> dict:
        docs, _evals, plan = make_documents(n, seed, "stream")
        rng = random.Random(f"perfbench:arrival:{seed}")
        rng.shuffle(docs)
        inc = os.path.join(d, "inc")
        os.makedirs(inc)
        bounds = [len(docs) * k // increments for k in range(increments + 1)]
        for k, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            pq.write_table(
                pa.Table.from_pylist(docs[lo:hi], schema=DOCS_SCHEMA),
                os.path.join(inc, f"e{k:03d}.parquet"),
            )
        write_docs(docs, os.path.join(d, "all", "documents.parquet"), 1)
        return {"n": len(docs), "increments": increments, **plan}

    return _cached(cache_dir, "stream", f"n{n}_e{increments}_s{seed}", build)


if __name__ == "__main__":
    # child of crawl_pages: <path> <lo> <hi> <seed>
    rows, golden = _crawl_part(sys.argv[1], *(int(v) for v in sys.argv[2:5]))
    print(rows, golden)
