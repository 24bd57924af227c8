"""Extraction operators: the Spark restatement of the reference pipeline.

Two physical paths over the same kernels (SURVEY.md §3.1 restatement):

- **normal path** — one ``mapInPandas`` pass per document batch:
  payload -> tokenize -> classify -> assemble, document-local, ZERO
  shuffle. This is what makes the job embarrassingly parallel at
  10^12-doc scale: the plan is scan -> project -> mapInPandas -> write.

- **mega path** (explicit skew handling, SURVEY.md P11 / F7, analog of
  tall-box splitting ``segment_old_method.py:23-37``) — oversized
  documents are tokenized into their block stream, split into
  fixed-size block chunks with a 1-block halo, classified+assembled
  per chunk in parallel, then reassembled RELATIONALLY: window
  cumulative sums give each chunk its char/span offset base, so the
  result is byte-identical to the single-pass path (halo proof in
  ``kernels/classify.py``; property-tested).

Only text/struct logic crosses the relational boundary — floats never
feed ``extracted_text`` (SURVEY.md §7.5 item 5).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..kernels.assemble import (
    extract_document,
    spans_from_flags,
    tokenize_payload,
)
from ..kernels.classify import classify_chunk
from ..kernels.htmlblocks import Block
from ..kernels.langid import COUNT_FIELDS, lang_counts

SPAN_STRUCT = "array<struct<span_id:int,char_start:int,char_end:int>>"

EXTRACTED_SCHEMA = (
    "url string, status string, extracted_text string, "
    f"spans {SPAN_STRUCT}, lang string"
)

_BLOCK_STRUCT = (
    "struct<block_id:int,tag:string,depth:int,pos:int,"
    "text:string,text_len:int,link_text_len:int>"
)

CHUNKS_SCHEMA = (
    "url string, chunk_id int, kind string, "
    f"blocks array<{_BLOCK_STRUCT}>, "
    f"left_halo {_BLOCK_STRUCT}, right_halo {_BLOCK_STRUCT}"
)

_COUNTS_SQL = ", ".join(f"{f} long" for f in COUNT_FIELDS)
CHUNK_SPANS_SCHEMA = (
    "url string, chunk_id int, kind string, chunk_text string, "
    f"chunk_chars long, n_spans long, spans {SPAN_STRUCT}, {_COUNTS_SQL}"
)


def _spans_records(spans: list[tuple[int, int, int]]) -> list[dict]:
    return [
        {"span_id": s, "char_start": a, "char_end": b} for (s, a, b) in spans
    ]


# --------------------------------------------------------------------------
# normal path
# --------------------------------------------------------------------------

def extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: whole-document extraction per batch.

    Iterator form so any per-executor heavy init (the analog of the
    one-time model load, reference ``segment_graph.py:73-76``) happens
    once per task, not per batch.
    """
    for pdf in batches:
        urls = pdf["url"].tolist()
        out = {
            "url": urls,
            "status": [],
            "extracted_text": [],
            "spans": [],
            "lang": [],
        }
        for payload in pdf["html"]:
            # NULL payload (body lost at crawl time) -> empty bytes ->
            # the undecodable-payload error row, never a task failure
            res = extract_document(b"" if payload is None else bytes(payload))
            out["status"].append(res["status"])
            out["extracted_text"].append(res["extracted_text"])
            out["spans"].append(_spans_records(res["spans"]))
            out["lang"].append(res["lang"])
        yield pd.DataFrame(out)


def extract_normal(docs: DataFrame) -> DataFrame:
    """Zero-shuffle extraction of regular-size documents."""
    return docs.select("url", "html").mapInPandas(
        extract_batches, schema=EXTRACTED_SCHEMA
    )


# --------------------------------------------------------------------------
# mega path: tokenize -> chunk -> classify -> relational reassembly
# --------------------------------------------------------------------------

def make_chunker(chunk_blocks: int):
    def tokenize_chunks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                kind, blocks = tokenize_payload(
                    b"" if payload is None else bytes(payload)
                )
                recs = [b._asdict() for b in blocks]
                if kind != "html":
                    # PDF/corrupt payloads are never block-split: one chunk.
                    rows.append(
                        {
                            "url": url,
                            "chunk_id": 0,
                            "kind": kind,
                            "blocks": recs,
                            "left_halo": None,
                            "right_halo": None,
                        }
                    )
                    continue
                n = len(recs)
                for cid, start in enumerate(range(0, max(n, 1), chunk_blocks)):
                    core = recs[start : start + chunk_blocks]
                    rows.append(
                        {
                            "url": url,
                            "chunk_id": cid,
                            "kind": kind,
                            "blocks": core,
                            "left_halo": recs[start - 1] if start > 0 else None,
                            "right_halo": (
                                recs[start + chunk_blocks]
                                if start + chunk_blocks < n
                                else None
                            ),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "url", "chunk_id", "kind", "blocks", "left_halo", "right_halo",
                ],
            )

    return tokenize_chunks


def classify_chunk_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Per-chunk classification + chunk-local span assembly.

    Column-wise iteration (``zip`` over ``.tolist()`` columns), not
    ``pdf.iterrows()``: iterrows materializes a pandas Series PER ROW,
    and on mega-heavy corpora the chunk is the row grain, so that
    constant sat on the hot path (VERDICT r3 item 6). Same kernel
    calls, same bytes — only the unpacking changed."""
    for pdf in batches:
        rows = []
        cols = (
            pdf["url"].tolist(),
            pdf["chunk_id"].tolist(),
            pdf["kind"].tolist(),
            pdf["blocks"].tolist(),
            pdf["left_halo"].tolist(),
            pdf["right_halo"].tolist(),
        )
        for url, chunk_id, kind, block_recs, lh_rec, rh_rec in zip(*cols):
            blocks = [Block(**br) for br in block_recs]
            if kind == "pdf":
                flags = [True] * len(blocks)
            elif kind == "error":
                flags = [False] * len(blocks)
            else:
                lh = Block(**lh_rec) if lh_rec is not None else None
                rh = Block(**rh_rec) if rh_rec is not None else None
                flags = classify_chunk(blocks, lh, rh)
            text, spans = spans_from_flags(blocks, flags)
            counts = lang_counts(text)
            rows.append(
                {
                    "url": url,
                    "chunk_id": int(chunk_id),
                    "kind": kind,
                    "chunk_text": text,
                    "chunk_chars": len(text),
                    "n_spans": len(spans),
                    "spans": _spans_records(spans),
                    **dict(zip(COUNT_FIELDS, counts)),
                }
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "url", "chunk_id", "kind", "chunk_text", "chunk_chars",
                "n_spans", "spans", *COUNT_FIELDS,
            ],
        )


def lang_from_counts_expr():
    """JVM-side twin of ``kernels.langid.lang_from_counts`` over the
    summed COUNT_FIELDS columns — the same integer branching
    (Devanagari >=30% of tokens -> sa on strict marker majority else
    hi; Latin -> de on strict majority else en; no tokens -> und),
    expressed as a Catalyst ``when`` chain so the per-document lang
    pick never leaves the JVM (this was the last row-at-a-time Python
    on the execution surface). Counts are exact integers, so the two
    implementations can never diverge on ties."""
    n_en, n_de, n_hi, n_sa, n_deva, n_tok = (F.col(f) for f in COUNT_FIELDS)
    return (
        F.when(n_tok == 0, F.lit("und"))
        .when(
            10 * n_deva >= 3 * n_tok,
            F.when(n_sa > n_hi, F.lit("sa")).otherwise(F.lit("hi")),
        )
        .otherwise(F.when(n_de > n_en, F.lit("de")).otherwise(F.lit("en")))
    )


def extract_mega(docs: DataFrame, *, chunk_blocks: int = 200) -> DataFrame:
    """Skew path: chunked extraction of oversized documents.

    Shuffles only the (rare) mega rows, and only their *derived text*,
    never the raw payload twice: tokenize -> chunk rows -> repartition by
    (url, chunk_id) so one giant document fans out across the cluster ->
    classify per chunk -> window offsets -> groupBy(url) reassembly.
    """
    spark = docs.sparkSession
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))

    chunks = (
        docs.select("url", "html")
        .mapInPandas(make_chunker(chunk_blocks), schema=CHUNKS_SCHEMA)
        .repartition(n_shuffle, "url", "chunk_id")
    )
    cspans = chunks.mapInPandas(classify_chunk_batches, schema=CHUNK_SPANS_SCHEMA)

    w = (
        Window.partitionBy("url")
        .orderBy("chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    based = cspans.withColumn(
        "base_chars", F.coalesce(F.sum("chunk_chars").over(w), F.lit(0))
    ).withColumn(
        "base_spans", F.coalesce(F.sum("n_spans").over(w), F.lit(0))
    )
    adjusted = based.withColumn(
        "spans",
        F.transform(
            "spans",
            lambda s: F.struct(
                (s["span_id"] + F.col("base_spans")).cast("int").alias("span_id"),
                (s["char_start"] + F.col("base_chars")).cast("int").alias("char_start"),
                (s["char_end"] + F.col("base_chars")).cast("int").alias("char_end"),
            ),
        ),
    )

    count_sums = [F.sum(f).alias(f) for f in COUNT_FIELDS]
    doc = (
        adjusted.groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk_text"))
                    ),
                    lambda c: c["chunk_text"],
                ),
                "",
            ).alias("extracted_text"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "spans"))),
                    lambda c: c["spans"],
                )
            ).alias("spans"),
            F.max("kind").alias("kind"),
            *count_sums,
        )
    )
    return doc.select(
        "url",
        F.when(F.col("kind") == "error", F.lit("error"))
        .otherwise(F.lit("ok"))
        .alias("status"),
        "extracted_text",
        "spans",
        lang_from_counts_expr().alias("lang"),
    )


def extract_all(
    docs: DataFrame,
    *,
    mega_bytes: int | None = None,
    chunk_blocks: int = 200,
) -> DataFrame:
    """Extraction with optional distributed skew splitting.

    ``mega_bytes=None`` (default): every document runs through the
    zero-shuffle in-task path — correct and memory-safe for payloads up
    to tens of MB (one Arrow batch holds <= maxRecordsPerBatch rows),
    and the whole job is scan -> mapInPandas -> sink: nothing scales
    sub-linearly with executor count.

    ``mega_bytes=N``: documents with payload size ``>= N`` route through
    the distributed chunk path (``extract_mega``) so ONE document fans
    out across the cluster. This is for corpora carrying multi-MB
    documents where a single payload would dominate a task.

    Branch predicate, in preference order:

    - If ``docs`` carries the ``n_bytes`` ingest-metadata column
      (``sources.with_ingest_metadata`` records it at ingest write;
      the binaryFile source provides it for free), both branches
      filter on that PLAIN LONG column — Catalyst pushes
      ``n_bytes < N`` / ``n_bytes >= N`` into the parquet scan
      (PushedFilters + row-group statistics pruning), so the mega
      branch's second scan touches only row groups that can contain a
      mega row: effectively free on a corpus where mega pages are 1 in
      10^3 (gated in tests/test_plans.py).
    - Otherwise the predicate is ``length(html)``, which no format can
      push below the scan, so the mega branch costs a second full scan
      and a shuffle. ``pipeline.run_extraction`` builds this split only
      for commit groups whose size probe saw a page at/over the
      threshold; every other group passes ``mega_bytes=None``.
    """
    if mega_bytes is None:
        return extract_normal(docs)
    n = F.lit(mega_bytes)
    if "n_bytes" in docs.columns:
        # Three-way split so a NULL n_bytes row (mixed-vintage table:
        # files written before the metadata column existed, read with
        # schema merge) can never vanish from the output — NULL fails
        # BOTH pushed comparisons, which would silently drop the url
        # and break byte-identity. Known-size rows keep the pushed
        # row-group-prunable filters; unknown rows take the legacy
        # length(html) predicate (IsNull itself pushes, so on a healthy
        # all-recorded table the two unknown scans prune to nothing).
        nb = F.col("n_bytes")
        unknown = docs.filter(nb.isNull())
        # NULL html counts as size 0 (routes to the normal path, where
        # the empty/undecodable payload becomes a status='error' row) —
        # a bare length(html) would be NULL and fail both comparisons,
        # dropping the url
        ln = F.coalesce(F.length(F.col("html")), F.lit(0))
        normal_in = docs.filter(nb < n).unionByName(unknown.filter(ln < n))
        mega_in = docs.filter(nb >= n).unionByName(unknown.filter(ln >= n))
    else:
        ln = F.coalesce(F.length(F.col("html")), F.lit(0))
        normal_in = docs.filter(ln < n)
        mega_in = docs.filter(ln >= n)
    return extract_normal(normal_in).unionByName(
        extract_mega(mega_in, chunk_blocks=chunk_blocks)
    )
