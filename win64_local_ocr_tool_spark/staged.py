"""Stage-table pipeline: tokenize -> blocks checkpoint -> classify+assemble.

The reference materializes every stage to disk (heatmap JPEGs, points
txt, labels txt — SURVEY S3-S6); this is that design done right: each
stage writes a columnar stage table partitioned by the deterministic
``partition_key`` through ``pipeline.commit_stage``, which counts the
rows per partition while they are written and appends the lineage, and
the next stage reads the table back as its input. A killed job resumes
at (stage, partition) granularity; a stage's output is reusable by
other consumers (the blocks table IS the FIXTURES.md §3 schema).

Trade-off vs the single-pass pipeline (``pipeline.run_extraction``):
one extra table write/read plus ONE shuffle (groupBy url for assembly)
in exchange for stage-level restart and inspectability. Both produce
byte-identical output (tested).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from .kernels.assemble import spans_from_flags
from .kernels.classify import classify_blocks
from .kernels.htmlblocks import Block
from .kernels.langid import detect_lang
from .lineage import done_counts, with_partition_key
from .operators.extract import (
    EXTRACTED_SCHEMA,
    _spans_records,
    tokenize_payload,
)

STAGE_TOKENIZE = "tokenize"
STAGE_ASSEMBLE = "assemble"


def iceberg_catalog_for(spark: SparkSession, target: str) -> str | None:
    """Capability check for the Iceberg write path: ``target`` is an
    Iceberg TABLE identifier iff its leading name part is a catalog
    configured with an Iceberg implementation. Filesystem paths (the
    sandbox reality) never are."""
    if "/" in target or "\\" in target or ":" in target:
        return None
    cat = target.split(".", 1)[0]
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{cat}")
    except Exception:
        return None
    return cat if impl and "iceberg" in impl.lower() else None


def _is_missing_table_error(exc: Exception) -> bool:
    """True iff ``exc`` is the Iceberg/Spark "table does not exist yet"
    class — the only failure the first-write bootstrap may swallow.
    Covers Spark 3.x/4.x error-class strings and the Iceberg
    NoSuchTableException family; everything else must re-raise."""
    msg = str(exc)
    return (
        "TABLE_OR_VIEW_NOT_FOUND" in msg
        or "NoSuchTable" in msg
        or "Table or view not found" in msg
    )


# Sandbox probe result (round 3, living twin: tests/test_staged.py::
# test_iceberg_twin_unavailable_in_sandbox): pyspark ships 286 jars,
# none iceberg/delta; no delta-spark package; Maven Central is
# unreachable (no network), so spark.jars.packages cannot fetch the
# runtime. The Iceberg branch below therefore cannot go live here —
# it is exercised up to the capability gate + bootstrap classification,
# and a real deployment turns it on by configuring
# spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog.


def merge_by_key(
    df: DataFrame, target: str, key_col: str = "partition_key"
) -> None:
    """ONE write call site for every staged/checkpoint table: replace
    the partitions present in ``df``, leave the rest untouched
    (SURVEY §7.1 — "Iceberg when the runtime has the jars").

    - **Iceberg path** (capability-gated on a configured catalog):
      ``df.writeTo(target).overwritePartitions()`` — Iceberg's dynamic
      partition overwrite, the MERGE-shaped replace-matching-partitions
      commit with snapshot isolation and atomic metadata swap.
    - **Parquet fallback** (this sandbox): dynamic partition-overwrite
      write. Net semantics are identical for stage tables because every
      stage write carries COMPLETE partitions: keys present in ``df``
      are replaced, absent keys untouched, and re-running the same
      write is idempotent (pytest: test_staged.py::test_merge_by_key*).

    Both paths share this call site (and ``read_stage`` is the read
    twin), so swapping the runtime in/out of Iceberg changes no
    pipeline code — only the ``target`` string."""
    spark = df.sparkSession
    if iceberg_catalog_for(spark, target):
        try:
            df.writeTo(target).overwritePartitions()
        except Exception as exc:
            # First-ever stage write: the table does not exist yet, so
            # bootstrap it (partitioned by the stage key). Any other
            # failure re-raises — only the no-such-table case is the
            # create path.
            if not _is_missing_table_error(exc):
                raise
            df.writeTo(target).partitionedBy(F.col(key_col)).create()
    else:
        # per-write option: the replace-only-present-partitions contract
        # must not depend on the session having been built by
        # session.get_spark (Spark's default mode is static, which
        # would wipe every other partition on each commit)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(key_col)
            .parquet(target)
        )


def read_stage(spark: SparkSession, target: str, schema: str) -> DataFrame:
    """Read twin of ``merge_by_key`` — the other half of the seam: an
    Iceberg identifier reads through the catalog (``spark.table``),
    a path reads parquet with the explicit schema (never inferred —
    empty stage dirs have no footers)."""
    if iceberg_catalog_for(spark, target):
        return spark.table(target)
    return spark.read.schema(schema).parquet(target)


# FIXTURES.md §3 blocks schema + dispatch bookkeeping. block_id = -1 is
# the per-document sentinel row (carries kind for empty/corrupt docs).
BLOCKS_SCHEMA = (
    "url string, kind string, block_id int, tag string, depth int, "
    "pos int, text string, text_len int, link_text_len int"
)


def tokenize_to_blocks(docs: DataFrame) -> DataFrame:
    """Stage 1: payload -> block long table (one row per content unit,
    plus one sentinel row per document)."""

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "url", "kind", "block_id", "tag", "depth", "pos",
            "text", "text_len", "link_text_len",
        ]
        for pdf in batches:
            rows = []
            for url, payload in zip(pdf["url"], pdf["html"]):
                kind, blocks = tokenize_payload(
                    b"" if payload is None else bytes(payload)
                )
                rows.append(
                    {"url": url, "kind": kind, "block_id": -1, "tag": "",
                     "depth": 0, "pos": 0, "text": "", "text_len": 0,
                     "link_text_len": 0}
                )
                for b in blocks:
                    rows.append(
                        {"url": url, "kind": kind, "block_id": b.block_id,
                         "tag": b.tag, "depth": b.depth, "pos": b.pos,
                         "text": b.text, "text_len": b.text_len,
                         "link_text_len": b.link_text_len}
                    )
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("url", "html").mapInPandas(tok, schema=BLOCKS_SCHEMA)


OVERRIDES_SCHEMA = "url string, block_id int, keep boolean"


def assemble_from_blocks(
    blocks: DataFrame, overrides: DataFrame | None = None
) -> DataFrame:
    """Stage 2: blocks grouped per url -> classify -> spans -> extracted.

    The one shuffle of the staged design (groupBy url); group sizes are
    bounded by document size, and the shuffled payload is the derived
    block stream, not raw html.

    ``overrides`` (url, block_id, keep) is the survival of the
    reference's human-in-the-loop correction artifact (the edited
    layout graph, SURVEY §3.2): where present, the human's keep/drop
    decision REPLACES the classifier's flag for that block. Overrides
    are human-made and therefore tiny — broadcast-joined onto the
    block stream, never a second shuffle."""
    if overrides is not None:
        blocks = blocks.join(
            F.broadcast(
                overrides.select(
                    "url", "block_id", F.col("keep").alias("keep_override")
                )
            ),
            ["url", "block_id"],
            "left",
        )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        url = pdf["url"].iloc[0]
        kind = pdf["kind"].iloc[0]
        if kind == "error":
            return pd.DataFrame(
                [{"url": url, "status": "error", "extracted_text": "",
                  "spans": [], "lang": "und"}]
            )
        core = pdf[pdf["block_id"] >= 0].sort_values("block_id")
        # column-wise zip, not itertuples: no per-row object assembly
        # beyond the Block the kernel needs (same bytes, same order)
        blocks_list = [
            Block(
                block_id=int(b), tag=t, depth=int(d), pos=int(p),
                text=x, text_len=int(tl), link_text_len=int(ll),
            )
            for b, t, d, p, x, tl, ll in zip(
                core["block_id"].tolist(), core["tag"].tolist(),
                core["depth"].tolist(), core["pos"].tolist(),
                core["text"].tolist(), core["text_len"].tolist(),
                core["link_text_len"].tolist(),
            )
        ]
        flags = (
            [True] * len(blocks_list)
            if kind == "pdf"
            else classify_blocks(blocks_list)
        )
        if "keep_override" in core.columns:
            for i, ov in enumerate(core["keep_override"]):
                if ov is not None and not pd.isna(ov):
                    flags[i] = bool(ov)
        text, spans = spans_from_flags(blocks_list, flags)
        return pd.DataFrame(
            [{
                "url": url,
                "status": "ok",
                "extracted_text": text,
                "spans": _spans_records(spans),
                "lang": detect_lang(text),
            }]
        )

    return blocks.groupBy("url").applyInPandas(assemble, schema=EXTRACTED_SCHEMA)


def run_staged_extraction(
    spark: SparkSession,
    docs: DataFrame,
    work_dir: str,
    *,
    lineage_dir: str | None = None,
    resume: bool = False,
    n_buckets: int = 64,
) -> dict:
    """documents -> blocks table -> extracted table, with per-stage
    lineage + resume. Each stage write is one ``pipeline.commit_stage``
    over its todo keys: every todo key, an empty bucket included, logs
    one done-row with counters observed during the write."""
    from .pipeline import commit_stage

    lineage_dir = lineage_dir or f"{work_dir}/lineage"
    blocks_dir = f"{work_dir}/blocks"
    out_dir = f"{work_dir}/extracted"
    pk = F.col("partition_key")

    def run_stage(stage, source, body, target, key, errors):
        # resume drops the done keys' rows; returns (keys pruned, rows
        # of the stage's whole output, keys committed now)
        done = done_counts(lineage_dir, stage) if resume else {}
        keys = [k for k in range(n_buckets) if k not in done]
        todo = source.filter(~pk.isin(*done)) if done else source
        rows = []
        if keys:
            rows, _ = commit_stage(
                stage,
                lambda: with_partition_key(body(todo), n_buckets),
                lambda df: merge_by_key(df, target),
                keys, key=key, errors=errors, lineage_dir=lineage_dir,
            )
        return len(done), sum(done.values()) + sum(r[1] for r in rows), len(rows)

    # stage 1: tokenize -> blocks checkpoint; a document is its sentinel
    # row (block_id = -1), so only those rows carry a lineage key
    tok_pruned, _, _ = run_stage(
        STAGE_TOKENIZE, with_partition_key(docs, n_buckets),
        lambda d: tokenize_to_blocks(d.select("url", "html")), blocks_dir,
        F.when(F.col("block_id") == -1, pk), F.col("kind") == "error",
    )
    # stage 2: blocks -> extracted
    blocks_in = read_stage(spark, blocks_dir, BLOCKS_SCHEMA + ", partition_key int")
    asm_pruned, n_docs, n_new = run_stage(
        STAGE_ASSEMBLE, blocks_in, assemble_from_blocks, out_dir, pk,
        F.col("status") == "error",
    )
    return {
        "tokenize_pruned": tok_pruned,
        "assemble_pruned": asm_pruned,
        "blocks_dir": blocks_dir,
        "out_dir": out_dir,
        "lineage_dir": lineage_dir,
        "n_docs": n_docs,
        "assemble_partitions_new": n_new,
    }
