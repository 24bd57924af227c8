"""Incremental ingestion via Structured Streaming.

The reference is strictly request/response batch (SURVEY §2.9); its
closest concurrency is the fire-and-forget fine-tune thread
(``routes.py:276-287``). The north rule's requirement — killed jobs
resume without recomputing completed work — is met by the batch
pipeline's lineage/anti-join (``pipeline.run_extraction``). This module
is the ADDITIVE continuous-arrival front-end: new document files landing
in a directory are extracted incrementally with exactly-once semantics,
reusing the identical kernels, so a row extracted by the stream is
byte-identical to the same row extracted by the batch job.

Design notes for cluster scale:

- **Exactly-once without a transactional sink:** ``foreachBatch`` may
  replay an epoch after a crash, and a plain parquet append would then
  duplicate rows. Each epoch therefore OVERWRITES its own
  ``epoch=<id>`` directory — replay is idempotent, mirroring the batch
  path's overwrite-by-partition (SURVEY P9). Readers see the union of
  epoch directories as one table.
- **Source scaling:** ``maxFilesPerTrigger`` bounds epoch size so one
  huge backlog drains in bounded-memory steps; at 10^12-doc scale the
  file listing is the bottleneck — a production deployment points this
  at an Iceberg table with incremental snapshot reads instead, same
  foreachBatch body.
- **Lineage:** every epoch commits through ``pipeline.commit_stage``
  like the batch job: one (stage='stream_extract', partition_key=
  epoch_id) row with n_rows, n_errors and the content fingerprint
  observed during the epoch's write, and that write's wall time, in
  the same lineage table, so monitoring is uniform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..corpus import DOCUMENTS_SCHEMA
from ..operators.extract import extract_all

STAGE_STREAM = "stream_extract"


def incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    lineage_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    mega_bytes: int | None = 8 << 20,
    skip_seen_urls: bool = False,
) -> None:
    """Drain all currently-available new files, then stop.

    ``availableNow`` processes the backlog in bounded epochs and
    terminates — rerunning later picks up exactly the files that
    arrived since, from the checkpoint. Continuous operation is the
    same call in a loop (or a processingTime trigger); the sandbox
    tests use the drain-and-stop form.

    ``skip_seen_urls=True`` drops re-crawled urls: each epoch anti-joins
    its batch against the url column of all previously written epochs
    (column-pruned scan of one thin string column). Exact and simple at
    sandbox scale; at 10^12 docs the same hook swaps in a bloom filter
    or a bucketed url index — the anti-join shape is unchanged.
    Within-epoch duplicates pass through 1:1 either way, matching the
    batch pipeline's explicit-dedup-operator stance.
    """
    from ..lineage import done_counts
    from ..pipeline import commit_stage

    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)

    def process_epoch(batch: DataFrame, epoch_id: int) -> None:
        bspark = batch.sparkSession
        # crash-replay guard: foreachBatch is at-least-once, and an
        # epoch's done-row is appended only after its write finished, so
        # a logged epoch is complete — skip its write and its
        # (non-idempotent) lineage append
        if lineage_dir and int(epoch_id) in done_counts(lineage_dir, STAGE_STREAM):
            return
        docs = batch.select("url", "html")
        if skip_seen_urls:
            from pyspark.errors import AnalysisException

            try:
                # exclude this epoch's own directory: a crash-replay of
                # epoch N must not be masked by its partial prior write
                seen = (
                    read_stream_output(bspark, out_dir)
                    .filter(
                        f"_metadata.file_path NOT LIKE '%epoch={epoch_id}/%'"
                    )
                    .select("url")
                )
                docs = docs.join(seen, "url", "left_anti")
            except AnalysisException:
                pass  # first epoch: nothing written yet
        commit_stage(
            STAGE_STREAM, lambda: extract_all(docs, mega_bytes=mega_bytes),
            # overwrite-by-epoch = idempotent replay (see module docstring)
            lambda df: df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}"),
            [int(epoch_id)], key=F.lit(int(epoch_id)),
            errors=F.col("status") == "error", lineage_dir=lineage_dir,
        )

    q = (
        stream.writeStream.foreachBatch(process_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_stream_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The union of all epoch directories as one extracted table.

    An output directory that does not exist yet (no epoch has run) is
    an empty table, not an error — a monitoring query must work before
    the first file lands."""
    from pyspark.errors import AnalysisException

    from ..operators.extract import EXTRACTED_SCHEMA

    try:
        return spark.read.schema(EXTRACTED_SCHEMA).option(
            "recursiveFileLookup", "true"
        ).parquet(out_dir)
    except AnalysisException:
        return spark.createDataFrame([], schema=EXTRACTED_SCHEMA)


def windowed_ingest_counts(
    spark: SparkSession,
    input_dir: str,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling-window ingest counts per lang with late-data
    watermark — the §2.9 mapping of ``warc_ts`` windows (batch twin:
    the ``incremental_window`` registry query). Returns the unstarted
    streaming DataFrame; callers attach their sink."""
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_dir)
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "n",
        )
    )
