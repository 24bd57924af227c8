"""Per-partition lineage + counters, and partition-granular resume.

Analog of the reference's SQLite logs (``models.py:12-30`` — one row per
extracted line, committed per page) lifted to partition granularity, per
the north rule: every stage appends (stage, partition_key, n_rows,
n_errors, wall_ms, status, ts, fp) to an append-only checkpoint table,
with counters taken while the stage writes (``pipeline.commit_stage``); a
restarted job drops the done keys' rows and recomputes only the missing
partitions.

Sandbox note: the runtime has no Iceberg catalog jars, so the checkpoint
table is parquet-append with the same semantics (append-only; readers
take the union of runs; a partition is "done" iff any run logged it
done). Stage OUTPUT idempotence comes from dynamic partition overwrite
keyed by the deterministic ``partition_key`` (the analog of the
reference's rm-then-rewrite per page, ``segment_from_point_clusters.py:
372-373``) — re-running a partition replaces exactly its directory.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

LINEAGE_SCHEMA = (
    "stage string, partition_key int, n_rows long, n_errors long, "
    "wall_ms long, status string, run_id string, ts timestamp, fp long"
)


def with_partition_key(df: DataFrame, n_buckets: int, key: str = "url") -> DataFrame:
    """Deterministic partition key: pmod(xxhash64(key), n_buckets).

    Hash-of-url is uniform (no hot buckets from crawl-order skew) and
    stable across runs/cluster sizes — the property resume depends on.
    """
    return df.withColumn(
        "partition_key",
        F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int"),
    )


def read_lineage(spark: SparkSession, lineage_dir: str) -> DataFrame | None:
    if not os.path.isdir(lineage_dir) or not any(
        f.endswith(".parquet") for f in _walk_files(lineage_dir)
    ):
        return None
    # explicit schema: inferred from one footer, a dir mixing pre-``fp``
    # files with ``fp`` files may drop the column; here old rows read NULL
    return spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_dir)


def _walk_files(d: str):
    for root, _dirs, files in os.walk(d):
        yield from files


def done_keys(spark: SparkSession, lineage_dir: str, stage: str) -> DataFrame | None:
    lin = read_lineage(spark, lineage_dir)
    if lin is None:
        return None
    return (
        lin.filter((F.col("stage") == stage) & (F.col("status") == "done"))
        .select("partition_key")
        .distinct()
    )


def done_counts(spark: SparkSession, lineage_dir: str, stage: str) -> dict[int, int]:
    """partition_key -> n_rows of ``stage``'s done-rows, the latest
    winning; one driver-side collect of the (tiny) lineage table."""
    lin = read_lineage(spark, lineage_dir)
    if lin is None:
        return {}
    done = lin.filter((F.col("stage") == stage) & (F.col("status") == "done"))
    rows = done.select("ts", "partition_key", "n_rows").collect()
    return {k: n for _, k, n in sorted(rows)}


def straggler_report(lin: DataFrame, top_k: int = 5) -> DataFrame:
    """Operational skew surface over the checkpoint table (VERDICT r3
    item 7): per stage, the top-k fattest partitions with exact integer
    percentile context, so a 100 TB operator can see stragglers from
    the lineage table alone — no Spark UI, no event logs.

    Per (stage, partition_key) the LATEST done-row wins (resumes append
    duplicates); ties on ts (one append batch logging a key twice, or
    concurrent runs sharing a current_timestamp) break on n_rows then
    wall_ms descending, so the report is a deterministic function of
    the table — rows still tied are identical in every output column.
    Output grain: one row per stage per top-k partition by
    n_rows, carrying the stage's discrete p50/p99 of per-partition rows
    and an integer skew ratio (n_rows*1000 div p50 — no float columns,
    repo invariant). Percentiles are DISCRETE by explicit rank
    arithmetic (element at ceil(q*n) of the sorted list) — identical in
    Spark and DuckDB, no interpolation semantics to match. The
    per-stage collect_list is bounded by the bucket count (the
    checkpoint table is tiny by construction — one row per partition
    per stage)."""
    from pyspark.sql.window import Window as W

    base = lin.filter(F.col("status") == "done").select(
        "stage", "partition_key", "n_rows", "wall_ms", "ts"
    )
    latest = (
        base.withColumn(
            "_rn",
            F.row_number().over(
                W.partitionBy("stage", "partition_key").orderBy(
                    F.col("ts").desc(),
                    F.col("n_rows").desc(),
                    F.col("wall_ms").desc(),
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "ts")
    )
    arr = F.array_sort(F.collect_list("n_rows"))
    cnt = F.count("*")
    stats = latest.groupBy("stage").agg(
        F.element_at(arr, F.ceil(cnt * 0.5).cast("int")).alias("p50_rows"),
        F.element_at(arr, F.ceil(cnt * 0.99).cast("int")).alias("p99_rows"),
    )
    rnk = F.row_number().over(
        W.partitionBy("stage").orderBy(
            F.col("n_rows").desc(), "partition_key"
        )
    )
    return (
        latest.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= top_k)
        .join(stats, "stage")
        .select(
            "stage",
            "partition_key",
            "n_rows",
            "wall_ms",
            "rnk",
            "p50_rows",
            "p99_rows",
            F.expr("n_rows * 1000 div greatest(p50_rows, 1)").alias(
                "skew_x1000"
            ),
        )
    )


def row_hash(df: DataFrame) -> Column:
    """Whole-row murmur3 ``hash`` over the columns in sorted-name order
    (a partition column's place on read-back does not move it), as
    long: the summand of every content fingerprint."""
    return F.hash(*sorted(df.columns)).cast("long")


def content_fingerprint(df: DataFrame) -> int:
    """Order-insensitive fingerprint of a table: the sum of ``row_hash``
    over its rows (0 when empty). ``pipeline.commit_stage`` observes the
    same sum while a stage writes (the lineage ``fp``); this recomputes
    it from disk, so a resume can validate a stage it skips (ADVICE r4:
    a count-equal but content-different table must not be reused)."""
    fp = df.select(F.sum(row_hash(df))).first()[0]
    return int(fp or 0)


def append_lineage(
    spark: SparkSession,
    lineage_dir: str,
    stage: str,
    per_key_counts: DataFrame,
    wall_ms: int,
    run_id: str | None = None,
) -> None:
    """Append one done-row per processed partition_key.

    ``per_key_counts``: DataFrame(partition_key int, n_rows long,
    n_errors long[, fp long]). ``fp`` is the key's ``content_fingerprint``
    as ``commit_stage`` observed it during the write; a resume skip path
    compares it against the on-disk table. Without the column the rows
    read ``fp`` NULL (count-only validation). ``wall_ms`` is the wall
    time of the commit's write, copied to every key of the commit
    (local mode has no per-task clock worth logging).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    if "fp" not in per_key_counts.columns:
        per_key_counts = per_key_counts.withColumn("fp", F.lit(None))
    rows = (
        per_key_counts.withColumn("stage", F.lit(stage))
        .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
        .withColumn("status", F.lit("done"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("ts", F.current_timestamp())
        .select(
            "stage", "partition_key", "n_rows", "n_errors",
            "wall_ms", "status", "run_id", "ts", F.col("fp").cast("long"),
        )
    )
    rows.write.mode("append").parquet(lineage_dir)
