"""Per-partition lineage + counters, and partition-granular resume.

Analog of the reference's SQLite logs (``models.py:12-30`` — one row per
extracted line, committed per page) lifted to partition granularity, per
the north rule: every stage appends (stage, partition_key, n_rows,
n_errors, wall_ms, status, ts) to an append-only checkpoint table; a
restarted job left-anti joins the done keys and recomputes only the
missing partitions.

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

from pyspark.sql import DataFrame, SparkSession, functions as F

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


def prune_done(
    df: DataFrame, spark: SparkSession, lineage_dir: str, stage: str
) -> tuple[DataFrame, int]:
    """Resume: drop rows whose partition_key is already done.

    Left-anti join against the (tiny, broadcast) done-key set — the
    U5/J5 operator from SURVEY.md §2.
    """
    done = done_keys(spark, lineage_dir, stage)
    if done is None:
        return df, 0
    n_done = done.count()
    if n_done == 0:
        return df, 0
    return (
        df.join(F.broadcast(done), "partition_key", "left_anti"),
        n_done,
    )


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


def content_fingerprint(df: DataFrame, key_col: str | None = None) -> int:
    """Order-insensitive integer fingerprint of one thin column (the
    first column unless ``key_col`` names another): sum of
    crc32(cast(value as string)). The same distributive-checksum trick
    ``scripts/dedup_stress.py`` / ``scaling_evidence.py`` use —
    partition-order independent, recomputable from parquet with a
    single-column scan, and cheap enough to validate a resume skip
    (ADVICE r4: a count-equal but content-different stage table must
    not be silently reused)."""
    col = key_col or df.columns[0]
    row = df.select(
        F.sum(F.crc32(F.col(col).cast("string"))).alias("fp")
    ).first()
    return int(row["fp"]) if row["fp"] is not None else 0


def append_lineage(
    spark: SparkSession,
    lineage_dir: str,
    stage: str,
    per_key_counts: DataFrame,
    wall_ms: int,
    run_id: str | None = None,
    fp: int | None = None,
) -> None:
    """Append one done-row per processed partition_key.

    ``per_key_counts``: DataFrame(partition_key int, n_rows long,
    n_errors long). ``wall_ms`` is the stage wall-clock (per-stage, not
    per-partition — local mode has no per-task clock worth logging).
    ``fp``: optional ``content_fingerprint`` of the stage output; a
    resume skip-path compares it against the on-disk table (NULL =
    count-only validation, the pre-r5 behavior).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    rows = (
        per_key_counts.withColumn("stage", F.lit(stage))
        .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
        .withColumn("status", F.lit("done"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("ts", F.current_timestamp())
        .withColumn("fp", F.lit(fp).cast("long"))
        .select(
            "stage", "partition_key", "n_rows", "n_errors",
            "wall_ms", "status", "run_id", "ts", "fp",
        )
    )
    rows.write.mode("append").parquet(lineage_dir)
