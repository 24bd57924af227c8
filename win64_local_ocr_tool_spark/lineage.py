"""Per-partition lineage + counters, and partition-granular resume.

Analog of the reference's SQLite logs (``models.py:12-30`` — one row per
extracted line, committed per page) lifted to partition granularity, per
the north rule: every stage appends (stage, partition_key, n_rows,
n_errors, wall_ms, status, ts, fp) to an append-only checkpoint table,
with counters taken while the stage writes (``pipeline.commit_stage``); a
restarted job drops the done keys' rows and recomputes only the missing
partitions.

Sandbox note: the runtime has no Iceberg catalog jars, so the checkpoint
table is a directory of parquet files with the same semantics
(append-only; readers take the union of runs; a partition is "done" iff
any run logged it done). A commit's 1-16 rows are written on the driver
with pyarrow (``append_lineage``: a hidden temporary file renamed into
place, so a reader never sees half a file), not as a Spark job; the
resume paths read them and stage footers on the driver too, and
``read_lineage`` serves only the registry's ``straggler_report``. Stage
OUTPUT idempotence comes from dynamic partition overwrite keyed by the
deterministic ``partition_key`` (the analog of the reference's
rm-then-rewrite per page, ``segment_from_point_clusters.py:372-373``) —
re-running a partition replaces exactly its directory.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import urllib.parse
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# The lineage table's one schema. ``ts`` is UTC microseconds: Spark
# reads it as its timestamp, and a Spark-written INT96 ``ts`` (read by
# Arrow as naive nanoseconds, UTC by Spark's convention) casts to it, so
# rows of both writers order correctly against each other.
LINEAGE_ARROW = pa.schema([
    ("stage", pa.string()),
    ("partition_key", pa.int32()),
    ("n_rows", pa.int64()),
    ("n_errors", pa.int64()),
    ("wall_ms", pa.int64()),
    ("status", pa.string()),
    ("run_id", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("fp", pa.int64()),
])
LINEAGE_SCHEMA = from_arrow_schema(LINEAGE_ARROW)


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
    if _dataset(lineage_dir) is None:
        return None
    # explicit schema: inferred from one footer, a dir mixing pre-``fp``
    # files with ``fp`` files may drop the column; here old rows read NULL
    return spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_dir)


def _filesystem(path: str) -> tuple[pafs.FileSystem, str]:
    # a path without a scheme is local and may be relative (``jobs
    # --lineage``); from_uri wants it absolute
    if not urllib.parse.urlparse(path).scheme:
        path = os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def _dataset(lineage_dir: str) -> ds.Dataset | None:
    """The lineage files as one dataset with ``LINEAGE_ARROW``; None when
    the directory holds none. Hidden names (an append's temporary file,
    Spark's ``_SUCCESS`` and checksums) are skipped, as Spark skips them."""
    fs, path = _filesystem(lineage_dir)
    if fs.get_file_info(path).type != pafs.FileType.Directory:
        return None
    data = ds.dataset(path, schema=LINEAGE_ARROW, format="parquet", filesystem=fs)
    return data if data.files else None


def read_done(lineage_dir: str, stage: str | None = None) -> list[dict] | None:
    """The done-rows of the lineage table (of ``stage`` when given), read
    on the driver: no Spark job. Reads files of both writers (Spark's and
    ``append_lineage``'s); a file older than the ``fp`` column reads
    ``fp`` NULL. None when the directory holds no lineage file."""
    data = _dataset(lineage_dir)
    if data is None:
        return None
    done = ds.field("status") == "done"
    if stage is not None:
        done &= ds.field("stage") == stage
    return data.to_table(filter=done).to_pylist()


def done_keys(spark: SparkSession, lineage_dir: str, stage: str) -> DataFrame | None:
    """``stage``'s done partition keys as a one-column DataFrame, from
    the driver-side read. Built from an Arrow table: a list of rows
    would make every action on it start Python workers."""
    rows = read_done(lineage_dir, stage)
    if rows is None:
        return None
    keys = sorted({r["partition_key"] for r in rows})
    return spark.createDataFrame(pa.table({"partition_key": pa.array(keys, pa.int32())}))


def done_counts(lineage_dir: str, stage: str) -> dict[int, int]:
    """partition_key -> n_rows of ``stage``'s done-rows, the latest
    winning (a tie on ts goes to the larger n_rows); one driver-side
    read of the (tiny) lineage table."""
    rows = sorted(
        (r["ts"], r["partition_key"], r["n_rows"])
        for r in read_done(lineage_dir, stage) or ()
    )
    return {k: n for _, k, n in rows}


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


def table_footers(path: str) -> tuple[StructType, int]:
    """Spark schema (the JSON Spark's writer keeps in each footer) and row
    count of the parquet table at ``path``, from its visible files' footers
    on the driver; raises on no file, a bad footer, or no single schema."""
    fs, root = _filesystem(path)
    metas = [f.metadata for f in ds.dataset(root, filesystem=fs).get_fragments()]
    key = b"org.apache.spark.sql.parquet.row.metadata"
    schemas = {(m.metadata or {}).get(key) for m in metas}
    if len(schemas) != 1 or None in schemas:
        raise ValueError(f"{path}: no single Spark schema in its footers")
    schema = StructType.fromJson(json.loads(schemas.pop()))
    return schema, sum(m.num_rows for m in metas)


def append_lineage(
    lineage_dir: str,
    stage: str,
    rows: list[tuple],
    wall_ms: int,
    run_id: str | None = None,
) -> None:
    """Append one done-row per processed partition_key.

    ``rows``: (partition_key, n_rows, n_errors[, fp]) tuples. ``fp`` is
    the key's ``content_fingerprint`` as ``commit_stage`` observed it
    during the write; a resume skip path compares it against the on-disk
    table. Without it the row reads ``fp`` NULL (count-only validation).
    ``wall_ms`` is the wall time of the commit's write, copied to every
    key of the commit (local mode has no per-task clock worth logging);
    every row of one append shares one ``ts``.

    The rows are one Arrow table written on the driver, not a Spark job:
    the file lands as ``.part-<uuid>.parquet.tmp`` (every reader skips a
    leading ``.``) and is then renamed to ``part-<uuid>.parquet``. So
    the commit marker exists only after the stage's write returned, and
    no reader sees half a file. A write or rename that raises deletes
    the temporary file before the error propagates, so a leftover one
    means a process died mid-append. The path goes through
    ``pyarrow.fs.FileSystem.from_uri``, so one code path serves local
    paths and object-store URIs; only the local file system is tested.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    ts = datetime.datetime.now(datetime.timezone.utc)
    table = pa.Table.from_pylist(
        [
            {"stage": stage, "partition_key": k, "n_rows": n, "n_errors": e,
             "wall_ms": wall_ms, "status": "done", "run_id": run_id, "ts": ts,
             "fp": fp[0] if fp else None}
            for k, n, e, *fp in rows
        ],
        schema=LINEAGE_ARROW,
    )
    fs, path = _filesystem(lineage_dir)
    fs.create_dir(path, recursive=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = f"{path}/.{name}.tmp"
    try:
        pq.write_table(table, tmp, filesystem=fs)
        fs.move(tmp, f"{path}/{name}")
    except BaseException:
        with contextlib.suppress(OSError):  # write_table may not have made it
            fs.delete_file(tmp)
        raise
