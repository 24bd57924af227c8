"""Lineage commit markers written on the driver: a directory mixing the
Spark-written files of earlier versions with Arrow-written ones reads
the same through both readers, a failed rename publishes nothing and
leaves no temporary file, and a stage commit runs no Spark job beyond
its write."""

import datetime
import time

import pyarrow.fs as pafs
import pytest
from pyspark.sql import functions as F

from win64_local_ocr_tool_spark import lineage
from win64_local_ocr_tool_spark.lineage import (
    append_lineage,
    done_counts,
    read_done,
    read_lineage,
)
from win64_local_ocr_tool_spark.pipeline import commit_stage

_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _spark_append(spark, lin, stage, rows, wall_ms):
    """A lineage append as earlier versions wrote it: one Spark write
    job, ``ts`` from ``current_timestamp`` (stored as INT96)."""
    (
        spark.createDataFrame(
            rows, "partition_key int, n_rows long, n_errors long, fp long"
        )
        .select(
            F.lit(stage).alias("stage"), "partition_key", "n_rows", "n_errors",
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.lit("done").alias("status"), F.lit("old").alias("run_id"),
            F.current_timestamp().alias("ts"), "fp",
        )
        .write.mode("append")
        .parquet(lin)
    )


def _spark_rows(spark, lin):
    lin_df = read_lineage(spark, lin).withColumn("ts", F.unix_micros("ts"))
    return sorted(tuple(r) for r in lin_df.collect())


def _arrow_rows(lin):
    return sorted(
        tuple(
            (v - _EPOCH) // datetime.timedelta(microseconds=1) if c == "ts" else v
            for c, v in r.items()
        )
        for r in read_done(lin)
    )


def test_mixed_writers_read_alike_and_latest_wins(spark, tmp_path):
    lin = str(tmp_path / "lin")
    _spark_append(spark, lin, "extract", [(0, 10, 0, 7), (1, 10, 1, None)], 5)
    time.sleep(0.05)
    append_lineage(lin, "extract", [(1, 20, 0, 8), (2, 30, 2, 9)], 6, run_id="new")
    time.sleep(0.05)
    _spark_append(spark, lin, "extract", [(2, 40, 0, None)], 7)
    append_lineage(lin, "curate_exact", [(0, 3, 0)], 1, run_id="new")

    rows = _spark_rows(spark, lin)
    assert len(rows) == 6
    assert _arrow_rows(lin) == rows
    # latest wins in both directions: Arrow over Spark, Spark over Arrow
    assert done_counts(lin, "extract") == {0: 10, 1: 20, 2: 40}
    assert done_counts(lin, "curate_exact") == {0: 3}
    assert {r["fp"] for r in read_done(lin, "curate_exact")} == {None}


def test_failed_rename_publishes_nothing(spark, tmp_path, monkeypatch):
    lin = str(tmp_path / "lin")
    _spark_append(spark, lin, "extract", [(0, 10, 0, 7)], 5)
    append_lineage(lin, "extract", [(1, 20, 0, 8)], 6)
    files = sorted(p.name for p in (tmp_path / "lin").glob("*.parquet"))
    before = (_spark_rows(spark, lin), _arrow_rows(lin))

    class NoRename(pafs.LocalFileSystem):
        def move(self, src, dest):
            raise OSError("rename failed")

    monkeypatch.setattr(
        lineage, "_filesystem", lambda d: (NoRename(), str(tmp_path / "lin"))
    )
    with pytest.raises(OSError, match="rename failed"):
        append_lineage(lin, "extract", [(0, 99, 0, 1)], 7)
    monkeypatch.undo()

    # the failed append removed its hidden temporary file
    assert not list((tmp_path / "lin").glob(".*.tmp"))
    assert sorted(p.name for p in (tmp_path / "lin").glob("*.parquet")) == files
    assert (_spark_rows(spark, lin), _arrow_rows(lin)) == before
    assert done_counts(lin, "extract") == {0: 10, 1: 20}


def test_relative_lineage_dir(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    append_lineage("rel/lin", "extract", [(3, 1, 0, 2)], 1)
    assert done_counts("rel/lin", "extract") == {3: 1}
    assert read_done(str(tmp_path / "missing")) is None


def test_commit_stage_runs_no_job_for_the_append(spark, tmp_path):
    """Under one job group, the jobs after ``commit_stage`` returned are
    exactly those its write ran: the lineage append is not a Spark job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()  # job ids reach the tracker through it
    lin = str(tmp_path / "lin")
    after_write = set()

    def write(df):
        df.write.mode("overwrite").parquet(str(tmp_path / "out"))
        bus.waitUntilEmpty()
        after_write.update(tracker.getJobIdsForGroup("lineage"))

    sc.setJobGroup("lineage", "commit_stage with a lineage dir")
    try:
        rows, _ = commit_stage(
            "guard",
            lambda: spark.range(100).withColumn("k", (F.col("id") % 2).cast("int")),
            write, [0, 1], key=F.col("k"), lineage_dir=lin,
        )
        bus.waitUntilEmpty()
        jobs = set(tracker.getJobIdsForGroup("lineage"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after_write and jobs == after_write
    assert [r[:3] for r in rows] == [(0, 50, 0), (1, 50, 0)]
    assert done_counts(lin, "guard") == {0: 50, 1: 50}
