"""Partition-granular resume: a killed job's second invocation recomputes
only missing partitions and converges to the same bytes (north rule;
analog of the reference's idempotent per-page rewrite,
``segment_from_point_clusters.py:372-373``)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from win64_local_ocr_tool_spark.corpus import corpus_df
from win64_local_ocr_tool_spark.golden import golden_pandas
from win64_local_ocr_tool_spark.lineage import with_partition_key
from win64_local_ocr_tool_spark.pipeline import run_extraction

N = 600
N_BUCKETS = 16


def test_resume_completes_without_recompute(spark, tmp_path):
    out = str(tmp_path / "extracted")
    lin = str(tmp_path / "lineage")
    docs = corpus_df(spark, N)

    # --- simulated interrupted run: process only half the keyspace by
    # feeding half the input, then truncate the lineage to those keys
    # (an interrupted job has no lineage for unprocessed partitions;
    # empty-but-seen partitions legitimately log done rows, so input
    # filtering alone no longer models interruption) ---
    partial = with_partition_key(docs, N_BUCKETS).filter(
        F.col("partition_key") < 8
    ).drop("partition_key")
    s1 = run_extraction(
        spark, partial, out_dir=out, lineage_dir=lin, n_buckets=N_BUCKETS
    )
    # every bucket of the partial run's input space is logged — the
    # 8 fed buckets with rows, the 8 empty ones with n_rows=0
    assert s1["n_partitions"] == N_BUCKETS
    n_first = s1["n_docs"]
    assert 0 < n_first < N
    trunc = spark.read.parquet(lin).filter(F.col("partition_key") < 8)
    trunc_pdf = trunc.toPandas()
    import shutil

    shutil.rmtree(lin)
    spark.createDataFrame(trunc_pdf, schema=trunc.schema).write.parquet(lin)

    # --- resumed full run ---
    s2 = run_extraction(
        spark, docs, out_dir=out, lineage_dir=lin, n_buckets=N_BUCKETS,
        resume=True,
    )
    # only the missing half was processed
    assert s2["pruned_partitions"] == 8
    assert s2["n_partitions"] == 8
    assert n_first + s2["n_docs"] == N

    # lineage: every bucket done exactly once (no recompute)
    lineage = spark.read.parquet(lin).toPandas()
    done = lineage[lineage["status"] == "done"]
    assert sorted(done["partition_key"].tolist()) == list(range(N_BUCKETS))
    assert done["partition_key"].is_unique

    # converged output == golden, byte-identical
    got = (
        spark.read.parquet(out)
        .select("url", "status", "extracted_text", "lang")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    want = (
        golden_pandas(N)[["url", "status", "extracted_text", "lang"]]
        .sort_values("url")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_rerun_of_done_partition_is_idempotent(spark, tmp_path):
    """Re-running WITHOUT resume overwrites partitions in place
    (dynamic partition overwrite) and yields the same bytes."""
    out = str(tmp_path / "extracted")
    docs = corpus_df(spark, 200)
    run_extraction(spark, docs, out_dir=out, n_buckets=8)
    first = spark.read.parquet(out).toPandas().sort_values("url")
    run_extraction(spark, docs, out_dir=out, n_buckets=8)
    second = spark.read.parquet(out).toPandas().sort_values("url")
    assert (first["extracted_text"].values == second["extracted_text"].values).all()
    assert len(first) == len(second) == 200


def test_straggler_report_finds_planted_fat_partition(spark, tmp_path):
    """lineage.straggler_report over a REAL lineage dir (written via
    append_lineage, multiple runs): the planted fat partition must rank
    first in its stage with the right integer skew ratio, and a resume
    run's stale duplicate done-row for the same key must be superseded
    by the latest row."""
    import time

    from win64_local_ocr_tool_spark.lineage import (
        append_lineage,
        read_lineage,
        straggler_report,
    )

    lin_dir = str(tmp_path / "lineage")
    # run 1: 15 uniform partitions (100 rows) + one fat one (5000 rows)
    rows = [(k, 100, 0) for k in range(15)] + [(15, 5000, 2)]
    append_lineage(lin_dir, "extract", rows, wall_ms=1234)
    # run 2 (resume): re-logs key 3 with a DIFFERENT count — the report
    # must use this latest row, not double-count
    time.sleep(0.01)
    append_lineage(lin_dir, "extract", [(3, 120, 0)], wall_ms=99)
    # an unrelated stage with its own (non-straggling) profile
    other = [(k, 50, 0) for k in range(4)]
    append_lineage(lin_dir, "curate_exact", other, wall_ms=5)

    rep = straggler_report(read_lineage(spark, lin_dir), top_k=3).collect()
    by_stage = {}
    for r in rep:
        by_stage.setdefault(r["stage"], []).append(r)
    ext = sorted(by_stage["extract"], key=lambda r: r["rnk"])
    assert len(ext) == 3
    assert ext[0]["partition_key"] == 15 and ext[0]["n_rows"] == 5000
    assert ext[0]["rnk"] == 1
    assert ext[0]["p50_rows"] == 100  # median of the uniform bulk
    assert ext[0]["skew_x1000"] == 50000  # 5000*1000 div 100
    assert ext[1]["partition_key"] == 3 and ext[1]["n_rows"] == 120
    assert all(r["n_rows"] == 50 for r in by_stage["curate_exact"])


def test_straggler_report_deterministic_under_ts_ties(spark, tmp_path):
    """ADVICE r4: duplicate done-rows for one (stage, partition_key)
    written in a single append batch share one current_timestamp; the
    latest-row pick must still be deterministic (n_rows/wall_ms desc
    tiebreak), not dependent on parquet row order."""
    from win64_local_ocr_tool_spark.lineage import (
        append_lineage,
        read_lineage,
        straggler_report,
    )

    lin_dir = str(tmp_path / "lin")
    counts = [(3, 10, 0), (3, 999, 0), (1, 5, 0), (2, 7, 0)]
    append_lineage(lin_dir, "extract", counts, wall_ms=50)
    for _ in range(3):
        rep = {
            r["partition_key"]: r
            for r in straggler_report(read_lineage(spark, lin_dir)).collect()
        }
        assert rep[3]["n_rows"] == 999 and rep[3]["rnk"] == 1


def test_straggler_resume_splits_planted_fat_partition(spark, tmp_path):
    """r4 verdict item 3 — the straggler report becomes actionable: a
    resume over a corpus where a few url-ranges hold ~100x the median
    partition bytes must (a) flag exactly the giant-doc partitions, (b)
    route them through the distributed chunk path at the finer byte
    threshold (the giant payloads exceed it, so they fan out as chunks
    instead of one fat task), and (c) stay byte-identical to the plain
    single-path run — the split is a physical re-plan only."""
    import random

    from pyspark.sql import functions as F

    from win64_local_ocr_tool_spark.corpus import _html_page
    from win64_local_ocr_tool_spark.lineage import with_partition_key
    from win64_local_ocr_tool_spark.pipeline import run_extraction

    rng = random.Random("fat:1")
    rows = []
    for i in range(320):
        html, _ = _html_page(random.Random(f"s:{i}"), "en", n_paras=3)
        rows.append((f"https://small.example/{i:04d}", html))
    giants = []
    for i in range(2):
        html, _ = _html_page(random.Random(f"g:{i}"), "en", n_paras=7000)
        assert len(html) > 1 << 20
        giants.append(f"https://giant.example/{i}")
        rows.append((giants[-1], html))
    docs = spark.createDataFrame(rows, "url string, html binary").withColumn(
        "n_bytes", F.length("html")
    )

    base = run_extraction(
        spark, docs,
        out_dir=str(tmp_path / "a"), lineage_dir=str(tmp_path / "la"),
        n_buckets=16,
    )
    assert base["straggler_split_partitions"] == []  # not a resume

    stats = run_extraction(
        spark, docs,
        out_dir=str(tmp_path / "b"), lineage_dir=str(tmp_path / "lb"),
        n_buckets=16, resume=True,
    )
    giant_keys = {
        r["partition_key"]
        for r in with_partition_key(
            docs.filter(F.col("url").isin(giants)), 16
        ).select("partition_key").collect()
    }
    assert set(stats["straggler_split_partitions"]) == giant_keys
    # the finer threshold actually catches the giant payloads -> they
    # take the chunk path (fan-out), bounding any one task's input
    assert stats["straggler_mega_bytes"] == (8 << 20) // 8
    assert all(len(r[1]) >= stats["straggler_mega_bytes"] for r in rows[-2:])

    a = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "a")).collect())
    )
    b = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "b")).collect())
    )
    assert a == b  # byte-identity across the physical re-plan


def test_straggler_keys_from_lineage_report(spark, tmp_path):
    """The lineage-signal source of _straggler_keys: a prior epoch's
    extract rows flag a partition at >= the skew ratio; with no probe
    sizes the input-size source is skipped and the lineage report
    alone drives the flag."""
    from win64_local_ocr_tool_spark.lineage import append_lineage
    from win64_local_ocr_tool_spark.pipeline import (
        STRAGGLER_X1000,
        _straggler_keys,
    )

    lin_dir = str(tmp_path / "lin")
    counts = [(k, 5000 if k == 3 else 50, 0) for k in range(8)]
    append_lineage(lin_dir, "extract", counts, wall_ms=10)
    assert STRAGGLER_X1000 == 10_000  # 5000 vs p50=50 -> 100x -> flagged
    assert _straggler_keys(lin_dir, {}) == {3}
    assert _straggler_keys(None, {}) == set()


def _report_keys(spark, lin_dir, n_buckets):
    """The extract keys ``straggler_report`` flags at/over STRAGGLER_X1000
    when it ranks every key."""
    from win64_local_ocr_tool_spark.lineage import read_lineage, straggler_report
    from win64_local_ocr_tool_spark.pipeline import STRAGGLER_X1000, STAGE_EXTRACT

    rep = straggler_report(read_lineage(spark, lin_dir), top_k=n_buckets).filter(
        (F.col("stage") == STAGE_EXTRACT) & (F.col("skew_x1000") >= STRAGGLER_X1000)
    )
    return {r["partition_key"] for r in rep.collect()}


def test_straggler_keys_match_the_lineage_report(spark, tmp_path):
    """The driver-side lineage signal of ``_straggler_keys`` flags the
    same keys as ``straggler_report`` over all keys, on seeded lineage
    with several runs, keys logged again by later runs, keys logged twice
    in one append (a tie on ts), empty keys and another stage's rows."""
    import random
    import time

    from win64_local_ocr_tool_spark.lineage import append_lineage
    from win64_local_ocr_tool_spark.pipeline import _straggler_keys

    n_buckets = 16
    for seed in range(5):
        rng = random.Random(f"stragglers:{seed}")
        lin_dir = str(tmp_path / f"lin{seed}")

        def n_rows():
            return rng.choice([0, rng.randint(1, 80), rng.randint(500, 4000)])

        for run in range(3):
            keys = rng.sample(range(n_buckets), rng.randint(4, n_buckets))
            keys += rng.sample(keys, 2)  # logged twice in one append
            append_lineage(
                lin_dir, "extract", [(k, n_rows(), 0) for k in keys],
                wall_ms=rng.randint(1, 9), run_id=f"run{run}",
            )
            time.sleep(0.002)
        append_lineage(lin_dir, "curate_exact", [(0, 9000, 0)], wall_ms=1)
        want = _report_keys(spark, lin_dir, n_buckets)
        assert _straggler_keys(lin_dir, {}) == want, seed


def test_straggler_keys_flag_every_skewed_partition(spark, tmp_path):
    """Six partitions at 100x the median are all flagged; the report's
    default top 5, the signal's earlier source, would drop one."""
    from win64_local_ocr_tool_spark.lineage import (
        append_lineage,
        read_lineage,
        straggler_report,
    )
    from win64_local_ocr_tool_spark.pipeline import _straggler_keys

    lin_dir = str(tmp_path / "lin")
    fat = {1, 4, 6, 9, 12, 15}
    append_lineage(
        lin_dir, "extract", [(k, 5000 if k in fat else 50, 0) for k in range(16)],
        wall_ms=10,
    )
    assert _straggler_keys(lin_dir, {}) == fat == _report_keys(spark, lin_dir, 16)
    assert len(straggler_report(read_lineage(spark, lin_dir)).collect()) == 5


@pytest.mark.parametrize("resume_batches, groups_left", [(2, 1), (3, 2)])
def test_resume_reruns_only_the_uncommitted_groups(
    spark, tmp_path, stopped_job, resume_batches, groups_left
):
    """Commit groups are fixed over the keyspace: a job stopped after
    group 1 of 2 resumes with the one missing group (keys 8-15) instead
    of a fresh split of what is left; a resume with another
    ``commit_batches`` cuts its own groups over the same keyspace and
    still converges to the golden output, each key done once."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    docs = corpus_df(spark, N)

    def job(batches, resume=False):
        return run_extraction(
            spark, docs, out_dir=out, lineage_dir=lin, n_buckets=N_BUCKETS,
            commit_batches=batches, resume=resume,
        )

    stopped_job(1, lambda: job(2))
    stats = job(resume_batches, resume=True)
    assert stats["pruned_partitions"] == 8
    assert stats["n_partitions"] == 8
    assert stats["commit_groups"] == groups_left

    done = spark.read.parquet(lin).filter("status = 'done'").toPandas()
    assert sorted(done["partition_key"]) == list(range(N_BUCKETS))
    cols = ["url", "status", "extracted_text", "lang"]
    got = spark.read.parquet(out).select(*cols).toPandas()
    pd.testing.assert_frame_equal(
        got.sort_values("url").reset_index(drop=True),
        golden_pandas(N)[cols].sort_values("url").reset_index(drop=True),
    )


def test_write_time_counters_equal_output_read_back(spark, tmp_path):
    """The per-key lineage counters are observed while the output is
    written; they must equal a pyarrow read-back of that output: a
    corrupt page (row 499) counts as an error, and a key with no input
    rows logs n_rows=0."""
    import pyarrow.parquet as pq

    from win64_local_ocr_tool_spark.corpus import gen_row

    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    keyed = with_partition_key(corpus_df(spark, N), 8)
    err_key = keyed.filter(F.col("url") == gen_row(499)["url"]).first()[
        "partition_key"
    ]
    empty_key = (err_key + 1) % 8
    docs = keyed.filter(F.col("partition_key") != empty_key).drop(
        "partition_key"
    )
    run_extraction(
        spark, docs, out_dir=out, lineage_dir=lin, n_buckets=8,
        commit_batches=2,
    )
    lineage = {
        r["partition_key"]: (r["n_rows"], r["n_errors"])
        for r in spark.read.parquet(lin).collect()
    }
    table = pq.read_table(out, columns=["partition_key", "status"]).to_pandas()
    table["partition_key"] = table["partition_key"].astype(int)
    written = {
        k: (len(g), int((g["status"] == "error").sum()))
        for k, g in table.groupby("partition_key")
    }
    assert lineage == {**written, empty_key: (0, 0)}
    assert lineage[err_key][1] >= 1


def test_read_lineage_mixed_fp_vintage(spark, tmp_path):
    """A lineage dir holding a file written before the ``fp`` column
    existed and a file with it reads with ``fp`` on every read: NULL for
    the old rows, the value for the new ones."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from win64_local_ocr_tool_spark.lineage import append_lineage, read_lineage

    lin = tmp_path / "lin"
    lin.mkdir()
    old = pa.table({
        "stage": ["curate_exact"], "partition_key": pa.array([0], pa.int32()),
        "n_rows": [10], "n_errors": [0], "wall_ms": [5], "status": ["done"],
        "run_id": ["old"], "ts": [datetime.datetime(2024, 1, 1)],
    })
    # sorts before the appended part files, whose footers carry fp
    pq.write_table(old, str(lin / "part-0000-old.parquet"))
    append_lineage(
        str(lin), "curate_exact", [(0, 10, 0, 123)], wall_ms=7, run_id="new"
    )
    for _ in range(3):
        got = {
            r["run_id"]: r["fp"]
            for r in read_lineage(spark, str(lin)).collect()
        }
        assert got == {"old": None, "new": 123}
