"""Golden end-to-end: Spark pipeline output must be byte-identical to the
single-process reference extractor, per url — the primary gate
(SURVEY.md §5 item 1, north rule)."""

import pandas as pd
import pytest

from win64_local_ocr_tool_spark.corpus import corpus_df
from win64_local_ocr_tool_spark.golden import golden_pandas
from win64_local_ocr_tool_spark.operators.extract import extract_all
from win64_local_ocr_tool_spark.pipeline import run_extraction

N = 1100  # covers PDF rows (211k), corrupt rows (499k), one mega row (997)


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("url").reset_index(drop=True)
    pdf["spans"] = pdf["spans"].apply(
        lambda ss: [
            (int(s["span_id"]), int(s["char_start"]), int(s["char_end"]))
            for s in ss
        ]
    )
    return pdf[["url", "status", "extracted_text", "spans", "lang"]]


@pytest.fixture(scope="module")
def golden():
    return _normalize(golden_pandas(N))


def _assert_matches_golden(got_pdf, golden):
    got = _normalize(got_pdf)
    assert len(got) == len(golden)
    for col in ["url", "status", "extracted_text", "lang", "spans"]:
        mism = (got[col] != golden[col]).sum()
        assert mism == 0, f"{mism} mismatches in {col}"


def test_pipeline_matches_golden(spark, golden):
    res = run_extraction(spark, corpus_df(spark, N))
    _assert_matches_golden(res["extracted"].toPandas(), golden)


def test_pipeline_matches_golden_when_everything_is_mega(spark, golden):
    """Force (nearly) every document through the chunked skew path with a
    tiny chunk size — output must still be byte-identical. This is the
    strongest equivalence test of the split/reassemble machinery."""
    docs = corpus_df(spark, N)
    got = extract_all(docs, mega_bytes=600, chunk_blocks=5)
    _assert_matches_golden(got.toPandas(), golden)


def test_error_rows_are_isolated(spark, golden):
    """Corrupt payloads yield status='error' rows, never task failures."""
    errs = golden[golden["status"] == "error"]
    assert len(errs) == 2  # rows 499, 998
    assert (errs["extracted_text"] == "").all()
    assert (errs["lang"] == "und").all()


def _grouped_run(spark, tmp_path, monkeypatch, name, **kw):
    """``run_extraction`` over the golden corpus in 2 commit groups of
    8 buckets, under its own Spark job group. Returns the plan of each
    group's written frame, the number of Spark jobs and the output."""
    from win64_local_ocr_tool_spark import pipeline

    plans = []
    write = pipeline.merge_by_key

    def spy(df, target):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        write(df, target)

    monkeypatch.setattr(pipeline, "merge_by_key", spy)
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        run_extraction(
            spark, corpus_df(spark, N), out_dir=str(tmp_path / name),
            lineage_dir=str(tmp_path / f"{name}_lin"), n_buckets=8,
            commit_batches=2, **kw,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(name))
    got = spark.read.parquet(str(tmp_path / name)).drop("partition_key")
    return plans, n_jobs, got.toPandas()


def test_probe_plans_no_chunk_branch_without_mega_pages(
    spark, golden, tmp_path, monkeypatch
):
    """No page reaches the 8 MiB default: the size probe plans every
    commit group as scan -> mapInPandas -> write (no Exchange), and a
    group costs at most 3 Spark jobs, the probe included."""
    plans, n_jobs, got = _grouped_run(
        spark, tmp_path, monkeypatch, "probe_none"
    )
    assert len(plans) == 2
    assert not any("Exchange" in p for p in plans)
    assert n_jobs <= 3 * len(plans)
    _assert_matches_golden(got, golden)


def test_probe_plans_chunk_branch_only_for_the_mega_group(
    spark, golden, tmp_path, monkeypatch
):
    """With the threshold at the largest page (row 997), only that
    page's commit group plans the chunk branch."""
    from win64_local_ocr_tool_spark.corpus import gen_row
    from win64_local_ocr_tool_spark.lineage import with_partition_key

    sizes = [len(gen_row(i)["html"]) for i in range(N)]
    assert sizes.index(max(sizes)) == 997
    assert sorted(sizes)[-2] < sizes[997]
    key = with_partition_key(
        spark.createDataFrame([(gen_row(997)["url"],)], "url string"), 8
    ).first()["partition_key"]
    plans, _, got = _grouped_run(
        spark, tmp_path, monkeypatch, "probe_mega", mega_bytes=sizes[997]
    )
    assert ["Exchange" in p for p in plans] == [key < 4, key >= 4]
    _assert_matches_golden(got, golden)


def test_resume_runs_at_most_three_spark_jobs(
    spark, golden, tmp_path, monkeypatch, stopped_job
):
    """A resume decides on the driver what to skip: after a job stopped
    at its first of two commit groups, the resume runs the size probe
    and the one missing group's write (no lineage report job, no re-split
    of the remaining keys), at most 3 Spark jobs, and its output is
    golden."""
    stopped_job(1, lambda: run_extraction(
        spark, corpus_df(spark, N), out_dir=str(tmp_path / "resume"),
        lineage_dir=str(tmp_path / "resume_lin"), n_buckets=8,
        commit_batches=2,
    ))
    plans, n_jobs, got = _grouped_run(
        spark, tmp_path, monkeypatch, "resume", resume=True
    )
    assert len(plans) == 1
    assert n_jobs <= 3, n_jobs
    _assert_matches_golden(got, golden)
