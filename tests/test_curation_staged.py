"""Staged curation runner (pipeline.run_curation_staged): each stage
materializes parquet + a lineage row; the chain composes the SAME
operator bodies the registry oracles pin (sig banding, CC rounds,
scrub, quality gate), so this suite checks the staging glue — stage
completeness, kill-list routing, determinism — not the operators."""

import duckdb
import pytest

from win64_local_ocr_tool_spark.pipeline import (
    run_curation_staged,
    run_extraction,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("curation")
    # benchmark table: the exact text of two corpus docs -> those docs
    # are contaminated by construction (every 13-gram overlaps)
    bench_dir = root / "bench"
    bench_dir.mkdir()
    duckdb.sql(f"""
        COPY (
          SELECT doc_id, text, lang, source, n_chars
          FROM '{SF}/documents.parquet'
          WHERE doc_id IN (7, 11) AND len(string_split(text,' ')) >= 13
        ) TO '{bench_dir}/documents.parquet' (FORMAT PARQUET)
    """)
    n_bench = duckdb.sql(
        f"SELECT count(*) FROM '{bench_dir}/documents.parquet'"
    ).fetchone()[0]
    assert n_bench >= 1
    stats = run_curation_staged(
        spark,
        SF,
        str(root / "work"),
        benchmark_dir=str(bench_dir),
        lineage_dir=str(root / "lineage"),
    )
    return root, stats


def test_all_stages_materialize_with_lineage(spark, staged):
    root, stats = staged
    expect = {
        "exact", "minhash_sig", "lsh_pairs", "components", "canonical",
        "decontaminate", "scrub", "final_corpus",
    }
    assert set(stats["stages"]) == expect
    assert all(s["wall_ms"] >= 0 for s in stats["stages"].values())
    lin = spark.read.parquet(str(root / "lineage"))
    rows = {r["stage"]: r for r in lin.collect()}
    assert set(rows) == {f"curate_{s}" for s in expect}
    for name in expect:
        assert rows[f"curate_{name}"]["n_rows"] == stats["stages"][name]["rows"]
        assert rows[f"curate_{name}"]["status"] == "done"
    assert stats["n_corpus"] == stats["stages"]["final_corpus"]["rows"]
    assert 0 < stats["n_corpus"] < 500


# stage name -> its table under the work dir
STAGE_TABLES = {
    "exact": "exact", "minhash_sig": "sig", "lsh_pairs": "pairs",
    "components": "components", "canonical": "canonical/documents.parquet",
    "decontaminate": "contaminated", "scrub": "scrubbed",
    "final_corpus": "corpus",
}


def test_write_time_counters_equal_read_back(spark, staged):
    """Every stage's lineage n_rows and fp are observed while the stage
    table is written; they must equal a fresh read of that table."""
    from win64_local_ocr_tool_spark.lineage import content_fingerprint

    root, _stats = staged
    lin = spark.read.parquet(str(root / "lineage")).collect()
    assert len(lin) == len(STAGE_TABLES)
    for r in lin:
        tbl = spark.read.parquet(
            str(root / "work" / STAGE_TABLES[r["stage"][len("curate_"):]])
        )
        assert (r["n_rows"], r["fp"]) == (
            tbl.count(), content_fingerprint(tbl)
        ), r["stage"]


def test_kill_lists_are_enforced(spark, staged):
    root, stats = staged
    work = str(root / "work")
    final_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{work}/corpus").select("doc_id").collect()
    }
    # non-canonical near-dup members excluded (canonical stage)
    comp = spark.read.parquet(f"{work}/components")
    drops = {
        r["doc_id"]
        for r in comp.filter("doc_id <> component").collect()
    }
    assert drops, "sf0.001 plants near-dup clusters; none found"
    assert not (final_ids & drops)
    canon_ids = {
        r["doc_id"]
        for r in spark.read.parquet(
            f"{work}/canonical/documents.parquet"
        ).select("doc_id").collect()
    }
    assert not (canon_ids & drops) and final_ids <= canon_ids
    # contaminated docs excluded; the planted exact-overlap docs (7, 11)
    # are out of the final corpus whichever gate got them first (decon
    # runs after dedup, so a planted doc that is also a non-canonical
    # near-dup is dropped upstream of the contamination check)
    cont = {
        r["doc_id"]
        for r in spark.read.parquet(f"{work}/contaminated").collect()
    }
    assert not (final_ids & cont)
    planted = {7, 11} & canon_ids
    assert planted <= cont, "planted benchmark overlap not detected"
    assert not (final_ids & {7, 11})


def test_final_text_is_scrubbed_and_gated(spark, staged):
    root, _stats = staged
    work = str(root / "work")
    final = spark.read.parquet(f"{work}/corpus").toPandas()
    scrub = (
        spark.read.parquet(f"{work}/scrubbed")
        .select("doc_id", "cleaned")
        .toPandas()
        .set_index("doc_id")["cleaned"]
    )
    assert len(final) > 0
    for _, row in final.iterrows():
        assert row["text"] == scrub[row["doc_id"]]  # scrubbed text ships
        assert row["n_words"] >= 20
        assert len(row["text"]) >= 100


def test_staged_rerun_is_deterministic(spark, staged, tmp_path):
    root, stats = staged
    again = run_curation_staged(
        spark, SF, str(tmp_path / "work2"),
        benchmark_dir=str(root / "bench"),
    )
    assert {k: v["rows"] for k, v in again["stages"].items()} == {
        k: v["rows"] for k, v in stats["stages"].items()
    }
    a = (
        spark.read.parquet(str(tmp_path / "work2" / "corpus"))
        .orderBy("doc_id")
        .toPandas()
    )
    b = (
        spark.read.parquet(str(root / "work" / "corpus"))
        .orderBy("doc_id")
        .toPandas()
    )
    assert a.equals(b)


# Spark jobs of a fresh run over this fixture: a reopened stage table
# (one schema-inference job) or one more CC round raises it
STAGED_JOBS = 40
# Spark jobs of a no-op resume: one fingerprint aggregate per stage
RESUME_NOOP_JOBS = 16


def _jobs_and_inferences(spark, monkeypatch, name, job):
    """Run ``job()`` under Spark job group ``name``; return its result,
    its Spark-job count and the paths it read without a user schema
    (each a schema-inference job)."""
    from pyspark.sql import DataFrameReader

    inferred = []
    schema, parquet = DataFrameReader.schema, DataFrameReader.parquet

    def spy_schema(self, s):
        self.user_schema = True
        return schema(self, s)

    def spy_parquet(self, *paths, **kw):
        if not getattr(self, "user_schema", False):
            inferred.extend(paths)
        return parquet(self, *paths, **kw)

    sc = spark.sparkContext
    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "schema", spy_schema)
        m.setattr(DataFrameReader, "parquet", spy_parquet)
        sc.setJobGroup(name, name)
        try:
            result = job()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(name)), inferred


def test_fresh_run_infers_only_its_inputs(spark, staged, tmp_path, monkeypatch):
    """Every later stage reads the table an earlier stage wrote through
    the schema it was written with, so a fresh run infers the schema of
    its two input tables only, and its Spark-job count stays pinned."""
    root, stats = staged
    again, n_jobs, inferred = _jobs_and_inferences(
        spark, monkeypatch, "staged_fresh",
        lambda: run_curation_staged(
            spark, SF, str(tmp_path / "work"),
            benchmark_dir=str(root / "bench"),
            lineage_dir=str(tmp_path / "lineage"),
        ),
    )
    assert sorted(inferred) == sorted(
        [f"{SF}/documents.parquet", f"{root / 'bench'}/documents.parquet"]
    )
    assert again["n_corpus"] == stats["n_corpus"]
    assert n_jobs <= STAGED_JOBS, n_jobs


def _corpus_fingerprint(spark, work):
    return sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{work}/corpus").collect()
    )


def test_resume_noop_skips_every_stage(spark, staged, monkeypatch):
    """Full lineage present -> resume recomputes nothing and the corpus
    is untouched (the extraction resume-no-op twin, stage-granular).
    The input dirs passed here DO NOT EXIST: stage bodies are thunks
    evaluated only for uncommitted stages, so a fully-resumed run must
    never construct a plan over (or even look at) the source tables —
    several compute bodies run eager localCheckpoint work at plan-build
    time, which the thunking exists to avoid. Each skipped stage takes
    its schema and row count from its footers on the driver, so the
    resume infers no schema and runs only the fingerprint scans."""
    root, stats = staged
    before = _corpus_fingerprint(spark, str(root / "work"))
    again, n_jobs, inferred = _jobs_and_inferences(
        spark, monkeypatch, "staged_noop",
        lambda: run_curation_staged(
            spark, str(root / "DOES-NOT-EXIST"), str(root / "work"),
            benchmark_dir=str(root / "ALSO-NOT-THERE"),
            lineage_dir=str(root / "lineage"),
            resume=True,
        ),
    )
    assert inferred == []
    assert n_jobs <= RESUME_NOOP_JOBS, n_jobs
    assert all(s.get("resumed") for s in again["stages"].values())
    assert all(s["wall_ms"] == 0 for s in again["stages"].values())
    assert {k: v["rows"] for k, v in again["stages"].items()} == {
        k: v["rows"] for k, v in stats["stages"].items()
    }
    assert _corpus_fingerprint(spark, str(root / "work")) == before


def test_resume_rewinds_exactly_one_failed_stage(spark, staged, tmp_path):
    """Simulated kill during the scrub stage: its table is partial and
    its lineage done-row (the commit marker) was never appended. Resume
    must skip the five committed upstream stages, re-run scrub and
    everything after it, and converge to the identical corpus."""
    import shutil

    root, stats = staged
    work2 = tmp_path / "work"
    shutil.copytree(root / "work", work2)
    # the "kill": scrub output partial, downstream never ran
    shutil.rmtree(work2 / "scrubbed")
    shutil.rmtree(work2 / "corpus")
    lin2 = tmp_path / "lineage"
    spark.read.parquet(str(root / "lineage")).filter(
        "stage NOT IN ('curate_scrub', 'curate_final_corpus')"
    ).write.parquet(str(lin2))

    again = run_curation_staged(
        spark, SF, str(work2),
        benchmark_dir=str(root / "bench"),
        lineage_dir=str(lin2),
        resume=True,
    )
    resumed = {k for k, v in again["stages"].items() if v.get("resumed")}
    assert resumed == {
        "exact", "minhash_sig", "lsh_pairs", "components", "canonical",
        "decontaminate",
    }
    assert _corpus_fingerprint(spark, str(work2)) == _corpus_fingerprint(
        spark, str(root / "work")
    )
    # the rerun appended commit markers for the two recomputed stages
    lin = spark.read.parquet(str(lin2))
    assert lin.filter("stage = 'curate_scrub'").count() == 1
    assert lin.filter("stage = 'curate_final_corpus'").count() == 1


def test_resume_requires_lineage_dir(spark, tmp_path):
    with pytest.raises(ValueError, match="lineage_dir"):
        run_curation_staged(
            spark, SF, str(tmp_path / "w"), resume=True
        )


def test_real_sigkill_then_staged_resume_converges(spark, tmp_path):
    """REAL kill -9 mid-chain (not a simulation): poll the lineage
    table until >= 2 stage commit markers land, SIGKILL the CLI job,
    resume with --resume, and assert the committed stages were skipped
    and the corpus equals an uninterrupted run's."""
    import json
    import os
    import signal
    import subprocess
    import sys
    import time

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work, lin = str(tmp_path / "work"), str(tmp_path / "lineage")

    def cmd(resume, workdir=work):
        return [
            sys.executable, "-m", "win64_local_ocr_tool_spark.jobs",
            "curate-staged", "--input", SF, "--workdir", workdir,
            "--lineage", lin, "--master", "local[4]",
        ] + (["--resume"] if resume else [])

    env = dict(os.environ, PYTHONPATH=repo)
    proc = subprocess.Popen(
        cmd(False), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True,
    )
    killed, n_done = False, 0
    deadline = time.monotonic() + 240
    while time.monotonic() < deadline:
        if proc.poll() is not None:
            break  # finished before we could kill it — still valid
        try:
            n_done = duckdb.sql(
                f"SELECT count(DISTINCT stage) "
                f"FROM read_parquet('{lin}/*.parquet')"
            ).fetchone()[0]
        except Exception:
            n_done = 0
        if n_done >= 2:
            os.kill(proc.pid, signal.SIGKILL)
            proc.wait(timeout=60)
            killed = True
            break
        time.sleep(0.3)
    assert killed or proc.poll() == 0

    out = subprocess.run(
        cmd(True), env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # a stage commit (the single-key observe) builds no 0 == 0 predicate
    assert "trivially true" not in out.stderr
    stats = json.loads(out.stdout.strip().splitlines()[-1])
    resumed = {k for k, v in stats["stages"].items() if v.get("resumed")}
    if killed:
        assert len(resumed) >= 2  # committed stages never recomputed
    else:
        assert len(resumed) == len(stats["stages"])

    # converged corpus == an uninterrupted run's; that run commits
    # every stage, so its stderr check cannot pass vacuously
    clean_out = subprocess.run(
        cmd(False, str(tmp_path / "work_clean")), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert clean_out.returncode == 0, clean_out.stderr[-2000:]
    assert "trivially true" not in clean_out.stderr
    clean = json.loads(clean_out.stdout.strip().splitlines()[-1])
    assert not any(v.get("resumed") for v in clean["stages"].values())
    assert stats["n_corpus"] == clean["n_corpus"]
    got = _corpus_fingerprint(spark, work)
    want = _corpus_fingerprint(spark, str(tmp_path / "work_clean"))
    assert got == want


def test_stale_marker_is_detected_and_cascades(spark, staged, tmp_path):
    """ADVICE r3: markers are keyed by stage name, so a LATER
    non-resume rerun into the same workdir SIGKILLed mid-overwrite
    leaves a corrupt stage table whose old done-marker still exists.
    The skip path must validate the table (row count vs marker n_rows),
    recompute the corrupt stage, and CASCADE the recompute to every
    later stage."""
    import shutil

    root, stats = staged
    work2 = tmp_path / "work"
    shutil.copytree(root / "work", work2)
    lin2 = tmp_path / "lineage"
    spark.read.parquet(str(root / "lineage")).write.parquet(str(lin2))
    # the "corruption": pairs table truncated to one row, marker intact
    pairs = spark.read.parquet(str(work2 / "pairs")).limit(1).collect()
    spark.createDataFrame(
        pairs, schema="doc_a long, doc_b long"
    ).write.mode("overwrite").parquet(str(work2 / "pairs"))

    again = run_curation_staged(
        spark, SF, str(work2),
        benchmark_dir=str(root / "bench"),
        lineage_dir=str(lin2),
        resume=True,
    )
    resumed = {k for k, v in again["stages"].items() if v.get("resumed")}
    assert resumed == {"exact", "minhash_sig"}  # everything later reran
    assert again["stages"]["lsh_pairs"]["rows"] == stats["stages"][
        "lsh_pairs"
    ]["rows"]
    assert _corpus_fingerprint(spark, str(work2)) == _corpus_fingerprint(
        spark, str(root / "work")
    )


def test_exact_precollapse_preserves_canonical_set(spark, tmp_path):
    """The round-4 exact pre-collapse stage must not change the kept
    set: on a corpus with PLANTED exact-duplicate classes (sf0.001 has
    none), the staged canonical table equals the uncollapsed registry
    query dedup_canonical_docs (CC over ALL docs), and every stage
    after 'exact' is O(distinct docs)."""
    from pyspark.sql import functions as F

    from win64_local_ocr_tool_spark.operators.registry import QUERIES

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # plant: 3 exact copies of every doc_id % 7 == 0 doc (distinct ids)
    dups = (
        docs.filter("doc_id % 7 = 0")
        .crossJoin(spark.range(1, 4).select(F.col("id").alias("k")))
        .select(
            (F.col("doc_id") + 100000 * F.col("k")).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    corpus_dir = tmp_path / "corpus"
    docs.unionByName(dups).write.parquet(
        str(corpus_dir / "documents.parquet")
    )

    stats = run_curation_staged(
        spark, str(corpus_dir), str(tmp_path / "work")
    )
    n_docs = docs.count()
    n_all = n_docs + dups.count()
    assert stats["stages"]["exact"]["rows"] == n_all  # full map
    # every post-collapse stage sees only representatives
    assert stats["stages"]["minhash_sig"]["rows"] <= n_docs

    staged_kept = {
        r["doc_id"]
        for r in spark.read.parquet(
            str(tmp_path / "work" / "canonical" / "documents.parquet")
        ).select("doc_id").collect()
    }
    registry_kept = {
        r["doc_id"]
        for r in QUERIES["dedup_canonical_docs"](
            spark, str(corpus_dir)
        ).select("doc_id").collect()
    }
    assert staged_kept == registry_kept
    # no planted duplicate survives (its original has the smaller id)
    assert not any(d >= 100000 for d in staged_kept)


def _resume_after_shifting_exact(spark, staged, tmp_path, column, by):
    """Copy the fixture's work and lineage, rewrite ``exact`` with the
    same row count but ``column`` shifted by ``by``, and resume: every
    stage must recompute, and the corpus must equal the fixture's."""
    import shutil

    root, _stats = staged
    work2 = tmp_path / "work"
    shutil.copytree(root / "work", work2)
    lin2 = tmp_path / "lineage"
    shutil.copytree(root / "lineage", lin2)
    pdf = spark.read.parquet(str(work2 / "exact")).toPandas()
    pdf[column] = pdf[column] + by
    shutil.rmtree(work2 / "exact")
    spark.createDataFrame(pdf).write.parquet(str(work2 / "exact"))

    again = run_curation_staged(
        spark, SF, str(work2),
        benchmark_dir=str(root / "bench"),
        lineage_dir=str(lin2),
        resume=True,
    )
    assert all(not v.get("resumed") for v in again["stages"].values())
    assert _corpus_fingerprint(spark, str(work2)) == _corpus_fingerprint(
        spark, str(root / "work")
    )


def test_resume_detects_count_equal_content_divergence(spark, staged, tmp_path):
    """ADVICE r4: a stage table rewritten with the SAME row count but
    different content (the count-collision a later killed rerun from
    different upstream data can leave) must not be silently reused —
    the lineage marker's content fingerprint catches it, the stage
    recomputes, and the recompute cascades downstream. Here the ids
    shift, so count-only validation would pass."""
    _resume_after_shifting_exact(spark, staged, tmp_path, "doc_id", 1_000_000)


def test_resume_detects_content_change_outside_key_column(
    spark, staged, tmp_path
):
    """The fingerprint covers whole rows: ``exact`` with the same
    doc_ids but a changed ``representative`` column fails validation
    too."""
    _resume_after_shifting_exact(spark, staged, tmp_path, "representative", 1)


def _truncate_a_part(table):
    part = sorted(table.glob("part-*"))[0]
    part.write_bytes(part.read_bytes()[: part.stat().st_size // 2])


def _rewrite_with_pyarrow(table):
    import shutil

    import pyarrow.parquet as pq

    # the read keeps Spark's footer key as schema metadata; drop it
    data = pq.read_table(str(table)).replace_schema_metadata()
    shutil.rmtree(table)
    table.mkdir()
    pq.write_table(data, str(table / "part-00000.parquet"))


def _keep_only_success(table):
    for f in table.iterdir():
        if f.name != "_SUCCESS":
            f.unlink()


@pytest.mark.parametrize(
    "damage", [_keep_only_success, _rewrite_with_pyarrow, _truncate_a_part],
)
def test_resume_recomputes_a_stage_without_a_valid_footer(
    spark, staged, tmp_path, damage
):
    """A skipped stage's schema and row count come from its parquet
    footers; a table with no data file, with files that lack Spark's
    schema key (written by pyarrow, same rows) or with a truncated part
    file fails validation: the stage recomputes, the recompute cascades
    to every later stage, and the corpus equals the fixture's."""
    import shutil

    root, _stats = staged
    work2, lin2 = tmp_path / "work", tmp_path / "lineage"
    shutil.copytree(root / "work", work2)
    shutil.copytree(root / "lineage", lin2)
    damage(work2 / "components")

    again = run_curation_staged(
        spark, SF, str(work2),
        benchmark_dir=str(root / "bench"),
        lineage_dir=str(lin2),
        resume=True,
    )
    resumed = {k for k, v in again["stages"].items() if v.get("resumed")}
    assert resumed == {"exact", "minhash_sig", "lsh_pairs"}
    assert _corpus_fingerprint(spark, str(work2)) == _corpus_fingerprint(
        spark, str(root / "work")
    )


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_jobs_compile_nothing(spark, staged, tmp_path):
    """Spark's codegen class cache holds a job's whole working set, so
    a second run of the same job in one session compiles no class.
    A curation job generates 130 classes: with a cache smaller than
    that, LRU evicts each class before its next use and every warm job
    recompiles nearly all of them."""
    from win64_local_ocr_tool_spark.corpus import corpus_df

    root, _stats = staged

    def curate(run):
        run_curation_staged(
            spark, SF, str(tmp_path / run / "work"),
            benchmark_dir=str(root / "bench"),
            lineage_dir=str(tmp_path / run / "lineage"),
        )

    def extract(run):
        run_extraction(
            spark, corpus_df(spark, 200),
            out_dir=str(tmp_path / run / "out"),
            lineage_dir=str(tmp_path / run / "xlineage"),
            n_buckets=4,
        )

    for job in (curate, extract):
        job("cold")
        before = _compiled(spark)
        job("warm")
        assert _compiled(spark) - before == 0, job.__name__
