"""Staged (checkpointed) pipeline: blocks stage table, per-stage
lineage/resume, byte-equality with the single-pass pipeline."""

import pandas as pd
from pyspark.sql import functions as F

from win64_local_ocr_tool_spark.corpus import corpus_df
from win64_local_ocr_tool_spark.golden import golden_pandas
from win64_local_ocr_tool_spark.staged import (
    BLOCKS_SCHEMA,
    run_staged_extraction,
    tokenize_to_blocks,
)

N = 600


def test_blocks_table_shape(spark):
    docs = corpus_df(spark, 250)
    blocks = tokenize_to_blocks(docs)
    pdf = blocks.filter(F.col("block_id") >= 0).limit(50).toPandas()
    assert set(pdf.columns) == {
        "url", "kind", "block_id", "tag", "depth", "pos",
        "text", "text_len", "link_text_len",
    }
    # one sentinel per document, even for corrupt payloads
    sent = blocks.filter(F.col("block_id") == -1)
    assert sent.count() == 250
    assert sent.select("url").distinct().count() == 250


def test_staged_matches_golden_and_resumes(spark, tmp_path):
    docs = corpus_df(spark, N)
    work = str(tmp_path / "work")

    stats = run_staged_extraction(spark, docs, work, n_buckets=8)
    assert stats["n_docs"] == N

    got = (
        spark.read.parquet(stats["out_dir"])
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

    # resume: everything done -> both stages fully pruned, no rewrites
    stats2 = run_staged_extraction(spark, docs, work, n_buckets=8, resume=True)
    assert stats2["tokenize_pruned"] == 8
    assert stats2["assemble_pruned"] == 8
    assert stats2["assemble_partitions_new"] == 0
    assert stats2["n_docs"] == N

    lineage = spark.read.parquet(stats["lineage_dir"]).toPandas()
    for stage in ("tokenize", "assemble"):
        keys = lineage[lineage["stage"] == stage]["partition_key"]
        assert sorted(keys.tolist()) == list(range(8)), stage
        assert keys.is_unique, stage


def test_staged_empty_buckets_log_zero_rows_and_resume_prunes_all(
    spark, tmp_path
):
    """More buckets than documents: some buckets get no rows. Every
    bucket still logs a done-row (n_rows=0 for the empty ones), so a
    resume prunes all of them in both stages."""
    n, n_buckets = 12, 32
    docs = corpus_df(spark, n)
    work = str(tmp_path / "work")
    stats = run_staged_extraction(spark, docs, work, n_buckets=n_buckets)
    assert stats["n_docs"] == n
    lin = spark.read.parquet(stats["lineage_dir"]).toPandas()
    for stage in ("tokenize", "assemble"):
        rows = lin[lin["stage"] == stage]
        assert sorted(rows["partition_key"]) == list(range(n_buckets))
        assert rows["n_rows"].sum() == n and (rows["n_rows"] == 0).any()

    again = run_staged_extraction(
        spark, docs, work, n_buckets=n_buckets, resume=True
    )
    assert again["tokenize_pruned"] == again["assemble_pruned"] == n_buckets
    assert again["assemble_partitions_new"] == 0
    assert again["n_docs"] == n


def test_overrides_replace_classifier_flags(spark):
    """The human-correction artifact (SURVEY §3.2): per-(url, block_id)
    keep/drop overrides win over the classifier; untouched documents
    are byte-identical to the no-override run."""
    from win64_local_ocr_tool_spark.corpus import corpus_df
    from win64_local_ocr_tool_spark.staged import (
        OVERRIDES_SCHEMA,
        assemble_from_blocks,
        tokenize_to_blocks,
    )

    docs = corpus_df(spark, 20)
    blocks = tokenize_to_blocks(docs.select("url", "html"))
    base = {
        r["url"]: r
        for r in assemble_from_blocks(blocks).collect()
    }

    # pick a url and force-drop its first kept block
    target = sorted(base)[0]
    b = blocks.filter(
        (blocks["url"] == target) & (blocks["block_id"] >= 0)
    ).orderBy("block_id").collect()
    # find the block whose text starts the extracted output
    kept_text = base[target]["extracted_text"].split("\n")[0]
    drop_id = next(r["block_id"] for r in b if r["text"] == kept_text)

    overrides = spark.createDataFrame(
        [(target, int(drop_id), False)], schema=OVERRIDES_SCHEMA
    )
    out = {
        r["url"]: r
        for r in assemble_from_blocks(blocks, overrides).collect()
    }
    # target doc: the dropped block's text is gone from the output
    assert kept_text not in out[target]["extracted_text"]
    assert len(out[target]["spans"]) == len(base[target]["spans"]) - 1
    # every other doc unchanged, byte for byte
    for url, row in base.items():
        if url != target:
            assert out[url]["extracted_text"] == row["extracted_text"]

    # force-keep a block the classifier dropped (first nav link block)
    all_text = {r["block_id"]: r["text"] for r in b}
    dropped_ids = [
        i for i, t in all_text.items()
        if t and t not in base[target]["extracted_text"]
    ]
    if dropped_ids:
        keep_id = dropped_ids[0]
        ov2 = spark.createDataFrame(
            [(target, int(keep_id), True)], schema=OVERRIDES_SCHEMA
        )
        out2 = {
            r["url"]: r
            for r in assemble_from_blocks(blocks, ov2).collect()
        }
        assert all_text[keep_id] in out2[target]["extracted_text"]


def test_merge_by_key_replaces_only_present_partitions(spark, tmp_path):
    """The parquet fallback of the Iceberg upsert seam: a merge carrying
    keys {1} must replace key 1's rows and leave key 0 untouched."""
    from win64_local_ocr_tool_spark.staged import merge_by_key

    target = str(tmp_path / "stage")
    base = spark.createDataFrame(
        [(0, "a0"), (0, "a1"), (1, "b0")],
        schema="partition_key int, v string",
    )
    merge_by_key(base, target)
    upd = spark.createDataFrame(
        [(1, "B0"), (1, "B1")], schema="partition_key int, v string"
    )
    merge_by_key(upd, target)
    got = sorted(
        (r["partition_key"], r["v"])
        for r in spark.read.parquet(target).collect()
    )
    assert got == [(0, "a0"), (0, "a1"), (1, "B0"), (1, "B1")]


def test_merge_by_key_rerun_is_idempotent(spark, tmp_path):
    from win64_local_ocr_tool_spark.staged import merge_by_key

    target = str(tmp_path / "stage")
    df = spark.createDataFrame(
        [(0, "x"), (1, "y")], schema="partition_key int, v string"
    )
    merge_by_key(df, target)
    merge_by_key(df, target)  # re-run: same rows, no duplicates
    got = sorted(
        (r["partition_key"], r["v"])
        for r in spark.read.parquet(target).collect()
    )
    assert got == [(0, "x"), (1, "y")]


def test_iceberg_capability_check(spark):
    """Paths and unconfigured identifiers take the parquet fallback;
    only a configured Iceberg catalog identifier selects the Iceberg
    write path."""
    from win64_local_ocr_tool_spark.staged import iceberg_catalog_for

    assert iceberg_catalog_for(spark, "/tmp/some/dir") is None
    assert iceberg_catalog_for(spark, "file:/tmp/x") is None
    assert iceberg_catalog_for(spark, "nocat.db.tbl") is None
    spark.conf.set(
        "spark.sql.catalog.lake",
        "org.apache.iceberg.spark.SparkCatalog",
    )
    try:
        assert iceberg_catalog_for(spark, "lake.db.docs") == "lake"
    finally:
        spark.conf.unset("spark.sql.catalog.lake")


def test_iceberg_twin_unavailable_in_sandbox():
    """Living probe for VERDICT r2 item 4: the Iceberg MERGE twin
    cannot go live in this sandbox — no iceberg/delta jars ship with
    pyspark, no delta-spark package, no network to fetch the runtime.
    If this test ever FAILS, the environment gained the jars and
    merge_by_key's catalog branch should get a real end-to-end twin
    test (path vs catalog produce identical tables)."""
    import glob
    import importlib.util
    import os
    import socket

    import pyspark

    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__),
                                  "jars", "*.jar"))
    catalog_jars = [j for j in jars
                    if "iceberg" in j.lower() or "delta" in j.lower()]
    assert catalog_jars == [], (
        f"catalog jars appeared ({catalog_jars}) — write the live "
        "Iceberg twin test now"
    )
    assert importlib.util.find_spec("delta") is None
    # Network reachability is a SOFT signal only: a networked dev box
    # does not mean the jars are present, so it must not fail the
    # suite — it surfaces as a warning that the twin COULD be fetched.
    try:
        socket.create_connection(("repo1.maven.org", 443), timeout=3)
        reachable = True
    except OSError:
        reachable = False
    if reachable:
        import warnings

        warnings.warn(
            "Maven Central is reachable — spark.jars.packages could "
            "fetch the Iceberg runtime; consider promoting "
            "merge_by_key's catalog branch to a live twin test",
            stacklevel=1,
        )


def test_bootstrap_error_classification():
    """Only the no-such-table family may route to the create path;
    anything else (permissions, schema mismatch, network) must
    re-raise from merge_by_key's Iceberg branch."""
    from win64_local_ocr_tool_spark.staged import _is_missing_table_error

    missing = [
        Exception("[TABLE_OR_VIEW_NOT_FOUND] The table `lake`.`db`.`t`"),
        Exception("org.apache.iceberg.exceptions.NoSuchTableException: x"),
        Exception("Table or view not found: lake.db.t"),
    ]
    for exc in missing:
        assert _is_missing_table_error(exc), exc
    other = [
        Exception("Access Denied: insufficient privileges"),
        Exception("[INCOMPATIBLE_DATA_FOR_TABLE] cannot write"),
        Exception("connection refused"),
        Exception(""),
    ]
    for exc in other:
        assert not _is_missing_table_error(exc), exc
