"""The chained crawl-to-corpus flow: extraction output feeds the
curation family unchanged, deterministically."""

import re

import pytest
from pyspark.sql import functions as F

from win64_local_ocr_tool_spark.pipeline import (
    extracted_to_documents,
    run_crawl_to_corpus,
    run_curation_staged,
)


def _doc_ids(spark, urls):
    """The doc_id the chain gives each url, in order."""
    ok = spark.createDataFrame(
        [(u, "ok", "", "") for u in urls],
        "url string, status string, extracted_text string, lang string",
    )
    return [r["doc_id"] for r in extracted_to_documents(ok).collect()]


def _one_word_changed(html):
    return re.sub(r"<p>\w+", "<p>planted", bytes(html).decode(), count=1).encode()


def test_chain_end_to_end_and_deterministic(spark, tmp_path):
    from win64_local_ocr_tool_spark.corpus import (
        DOCUMENTS_SCHEMA,
        corpus_df,
        corpus_pandas,
    )
    from win64_local_ocr_tool_spark.operators.extract import extract_all

    # planted near-duplicates: four pages again under another url, one
    # word changed; the eval suite is the extracted text of two others
    copies = corpus_pandas([3, 5, 7, 11])
    originals = list(copies["url"])
    copies["url"] += "?copy"
    copies["html"] = copies["html"].map(_one_word_changed)
    pages = corpus_df(spark, 400).unionByName(
        spark.createDataFrame(copies, DOCUMENTS_SCHEMA)
    )
    eval_urls = list(corpus_pandas([20, 21])["url"])
    bench = str(tmp_path / "bench")
    extracted_to_documents(
        extract_all(pages.filter(F.col("url").isin(*eval_urls)))
    ).write.parquet(f"{bench}/documents.parquet")

    stats = run_crawl_to_corpus(
        spark, pages, str(tmp_path / "run1"), n_buckets=8,
        benchmark_dir=bench,
    )
    assert stats["extract_n_docs"] == 404
    # corrupt pages became error rows and never reach curation
    n_docs_stage = spark.read.parquet(
        str(tmp_path / "run1/docs/documents.parquet")
    ).count()
    assert n_docs_stage == 404 - stats["extract_n_errors"]
    # the curated corpus is a non-trivial, strict subset, and every
    # gate bites: quality, near-dup dedup and decontamination
    assert 0 < stats["n_corpus_docs"] < n_docs_stage
    work = tmp_path / "run1"
    table = {
        t: spark.read.parquet(str(work / t)).collect()
        for t in ("pairs", "components", "contaminated", "corpus")
    }
    assert table["pairs"] and table["components"] and table["contaminated"]
    component = {r["doc_id"]: r["component"] for r in table["components"]}
    corpus_ids = {r["doc_id"] for r in table["corpus"]}
    ids = _doc_ids(spark, originals + [u + "?copy" for u in originals])
    for orig, copy in zip(ids[:4], ids[4:]):
        assert component[orig] == component[copy] == min(orig, copy)
        assert max(orig, copy) not in corpus_ids
    eval_ids = set(_doc_ids(spark, eval_urls))
    assert eval_ids <= {r["doc_id"] for r in table["contaminated"]}
    assert not eval_ids & corpus_ids
    # doc_id is a pure function of the url -> rerun over a different
    # partitioning yields the identical corpus
    stats2 = run_crawl_to_corpus(
        spark, pages.repartition(13), str(tmp_path / "run2"), n_buckets=8,
        benchmark_dir=bench,
    )
    a = sorted(map(tuple, spark.read.parquet(stats["corpus_dir"]).collect()))
    b = sorted(map(tuple, spark.read.parquet(stats2["corpus_dir"]).collect()))
    assert a == b
    assert len(a) == stats["n_corpus_docs"]


def test_extracted_to_documents_shape(spark):
    from win64_local_ocr_tool_spark.corpus import corpus_df
    from win64_local_ocr_tool_spark.operators.extract import extract_all

    out = extracted_to_documents(extract_all(corpus_df(spark, 120)))
    rows = out.collect()
    assert out.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    assert all(r["doc_id"] >= 0 for r in rows)
    assert all(r["source"].startswith("site") for r in rows)
    assert all(r["n_chars"] == len(r["text"]) for r in rows)


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    """One crawl-to-corpus run over 300 synthetic pages, no benchmark."""
    from win64_local_ocr_tool_spark.corpus import corpus_df

    root = tmp_path_factory.mktemp("crawl")
    stats = run_crawl_to_corpus(
        spark, corpus_df(spark, 300), str(root / "run"), n_buckets=8
    )
    return root, stats


def _rows(spark, corpus_dir):
    df = spark.read.parquet(corpus_dir)
    return df.columns, sorted(map(tuple, df.collect()))


def test_curate_benchmark_gate_is_explicit(spark, crawl, tmp_path):
    """With no benchmark table the chain must NOT sacrifice the
    doc_id % 29 slice (the registry oracle's synthetic convention);
    decontaminating against the corpus's own docs table must drop
    every doc that passes the gate (every 13-gram self-overlaps)."""
    _root, stats = crawl
    _cols, plain = _rows(spark, stats["corpus_dir"])
    assert len(plain) == stats["n_corpus_docs"] > 0
    assert any(r[0] % 29 == 0 for r in plain)
    selfdecon = run_curation_staged(
        spark, stats["docs_dir"], str(tmp_path / "self"),
        benchmark_dir=stats["docs_dir"],
    )
    assert selfdecon["n_corpus"] == 0  # every kept doc >= 20 words


def test_documents_commit_through_the_seam(spark, crawl):
    """The documents table is a lineage-committed stage beside the
    extraction and curation markers, in one lineage dir."""
    from win64_local_ocr_tool_spark.lineage import read_done

    root, stats = crawl
    done = {r["stage"]: r for r in read_done(str(root / "run/lineage"))}
    n_docs = spark.read.parquet(
        f"{stats['docs_dir']}/documents.parquet"
    ).count()
    assert done["documents"]["n_rows"] == n_docs
    assert {s for s in done if s.startswith("curate_")} == {
        f"curate_{s}" for s in (
            "exact", "minhash_sig", "lsh_pairs", "components",
            "canonical", "scrub", "final_corpus",
        )
    }
    assert done["curate_final_corpus"]["n_rows"] == stats["n_corpus_docs"]


@pytest.mark.parametrize("with_benchmark", [False, True])
def test_pipeline_corpus_equals_curate_staged(
    spark, crawl, tmp_path, with_benchmark
):
    """``jobs pipeline`` (run_crawl_to_corpus) and ``jobs curate-staged``
    (run_curation_staged) build the same corpus from the same
    documents: same rows, same columns, text included."""
    from win64_local_ocr_tool_spark.corpus import corpus_df

    _root, stats = crawl
    bench = None
    if with_benchmark:
        # eval suite: five docs that survive curation without one
        _cols, plain = _rows(spark, stats["corpus_dir"])
        picked = [r[0] for r in plain[:5]]
        bench = str(tmp_path / "bench")
        spark.read.parquet(f"{stats['docs_dir']}/documents.parquet").filter(
            F.col("doc_id").isin(*picked)
        ).write.parquet(f"{bench}/documents.parquet")
        stats = run_crawl_to_corpus(
            spark, corpus_df(spark, 300), str(tmp_path / "run"),
            n_buckets=8, benchmark_dir=bench,
        )
        assert 0 < stats["n_corpus_docs"] <= len(plain) - 5
    staged = run_curation_staged(
        spark, stats["docs_dir"], str(tmp_path / "staged"),
        benchmark_dir=bench,
    )
    cols, got = _rows(spark, stats["corpus_dir"])
    assert cols == ["doc_id", "lang", "n_words", "text"]
    assert (cols, got) == _rows(spark, f"{tmp_path}/staged/corpus")
    assert len(got) == stats["n_corpus_docs"] == staged["n_corpus"]


def test_null_html_rows_survive_as_rows(spark):
    """A crawl row whose body was lost (html NULL) must still appear in
    the output — empty extraction, never a dropped url or task
    failure."""
    import pandas as pd

    from win64_local_ocr_tool_spark.operators.extract import extract_all

    pdf = pd.DataFrame(
        {
            "url": ["https://a.example/1", "https://b.example/2"],
            "html": [None, ("<html><body><p>" + "hello world and a long enough paragraph of content " * 4 + "</p></body></html>").encode()],
        }
    )
    docs = spark.createDataFrame(pdf, schema="url string, html binary")
    out = {r["url"]: r for r in extract_all(docs, mega_bytes=65536).collect()}
    assert set(out) == {"https://a.example/1", "https://b.example/2"}
    assert out["https://a.example/1"]["extracted_text"] == ""
    assert "hello world and a long" in out["https://b.example/2"]["extracted_text"]
