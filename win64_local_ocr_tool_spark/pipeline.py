"""End-to-end extraction job: documents -> extracted (+ lineage, resume).

The Spark restatement of the reference's flagship flow
(``POST /upload-manuscript``, SURVEY.md §3.1):

    documents ── size probe: max/sum payload bytes per partition_key
    each commit group of keys:
      (no page >= mega_bytes) ─> mapInPandas(extract) ─────────┐
      (a page >= mega_bytes)  ─> normal/mega split; mega rows: ├> extracted
                                 chunk -> classify -> reassemble ┘
      extracted ── commit_stage: write parquet partitioned by
                   partition_key (dynamic overwrite = idempotent
                   per-partition rerun), counting n_rows/n_errors and a
                   content fingerprint per key while the rows are written
                ── lineage append on the driver (pyarrow, no Spark
                   job; a temporary file renamed into place):
                   (stage, partition_key, n_rows, n_errors, wall_ms,
                   'done', run_id, ts, fp)

Resume: a fresh invocation with ``resume=True`` reads the lineage
done-keys on the driver (``lineage.read_done``), filters their rows out
and recomputes only missing partitions; output idempotence comes from
partition-directory overwrite.
"""

from __future__ import annotations

import functools
import itertools
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from .lineage import (
    append_lineage,
    content_fingerprint,
    done_counts,
    read_done,
    row_hash,
    table_footers,
    with_partition_key,
)
from .operators.extract import extract_all
from .staged import merge_by_key

STAGE_EXTRACT = "extract"

# a partition at/over this skew vs the p50, per mille (``skewed``), is
# a straggler: its documents route through the distributed chunk path
# at a finer byte threshold instead of re-running as one fat unit
STRAGGLER_X1000 = 10_000


def commit_stage(
    stage: str,
    build,
    write,
    keys: list[int],
    *,
    key: Column | None = None,
    errors: Column | None = None,
    lineage_dir: str | None = None,
    run_id: str | None = None,
) -> tuple[list[tuple[int, int, int, int]], int]:
    """The commit seam of every stage write. ``write`` runs once on the
    frame ``build()`` returns, with one ``DataFrame.observe`` taking per
    lineage key in ``keys`` the rows, the ``errors`` rows and the content
    fingerprint (sum of ``lineage.row_hash``) while the rows are written;
    then one lineage row per key is appended with the wall time of build
    + write (``build`` is a thunk: some stage bodies do eager checkpoint
    work). The append is ``append_lineage`` called through this module's
    global: the rows go to the driver-side Arrow writer as they are, no
    Spark job, and its file is renamed into place only after ``write``
    returned, so a logged key's output is complete. ``key`` names a
    row's lineage key (NULL counts nowhere); without one every row
    counts toward the single key in ``keys``. A key with no rows logs
    n_rows=0, or it would stay todo and every resume would re-run it.
    Nothing is read back. Returns ([(key, n_rows, n_errors, fp)],
    wall_ms)."""

    def at(k):
        return F.lit(True) if key is None else key == k

    err = F.lit(False) if errors is None else errors
    t0 = time.monotonic()
    df = build()
    h = row_hash(df)  # evaluated once per row: only its key's branch
    obs = Observation()
    write(
        df.observe(
            obs,
            *(F.count_if(at(k)).alias(f"n{k}") for k in keys),
            *(F.count_if(at(k) & err).alias(f"e{k}") for k in keys),
            *(F.sum(F.when(at(k), h)).alias(f"f{k}") for k in keys),
        )
    )
    wall_ms = int((time.monotonic() - t0) * 1000)
    got = obs.get
    rows = [(k, got[f"n{k}"], got[f"e{k}"], got[f"f{k}"] or 0) for k in keys]
    if lineage_dir:
        append_lineage(lineage_dir, stage, rows, wall_ms, run_id)
    return rows, wall_ms


def _bucket_sizes(docs: DataFrame) -> dict[int, tuple[int, int]]:
    """Size probe: partition_key -> (max, sum) payload bytes, one
    aggregate with n_buckets output rows. The size is the ``n_bytes``
    ingest-metadata column when the source recorded it (a thin-column
    scan), ``length(html)`` otherwise. A NULL ``n_bytes`` (mixed-vintage
    table) counts as unbounded in the max, so its key plans the chunk
    branch where ``extract_all`` routes the row by ``length(html)``, and
    as 0 in the sum. Plans only: both branches are byte-identical (halo
    proof), so a stale probe changes the physical plan, never the
    output."""
    if "n_bytes" in docs.columns:
        nb = F.col("n_bytes")
        top, size = F.coalesce(nb, F.lit(1 << 62)), F.coalesce(nb, F.lit(0))
    else:
        top = size = F.coalesce(F.length("html"), F.lit(0))
    agg = docs.groupBy("partition_key").agg(F.max(top), F.sum(size))
    return {int(k): (int(m), int(s)) for k, m, s in agg.collect()}


def skewed(sizes: dict[int, int]) -> set[int]:
    """Keys at/over STRAGGLER_X1000 per mille of the discrete p50 (rank
    ceil(n/2), floored at 1): ``straggler_report``'s skew rule."""
    ranked = sorted(sizes.values())
    med = max(ranked[-(-len(ranked) // 2) - 1], 1) if ranked else 1
    return {k for k, v in sizes.items() if v * 1000 >= STRAGGLER_X1000 * med}


def _straggler_keys(
    lineage_dir: str | None,
    bucket_sizes: dict[int, tuple[int, int]],
) -> set[int]:
    """Partitions to route through the chunk path on resume (r4 verdict
    item 3): the union of two ``skewed`` signals, read on the driver:

    - LINEAGE: the extract stage's latest n_rows per key (``done_counts``,
      ``straggler_report``'s tie rule) — partitions a prior epoch observed
      fat (an incremental re-run over the same key space hits them again);
    - INPUT BYTES: the size probe's (``_bucket_sizes``) per-partition
      sums over the REMAINING docs (a killed run's fat partition has no
      lineage row — but its input size is known before any work).
    """
    fat = skewed(done_counts(lineage_dir, STAGE_EXTRACT)) if lineage_dir else set()
    return fat | skewed({k: b for k, (_, b) in bucket_sizes.items()})


def run_extraction(
    spark: SparkSession,
    docs: DataFrame,
    *,
    out_dir: str | None = None,
    lineage_dir: str | None = None,
    resume: bool = False,
    n_buckets: int = 64,
    mega_bytes: int | None = 8 << 20,
    chunk_blocks: int = 200,
    run_id: str | None = None,
    commit_batches: int | None = None,
    split_stragglers: bool = True,
    straggler_mega_bytes: int | None = None,
) -> dict:
    """Run the extraction pipeline.

    With ``out_dir`` set, writes the extracted table partitioned by
    ``partition_key`` and appends lineage; returns stats. Without it,
    returns the lazy extracted DataFrame (no materialization) — the
    driver-contract path.

    ``mega_bytes`` defaults to 8 MiB: Arrow batches are bounded by ROW
    COUNT, so documents beyond a few MB must leave the batched normal
    path (a 256-row batch of 100 MB payloads would OOM a Python
    worker) and take the distributed chunk path, which also spreads a
    single giant document across tasks (SURVEY §7.5 item 4). A
    materialized run plans that split from one size probe
    (``_bucket_sizes``) run before any work: only keys whose largest
    page reaches the threshold build the chunk branch and its second
    scan; every other key runs the plain scan -> mapInPandas -> write.
    The lazy path (no ``out_dir``) probes only when a resume needs the
    sums for its straggler split; without a probe it plans the split
    for every key.

    ``commit_batches=K``: K groups of ceil(n_buckets/K) keys, fixed over
    the keyspace, each written AND lineage-logged before the next starts
    — a SIGKILLed job loses at most the in-flight group (the
    partition-granular kill/resume the north rule demands; tested with
    a real SIGKILL in tests/test_kill_resume.py), and a resume drops the
    done keys, so it reruns only the groups that are missing. A group is
    one ``commit_stage``: one write job and one lineage append, its
    per-key counters observed during the write, never read back. The
    source is scanned once per group when it isn't physically
    partitioned by the key — on a production Iceberg table bucketed by
    hash(url) each group prunes to its own files.

    ``split_stragglers`` (resume runs with ``mega_bytes`` set): flagged
    straggler partitions (``_straggler_keys`` — lineage row-count skew +
    the probe's input-bytes skew over the remaining work) route through
    the distributed chunk path at the finer ``straggler_mega_bytes``
    threshold (default mega_bytes/8) instead of re-running as one fat
    in-task unit — byte-identical by the halo proof, so this is a
    physical re-plan only (r4 verdict item 3; planted-partition test
    in tests/test_resume.py).
    """
    docs = with_partition_key(docs, n_buckets)

    resumed = resume and lineage_dir
    done_before = set(done_counts(lineage_dir, STAGE_EXTRACT)) if resumed else set()
    if done_before:
        docs = docs.filter(~F.col("partition_key").isin(*done_before))

    # keep the ingest-metadata column when the source recorded it — the
    # mega/normal split then prunes on it at scan level (extract_all)
    base_cols = ["partition_key", "url", "html"] + (
        ["n_bytes"] if "n_bytes" in docs.columns else []
    )

    split = resume and split_stragglers and mega_bytes is not None
    sizes = _bucket_sizes(docs) if out_dir is not None or split else None
    fat_keys = _straggler_keys(lineage_dir, sizes) if split else set()
    fine_mega = straggler_mega_bytes or max((mega_bytes or 0) // 8, 64 << 10)

    def plan(sel, keys, mega):
        # the chunk branch only where the probe saw a page at/over the
        # threshold; with no probe (lazy path) every key may hold one
        if sizes is not None and mega is not None and max(
            (sizes.get(k, (0, 0))[0] for k in keys), default=0
        ) < mega:
            mega = None
        return extract_all(sel, mega_bytes=mega, chunk_blocks=chunk_blocks)

    def extract(subset, keys):
        sel = subset.select(*base_cols)
        fat = [k for k in keys if k in fat_keys]
        if fat:
            # straggler partitions: same kernels, finer dispatch —
            # documents >= fine_mega fan out as chunks across the
            # cluster instead of one task carrying the whole range
            thin = [k for k in keys if k not in fat_keys]
            is_fat = F.col("partition_key").isin(*fat)
            ext = plan(sel.filter(~is_fat), thin, mega_bytes).unionByName(
                plan(sel.filter(is_fat), fat, fine_mega)
            )
        else:
            ext = plan(sel, keys, mega_bytes)
        # extract_all consumes (url, html); re-attach the key derivably
        # (no join — the key is a pure function of url).
        return with_partition_key(ext, n_buckets)

    if out_dir is None:
        return {
            "extracted": extract(docs, range(n_buckets)),
            "pruned_partitions": len(done_before),
            "straggler_split_partitions": sorted(fat_keys),
        }

    # one group = one write+lineage commit unit (fixed over the keyspace)
    todo_keys = [k for k in range(n_buckets) if k not in done_before]
    step = -(-n_buckets // max(1, min(commit_batches or 1, n_buckets)))
    groups = [list(g) for _, g in itertools.groupby(todo_keys, lambda k: k // step)]

    n_docs = n_errors = wall_total = 0
    pk = F.col("partition_key")
    for keys in groups:
        subset = docs if len(groups) == 1 else docs.filter(pk.isin(*keys))
        rows, wall_ms = commit_stage(
            STAGE_EXTRACT, lambda: extract(subset, keys),
            # single upsert seam shared with the staged pipeline: Iceberg
            # overwritePartitions when a catalog is configured, dynamic
            # parquet partition-overwrite otherwise (staged.merge_by_key)
            lambda df: merge_by_key(df, out_dir),
            keys, key=pk, errors=F.col("status") == "error",
            lineage_dir=lineage_dir, run_id=run_id,
        )
        wall_total += wall_ms
        n_docs += sum(r[1] for r in rows)
        n_errors += sum(r[2] for r in rows)

    return {
        "out_dir": out_dir,
        "n_docs": int(n_docs),
        "n_errors": int(n_errors),
        "n_partitions": len(todo_keys),
        "pruned_partitions": len(done_before),
        "commit_groups": len(groups),
        "wall_ms": wall_total,
        "straggler_split_partitions": sorted(fat_keys),
        "straggler_mega_bytes": fine_mega if fat_keys else None,
    }


def extracted_to_documents(extracted: DataFrame) -> DataFrame:
    """Bridge the two halves of a web-scale training pipeline: the
    extracted table (url, status, extracted_text, lang) re-shaped as
    the ``documents`` curation input (doc_id, text, lang, source,
    n_chars) that every textops operator consumes.

    doc_id is a pure function of the url (non-negative xxhash64), so
    dedup/decontamination/sampling decisions are stable across reruns
    and partitionings — the same determinism rule as the extraction
    itself. source is the full lowercased hostname with a leading
    ``www.`` stripped (the per-site stratum a mixing policy keys on —
    the first label alone would collapse every www-prefixed site into
    one stratum). Error rows carry no text and are dropped here; their
    lineage counters already recorded them."""
    return (
        extracted.filter(F.col("status") == "ok")
        .select(
            # shiftrightunsigned keeps the id positive without abs()'s
            # Long.MIN_VALUE edge case
            F.shiftrightunsigned(F.xxhash64("url"), 1).alias("doc_id"),
            F.col("extracted_text").alias("text"),
            "lang",
            F.regexp_extract(
                F.lower("url"), r"^[a-z][a-z0-9+.-]*://(?:www\.)?([^/:?#]+)", 1
            ).alias("source"),
            F.length("extracted_text").alias("n_chars"),
        )
    )


def run_crawl_to_corpus(
    spark: SparkSession,
    docs: DataFrame,
    work_dir: str,
    *,
    n_buckets: int = 64,
    resume: bool = False,
    benchmark_dir: str | None = None,
) -> dict:
    """The full north-star flow as ONE chained job: raw pages ->
    byte-identical extraction (lineage + resume) -> documents-shaped
    stage table -> curated training corpus (near-dup canonicalized,
    scrubbed, quality-gated, and — when ``benchmark_dir`` supplies an
    eval-suite documents table — decontaminated against ITS 13-grams).

    Curation is ``run_curation_staged`` over the documents table, with
    its stage tables under ``work_dir`` (``corpus/`` is the corpus) and
    its commit markers in the extraction's lineage dir: the same chain
    ``jobs curate-staged`` runs, so both build the same corpus from the
    same documents. With no ``benchmark_dir`` nothing is decontaminated
    (no slice of a real crawl is sacrificed as "the eval set").

    The documents table lands as ``<work_dir>/docs/documents.parquet``
    (the standard curation input layout, so the textops family and its
    DuckDB oracles run over it unchanged), committed through
    ``commit_stage`` as stage ``documents``. Extraction resumes at
    partition granularity; curation reruns in full on every run, resume
    included: the documents table is rewritten each time and no marker
    ties a curation stage to the documents it read, so a stage-granular
    resume here would trust stale tables."""
    lineage_dir = f"{work_dir}/lineage"
    ext_stats = run_extraction(
        spark,
        docs,
        out_dir=f"{work_dir}/extracted",
        lineage_dir=lineage_dir,
        n_buckets=n_buckets,
        resume=resume,
    )
    from .operators.extract import EXTRACTED_SCHEMA
    from .staged import read_stage

    extracted = read_stage(
        spark, f"{work_dir}/extracted", EXTRACTED_SCHEMA + ", partition_key int"
    )
    docs_dir = f"{work_dir}/docs"
    commit_stage(
        "documents", lambda: extracted_to_documents(extracted),
        lambda df: df.write.mode("overwrite").parquet(f"{docs_dir}/documents.parquet"),
        [0], lineage_dir=lineage_dir,
    )
    cur = run_curation_staged(
        spark, docs_dir, work_dir,
        benchmark_dir=benchmark_dir, lineage_dir=lineage_dir,
    )
    return {
        **{f"extract_{k}": v for k, v in ext_stats.items()},
        "docs_dir": docs_dir,
        "corpus_dir": f"{work_dir}/corpus",
        "n_corpus_docs": cur["n_corpus"],
    }


def run_curation_staged(
    spark: SparkSession,
    docs_dir: str,
    work_dir: str,
    *,
    benchmark_dir: str | None = None,
    lineage_dir: str | None = None,
    run_id: str | None = None,
    resume: bool = False,
) -> dict:
    """The composed curation pipeline as STAGED jobs — the 100 TB
    deployment shape (VERDICT r2 item 6): every stage materializes its
    output table and the next stage reads THAT parquet, exactly how a
    multi-day production run checkpoints between stages so a failure
    rewinds one stage, not the whole pipeline. Per-stage lineage rows
    (stage, n_rows, wall_ms) land beside the extraction lineage.

    Chain: exact-dedup pre-collapse -> minhash signatures (over
    representatives only) -> LSH candidate pairs -> connected
    components -> canonical (deduped) docs table -> (optional)
    benchmark decontamination -> boilerplate scrub -> final
    quality-gated corpus.

    The exact stage (round-4 verdict item 2) maps every doc to the
    min-id representative of its md5(text) class, and every later
    stage sees only representatives. This keeps each stage O(distinct
    docs) — a viral 10^7-page mirror cluster collapses to ONE row
    before any shingle explodes — and provably changes nothing: an
    exact duplicate has the same text, hence the same shingles,
    signature and band keys as its representative, so every LSH link
    through a duplicate has a twin through its representative; the
    component of each exact class equals its representative's
    component; and the cluster-min doc is always its own md5-class min
    (anything below it in the class would also be below it in the
    cluster). Kept set identical; pytest-proved against the uncollapsed
    registry query (tests/test_curation_staged.py).

    Two ordering rules a production pipeline follows, both encoded
    here: (1) the boilerplate census runs over the DEDUPED corpus —
    against the raw corpus every near-dup cluster's shared units hit
    SCRUB_MIN_DF and the scrub guts the one canonical copy the dedup
    kept; (2) the quality gate runs over the SCRUBBED text (boilerplate
    must not count toward length/stopword floors). Decontamination
    checks the original canonical text (conservative: scrubbing can
    only split eval grams, never create them).

    Scale notes: sig/pairs/components reuse the registry operators'
    compute bodies (same banding, df caps, checkpointed CC rounds). Each
    stage's table is handed forward: later stages read the parquet this
    run wrote, reopened with the schema it was written with, so a run
    infers the schema of its input tables only. The final assembly joins
    the scrubbed table to the canonical table on doc_id (at deployment
    scale both stage tables are bucketed by doc_id so this join is
    co-located); kill-lists (dup drops, contaminated ids) anti-join
    against one scan, with the join strategy left to AQE: a broadcast
    while they are small, a shuffle join once they grow with the corpus.

    Resume (stage-granular twin of ``run_extraction``'s
    partition-granular resume): the lineage done-row is the stage's
    COMMIT MARKER — it is appended only after the stage table is fully
    written, so ``resume=True`` (requires ``lineage_dir``) skips any
    stage with a done-row and re-runs everything else with an
    overwrite. A kill mid-write leaves a partial table and no marker
    -> that stage reruns; a kill between write and marker reruns one
    completed write — idempotent either way. Markers alone are not
    trusted blindly: a LATER non-resume rerun into the same work_dir
    killed mid-overwrite leaves a corrupt stage table while the first
    run's marker still exists, so a skipped stage is VALIDATED against
    its marker (row count and schema from its footers, on the driver:
    count == the latest done-row's n_rows AND ``content_fingerprint``, a
    sum of whole-row hashes, == the ``fp`` that ``commit_stage`` observed
    while writing the table; a missing, unreadable or schema-less footer
    or a mismatch -> recompute), and any recompute CASCADES to every
    later stage. Markers from earlier versions hold a crc of the first
    column, never match, and so recompute their stage once (the safe
    direction). Engine-agnostic: no reliance on parquet ``_SUCCESS``
    files, so stage tables can move behind the Iceberg ``merge_by_key``
    seam unchanged."""
    from .operators.textops import (
        _cc_from_pairs,
        _decon_hits,
        _pairs_from_sig,
        _scrub_from_docs,
        _sig_from_docs,
        quality_gate,
    )
    from .operators.tables import load

    stats: dict = {"stages": {}, "work_dir": work_dir}

    # latest done-marker (row count + content fingerprint) per stage:
    # the skip path validates the on-disk table against BOTH (ADVICE
    # r3: marker keyed by stage name alone would trust a table a LATER
    # killed rerun corrupted; ADVICE r4: count-equality alone would
    # trust a same-cardinality table rewritten from different upstream
    # data). Ties on ts break on run_id so the winner is deterministic
    # under equal timestamps (ADVICE r4).
    done_stages: dict[str, tuple[int, int | None]] = {}
    if resume:
        if not lineage_dir:
            raise ValueError("resume=True requires lineage_dir")
        marks = sorted(
            (r for r in read_done(lineage_dir) or () if r["stage"].startswith("curate_")),
            key=lambda r: (r["ts"], r["run_id"] or ""),
        )
        done_stages = {
            r["stage"][len("curate_"):]: (r["n_rows"], r["fp"]) for r in marks
        }

    state = {"dirty": False}  # a recompute invalidates later stages
    # stage name -> its table, handed to every later stage: one this run
    # wrote is reopened with the schema it was written with (no schema
    # inference job), a skipped one is the table its validation opened
    tables: dict[str, DataFrame] = {}
    # opened on first use: a fully resumed run never touches its input
    documents = functools.cache(lambda: load(spark, docs_dir, "documents"))

    def stage(name: str, df_thunk, path: str) -> int:
        # df_thunk is a THUNK: several compute bodies run eager
        # localCheckpoint()/count() work at DataFrame-BUILD time, so a
        # resumed stage must not even construct its plan
        if name in done_stages and not state["dirty"]:
            want_n, want_fp = done_stages[name]
            try:
                schema, n = table_footers(path)
                tbl = spark.read.schema(schema).parquet(path)
                # marker fp NULL (pre-fingerprint lineage row) degrades
                # to count-only validation; otherwise one table scan
                ok = n == want_n and (
                    want_fp is None or content_fingerprint(tbl) == want_fp
                )
            except Exception:
                ok = False  # unreadable/missing table -> recompute
            if ok:
                tables[name] = tbl
                stats["stages"][name] = {"rows": n, "wall_ms": 0, "resumed": True}
                return n
            # stale marker (e.g. a later non-resume rerun SIGKILLed
            # mid-overwrite left a partial/divergent table): fall through
        state["dirty"] = True

        def write(df):
            df.write.mode("overwrite").parquet(path)
            tables[name] = spark.read.schema(df.schema).parquet(path)

        rows, wall_ms = commit_stage(
            f"curate_{name}", df_thunk, write,
            [0], lineage_dir=lineage_dir, run_id=run_id,
        )
        n = rows[0][1]
        stats["stages"][name] = {"rows": n, "wall_ms": wall_ms}
        return n

    # exact pre-collapse: (doc_id, representative) — shuffles only the
    # 32-char fp (text never travels). min-id per md5 class comes from
    # a groupBy (map-side partial agg, so a 10^7-page viral mirror's
    # hot fp combines BEFORE the shuffle) joined back on fp (a join AQE
    # can skew-split) — deliberately NOT a window min, which would sink
    # the whole megacluster into one unsplittable reducer partition
    def _exact():
        d = documents().select("doc_id", F.md5("text").alias("fp"))
        reps = d.groupBy("fp").agg(
            F.min("doc_id").alias("representative")
        )
        return d.join(reps, "fp").select("doc_id", "representative")

    stage("exact", _exact, f"{work_dir}/exact")

    def _reps():
        # representatives' documents: equi-join on doc_id (co-located
        # at deployment scale where both tables are bucketed by doc_id;
        # the rep set is O(distinct docs), so never broadcast)
        reps = (
            tables["exact"]
            .filter(F.col("doc_id") == F.col("representative"))
            .select("doc_id")
        )
        return documents().join(reps, "doc_id")

    stage("minhash_sig", lambda: _sig_from_docs(_reps()), f"{work_dir}/sig")
    stage(
        "lsh_pairs",
        lambda: _pairs_from_sig(tables["minhash_sig"]),
        f"{work_dir}/pairs",
    )
    stage(
        "components",
        lambda: _cc_from_pairs(tables["lsh_pairs"]),
        f"{work_dir}/components",
    )

    # canonical: the dedup payoff materialized as a full documents
    # table — exact representatives minus near-dup non-canonical reps
    # (the CC kill-list, anti-joined). One corpus scan; the stage dir
    # follows the <dir>/documents.parquet layout, so the registry
    # operators run over it unchanged.
    def _canonical():
        comp = tables["components"]
        dup_drops = comp.filter(
            F.col("doc_id") != F.col("component")
        ).select("doc_id")
        return _reps().join(dup_drops, "doc_id", "left_anti")

    stage("canonical", _canonical, f"{work_dir}/canonical/documents.parquet")
    if benchmark_dir is not None:

        def _contaminated():
            bench = load(spark, benchmark_dir, "documents")
            return (
                _decon_hits(tables["canonical"], bench)
                .select("doc_id")
                .distinct()
            )

        stage("decontaminate", _contaminated, f"{work_dir}/contaminated")
    stage(
        "scrub",
        lambda: _scrub_from_docs(tables["canonical"]),
        f"{work_dir}/scrubbed",
    )

    # final assembly: quality gate over scrubbed text, kill-lists
    # anti-joined against the one scan
    def _final():
        langs = tables["canonical"].select("doc_id", "lang")
        final = quality_gate(
            tables["scrub"].join(langs, "doc_id"),
            F.col("cleaned"), F.length("cleaned"),
        ).select("doc_id", "lang", "n_words", F.col("cleaned").alias("text"))
        if benchmark_dir is not None:
            final = final.join(tables["decontaminate"], "doc_id", "left_anti")
        return final

    n_final = stage("final_corpus", _final, f"{work_dir}/corpus")
    stats["n_corpus"] = n_final
    stats["total_wall_ms"] = sum(
        s["wall_ms"] for s in stats["stages"].values()
    )
    return stats
