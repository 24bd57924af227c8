"""The benchmark's workloads and its traced layer sweep.

Each workload is a closed loop: one Python process submits one job at a
time and the next only after the previous one returned. A run first
stops a fresh job at a fixed commit point and times its resume in the
still-cold process, as a restart after a crash would run; that pair is
the warm-up, reported with session start as ``setup_s``. It then repeats
the fresh job until ``--seconds`` have passed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow.parquet as pq

from win64_local_ocr_tool_spark import pipeline

from perfbench import checks, measure

CURATE_STAGES = (
    "exact", "minhash_sig", "lsh_pairs", "components", "canonical",
    "decontaminate", "scrub", "final_corpus",
)
# stage tables under a curation work dir, in CURATE_STAGES order
CURATE_TABLES = (
    "exact", "sig", "pairs", "components", "canonical/documents.parquet",
    "contaminated", "scrubbed", "corpus",
)


@dataclass(frozen=True)
class Size:
    crawl_docs: int  # pages per extraction job
    buckets: int  # run_extraction n_buckets
    groups: int  # run_extraction commit_batches
    stop_groups: int  # commit groups done before the stopped job stops
    curate_docs: int  # documents per curation job
    stop_stage: int  # curation stages committed before the stopped job stops
    stream_docs: int  # documents over all stream increments
    increments: int  # stream increments
    kernel_docs: int  # pages in the in-process kernel sample (the first ids)


SIZES = {
    "full": Size(
        crawl_docs=16000, buckets=16, groups=2, stop_groups=1,
        curate_docs=2000, stop_stage=4, stream_docs=800, increments=4,
        kernel_docs=1000,
    ),
    # self-test size: every code path, seconds per workload; 1,000
    # documents hold one eval-suite quote (doc 997)
    "toy": Size(
        crawl_docs=240, buckets=4, groups=2, stop_groups=1,
        curate_docs=1000, stop_stage=4, stream_docs=160, increments=2,
        kernel_docs=20,
    ),
}


class Stopped(Exception):
    """Raised by ``stop_after_commits`` at the fixed commit point."""


@contextmanager
def stop_after_commits(n: int):
    """Make ``pipeline.append_lineage`` raise ``Stopped`` right after its
    n-th append, so a job stops at a fixed commit point as a killed job
    would: the n-th commit group (or curation stage) is durable, nothing
    after it is."""
    real = pipeline.append_lineage
    seen = 0

    def append_then_stop(*args, **kwargs):
        nonlocal seen
        real(*args, **kwargs)
        seen += 1
        if seen == n:
            raise Stopped

    pipeline.append_lineage = append_then_stop
    try:
        yield
    finally:
        pipeline.append_lineage = real


def stopped_job(n: int, job) -> bool:
    """Run ``job()`` until it stops after its n-th commit."""
    with stop_after_commits(n):
        try:
            job()
        except Stopped:
            return True
    raise RuntimeError("the job ended before its stop point")


class Run:
    """State of one benchmark run: the session, the scratch dir, the
    operation counters, the tracer and the metrics found so far."""

    def __init__(self, spark, work: str, size: Size, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.size = size
        self.seconds = seconds
        self.tracer = tracer
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, name: str, fn, check=None):
        """Run one operation as span ``name``; return (result, wall s).
        An exception or a non-empty problem list from ``check(result)``
        counts the operation as failed and returns (None, wall)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                res = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None, time.perf_counter() - t0
        wall = time.perf_counter() - t0
        print(f"perfbench: {name} {wall:.3f}s", file=sys.stderr)
        problems = check(res) if check else []
        if problems:
            print(f"{name}: check failed: {problems[:5]}", file=sys.stderr)
            self.failed += 1
            return None, wall
        return res, wall

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)


def _rm(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def _timed_loop(run: Run, name: str, job) -> tuple[list[float], float]:
    """Repeat ``job(k)`` until ``run.seconds`` have passed; the last job
    starts inside the window and runs to its end. Returns (wall of each
    successful job, tree CPU s over the loop)."""
    walls: list[float] = []
    cpu0 = measure.tree_cpu_s()
    t_end = time.perf_counter() + run.seconds
    k = 0
    while k == 0 or time.perf_counter() < t_end:
        res, wall = job(k)
        if res is not None:
            walls.append(wall)
        k += 1
    if not walls:
        raise RuntimeError(f"every timed {name} job failed")
    return walls, measure.tree_cpu_s() - cpu0


def _throughput(run: Run, n_docs: int, walls: list[float], cpu_s: float, n_jobs: int) -> None:
    run.put("docs_per_s", statistics.median(n_docs / w for w in walls), "docs/s")
    run.put("cpu_s_per_kdoc", cpu_s / (n_docs * n_jobs / 1000), "s/kdoc")


# ------------------------------------------------------------ crawl_extract


class Crawl:
    """raw pages -> extracted table through ``pipeline.run_extraction``,
    with lineage and commit groups on."""

    def __init__(self, run: Run, pages_dir: str, meta: dict):
        self.run = run
        self.n = meta["n"]
        self.golden = meta["golden"]
        self.docs = run.spark.read.parquet(pages_dir)
        self.resume_stats: dict | None = None

    def job(self, out: str, lin: str, resume: bool = False):
        s = self.run.size
        return pipeline.run_extraction(
            self.run.spark, self.docs, out_dir=out, lineage_dir=lin, n_buckets=s.buckets,
            commit_batches=s.groups, resume=resume,
        )

    def problems(self, out: str) -> list[str]:
        n, digest = checks.extracted_checksum(out)
        if (n, digest) != (self.n, self.golden):
            return [f"{out}: {n} rows, checksum {digest} != golden {self.golden}"]
        return []

    def warm_up(self) -> None:
        self.resume_stats = self.stop_and_resume()

    def timed(self) -> None:
        run = self.run
        outs: list[str] = []

        def one(k):
            out, lin = run.path(f"job{k}", "out"), run.path(f"job{k}", "lin")
            outs.append(out)
            return run.op("pipeline.run_extraction", lambda: self.job(out, lin))

        walls, cpu_s = _timed_loop(run, "crawl_extract", one)
        _throughput(run, self.n, walls, cpu_s, len(outs))
        for out in outs:  # output checks, outside the timed window
            run.op("check.extracted", lambda: out, self.problems)
            _rm(os.path.dirname(out))

    def stop_and_resume(self) -> dict | None:
        """Stop a fresh job after ``stop_groups`` commit groups, then time
        the resumed job; the resumed output must equal the golden
        extractor's output, and exactly the committed buckets must be
        pruned (more would mean the stop overshot)."""
        run, s = self.run, self.run.size
        out, lin = run.path("resume", "out"), run.path("resume", "lin")

        run.op(
            "pipeline.stopped_extraction",
            lambda: stopped_job(s.stop_groups, lambda: self.job(out, lin)),
        )
        step = -(-s.buckets // s.groups)
        want = min(s.buckets, s.stop_groups * step)

        def check(stats):
            bad = self.problems(out)
            if stats["pruned_partitions"] != want:
                bad.append(f"pruned {stats['pruned_partitions']} != {want}")
            return bad

        stats, wall = run.op(
            "pipeline.resumed_extraction",
            lambda: self.job(out, lin, resume=True),
            check,
        )
        run.put("resume_s", wall, "s")
        _rm(run.path("resume"))
        return stats


# ------------------------------------------------------------ curate_staged


class Curate:
    """documents -> final corpus through ``pipeline.run_curation_staged``,
    with an eval suite so ``decontaminate`` runs."""

    def __init__(self, run: Run, cdir: str, meta: dict):
        self.run = run
        self.docs_dir = os.path.join(cdir, "docs")
        self.eval_dir = os.path.join(cdir, "eval")
        self.n = meta["n"]
        self.plan = meta
        self.reference: dict[int, str] | None = None

    def job(self, work: str, resume: bool = False) -> dict:
        return pipeline.run_curation_staged(
            self.run.spark, self.docs_dir, work, benchmark_dir=self.eval_dir,
            lineage_dir=os.path.join(work, "lineage"), resume=resume,
        )

    def problems(self, work: str) -> list[str]:
        kept = checks.corpus_rows(os.path.join(work, "corpus"))
        bad = checks.planted_violations(kept, self.n, self.plan)
        if self.reference is not None and kept != self.reference:
            bad.append(f"{work}: corpus differs from the resumed job's")
        return bad

    def warm_up(self) -> None:
        self.stop_and_resume()

    def timed(self) -> None:
        run = self.run
        works: list[str] = []

        def one(k):
            work = run.path(f"job{k}")
            works.append(work)
            return run.op("pipeline.run_curation_staged", lambda: self.job(work))

        walls, cpu_s = _timed_loop(run, "curate_staged", one)
        _throughput(run, self.n, walls, cpu_s, len(works))
        for work in works:
            run.op("check.corpus", lambda: work, self.problems)
            _rm(work)

    def stop_and_resume(self) -> None:
        """Stop a fresh job after ``stop_stage`` stage commits, then time
        the resumed job: the committed stages must be skipped (and
        validated) and every later one recomputed. Its corpus, checked
        against the planted structure, becomes the reference every
        fresh job's corpus must equal as well."""
        run, k = self.run, self.run.size.stop_stage
        work = run.path("resume")

        run.op(
            "pipeline.stopped_curation", lambda: stopped_job(k, lambda: self.job(work))
        )

        def check(stats):
            bad = self.problems(work)
            resumed = [
                s for s in CURATE_STAGES if stats["stages"][s].get("resumed")
            ]
            if resumed != list(CURATE_STAGES[:k]):
                bad.append(f"resumed stages {resumed}")
            return bad

        res, wall = run.op(
            "pipeline.resumed_curation", lambda: self.job(work, resume=True), check
        )
        run.put("resume_s", wall, "s")
        if res is not None:
            self.reference = checks.corpus_rows(os.path.join(work, "corpus"))
        _rm(work)


# ------------------------------------------------------- traced layer sweep


def kernel_layers(run: Run, pages_dir: str) -> None:
    """In-process kernel split over a fixed sample of the pages: each
    public call ``assemble.extract_document`` makes, timed one stage at
    a time over the whole sample, against ``extract_document`` itself.
    ``tokenize_payload`` does the dispatch, so its time includes the PDF
    parser and the charset-recovery fallback."""
    from win64_local_ocr_tool_spark.kernels.assemble import (
        extract_document, spans_from_flags, tokenize_payload,
    )
    from win64_local_ocr_tool_spark.kernels.classify import classify_blocks
    from win64_local_ocr_tool_spark.kernels.ingest import maybe_decompress
    from win64_local_ocr_tool_spark.kernels.langid import detect_lang

    sample: list[bytes] = []
    for part in sorted(os.listdir(pages_dir)):
        if len(sample) >= run.size.kernel_docs:
            break
        sample += pq.read_table(os.path.join(pages_dir, part), columns=["html"]).column("html").to_pylist()
    # the first ids hold every payload kind of corpus.gen_row at its
    # corpus rate (one mega page per 997 ids)
    sample = sample[: run.size.kernel_docs]

    def timed(fn, items) -> tuple[list, float]:
        t0 = time.perf_counter()
        out = [fn(x) for x in items]
        return out, time.perf_counter() - t0

    passes, whole = [], []
    for _ in range(3):
        with run.tracer.span("kernels.pass"):
            whole.append(timed(extract_document, sample)[1])
            t = {}
            payloads, t["ingest"] = timed(lambda p: maybe_decompress(p)[0], sample)
            tokens, t["tokenize"] = timed(tokenize_payload, payloads)
            html = [blocks for kind, blocks in tokens if kind == "html"]
            flags, t["classify"] = timed(classify_blocks, html)
            html_flags = iter(flags)
            flagged = [
                # PDF lines are content by construction, as in extract_document
                (blocks, next(html_flags) if kind == "html" else [True] * len(blocks))
                for kind, blocks in tokens
                if kind != "error"
            ]
            texts, t["assemble"] = timed(lambda bf: spans_from_flags(*bf)[0], flagged)
            _, t["langid"] = timed(detect_lang, texts)
        passes.append(t)
    n = len(sample)
    for name in passes[0]:
        run.put(f"kernels.{name}_us", statistics.median(p[name] for p in passes) / n * 1e6, "us")
    w = statistics.median(whole)
    run.put("kernels.docs_per_s_core", n / w, "docs/s")
    run.put("kernels.coverage", statistics.median(sum(p.values()) for p in passes) / w, "ratio")


def extraction_layers(crawl: Crawl, reps: int) -> list[tuple[float, float]]:
    """scan -> noop, extract_all -> noop, merge_by_key of the extracted
    frame, then the full ``run_extraction``; each ``reps`` times, after
    the stop/resume pair (run here unless the warm-up ran it). Returns
    the wall-clock windows of the full jobs."""
    from pyspark.sql import functions as F

    from win64_local_ocr_tool_spark.lineage import done_keys, with_partition_key
    from win64_local_ocr_tool_spark.operators.extract import extract_all
    from win64_local_ocr_tool_spark.staged import merge_by_key

    run, s = crawl.run, crawl.run.size
    if crawl.resume_stats is None:
        crawl.warm_up()
    keyed = with_partition_key(crawl.docs, s.buckets)

    def extracted():
        # the frame run_extraction writes, as one commit group
        ext = extract_all(keyed.select("partition_key", "url", "html"), mega_bytes=8 << 20)
        return with_partition_key(ext, s.buckets)

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    windows = []
    for k in range(reps):
        run.op("extract.scan", lambda: noop(crawl.docs))
        run.op("extract.map", lambda: noop(extracted()))
        out = run.path("layers", f"merge{k}")
        run.op("staged.merge_by_key", lambda: merge_by_key(extracted(), out))
        files, mb = measure.dir_stats(out)
        out, lin = run.path("layers", f"out{k}"), run.path("layers", f"lin{k}")
        t0 = time.time()
        run.op("pipeline.run_extraction", lambda: crawl.job(out, lin), lambda _s: crawl.problems(out))
        windows.append((t0, time.time()))
    med = run.tracer.median_self
    scan, mapped = med("extract.scan"), med("extract.map")
    write = med("staged.merge_by_key") - mapped
    run.put("extract.scan_s", scan, "s")
    run.put("extract.map_s", mapped, "s")
    kernel_s = crawl.n / run.metrics["kernels.docs_per_s_core"][0] / run.cores
    run.put("extract.udf_overhead_s", mapped - scan - kernel_s, "s")
    run.put("write.s", write, "s")
    run.put("write.files", files, "count")
    run.put("write.mb", mb, "MB")
    run.put("commit.s", med("pipeline.run_extraction") - mapped - write, "s")
    run.put("lineage.rows", pq.read_table(lin).num_rows, "count")
    for _ in range(reps):
        run.op(
            "lineage.done_keys",
            lambda: done_keys(run.spark, lin, pipeline.STAGE_EXTRACT).agg(F.count("*")).collect(),
        )
    run.put("lineage.done_keys_s", med("lineage.done_keys"), "s")
    stats = crawl.resume_stats
    if stats is not None:
        run.put("resume.pruned_share", stats["pruned_partitions"] / s.buckets, "ratio")
    _rm(run.path("layers"))
    return windows


def curation_layers(curate: Curate, reps: int) -> list[tuple[float, float]]:
    """Per-stage wall and rows from the stats of ``reps`` jobs (the median
    per stage), plus fingerprint validation of each stage table. Returns
    the wall-clock windows of the jobs."""
    from win64_local_ocr_tool_spark.lineage import content_fingerprint

    run = curate.run
    windows, stats = [], []
    for k in range(reps):
        work = run.path(f"layers{k}")
        t0 = time.time()
        res, _ = run.op(
            "pipeline.run_curation_staged", lambda: curate.job(work),
            lambda _s: curate.problems(work),
        )
        windows.append((t0, time.time()))
        if res is not None:
            stats.append(res)
    for name in CURATE_STAGES:
        run.put(
            f"curate.{name}_s",
            statistics.median(st["stages"][name]["wall_ms"] for st in stats) / 1000, "s",
        )
        run.put(f"curate.{name}_rows", stats[-1]["stages"][name]["rows"], "count")
    for table in CURATE_TABLES:
        path = os.path.join(run.path(f"layers{reps - 1}"), table)
        run.op("lineage.content_fingerprint", lambda: content_fingerprint(run.spark.read.parquet(path)))
    run.put("curate.validate_s", sum(run.tracer.self_times()["lineage.content_fingerprint"]), "s")
    run.put("curate.kept_share", stats[-1]["n_corpus"] / curate.n, "ratio")
    _rm(*(run.path(f"layers{k}") for k in range(reps)))
    return windows


def stream_layers(run: Run, sdir: str, meta: dict) -> None:
    """Land the increments one at a time and drain each through
    ``drain_dedup_near``; after each, count the current components view.
    The final kept set must equal the batch ``dedup_canonical_docs``."""
    from win64_local_ocr_tool_spark.operators.registry import QUERIES
    from win64_local_ocr_tool_spark.streaming.neardup import (
        drain_dedup_near, near_dedup_components, near_dedup_kept,
    )

    spark = run.spark
    land, work, ckpt = run.path("stream", "in"), run.path("stream", "work"), run.path("stream", "ckpt")
    os.makedirs(land)
    for k in range(meta["increments"]):
        shutil.copy(os.path.join(sdir, "inc", f"e{k:03d}.parquet"), land)
        run.op("streaming.drain_dedup_near", lambda: drain_dedup_near(spark, land, work, ckpt))
        run.op("streaming.components_view", lambda: near_dedup_components(spark, work).count())
    docs = spark.read.parquet(os.path.join(sdir, "all", "documents.parquet"))
    all_dir = os.path.join(sdir, "all")

    def compare():
        kept = {r["doc_id"] for r in near_dedup_kept(docs, near_dedup_components(spark, work)).collect()}
        want = {r["doc_id"] for r in QUERIES["dedup_canonical_docs"](spark, all_dir).collect()}
        return kept, want

    run.op("check.stream_vs_batch", compare, lambda kw: [] if kw[0] == kw[1] else ["stream kept set != batch kept set"])
    st = run.tracer.self_times()
    drains, views = st["streaming.drain_dedup_near"], st["streaming.components_view"]
    late = drains[len(drains) - max(1, len(drains) // 3):]
    run.put("stream.drain_s", statistics.median(drains), "s")
    run.put("stream.late_epoch_s", statistics.median(late), "s")
    run.put("stream.view_first_s", views[0], "s")
    run.put("stream.view_last_s", views[-1], "s")
    run.put(
        "stream.state_dirs",
        sum(
            name.startswith("epoch=")
            for sub in ("buckets", "cc")
            for name in os.listdir(os.path.join(work, sub))
        ),
        "count",
    )
    run.put("stream.state_mb", measure.dir_stats(work)[1], "MB")
    _rm(run.path("stream"))
