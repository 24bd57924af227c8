"""Job entry points (the analog of the reference's REST endpoints,
``routes.py:38-349`` -> spark-submit CLIs, SURVEY S12).

Commands: ``extract`` (byte-identical extraction, partition-granular
resume), ``curate-staged`` (training-corpus curation as checkpointed
stage tables with lineage commit markers + stage-granular --resume),
``pipeline`` (crawl -> extraction -> the same curation chain as one
job; curation reruns in full on --resume), ``stream`` (incremental
Structured-Streaming ingest), ``stream-neardup`` (incremental near-dup
dedup: the foreachBatch LSH upsert over arriving documents).

Usage (cluster):

    spark-submit --py-files dist/win64_local_ocr_tool_spark.zip \\
        -m win64_local_ocr_tool_spark.jobs extract \\
        --input  s3://bucket/documents/ \\
        --output s3://bucket/extracted/ \\
        --lineage s3://bucket/lineage/ --resume

Local smoke:

    python -m win64_local_ocr_tool_spark.jobs extract \\
        --synthetic 1000 --output /tmp/out --lineage /tmp/lineage
"""

from __future__ import annotations

import argparse
import json
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="win64_local_ocr_tool_spark.jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    ex = sub.add_parser("extract", help="run the extraction pipeline")
    ex.add_argument("--input", help="parquet/Iceberg path of documents table")
    ex.add_argument("--synthetic", type=int, default=None,
                    help="generate N synthetic docs instead of --input")
    ex.add_argument("--output", required=True)
    ex.add_argument("--lineage", default=None)
    ex.add_argument("--resume", action="store_true")
    ex.add_argument("--n-buckets", type=int, default=64)
    ex.add_argument("--mega-bytes", type=int, default=8 << 20,
                    help="route documents above this size to the "
                         "distributed chunk path (default 8 MiB, "
                         "matching run_extraction; 0 disables)")
    ex.add_argument("--chunk-blocks", type=int, default=200)
    ex.add_argument("--commit-batches", type=int, default=None,
                    help="write+log the bucket keyspace in K groups so a "
                         "killed job loses at most one group")
    ex.add_argument("--master", default=None)

    cs = sub.add_parser(
        "curate-staged",
        help="curation as staged jobs (sig -> pairs -> CC -> canonical "
             "-> decontaminate -> scrub -> corpus), each stage "
             "materialized with a lineage commit marker; --resume "
             "rewinds to the first uncommitted stage",
    )
    cs.add_argument("--input", required=True,
                    help="directory containing documents.parquet")
    cs.add_argument("--workdir", required=True,
                    help="stage tables land here; corpus at "
                         "<workdir>/corpus")
    cs.add_argument("--benchmark", default=None,
                    help="eval-suite documents dir to decontaminate "
                         "against")
    cs.add_argument("--lineage", default=None)
    cs.add_argument("--resume", action="store_true")
    cs.add_argument("--master", default=None)

    pl = sub.add_parser(
        "pipeline",
        help="full crawl-to-corpus chain: extract (lineage+resume) -> "
             "documents stage table -> curated training corpus",
    )
    pl.add_argument("--input", help="parquet/Iceberg path of raw pages")
    pl.add_argument("--synthetic", type=int, default=None,
                    help="generate N synthetic pages instead of --input")
    pl.add_argument("--workdir", required=True,
                    help="stage root: extracted/, lineage/, docs/, the "
                         "curation stage tables, corpus/")
    pl.add_argument("--benchmark", default=None,
                    help="directory holding the eval-suite "
                         "documents.parquet to decontaminate against "
                         "(omit = no decontamination gate)")
    pl.add_argument("--n-buckets", type=int, default=64)
    pl.add_argument("--resume", action="store_true")
    pl.add_argument("--master", default=None)

    st = sub.add_parser(
        "stream",
        help="drain newly-arrived document files incrementally "
             "(availableNow epochs; rerun to pick up later arrivals)",
    )
    st.add_argument("--input", required=True,
                    help="directory where documents parquet files land")
    st.add_argument("--output", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--lineage", default=None)
    st.add_argument("--max-files-per-trigger", type=int, default=None)
    st.add_argument("--master", default=None)

    nd = sub.add_parser(
        "stream-neardup",
        help="incremental NEAR-dup dedup over arriving document files "
             "(foreachBatch LSH upsert; kept set equals the batch "
             "dedup under any arrival split — rerun per increment)",
    )
    nd.add_argument("--input", required=True,
                    help="directory where documents parquet files land")
    nd.add_argument("--workdir", required=True,
                    help="bucket/edge/component state lands here")
    nd.add_argument("--checkpoint", required=True)
    nd.add_argument("--master", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from .corpus import corpus_df
    from .pipeline import run_extraction
    from .session import get_spark

    if args.cmd == "curate-staged":
        from .pipeline import run_curation_staged

        spark = get_spark("curate-staged-job", master=args.master)
        try:
            stats = run_curation_staged(
                spark,
                args.input,
                args.workdir,
                benchmark_dir=args.benchmark,
                lineage_dir=args.lineage,
                resume=args.resume,
            )
            print(json.dumps(stats))
            return 0
        finally:
            spark.stop()

    if args.cmd == "pipeline":
        from .pipeline import run_crawl_to_corpus

        spark = get_spark("pipeline-job", master=args.master)
        try:
            if args.synthetic is not None:
                docs = corpus_df(spark, args.synthetic)
            elif args.input:
                docs = spark.read.parquet(args.input)
            else:
                print("need --input or --synthetic", file=sys.stderr)
                return 2
            stats = run_crawl_to_corpus(
                spark,
                docs,
                args.workdir,
                n_buckets=args.n_buckets,
                resume=args.resume,
                benchmark_dir=args.benchmark,
            )
            print(json.dumps(stats))
            return 0
        finally:
            spark.stop()

    if args.cmd == "stream":
        from .session import get_spark as _get_spark
        from .streaming.incremental import (
            incremental_extraction,
            read_stream_output,
        )

        spark = _get_spark("stream-job", master=args.master)
        try:
            incremental_extraction(
                spark,
                args.input,
                args.output,
                args.checkpoint,
                lineage_dir=args.lineage,
                max_files_per_trigger=args.max_files_per_trigger,
            )
            n = read_stream_output(spark, args.output).count()
            print(json.dumps({"out_dir": args.output, "total_rows": n}))
            return 0
        finally:
            spark.stop()

    if args.cmd == "stream-neardup":
        from pyspark.sql import functions as F

        from .streaming.neardup import (
            drain_dedup_near,
            near_dedup_components,
        )

        spark = get_spark("stream-neardup-job", master=args.master)
        try:
            drain_dedup_near(
                spark, args.input, args.workdir, args.checkpoint
            )
            comps = near_dedup_components(spark, args.workdir)
            n_drop = (
                0
                if comps is None
                else comps.filter(
                    F.col("doc_id") != F.col("component")
                ).count()
            )
            print(
                json.dumps(
                    {"work_dir": args.workdir, "n_near_dup_drops": n_drop}
                )
            )
            return 0
        finally:
            spark.stop()

    spark = get_spark("extract-job", master=args.master)
    try:
        if args.synthetic is not None:
            docs = corpus_df(spark, args.synthetic)
        elif args.input:
            docs = spark.read.parquet(args.input)
        else:
            print("need --input or --synthetic", file=sys.stderr)
            return 2
        stats = run_extraction(
            spark,
            docs,
            out_dir=args.output,
            lineage_dir=args.lineage,
            resume=args.resume,
            n_buckets=args.n_buckets,
            mega_bytes=args.mega_bytes or None,
            chunk_blocks=args.chunk_blocks,
            commit_batches=args.commit_batches,
        )
        print(json.dumps(stats))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
