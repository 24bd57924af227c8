"""Tuned SparkSession builder.

Single place for the engine's Spark configuration so tests, bench, and
the driver entry all run with the same scale-aware settings:

- AQE on (runtime coalescing + skew-join splitting, SURVEY.md P11)
- Arrow on, bounded batches (caps executor RSS when a batch holds
  multi-MB ``html`` payloads, SURVEY.md P8)
- shuffle partitions ~ cores for local mode (guide pitfall: the default
  200 over-parallelizes small local runs; a real cluster job would set
  this to ~2-3x total cores or rely on AQE coalescing)
- UTC session timezone (DuckDB-oracle comparability)
- codegen class cache sized to a job's working set, so a warm job
  compiles nothing: a curation job generates 130 distinct
  whole-stage classes, more than the default 100 entries, and an LRU
  smaller than a cyclic working set misses on every access (118
  recompiles per warm curation job). It is a static conf: a session
  that already exists keeps its own size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "win64_local_ocr_tool_spark",
    master: str | None = None,
    *,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 256,
    max_partition_bytes: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or (
        cpus if master.startswith("local") else 3 * cpus
    )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound Arrow batch size: one batch of mega-pages must fit in a
        # Python worker's memory (html can be 100s of KB per row).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Working set per job: 130 generated classes for the curation
        # chain, 25 for extraction, up to 76 for a streaming near-dup
        # drain. At ~15 KB an entry (6.5 KB source plus ~2.4 classes of
        # ~2.5 KB bytecode) 1,000 entries cost at most ~15 MB.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if max_partition_bytes is not None:
        # Match split granularity to task granularity: at 100 TB the
        # 128MB default yields ~800k tasks (plenty); local test corpora
        # are small-file, so shrink splits to keep all cores fed and
        # avoid straggler tails.
        b = b.config("spark.sql.files.maxPartitionBytes", str(max_partition_bytes))
        b = b.config("spark.sql.files.openCostInBytes", str(max_partition_bytes // 8))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
