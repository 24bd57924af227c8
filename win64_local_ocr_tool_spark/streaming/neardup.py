"""Streaming NEAR-dup dedup — the incremental-crawl twin of the batch
``dedup_canonical_docs`` route (r4 verdict item 5).

``streaming_dedup_exact`` covers byte-identical duplicates; a 10^12-doc
incremental crawl also needs near-dup dedup ON ARRIVAL. This module is
a ``foreachBatch`` LSH upsert over the same MinHash machinery the batch
route uses (same signatures via ``_sig_from_docs``, same banding via
``_bands_from_sig``, same bounded per-bucket pair rule via
``lshpairs``):

per epoch (one micro-batch of new documents):

1. band the batch; emit BOUNDED pairs among the batch's own bucket
   members (``bounded_bucket_pairs`` — cap/star discipline);
2. BRIDGE each touched bucket into its accumulated history with ONE
   edge: (batch-min member) <-> (bucket's stored representative) —
   O(touched buckets) rows, never a join against historical members;
3. update the bucket-representative state (one row per distinct
   (band, bkey): the min doc_id seen so far);
4. update connected components INCREMENTALLY: re-run min-label CC on
   the touched components only — new edges plus (member, old_component)
   star edges for every member of a touched component (the old label IS
   the component's min member, so the star is a real edge and the
   merged component keeps exact min-label semantics).

Epoch-split invariance (the property the test pins): within any bucket,
every epoch's members are connected among themselves (bounded pairs)
and to the representative-so-far (the bridge), so by induction the full
member set of every bucket is connected — exactly the per-bucket
connectivity the batch route produces (bounded-vs-uncapped CC equality
is already pytest-proved). Same connectivity -> same min-label
components -> the SAME kept set as batch ``dedup_canonical_docs``,
under ANY arrival order or epoch split. The edge LISTS differ from the
batch run's (only connectivity is invariant), which is why the state
stores components, not pairs.

State layout under ``work_dir`` (all writes are epoch-directory
overwrites — the idempotent-replay scheme every drain here uses; a
replayed epoch reads views filtered to epochs STRICTLY BELOW its own,
so its half-written outputs can never feed its own recompute):

- ``buckets/epoch=N``: (band, bkey, rep) contributions; the view takes
  min(rep) per bucket.
- ``edges/epoch=N``: the epoch's new pairs + bridges (kept for audit /
  full CC rebuild; the incremental path never re-reads old epochs).
- ``cc/epoch=N``: (doc_id, component) for every doc whose component was
  recomputed this epoch; the view takes the LATEST epoch's row per doc.

At deployment scale the three state tables move behind the Iceberg
``merge_by_key`` seam like every other stage table (buckets/cc are
upserts by key; edges is append-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.lshpairs import bounded_bucket_pairs
from ..operators.textops import _bands_from_sig, _sig_from_docs
from .stateful import DOCS_STREAM_SCHEMA

BUCKETS_SCHEMA = "band int, bkey string, rep long"
EDGES_SCHEMA = "doc_a long, doc_b long"
CC_SCHEMA = "doc_id long, component long"


def _epoch_view(
    spark: SparkSession,
    d: str,
    schema: str,
    below_epoch: int | None = None,
) -> DataFrame | None:
    """Union of ``epoch=K`` directories under ``d`` (None if none yet),
    with the epoch id as a column; ``below_epoch`` excludes K >=
    below_epoch — the replay guard (a re-run epoch must not read its
    own partial output)."""
    import os

    if not os.path.isdir(d):
        return None
    ep = []
    for name in os.listdir(d):
        if name.startswith("epoch="):
            k = int(name.split("=", 1)[1])
            if below_epoch is None or k < below_epoch:
                ep.append(k)
    if not ep:
        return None
    dfs = [
        spark.read.schema(schema)
        .parquet(f"{d}/epoch={k}")
        .withColumn("epoch", F.lit(k))
        for k in sorted(ep)
    ]
    out = dfs[0]
    for x in dfs[1:]:
        out = out.unionByName(x)
    return out


def _buckets_view(spark, work_dir, below_epoch=None) -> DataFrame | None:
    b = _epoch_view(spark, f"{work_dir}/buckets", BUCKETS_SCHEMA, below_epoch)
    if b is None:
        return None
    return b.groupBy("band", "bkey").agg(F.min("rep").alias("rep"))


def near_dedup_components(
    spark: SparkSession, work_dir: str, below_epoch: int | None = None
) -> DataFrame | None:
    """Current (doc_id, component) assignment: latest epoch's row per
    doc (the max_by-epoch pattern shared with latest_dedup)."""
    cc = _epoch_view(spark, f"{work_dir}/cc", CC_SCHEMA, below_epoch)
    if cc is None:
        return None
    return (
        cc.groupBy("doc_id")
        .agg(F.max_by("component", "epoch").alias("component"))
    )


def near_dedup_kept(docs: DataFrame, comps: DataFrame | None) -> DataFrame:
    """The kept (canonical) set: documents minus non-canonical near-dup
    members — the same anti-join as the batch ``dedup_canonical_docs``,
    with the join strategy left to AQE (the drop set grows with the
    stream)."""
    if comps is None:
        return docs.select("doc_id", "source")
    drops = comps.filter(F.col("doc_id") != F.col("component")).select(
        "doc_id"
    )
    return docs.join(drops, "doc_id", "left_anti").select(
        "doc_id", "source"
    )


def _near_dedup_upsert(batch: DataFrame, work_dir: str, epoch: int) -> None:
    """One epoch of the LSH upsert (module docstring steps 1-4)."""
    spark = batch.sparkSession
    sig = _sig_from_docs(batch.select("doc_id", "text"))
    bands_new = _bands_from_sig(sig).localCheckpoint()

    new_pairs = bounded_bucket_pairs(bands_new, "doc_id", "doc_a", "doc_b")
    new_mins = bands_new.groupBy("band", "bkey").agg(
        F.min("doc_id").alias("rep")
    ).localCheckpoint()

    old_buckets = _buckets_view(spark, work_dir, below_epoch=epoch)
    if old_buckets is not None:
        old = old_buckets.withColumnRenamed("rep", "old_rep")
        bridges = (
            new_mins.join(old, ["band", "bkey"])
            .select(
                F.least("rep", "old_rep").alias("doc_a"),
                F.greatest("rep", "old_rep").alias("doc_b"),
            )
            .filter(F.col("doc_a") != F.col("doc_b"))
            .distinct()
        )
        edges = new_pairs.unionByName(bridges)
    else:
        edges = new_pairs
    edges = edges.localCheckpoint()
    edges.write.mode("overwrite").parquet(f"{work_dir}/edges/epoch={epoch}")
    new_mins.write.mode("overwrite").parquet(
        f"{work_dir}/buckets/epoch={epoch}"
    )

    from ..operators.textops import _cc_from_pairs

    old_cc = near_dedup_components(spark, work_dir, below_epoch=epoch)
    if old_cc is not None:
        touched = (
            edges.select(F.col("doc_a").alias("doc_id"))
            .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        tcomps = (
            old_cc.join(touched, "doc_id").select("component").distinct()
        )
        members = old_cc.join(tcomps, "component")
        stars = members.filter(
            F.col("doc_id") != F.col("component")
        ).select(
            F.col("component").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        sub_edges = edges.unionByName(stars)
    else:
        sub_edges = edges
    labels = _cc_from_pairs(sub_edges)
    labels.write.mode("overwrite").parquet(f"{work_dir}/cc/epoch={epoch}")


def drain_dedup_near(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain available document files through the near-dup LSH upsert
    (availableNow trigger — one call per crawl increment, restartable
    from the checkpoint like every other drain here)."""
    stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(input_dir)

    def upsert(b: DataFrame, epoch_id: int) -> None:
        _near_dedup_upsert(b, work_dir, int(epoch_id))

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
