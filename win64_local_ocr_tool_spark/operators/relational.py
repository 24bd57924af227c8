"""Relational operator set (SURVEY.md §2 F/J/A/W/O/U families).

Each operator the reference computes imperatively is restated as a
declarative DataFrame plan (Catalyst handles pushdown/pruning/join
selection) with a DuckDB oracle for the driver's correctness gate.
Reference citations sit on each query.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from .registry import query
from .tables import load

# ---------------------------------------------------------------------------
# A-family: aggregations
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H-Q1-shaped grouped aggregation — the A1/A8 running-stats
    analog (reference mean-y per component, segment_graph.py:291-295)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "a2_group_extents",
    """
    SELECT l_returnflag,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price,
           min(l_shipdate)                AS first_ship,
           max(l_shipdate)                AS last_ship
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a2_group_extents(spark, sf_dir):
    """Min/max extents per group (reference: per-line bounding extents,
    segment_from_point_clusters.py:268-271)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
    )


@query(
    "a3_exact_median",
    """
    SELECT l_returnflag, median(l_quantity) AS med_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a3_exact_median(spark, sf_dir):
    """Exact median (reference: median background pixel,
    segment_from_point_clusters.py:278,321)."""
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.median("l_quantity").alias("med_qty"))
    )


@query(
    "a4_percentile",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.8), 4) AS p80_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def a4_percentile(spark, sf_dir):
    """Interpolated p80 (reference: p80 of inter-peak gaps = max line
    height, segment_old_method.py:19)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.round(F.percentile("o_totalprice", 0.8), 4).alias("p80_price"))
    )


@query(
    "a6_majority_vote",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type
    ), r AS (
      SELECT user_id, event_type, cnt,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY cnt DESC, event_type) AS rn
      FROM c
    )
    SELECT user_id, event_type AS majority_type, cnt AS votes
    FROM r WHERE rn = 1
    """,
)
def a6_majority_vote(spark, sf_dir):
    """Count-by-label + argmax with deterministic tie-break (reference:
    DBSCAN majority cluster, LayoutGraphGenerator.js:78-104)."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    w = W.partitionBy("user_id").orderBy(F.col("cnt").desc(), F.col("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("majority_type"),
            F.col("cnt").alias("votes"),
        )
    )


@query(
    "a7_distinct_labels",
    """
    SELECT DISTINCT lang, source FROM documents
    """,
)
def a7_distinct_labels(spark, sf_dir):
    """Distinct label set (reference: set(labels),
    segment_from_point_clusters.py:368)."""
    return load(spark, sf_dir, "documents").select("lang", "source").distinct()


@query(
    "a9_norm_edit_distance",
    """
    SELECT lang,
           round(avg(1.0 - levenshtein(substr(text, 1, 40), substr(text, 11, 40))
                 / greatest(length(substr(text, 1, 40)),
                            length(substr(text, 11, 40)))), 4) AS avg_norm_sim
    FROM documents GROUP BY lang
    """,
)
def a9_norm_edit_distance(spark, sf_dir):
    """ICDAR2019 normalized edit distance as an aggregate — built-in
    levenshtein (reference formula: finetune/test.py:93-99; JS DP impl
    annotationStore.js:141-162)."""
    d = load(spark, sf_dir, "documents")
    a = F.substring("text", 1, 40)
    b = F.substring("text", 11, 40)
    sim = 1.0 - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b))
    return d.groupBy("lang").agg(F.round(F.avg(sim), 4).alias("avg_norm_sim"))


@query(
    "a10_rollup",
    """
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY ROLLUP (lang, source)
    """,
)
def a10_rollup(spark, sf_dir):
    """Rollup for metrics reporting (SURVEY A10: built-in, no custom)."""
    return (
        load(spark, sf_dir, "documents")
        .rollup("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


# ---------------------------------------------------------------------------
# F-family: filters / projections
# ---------------------------------------------------------------------------


@query(
    "f1_threshold_filter",
    """
    SELECT event_id, user_id, round(value, 4) AS value
    FROM events WHERE value > 75.0 AND event_type = 'click'
    """,
)
def f1_threshold_filter(spark, sf_dir):
    """Peak-threshold predicate + projection (reference:
    norm == local_max AND norm > 0.3, segment_graph.py:43-44). Both
    predicate and the 3-column projection push into the parquet scan."""
    return (
        load(spark, sf_dir, "events")
        .filter((F.col("value") > 75.0) & (F.col("event_type") == "click"))
        .select("event_id", "user_id", F.round("value", 4).alias("value"))
    )


@query(
    "f5_regex_filter_scrub",
    """
    SELECT doc_id, regexp_replace(text, '[aeiou]', '', 'g') AS scrubbed
    FROM documents WHERE regexp_matches(text, 'spark .* join')
    """,
)
def f5_regex_filter_scrub(spark, sf_dir):
    """Charset regex filter + scrub (reference: charset filter/scrub,
    recognition/dataset.py:171-177,216-217)."""
    d = load(spark, sf_dir, "documents")
    return d.filter(F.col("text").rlike("spark .* join")).select(
        "doc_id", F.regexp_replace("text", "[aeiou]", "").alias("scrubbed")
    )


@query(
    "f7_skew_split",
    """
    SELECT doc_id,
           unnest(generate_series(0, CAST(ceil(n_chars / 120.0) AS BIGINT) - 1))
             AS chunk_id,
           CAST(ceil(n_chars / 120.0) AS BIGINT) AS n_chunks
    FROM documents WHERE n_chars > 240
    """,
)
def f7_skew_split(spark, sf_dir):
    """Tall-box split: oversized units explode into ceil(size/max) chunks
    (reference: segment_old_method.py:23-37) — the mega-page skew
    splitting primitive."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 240)
    n_chunks = F.ceil(F.col("n_chars") / 120.0).cast("long")
    return d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
        n_chunks.alias("n_chunks"),
    )


# ---------------------------------------------------------------------------
# J-family: joins
# ---------------------------------------------------------------------------


@query(
    "j1_range_join",
    """
    WITH buckets AS (
      SELECT unnest(generate_series(0, 9)) AS bucket_id
    ), b AS (
      SELECT bucket_id, bucket_id * 10.0 AS lo, (bucket_id + 1) * 10.0 AS hi
      FROM buckets
    )
    SELECT b.bucket_id, count(*) AS n_events, round(sum(e.value), 2) AS sum_value
    FROM events e JOIN b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.bucket_id
    """,
)
def j1_range_join(spark, sf_dir):
    """Point-in-interval theta join (reference: point-in-box gather,
    segment_from_point_clusters.py:64-69). Physical plan: broadcast
    nested-loop — correct for a small bounded dim side, exactly the
    SURVEY §4 prescription."""
    ev = load(spark, sf_dir, "events")
    b = (
        spark.range(0, 10)
        .select(
            F.col("id").cast("int").alias("bucket_id"),
            (F.col("id") * 10.0).alias("lo"),
            ((F.col("id") + 1) * 10.0).alias("hi"),
        )
    )
    return (
        ev.join(
            F.broadcast(b),
            (ev["value"] >= b["lo"]) & (ev["value"] < b["hi"]),
        )
        .groupBy("bucket_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "j3_composite_equi_join",
    """
    SELECT r_name, n_name, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def j3_composite_equi_join(spark, sf_dir):
    """Multi-table equi-join + agg (reference: annotations ⋈ recognitions
    on (manuscript,page,line), annotationStore.js:164-195). Dim tables
    broadcast; fact side never shuffles twice."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "j5_resume_anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def j5_resume_anti_join(spark, sf_dir):
    """Left-anti join — THE resume primitive (all-partitions EXCEPT
    done-partitions, SURVEY J5/U5)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "j5_semi_join",
    """
    SELECT c_custkey, c_acctbal FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 400000
    )
    """,
)
def j5_semi_join(spark, sf_dir):
    """Left-semi join (EXISTS)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_acctbal"
    )


@query(
    "lineage_stragglers",
    """
    WITH lin AS (
      SELECT o_orderpriority AS stage,
             CAST(o_orderkey % 64 AS INTEGER) AS partition_key,
             count(*) AS n_rows,
             CAST(sum(o_orderkey) % 100000 AS BIGINT) AS wall_ms
      FROM orders GROUP BY 1, 2
    ),
    st AS (
      SELECT stage,
             list_sort(list(n_rows))[CAST(ceil(0.5 * count(*)) AS INT)]
               AS p50_rows,
             list_sort(list(n_rows))[CAST(ceil(0.99 * count(*)) AS INT)]
               AS p99_rows
      FROM lin GROUP BY stage
    ),
    r AS (
      SELECT lin.*,
             row_number() OVER (PARTITION BY stage
                                ORDER BY n_rows DESC, partition_key) AS rnk
      FROM lin
    )
    SELECT r.stage, r.partition_key, r.n_rows, r.wall_ms,
           CAST(r.rnk AS INTEGER) AS rnk, st.p50_rows, st.p99_rows,
           r.n_rows * 1000 // greatest(st.p50_rows, 1) AS skew_x1000
    FROM r JOIN st USING (stage) WHERE r.rnk <= 5
    """,
)
def lineage_stragglers(spark, sf_dir):
    """The straggler report (lineage.straggler_report) oracled over a
    DETERMINISTIC lineage-shaped table derived from ``orders`` (stage =
    order priority, partition_key = orderkey mod 64, n_rows = group
    count) — the same trick every lineage-family oracle uses, since the
    driver's fixed views carry no real checkpoint table. The Spark side
    builds the synthetic table and runs the ACTUAL report body; a
    pytest plants a fat partition in a REAL lineage dir and asserts the
    report surfaces it (tests/test_resume.py)."""
    from ..lineage import straggler_report

    lin = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("stage"),
            F.pmod(F.col("o_orderkey"), F.lit(64))
            .cast("int")
            .alias("partition_key"),
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.pmod(F.sum("o_orderkey"), F.lit(100000))
            .cast("long")
            .alias("wall_ms"),
        )
        .withColumn("status", F.lit("done"))
        .withColumn("ts", F.lit("2026-01-01").cast("timestamp"))
    )
    return straggler_report(lin, top_k=5)


# ---------------------------------------------------------------------------
# W-family: windows
# ---------------------------------------------------------------------------


@query(
    "w1_reading_order_rank",
    """
    WITH s AS (
      SELECT n_regionkey, n_nationkey, n_name,
             (SELECT round(avg(c_acctbal), 4) FROM customer
              WHERE c_nationkey = n_nationkey) AS avg_bal
      FROM nation
    )
    SELECT n_regionkey, n_name, avg_bal,
           dense_rank() OVER (PARTITION BY n_regionkey
                              ORDER BY avg_bal DESC, n_name) AS rank_in_region
    FROM s
    """,
)
def w1_reading_order_rank(spark, sf_dir):
    """Rank groups by their aggregate, relabel sequentially (reference:
    components sorted by mean y -> sequential line labels,
    segment_graph.py:297-307)."""
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    s = (
        n.join(c, n["n_nationkey"] == c["c_nationkey"], "left")
        .groupBy("n_regionkey", "n_nationkey", "n_name")
        .agg(F.round(F.avg("c_acctbal"), 4).alias("avg_bal"))
    )
    w = W.partitionBy("n_regionkey").orderBy(F.col("avg_bal").desc(), "n_name")
    return s.select(
        "n_regionkey", "n_name", "avg_bal", F.dense_rank().over(w).alias("rank_in_region")
    )


@query(
    "w2_stable_row_number",
    """
    SELECT o_custkey, o_orderkey,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS seq
    FROM orders
    """,
)
def w2_stable_row_number(spark, sf_dir):
    """Stable 1-based numbering within a partition (reference: line%03d,
    segment_from_point_clusters.py:375-376; SURVEY W2 + O4 — the
    explicit orderBy inside the window IS the sort-within-box prep)."""
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.row_number().over(w).alias("seq")
    )


@query(
    "w3_lag_boundary",
    """
    WITH x AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT user_id,
           CAST(sum(CASE WHEN prev_type IS NOT NULL AND event_type <> prev_type
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries
    FROM x GROUP BY user_id
    """,
)
def w3_lag_boundary(spark, sf_dir):
    """Lag-based boundary detection (reference: label-change midpoint
    split, segment_from_point_clusters.py:82-95; SURVEY W3)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return x.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("prev_type").isNotNull()
                & (F.col("event_type") != F.col("prev_type")),
                1,
            ).otherwise(0)
        ).alias("n_boundaries")
    )


@query(
    "w4_successive_gap",
    """
    WITH g AS (
      SELECT user_id,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) AS gap_s
      FROM events
    )
    SELECT user_id, round(avg(gap_s), 4) AS avg_gap_s, max(gap_s) AS max_gap_s
    FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
    """,
)
def w4_successive_gap(spark, sf_dir):
    """Successive-difference stats (reference: inter-peak gaps,
    segment_old_method.py:19)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.withColumn(
        "gap_s",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).cast("long"),
    )
    return (
        g.filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
    )


@query(
    "w5_confidence_product",
    """
    WITH f AS (
      SELECT l_orderkey,
             CAST(100 - round(l_discount * 100, 0) AS BIGINT) AS factor,
             row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey, l_discount
             ) AS rn
      FROM lineitem
    )
    SELECT l_orderkey,
           CAST(product(factor) AS BIGINT) AS confidence_scaled
    FROM f WHERE rn <= 4 GROUP BY l_orderkey
    """,
)
def w5_confidence_product(spark, sf_dir):
    """Cumulative product at step 4 (reference: confidence = cumprod of
    per-step max softmax, demo.py:150-161). Computed in the exact
    integer domain (discounts are 2-decimal; 4 factors <= 1e8): float
    exp(sum(log)) / product() land exactly ON 6-decimal round
    boundaries here, so no float formulation can hash-match across
    engines — the SURVEY §7.5-item-5 lesson (float products are
    reporting columns, never compared columns). In the extraction
    pipeline itself, confidence IS a reporting column and uses
    exp(sum(log))."""
    li = load(spark, sf_dir, "lineitem")
    factor = (100 - F.round(F.col("l_discount") * 100, 0)).cast("long")
    # deterministic first-4: sort the (key..., factor) tuples, slice.
    rec = F.struct(
        "l_linenumber", "l_partkey", "l_suppkey", "l_discount", factor.alias("factor")
    )
    return li.groupBy("l_orderkey").agg(
        F.aggregate(
            F.transform(
                F.slice(F.array_sort(F.collect_list(rec)), 1, 4),
                lambda r: r["factor"],
            ),
            F.lit(1).cast("long"),
            lambda acc, x: acc * x,
        ).alias("confidence_scaled")
    )


@query(
    "sessionize",
    """
    WITH x AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second',
                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM x GROUP BY user_id
    """,
)
def sessionize(spark, sf_dir):
    """Sessionization: lag(ts) + gap>threshold boundaries (the batch
    restatement of streaming session windows — SURVEY §2.9: the engine
    is batch-with-resume by design)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    x = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0),
    )
    return x.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# O-family: sort / top-k
# ---------------------------------------------------------------------------


@query(
    "o5_top_k_per_group",
    """
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
    FROM r WHERE rn <= 3
    """,
)
def o5_top_k_per_group(spark, sf_dir):
    """Top-k per group with deterministic tie-break (reference: 6-NN
    smallest distances per point, LayoutGraphGenerator.js:30-61)."""
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "rn",
        )
    )


@query(
    "o8_global_topk",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o8_global_topk(spark, sf_dir):
    """Global order-by + limit (TakeOrderedAndProject — no full sort)."""
    return (
        load(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


# ---------------------------------------------------------------------------
# U-family: set ops
# ---------------------------------------------------------------------------


@query(
    "u1_undirected_pair_dedup",
    """
    SELECT DISTINCT least(l_partkey, l_suppkey)    AS lo,
                    greatest(l_partkey, l_suppkey) AS hi
    FROM lineitem
    """,
)
def u1_undirected_pair_dedup(spark, sf_dir):
    """Undirected edge dedup: (a,b) == (b,a) via (least, greatest)
    (reference: edge-exists check, new-SemiSegmentationSection.vue:321-325)."""
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.least("l_partkey", "l_suppkey").alias("lo"),
        F.greatest("l_partkey", "l_suppkey").alias("hi"),
    ).distinct()


@query(
    "u3_union_concat",
    """
    SELECT nationkey, count(*) AS n_parties FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey FROM supplier
    ) GROUP BY nationkey
    """,
)
def u3_union_concat(spark, sf_dir):
    """Dataset concat via unionByName (reference: ConcatDataset,
    recognition/dataset.py:104-129)."""
    c = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).groupBy("nationkey").agg(
        F.count("*").alias("n_parties")
    )


# ---------------------------------------------------------------------------
# C-family: scalar functions
# ---------------------------------------------------------------------------


@query(
    "c_scalar_functions",
    """
    SELECT doc_id,
           upper(substr(text, 1, 12))         AS head,
           length(text)                        AS text_len,
           md5(text)                           AS fp,
           printf('doc%05d', doc_id)           AS tag,
           regexp_extract(text, '^([a-z]+)', 1) AS first_word
    FROM documents
    """,
)
def c_scalar_functions(spark, sf_dir):
    """String/scalar kernel sampler: substr/upper/length (C6-ish),
    md5 fingerprint, format_string (C9: 'line%03d'), regexp_extract
    (C11 path parsing analog)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("head"),
        F.length("text").alias("text_len"),
        F.md5("text").alias("fp"),
        F.format_string("doc%05d", "doc_id").alias("tag"),
        F.regexp_extract("text", "^([a-z]+)", 1).alias("first_word"),
    )


def _exact_revenue():
    """sum(extendedprice * (1 - discount)) in EXACT integer arithmetic,
    emitted as integer CENTS: cents x (100 - discount-percent) summed as
    longs, then half-up divided by 100 with TRUE integer division
    (Spark ``div``, DuckDB ``//``) — floor(double/100) would silently
    lose exactness once a group's cents-weighted sum exceeds 2^53,
    plausible at 10^12-doc scale. A float product of two 2-decimal
    factors is an exact 4-decimal value that can land on a half-cent,
    where round(, 2) ties break differently per engine (Spark rounds
    the shortest decimal repr, DuckDB the binary value — observed
    150873.96 vs .95). Integer state has no ties — the
    w5_confidence_product rule (CLAUDE.md: no float columns in
    compared output)."""
    return F.expr(
        "CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) + 50)"
        " div 100 AS BIGINT)"
    ).alias("revenue_cents")


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                 + 50) // 100 AS BIGINT) AS revenue_cents,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H-Q3-shaped 3-table join + grouped agg — the multi-join
    stress of J3's composite-key pattern. Filters are applied per table
    BEFORE the joins (Catalyst pushes them into the scans); the filtered
    customer dim broadcasts so the fact side shuffles only on the
    order-lineitem key."""
    cutoff = F.lit("1998-06-01").cast("timestamp")
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_exact_revenue())
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
                 + 50) // 100 AS BIGINT) AS revenue_cents
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H-Q5-shaped 6-table join (the join-ordering showcase): the
    region->nation->supplier dimension chain collapses to broadcast
    joins, the customer-nation equality is the classic non-key join
    predicate, and only the orders-lineitem spine shuffles. The q1/q3/q5
    trio demonstrates that Catalyst's join selection handles the
    reference's relational glue with zero custom planning (SURVEY §4)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(_exact_revenue())
    )


@query(
    "j6_asof_join",
    """
    WITH tagged AS (
      SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_type = 'click' THEN event_id END AS click_id
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    ordered AS (
      SELECT event_id, ts, user_id, event_type,
             last_value(click_id IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_type, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS last_click_id
      FROM tagged
    )
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
           last_click_id
    FROM ordered WHERE event_type = 'purchase'
    """,
)
def j6_asof_join(spark, sf_dir):
    """As-of join — the classic operator Spark lacks natively, built as
    the union+window composition (the scale path): tag both sides, sort
    once within user, and carry the last non-null left-side id forward.
    Each purchase gets the most recent click at-or-before its timestamp.

    ONE shuffle (user_id) regardless of key cardinality — vs a per-key
    range join which explodes quadratically on hot users. Ties are
    pinned deterministically (ts, then event_type 'click' < 'purchase'
    so an equal-timestamp click is visible to the purchase, then
    event_id), which is also why the oracle uses the same window form
    rather than DuckDB's native ASOF JOIN: ASOF leaves the choice among
    equal right-side timestamps unspecified."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select("event_id", "ts", "user_id", "event_type")
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_type", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        ev.withColumn("last_click_id", F.last(click_id, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "last_click_id",
        )
    )


@query("a10_approx_distinct")
def a10_approx_distinct(spark, sf_dir):
    """HLL++ approximate-distinct sketch (SURVEY A10's
    approx_count_distinct — the dedup-stats primitive at corpus scale,
    where exact countDistinct would shuffle every key). Emits the
    sketch estimate beside the exact count per event_type; rows-only
    for the driver because HLL implementations differ across engines
    by construction — accuracy is pytest-gated instead
    (tests/test_operators.py::test_approx_distinct_accuracy)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )


@query(
    "q18_large_volume_order",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS qty_sum
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 180
    )
    SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS total_price,
           qty_sum
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN big ON big.l_orderkey = o_orderkey
    """,
)
def q18_large_volume_order(spark, sf_dir):
    """TPC-H-Q18-shaped query: the aggregate-HAVING subquery feeding a
    join — Catalyst plans the decorrelated form directly (the aggregate
    runs once, its survivors drive the join) with no per-row subquery
    re-execution. qty_sum is cast to BIGINT (quantities are integral)
    so the compared column is exact."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qs"))
        .filter(F.col("qs") > 180)
        .select("l_orderkey", F.col("qs").cast("long").alias("qty_sum"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice"), 2).alias("total_price"),
            "qty_sum",
        )
    )
