"""Operator tests: DuckDB-oracle parity sample (the driver gate's local
replica) + checks that aren't SQL-expressible (ANN recall)."""

import os
import sys

import duckdb
import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from check_oracle import TABLES, canon_rows, dtype_tags  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from win64_local_ocr_tool_spark.operators.registry import (  # noqa: E402
    ORACLES as REG_SQL,
    QUERIES as REG,
)

# A cross-family sample over the INTERNAL registry (components + the
# exported folds); the full exported sweep runs via
# scripts/check_oracle.py
SAMPLE = [
    "q1_pricing_summary",
    "q_tpch_family",
    "f7_skew_split",
    "j1_range_join",
    "j5_semi_anti_resume",
    "j6_asof_join",
    "w_lag_boundary_gap",
    "w5_confidence_product",
    "o5_topk_minby",
    "u1_undirected_pair_dedup",
    "a_label_vote_distinct",
    "a_stats_extents",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_profile",
    "sim_topk_cosine",
    "srp_family",
    "dedup_ngram_jaccard",
    "dedup_canonical",
    "decontaminate_ngram",
    "boilerplate_ngrams",
    "boilerplate_scrub_chunks",
    "text_repetition_score",
    "u2_stratified_split",
    "training_corpus_final",
    "f8_outlier_mask",
    "training_data_filter",
    "c_scalar_math",
    "f_filter_family",
    "o_sort_family",
    "c_json_roundtrip",
    "w_frames_running",
    "g_graph_family",
    # internal-only (not driver-exported) but kept oracle-true here
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_volume_order",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", SAMPLE)
def test_oracle_parity(spark, sf_dir, duck, name):
    got = REG[name](spark, sf_dir).toPandas()
    want = duck.sql(REG_SQL[name]).df()
    gc, gr = canon_rows(got)
    wc, wr = canon_rows(want)
    assert gc == wc
    assert dtype_tags(got) == dtype_tags(want)
    assert len(gr) == len(wr)
    assert gr == wr


def test_every_query_has_oracle_or_is_documented():
    """Every exported queries() entry either has an oracle or is one of
    the known non-SQL-expressible ops (driver records rows-only for
    those)."""
    rows_only_allowed = {
        "sim_ann_ivf_arrow",
        "extract_e2e",
        "extract_stages",
        "media_pipeline",
        "a10_approx_distinct",  # HLL sketches differ across engines
        "ctc_beam_decode",  # sequential beam state: no ANSI-SQL twin
    }
    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert o <= q
    assert q - o == rows_only_allowed


def test_export_window_discipline():
    """Driver-window invariants (the round-1 regression): every
    SQL-oracled exported entry must sit inside the first 50 positions,
    and the export list must preserve registration completeness."""
    names = list(entry.queries())
    oracled = set(entry.oracle_sql())
    assert len(names) <= 57
    late_oracled = [n for n in names[50:] if n in oracled]
    assert not late_oracled, late_oracled
    # rows-only entries close the list
    assert all(n not in oracled for n in names[50:])


def test_ann_recall_vs_brute_force(spark, sf_dir):
    """IVF ANN must recover most of the true top-k (nprobe 4 of 16
    cells on random vectors won't be perfect — the bar is recall@5 of
    the exact top-1 plus >=50% of the top-5). Runs on BOTH routes: the
    oracled literal-centroid query and its Arrow-kernel twin."""
    brute = entry.queries()["sim_topk_cosine"](spark, sf_dir).toPandas()
    for name in ("sim_ann_ivf", "sim_ann_ivf_arrow"):
        ann = REG[name](spark, sf_dir).toPandas()
        recall_total = 0.0
        qids = sorted(brute["qid"].unique())
        for qid in qids:
            true_top = set(brute[brute["qid"] == qid]["vec_id"])
            got_top = set(ann[ann["qid"] == qid]["vec_id"])
            recall_total += len(true_top & got_top) / len(true_top)
        recall = recall_total / len(qids)
        assert recall >= 0.5, f"{name} recall@5 too low: {recall}"


def test_ann_ivf_arrow_agrees_with_oracled_route(spark, sf_dir):
    """The Arrow-kernel IVF (mapInPandas matmul assignment — the
    production-K plan) and the oracled literal-centroid route share
    centroids and rerank; their scoring differs only in float summation
    order, so result sets must agree except at round-6 ties. The gate:
    >= 90% identical (qid, vec_id) rows."""
    a = {
        (int(r.qid), int(r.vec_id))
        for r in REG["sim_ann_ivf"](spark, sf_dir).toPandas().itertuples()
    }
    b = {
        (int(r.qid), int(r.vec_id))
        for r in REG["sim_ann_ivf_arrow"](spark, sf_dir)
        .toPandas()
        .itertuples()
    }
    assert len(a) > 0 and len(b) > 0
    overlap = len(a & b) / max(len(a | b), 1)
    assert overlap >= 0.9, f"route agreement too low: {overlap}"


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() == 1100
    assert set(df.columns) >= {"url", "status", "extracted_text", "spans", "lang"}


def test_approx_distinct_accuracy(spark, sf_dir):
    """The HLL++ estimate must sit within 5% of the exact distinct count
    for every group (rsd was configured at 0.01)."""
    rows = entry.queries()["a10_approx_distinct"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_users - r.exact_users) <= max(
            1, 0.05 * r.exact_users
        ), r


def test_srp_lsh_candidates_are_similarity_biased(spark, sf_dir):
    """SRP-LSH sanity beyond the oracle: the banded candidate pairs
    must be sparse (never all-pairs) and biased toward higher cosine
    than the population."""
    import numpy as np

    out = REG["sim_srp_lsh"](spark, sf_dir).toPandas()
    sigs = out[out["part"] == "sig"]
    pairs = out[out["part"] == "pair"]
    n = len(sigs)
    assert 0 < len(pairs) < 0.1 * n * (n - 1) / 2
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in REG["j2_positional_zip"].__globals__["load"](
            spark, sf_dir, "embeddings"
        ).collect()
    }

    def cos(a, b):
        va, vb = emb[a], emb[b]
        return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))

    cand = [cos(a, b) for a, b in zip(pairs["id_a"], pairs["id_b"])][:2000]
    rng = np.random.default_rng(7)
    ids = sorted(emb)
    rand = [
        cos(*rng.choice(ids, size=2, replace=False)) for _ in range(2000)
    ]
    assert np.mean(cand) > np.mean(rand) + 0.05


def test_srp_lsh_recall_on_planted_near_dups(spark, tmp_path):
    """SRP-LSH recall gate (the sim_ann_ivf-style property it lacked):
    plant a companion at cosine ~0.997 of every base vector. At 32 bits
    / 4 bands the per-pair collision probability at that angle is
    ~0.999, so the banded candidates must recover >= 90% of the planted
    pairs (documented floor, wide margin under the expectation).
    Random-vector top-k is NOT the right ground truth here — random
    64-dim neighbors sit near cosine 0, where LSH correctly finds
    nothing — so the gate seeds the high-cosine pairs SRP is built for
    and cross-checks them against sim_topk_cosine ground truth on the
    same table."""
    import numpy as np

    rng = np.random.default_rng(42)
    n_base, dim = 60, 64
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    comp = base + rng.standard_normal((n_base, dim)) * 0.01
    comp /= np.linalg.norm(comp, axis=1, keepdims=True)
    rows = [
        (i, base[i].astype(np.float32).tolist(), 0) for i in range(n_base)
    ] + [
        (i + n_base, comp[i].astype(np.float32).tolist(), 0)
        for i in range(n_base)
    ]
    df = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label int"
    )
    df.write.parquet(str(tmp_path / "embeddings.parquet"))

    out = REG["sim_srp_lsh"](spark, str(tmp_path)).toPandas()
    pairs = {
        (int(a), int(b))
        for a, b in out[out["part"] == "pair"][["id_a", "id_b"]].itertuples(
            index=False
        )
    }
    planted = [(i, i + n_base) for i in range(n_base)]
    recall = sum(p in pairs for p in planted) / n_base
    assert recall >= 0.9, f"SRP recall on planted near-dups too low: {recall}"

    # Ground-truth cross-check vs the brute-force oracle query: each
    # query's true nearest neighbor IS its planted companion, and SRP's
    # candidate set contains exactly those top-1 pairs.
    brute = REG["sim_topk_cosine"](spark, str(tmp_path)).toPandas()
    top1 = brute[brute["rnk"] == 1]
    assert len(top1) > 0
    for r in top1.itertuples():
        assert int(r.vec_id) == int(r.qid) + n_base
        assert (int(r.qid), int(r.vec_id)) in pairs


def test_dedup_embedding_srp_verify_and_recall(spark, tmp_path):
    """The production-shaped embedding dedup (SRP buckets -> exact
    cosine verify): every emitted pair must carry the TRUE cosine
    (verification is exact, so precision vs the threshold is 1.0), and
    planted near-dup companions (cosine ~0.997) must be recovered at
    >= 90% — the regime LSH-routed dedup is built for."""
    import numpy as np

    from win64_local_ocr_tool_spark.operators.similarity import (
        DEDUP_COS_THRESHOLD,
    )

    rng = np.random.default_rng(1234)
    n_base, dim = 60, 64
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    comp = base + rng.standard_normal((n_base, dim)) * 0.01
    comp /= np.linalg.norm(comp, axis=1, keepdims=True)
    X = np.vstack([base, comp])
    rows = [
        (i, X[i].astype(np.float32).tolist(), 0) for i in range(2 * n_base)
    ]
    spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = REG["dedup_embedding_srp"](spark, str(tmp_path)).toPandas()
    Xd = X.astype(np.float32).astype(np.float64)
    nrm = np.linalg.norm(Xd, axis=1)
    for r in out.itertuples():
        a, b = int(r.vec_a), int(r.vec_b)
        true_cos = float(Xd[a] @ Xd[b] / (nrm[a] * nrm[b]))
        assert a < b
        assert round(true_cos, 6) >= DEDUP_COS_THRESHOLD
        assert abs(float(r.cosine) - true_cos) < 1e-3
    got = {(int(r.vec_a), int(r.vec_b)) for r in out.itertuples()}
    planted = [(i, i + n_base) for i in range(n_base)]
    recall = sum(p in got for p in planted) / n_base
    assert recall >= 0.9, f"SRP dedup recall on planted pairs: {recall}"


def test_sim_topk_srp_finds_planted_neighbors(spark, tmp_path):
    """The SRP-routed top-k must (a) rank each query's planted
    companion (cosine ~0.997) first — the true NN survives the
    candidate cut — and (b) agree with the brute-force baseline
    wherever the candidate set covers the baseline's top ranks."""
    import numpy as np

    rng = np.random.default_rng(77)
    n_base, dim = 60, 64
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    comp = base + rng.standard_normal((n_base, dim)) * 0.01
    comp /= np.linalg.norm(comp, axis=1, keepdims=True)
    X = np.vstack([base, comp])
    rows = [
        (i, X[i].astype(np.float32).tolist(), 0) for i in range(2 * n_base)
    ]
    spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    srp = REG["sim_topk_srp"](spark, str(tmp_path)).toPandas()
    top1 = srp[srp["rnk"] == 1].set_index("qid")
    assert len(top1) > 0
    for qid, r in top1.iterrows():
        assert int(r["vec_id"]) == int(qid) + n_base
        assert float(r["cosine"]) > 0.99
    brute = REG["sim_topk_cosine"](spark, str(tmp_path)).toPandas()
    b1 = brute[brute["rnk"] == 1].set_index("qid")
    for qid in top1.index:
        assert int(top1.loc[qid, "vec_id"]) == int(b1.loc[qid, "vec_id"])


def test_bounded_bucket_pairs_cc_equal_and_linear(spark):
    """The round-4 scale fix: within-bucket pair emission is capped
    (all pairs <= BUCKET_PAIR_CAP members, min-id star above). Proves
    on a planted 200-member megabucket that (a) output grows O(B) not
    O(B^2), (b) oversized buckets emit star edges rooted at the min id
    (diameter 2 -> CC converges in ~2 rounds, not B rounds as a chain
    would), and (c) connected components are IDENTICAL to the uncapped
    all-pairs join."""
    from pyspark.sql import functions as F

    from win64_local_ocr_tool_spark.operators.lshpairs import (
        BUCKET_PAIR_CAP,
        bounded_bucket_pairs,
    )
    from win64_local_ocr_tool_spark.operators.textops import _cc_from_pairs

    mega = 200
    assert mega > BUCKET_PAIR_CAP
    rows = [(1000 + i, 0, "mega") for i in range(mega)]
    # small buckets, one bridging into the megacluster via another band
    rows += [(1, 1, "s1"), (2, 1, "s1"), (3, 1, "s1")]
    rows += [(3, 2, "s2"), (7, 2, "s2")]
    rows += [(7, 3, "bridge"), (1005, 3, "bridge")]
    rows += [(42, 0, "lone")]  # singleton bucket -> no pairs
    bands = spark.createDataFrame(rows, "doc_id long, band int, bkey string")

    bounded = bounded_bucket_pairs(bands, "doc_id", "doc_a", "doc_b")
    got = bounded.collect()
    # linear bound: mega emits B-1 star edges; small buckets all-pairs
    assert len(got) == (mega - 1) + 3 + 1 + 1
    mega_edges = [r for r in got if r["doc_a"] >= 1000 and r["doc_b"] >= 1000]
    assert all(r["doc_a"] == 1000 for r in mega_edges)  # min-id star
    assert len(mega_edges) == mega - 1

    # uncapped reference join
    a, b = bands.alias("a"), bands.alias("b")
    uncapped = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    assert uncapped.count() == mega * (mega - 1) // 2 + 3 + 1 + 1

    cc_bounded = {
        (r["doc_id"], r["component"])
        for r in _cc_from_pairs(bounded).collect()
    }
    cc_uncapped = {
        (r["doc_id"], r["component"])
        for r in _cc_from_pairs(uncapped).collect()
    }
    assert cc_bounded == cc_uncapped
    # the bridge merges {1,2,3,7} with the megacluster under min label 1
    comp_of = dict(cc_bounded)
    assert comp_of[1005] == 1 and comp_of[1000] == 1 and comp_of[2] == 1


def _union_find_components(pairs):
    """Reference connected components: doc_id -> min doc_id of its
    component, by union-find with the smaller root kept."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _random_pairs(seed):
    import random

    rng = random.Random(seed)
    pairs = [tuple(rng.sample(range(60), 2)) for _ in range(45)]
    # duplicates and reversed copies of pairs already drawn
    return pairs + rng.sample(pairs, 5) + [(b, a) for a, b in rng.sample(pairs, 5)]


@pytest.mark.parametrize(
    "pairs",
    [
        [],
        [(i, i + 1) for i in range(8)],  # a path: one label step a round
        [(9, 5), (5, 3), (3, 8), (8, 1), (1, 7), (7, 2)],  # shuffled ids
        [(1, 2), (2, 1), (1, 2), (4, 3), (3, 4), (5, 4), (10, 11)],
        *(_random_pairs(seed) for seed in (1, 2, 3)),
    ],
    ids=["empty", "path", "path_shuffled", "dup_reversed", "random1",
         "random2", "random3"],
)
def test_cc_from_pairs_matches_union_find(spark, pairs):
    """``_cc_from_pairs`` labels every doc of a pair with the min doc_id
    of its component, as a union-find does. The input is a lazy,
    uncheckpointed multi-partition frame, the shape the registry query
    and the streaming upsert pass."""
    from win64_local_ocr_tool_spark.operators.textops import _cc_from_pairs

    pairs_df = spark.createDataFrame(pairs, "doc_a long, doc_b long").repartition(3)
    got = {r["doc_id"]: r["component"] for r in _cc_from_pairs(pairs_df).collect()}
    assert got == _union_find_components(pairs)


def test_bounded_bucket_pairs_subsplit_recovers_and_stays_linear(spark):
    """Round-5 refinement (r4 verdict item 1): an oversized bucket with
    a subkey column emits star edges PLUS all-pairs inside the first
    subkey-prefix level whose occupancy fits the cap. Two members whose
    subkey separates them from the crowd regain their mutual pair; a
    crowd sharing one subkey (unsplittable) stays star-only — output
    remains O(B)."""
    from win64_local_ocr_tool_spark.operators.lshpairs import (
        BUCKET_PAIR_CAP,
        bounded_bucket_pairs,
    )

    crowd = 198
    assert crowd > BUCKET_PAIR_CAP
    rows = [(1000 + i, 0, "mega", "000000000") for i in range(crowd)]
    rows += [(2000, 0, "mega", "010101010"), (2001, 0, "mega", "010101010")]
    bands = spark.createDataFrame(
        rows, "doc_id long, band int, bkey string, skey string"
    )

    got = {
        (r["doc_a"], r["doc_b"])
        for r in bounded_bucket_pairs(
            bands, "doc_id", "doc_a", "doc_b", subkey_col="skey"
        ).collect()
    }
    # star edges rooted at min id + exactly the one recovered sub pair
    want = {(1000, 1000 + i) for i in range(1, crowd)}
    want |= {(1000, 2000), (1000, 2001), (2000, 2001)}
    assert got == want
    assert len(got) == (crowd + 2 - 1) + 1  # O(B), not O(B^2)

    # without the subkey the member-member pair is lost (pre-r5 rule)
    got0 = {
        (r["doc_a"], r["doc_b"])
        for r in bounded_bucket_pairs(
            bands, "doc_id", "doc_a", "doc_b"
        ).collect()
    }
    assert (2000, 2001) not in got0 and len(got0) == crowd + 1


def test_dedup_srp_oversized_bucket_recovers_member_pair(spark, tmp_path):
    """The r4 verdict's planted fixture: in a bucket past the cap, two
    members that are near-dups of EACH OTHER but nearly orthogonal to
    the bucket's min-id representative must keep their pair after exact
    cosine verification — star-only emission would verify them against
    the rep, fail the threshold, and silently drop the link. The sig
    table is injected (the band route is oracle-pinned elsewhere) so
    the bucket geometry is deterministic: one 39-member crowd plus the
    2 targets share every band key; only the targets' sub-bits differ."""
    import numpy as np

    from win64_local_ocr_tool_spark.operators.similarity import (
        _srp_bands,
        _srp_candidate_pairs,
        dedup_embedding_srp,
    )
    from win64_local_ocr_tool_spark.operators.lshpairs import (
        bounded_bucket_pairs,
    )

    rng = np.random.default_rng(99)
    dim, n_crowd = 64, 39
    u = rng.standard_normal(dim)
    u /= np.linalg.norm(u)
    w = rng.standard_normal(dim)
    v = w - (w @ u) * u
    v /= np.linalg.norm(v)
    X = {}
    for i in range(n_crowd):
        x = u + rng.standard_normal(dim) * 0.01
        X[i] = x / np.linalg.norm(x)
    for i in (100, 101):
        x = v + rng.standard_normal(dim) * 0.01
        X[i] = x / np.linalg.norm(x)
    spark.createDataFrame(
        [(i, X[i].astype(np.float32).tolist()) for i in sorted(X)],
        schema="vec_id long, embedding array<float>",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    sig = spark.createDataFrame(
        [(i, "0" * 32 + ("1" * 9 if i >= 100 else "0" * 9)) for i in sorted(X)],
        schema="vec_id long, sig string",
    )
    out = dedup_embedding_srp(spark, str(tmp_path), sig=sig).toPandas()
    got = {(int(r.vec_a), int(r.vec_b)) for r in out.itertuples()}
    # the mutually-near-dup member pair survives verification
    assert (100, 101) in got
    # targets vs rep fail the threshold (orthogonal) and are dropped
    assert (0, 100) not in got and (0, 101) not in got
    # crowd members stay linked to the rep through the star edges
    assert all((0, i) in got for i in range(1, n_crowd))

    # counterfactual: the pre-r5 star-only rule loses the pair entirely
    cand0 = {
        (int(r["id_a"]), int(r["id_b"]))
        for r in bounded_bucket_pairs(
            _srp_bands(sig), "vec_id", "id_a", "id_b"
        ).collect()
    }
    assert (100, 101) not in cand0
    cand1 = {
        (int(r["id_a"]), int(r["id_b"]))
        for r in _srp_candidate_pairs(sig).collect()
    }
    assert (100, 101) in cand1


def test_srp_band_width_occupancy_model(spark):
    """r4 verdict item 6: bits-per-band is the corpus-size knob. On a
    deterministic random corpus the band keys must behave per the
    binomial model — occupied buckets ~ 2^b * (1 - exp(-N/2^b)) and a
    bounded occupancy tail — at THREE widths, evidencing that widening
    the key at 10^12 keeps noise occupancy O(1) (SCALE.md carries the
    measured constants). Tolerances leave room for the measured
    hyperplane-correlation bias (~12% fewer distinct keys at 12 bits,
    occasional hot keys at 4 bits)."""
    import math

    import numpy as np

    from win64_local_ocr_tool_spark.operators.similarity import (
        _srp_bands,
        _srp_sig_df,
    )

    rng = np.random.default_rng(2024)
    M, dim, n_bands = 4096, 64, 2
    X = rng.standard_normal((M, dim)).astype(np.float32)
    e = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(M)],
        "vec_id long, embedding array<float>",
    )
    occupied_at = {}
    for bits in (4, 8, 12):
        sig = _srp_sig_df(e, n_bits=n_bands * bits)
        bands = _srp_bands(
            sig, bits_per_band=bits, n_bands=n_bands, sub_bits=0
        )
        occ = bands.groupBy("band", "bkey").count().toPandas()
        lam = M / 2**bits
        expect_occupied = 2**bits * (1 - math.exp(-lam))
        for band in range(n_bands):
            o = occ[occ["band"] == band]["count"].values
            ratio = len(o) / expect_occupied
            assert 0.8 <= ratio <= 1.1, (bits, band, ratio)
            assert o.max() <= 2 * lam + 20, (bits, band, int(o.max()))
        occupied_at[bits] = len(occ) / n_bands
    # the knob works: +4 bits spreads noise into ~an order of magnitude
    # more buckets (16x under perfect independence; >=8x with the
    # measured correlation bias)
    assert occupied_at[8] >= 8 * occupied_at[4]
    assert occupied_at[12] >= 8 * occupied_at[8]
