"""Training-data text operators: dedup, quality, lang-id, tokens.

The operations a 100 TB training-data pipeline runs over the corpus
after extraction. All shapes are shuffle-lean: shingle explode ->
equi-join on shingle/band (the only shuffle), never an all-pairs cross
join. Portable hashing: md5 hex strings where a string key suffices,
and — for the minhash permutations — exact BIGINT arithmetic over two
32-bit halves of ONE md5 (Spark `conv(..,16,10)` == DuckDB
`CAST('0x..' AS BIGINT)`, all operands < 2^62 so both engines agree
bit-for-bit), so every step has a real SQL oracle at a single
md5-per-unit hashing cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, functions as F

from .lshpairs import bounded_bucket_pairs, bounded_pairs_ctes
from .registry import query
from .similarity import DEDUP_COS_THRESHOLD
from .tables import load

N_MINHASH = 8  # minhash permutations (md5-keyed)
LSH_BANDS = 4  # bands of rows=2 over the signature
SHINGLE_W = 3  # words per shingle


def _word_ngrams(
    docs: DataFrame, width: int, out: str, distinct: bool = True
) -> DataFrame:
    """(doc_id, <out>) — word n-grams of ``width`` per document
    (distinct per doc unless ``distinct=False``).

    The words array is PROJECTED FIRST: referencing ``split(text)``
    inside the transform lambda makes Catalyst re-evaluate the split per
    element (width splits x n grams = O(n^2) per row — measured 27s vs
    2s on 5k docs). Documents with fewer than ``width`` words are
    filtered BEFORE the sequence: Spark's sequence(0, -1) is the
    descending list [0, -1] (not empty like generate_series), and a
    negative-index element access crashes under ANSI mode."""
    w = F.col("w")
    idx = F.sequence(F.lit(0), F.size(w) - width)
    grams = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size(w) >= width)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.array_join(F.slice(w, i + 1, width), " "),
                )
            ).alias(out),
        )
    )
    return grams.distinct() if distinct else grams


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct word 3-grams per document."""
    return _word_ngrams(docs, SHINGLE_W, "shingle")


def _ngrams_sql(width: int, out: str, distinct: bool = True) -> str:
    return f"""
  SELECT {"DISTINCT" if distinct else ""} doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - {width - 1}, 0)),
           i -> array_to_string(string_split(text, ' ')[i:i+{width - 1}], ' '))) AS {out}
  FROM documents
"""


_SHINGLES_SQL = _ngrams_sql(SHINGLE_W, "shingle")


@query(
    "dedup_exact",
    """
    SELECT md5(text) AS fp, count(*) AS n_dups, min(doc_id) AS representative
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, keep min-id representative. At scale
    this is one shuffle on the 32-char fp — never on the text."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("representative"),
        )
    )


SHINGLE_DF_CAP = 50  # drop shingles present in more docs than this


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    rare AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY shingle) AS df
        FROM sh
      ) WHERE df <= {SHINGLE_DF_CAP}
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM rare GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM rare a JOIN rare b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4)
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.008
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """N-gram Jaccard near-dup: shingle explode -> document-frequency
    cap -> equi-join on shingle (candidate generation) -> set-algebra
    jaccard over the capped feature space.

    The df cap is the 100 TB survival clause: a boilerplate shingle
    shared by k documents contributes k^2/2 join rows — one viral
    phrase in a million docs is a half-trillion-row hotspot on ONE
    shuffle key, which no AQE skew split saves. Capping df at
    SHINGLE_DF_CAP bounds every key's fanout and drops only shingles with
    no discriminative value (true near-dup pairs keep their rare
    shingles; LSH banding remains the recall backstop). The join
    carries only (doc_id, shingle), never document text.

    The shingle set feeds four consumers (df-cap, sizes, both self-join
    sides); without an explicit materialization Catalyst recomputes the
    explode+distinct per consumer (no ReusedExchange across these
    subtrees — measured 2x end-to-end). ``localCheckpoint`` computes it
    once; at corpus scale this is the deliberate "materialize the
    feature table before the pairwise stage" decision, the same call a
    100 TB pipeline makes by writing shingles to a stage table."""
    d = load(spark, sf_dir, "documents")
    sh = _shingles(d).localCheckpoint()
    # df via groupBy (map-side partial agg shrinks the shuffle), then a
    # broadcast anti-join on the heavy-hitter list — cheaper than a
    # per-shingle window, which has no partial aggregation. Forced
    # broadcast, bounded by construction: each stop shingle stands for
    # more than SHINGLE_DF_CAP shingle rows, so the list holds under
    # 1/SHINGLE_DF_CAP of the table it is anti-joined against
    stop = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(stop), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (
        F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.008)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# Portable arithmetic minhash permutations: ONE md5 per shingle (the
# round-4 hot-stage fix — the old form computed N_MINHASH md5s per
# shingle occurrence, the dominant cost of the whole curation chain),
# split into two independent 32-bit halves h1/h2, then N_MINHASH affine
# maps ((a*h1) % P + (b*h2) % P + s) % P. Every operand stays below
# 2^62, so Spark (wrapping) and DuckDB (overflow-checked) BIGINT
# arithmetic agree exactly; a 64-bit (h1, h2) shingle identity keeps
# cross-shingle collisions negligible at corpus scale.
_MH_P = 4_294_967_311  # prime > 2^32
_MH_A = [(2_654_435_761 * (s + 1)) % (1 << 30) | 1 for s in range(N_MINHASH)]
_MH_B = [(2_246_822_519 * (s + 1)) % (1 << 30) | 1 for s in range(N_MINHASH)]


def _minhash_sig_sql() -> str:
    h1 = "CAST(concat('0x', substring(md5(shingle), 1, 8)) AS BIGINT)"
    h2 = "CAST(concat('0x', substring(md5(shingle), 9, 8)) AS BIGINT)"
    cols = ", ".join(
        f"min((({_MH_A[s]} * h1) % {_MH_P} + ({_MH_B[s]} * h2) % {_MH_P}"
        f" + {s}) % {_MH_P}) AS sig{s}"
        for s in range(N_MINHASH)
    )
    return (
        f"WITH sh AS ({_SHINGLES_SQL}), "
        f"hs AS (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM sh) "
        f"SELECT doc_id, {cols} FROM hs GROUP BY doc_id"
    )


@query("dedup_minhash_sig", _minhash_sig_sql())
def dedup_minhash_sig(spark, sf_dir):
    """MinHash signatures with PORTABLE permutations: one md5 per
    shingle -> two 32-bit halves -> N_MINHASH exact-integer affine maps
    (constants above) — identical values in any engine, at 1/N_MINHASH
    of the old per-permutation-md5 hashing cost."""
    return _sig_from_docs(load(spark, sf_dir, "documents"))


def _sig_from_docs(docs):
    """MinHash-signature compute body over an arbitrary (doc_id, text)
    DataFrame — factored so the staged curation runner can feed it the
    exact-dedup REPRESENTATIVES table instead of the raw corpus."""
    sh = _word_ngrams(docs, SHINGLE_W, "shingle")
    h = F.md5("shingle")
    hs = sh.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint").alias("h1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint").alias("h2"),
    )
    aggs = [
        F.min(
            (
                (F.lit(_MH_A[s]) * F.col("h1")) % _MH_P
                + (F.lit(_MH_B[s]) * F.col("h2")) % _MH_P
                + F.lit(s)
            )
            % _MH_P
        ).alias(f"sig{s}")
        for s in range(N_MINHASH)
    ]
    return hs.groupBy("doc_id").agg(*aggs)


def _lsh_pairs_sql() -> str:
    rows_per_band = N_MINHASH // LSH_BANDS
    band_exprs = []
    for b in range(LSH_BANDS):
        parts = ", ".join(
            f"CAST(sig{b * rows_per_band + r} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        band_exprs.append(
            f"SELECT doc_id, {b} AS band, "
            f"md5(concat_ws(':', {parts})) AS bkey FROM sig"
        )
    bands = " UNION ALL ".join(band_exprs)
    return f"""
    WITH sig AS ({_minhash_sig_sql()}),
    bands AS ({bands}),
    {bounded_pairs_ctes("bands", "doc_id", "doc_a", "doc_b")}
    SELECT DISTINCT doc_a, doc_b FROM bpairs
    """


@query("dedup_lsh_pairs", _lsh_pairs_sql())
def dedup_lsh_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs: band the signature, hash each band,
    equi-join on (band, band-hash) with BOUNDED per-bucket emission
    (operators/lshpairs.py: all pairs up to BUCKET_PAIR_CAP members,
    star edges above — connected components provably unchanged, output
    linear in corpus size even under a viral duplicate megacluster).
    The banding join is the scale path — candidates are generated
    without comparing all pairs; the cap is the round-4 fix that keeps
    a single hot bucket from emitting B^2/2 rows.

    Plan shape matters here: banding is ONE pass over the signature
    table (explode of an inline band array), not a UNION of per-band
    selects — a union would re-aggregate the minhash signature once per
    band per join side (8x at 4 bands; no ReusedExchange across the
    branches). This restores the reference's "all joins are
    document-local" boundedness (SURVEY §2.3) at corpus scale."""
    return _pairs_from_sig(dedup_minhash_sig(spark, sf_dir))


def _pairs_from_sig(sig, rows_per_band: int = N_MINHASH // LSH_BANDS):
    """LSH banding + bounded bucket pair emission over a signature
    table — the compute body of ``dedup_lsh_pairs``, factored so the
    staged curation runner (pipeline.run_curation_staged) can feed it a
    MATERIALIZED signature parquet instead of recomputing shingles.

    ``rows_per_band`` is the MinHash-side band-width knob (r4 verdict
    item 6, the twin of _srp_bands' bits_per_band): a band collides
    for a pair at jaccard j with probability j^r, so raising r cuts
    RANDOM collisions (bucket occupancy noise at 10^12 docs)
    geometrically while lowering near-dup recall per band — the number
    of bands is N_MINHASH // r (widen N_MINHASH alongside r to keep
    recall; signatures cost one affine map per extra row, not an extra
    md5). Default r=2 x 4 bands fits the sandbox SFs; SCALE.md carries
    the measured occupancy model."""
    return bounded_bucket_pairs(
        _bands_from_sig(sig, rows_per_band), "doc_id", "doc_a", "doc_b"
    )


def _bands_from_sig(sig, rows_per_band: int = N_MINHASH // LSH_BANDS):
    """(doc_id, band, bkey) band rows from a signature table — one pass
    (explode of an inline band array, see dedup_lsh_pairs' plan note).
    Factored from ``_pairs_from_sig`` so the streaming near-dup twin
    (streaming/neardup.py) bands each arriving batch with the IDENTICAL
    bucket definition the batch route uses."""
    n_bands = N_MINHASH // rows_per_band
    band_structs = []
    for b in range(n_bands):
        parts = [
            F.col(f"sig{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(":", *parts)).alias("bkey"),
            )
        )
    return (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bb"))
        .select(
            "doc_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bkey").alias("bkey"),
        )
    )


_HI_HEX = "'8','9','a','b','c','d','e','f'"


@query(
    "dedup_simhash",
    f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hashed AS (SELECT doc_id, md5(shingle) AS h FROM sh),
    weighted AS (
      SELECT doc_id,
             {", ".join(
                 f"sum(CASE WHEN substr(h, {b + 1}, 1) IN ({_HI_HEX}) "
                 f"THEN 1 ELSE -1 END) AS w{b}"
                 for b in range(16)
             )}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id,
           concat({", ".join(
               f"CASE WHEN w{b} >= 0 THEN '1' ELSE '0' END" for b in range(16)
           )}) AS simhash16
    FROM weighted
    """,
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash over shingle md5s: per-bit +/-1 vote, sign =
    signature bit. Bit b is read from hex digit b of the shingle hash —
    pure string ops, engine-portable.

    Shape: all 16 bit-votes are columns of ONE doc_id aggregate
    (map-side combined), not an exploded (doc_id, bit) long table — the
    long form 16x's the shuffle rows and needs a second shuffle plus an
    ordered collect to reassemble the signature string. Same pattern as
    dedup_minhash_sig's 8 signature columns."""
    sh = _shingles(load(spark, sf_dir, "documents")).withColumn(
        "h", F.md5("shingle")
    )
    aggs = [
        F.sum(
            F.when(
                F.substring(F.col("h"), b + 1, 1).isin(*"89abcdef"), 1
            ).otherwise(-1)
        ).alias(f"w{b}")
        for b in range(16)
    ]
    weighted = sh.groupBy("doc_id").agg(*aggs)
    bits = [
        F.when(F.col(f"w{b}") >= 0, F.lit("1")).otherwise(F.lit("0"))
        for b in range(16)
    ]
    return weighted.select("doc_id", F.concat(*bits).alias("simhash16"))


WINNOW_K = 8  # k-gram length (chars)
WINNOW_W = 5  # winnowing window (k-grams)


@query(
    "doc_fingerprint_winnow",
    f"""
    WITH grams AS (
      SELECT doc_id, u.pos, md5(u.gram) AS h FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(length(text) - {WINNOW_K - 1}, 0)),
                 i -> struct_pack(pos := i - 1,
                                  gram := substr(text, i, {WINNOW_K})))) AS u
        FROM documents
      )
    ),
    wins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                          AND {WINNOW_W - 1} FOLLOWING) AS fp
      FROM grams
    )
    SELECT DISTINCT doc_id, fp FROM wins
    """,
)
def doc_fingerprint_winnow(spark, sf_dir):
    """Document fingerprinting by winnowing (rolling k-gram hashes, min
    per sliding window, distinct) — the standard local-fingerprint
    scheme for plagiarism/near-dup detection, fully relational: explode
    k-grams -> windowed min -> distinct. Hashes are md5 strings
    (engine-portable ordering)."""
    from pyspark.sql.window import Window as W

    d = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # texts shorter than one k-gram have no fingerprints; also keeps
        # the sequence endpoint >= 0 (sequence(0,-1) is [0,-1] in Spark,
        # which would fabricate a prefix fingerprint the oracle lacks)
        .filter(F.length("text") >= WINNOW_K)
    )
    idx = F.sequence(F.lit(0), F.length("text") - WINNOW_K)
    grams = d.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.md5(F.col("text").substr(i + 1, F.lit(WINNOW_K))),
            )
        ).alias("pos", "h"),
    )
    w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, WINNOW_W - 1)
    )
    return (
        grams.select("doc_id", "pos", "h")
        .withColumn("fp", F.min("h").over(w))
        .select("doc_id", "fp")
        .distinct()
    )


@query(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 150 AND b.vec_id < 150
      AND round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]),
                6) >= {DEDUP_COS_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (bounded id range keeps the
    sandbox check cheap; the scale path replaces the theta self-join
    with the IVF cell join in operators/similarity.py). Norms are
    projected once per side before the join — only the dot product is
    per-pair."""
    from .similarity import _dot_expr, _norm_expr

    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 150)
        .withColumn("nrm", _norm_expr(F.col("embedding")))
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = _dot_expr(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(F.round(cos, 6) >= DEDUP_COS_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            F.round(cos, 4).alias("cosine"),
        )
    )


@query(
    "text_token_count",
    r"""
    SELECT doc_id,
           len(string_split(text, ' '))                     AS ws_tokens,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (letters-runs | digit-runs | single punctuation)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).alias(
            "bpe_ish_tokens"
        ),
    )


_STOPWORDS = ("the", "a", "of", "to", "in")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@query(
    "text_quality_score",
    f"""
    WITH w AS (
      SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents
    )
    SELECT doc_id,
           len(words) AS n_words,
           round(CAST(n_chars - (len(words) - 1) AS DOUBLE) / len(words), 4)
             AS avg_word_len,
           round(CAST(len(list_filter(words, x -> x IN ({_STOP_SQL})))
                 AS DOUBLE) / len(words), 4) AS stopword_ratio
    FROM w
    """,
)
def text_quality_score(spark, sf_dir):
    """Quality scoring: length stats + stopword ratio — the boilerplate/
    quality heuristics of a pretraining filter, relationally."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_words = F.size(words)
    stop = F.size(
        F.filter(words, lambda x: x.isin(*_STOPWORDS))
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(
            (F.col("n_chars") - (n_words - 1)).cast("double") / n_words, 4
        ).alias("avg_word_len"),
        F.round(stop.cast("double") / n_words, 4).alias("stopword_ratio"),
    )


@query(
    "text_langid_heuristic",
    f"""
    WITH w AS (
      SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             len(list_filter(words, x -> x IN ({_STOP_SQL}))) AS n_en,
             len(list_filter(words, x -> x IN ('der','die','und'))) AS n_de
      FROM w
    )
    SELECT doc_id, lang AS tagged_lang,
           CASE WHEN n_de > n_en THEN 'de'
                WHEN n_en > 0 THEN 'en'
                ELSE 'und' END AS detected_lang
    FROM m
    """,
)
def text_langid_heuristic(spark, sf_dir):
    """Marker-stopword language id as a relational CASE — the SQL-shaped
    twin of kernels/langid.py (which the extraction pipeline uses)."""
    d = load(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_en = F.size(F.filter(words, lambda x: x.isin(*_STOPWORDS)))
    n_de = F.size(F.filter(words, lambda x: x.isin("der", "die", "und")))
    return d.select(
        "doc_id",
        F.col("lang").alias("tagged_lang"),
        F.when(n_de > n_en, "de")
        .when(n_en > 0, "en")
        .otherwise("und")
        .alias("detected_lang"),
    )


# Shared connected-components CTE chain (pairs -> undirected edges ->
# transitive closure -> min-label components). Single source of truth:
# every oracle that needs CC (components, canonical docs, the final
# corpus) composes THIS string, exactly as the Spark side composes
# dedup_components() — editing the algorithm in one place cannot
# silently desynchronize a downstream oracle.
_CC_CTES = f"""pairs AS ({_lsh_pairs_sql()}),
    edges AS (
      SELECT doc_a, doc_b FROM pairs
      UNION
      SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
    ),
    reach(a, b) AS (
      SELECT doc_a, doc_b FROM edges
      UNION
      SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a
    ),
    comp AS (
      SELECT a AS doc_id, least(a, min(b)) AS component
      FROM reach GROUP BY a
    )"""


def _components_sql() -> str:
    return f"WITH RECURSIVE {_CC_CTES} SELECT doc_id, component FROM comp"


@query("dedup_components", _components_sql())
def dedup_components(spark, sf_dir):
    """Connected components of the near-dup graph: every doc in an LSH
    candidate pair labeled with its component's minimum doc_id — the
    step that turns pairwise candidates into dedup clusters (pick the
    min-id doc as canonical, drop the rest).

    Implementation is iterative min-label propagation — the canonical
    large-scale CC algorithm on Spark: per round, each doc takes the min
    of its own label and its neighbors' labels; converges in <= graph
    diameter rounds (near-dup clusters are shallow). Four scale musts,
    all here: the undirected edge list is one ``inline`` of each pair
    both ways, repartitioned by ``doc_b`` with no fixed count, so AQE
    sizes the (near-dup-only, tiny) graph from the bytes it shuffles
    and no count of the pair list runs; labels start at propagation
    round 1 (each doc's min over itself and its neighbours, one
    aggregate over the edges), not at an identity pass;
    ``localCheckpoint`` truncates the growing lineage every round (else
    the plan doubles per iteration); and the convergence flag is a
    ``count_if`` of a ``chg`` flag computed inside the label-update
    select and observed on the frame that checkpoint materializes, so
    testing it costs no job and no labels-vs-labels join of its own.
    DuckDB twin: recursive-CTE transitive closure.
    """
    return _cc_from_pairs(dedup_lsh_pairs(spark, sf_dir))


def _cc_from_pairs(pairs_df):
    """Iterative min-label propagation over a candidate-pair edge list —
    the compute body of ``dedup_components``, factored so the staged
    curation runner can feed it a MATERIALIZED pairs parquet. All the
    scale clauses documented on ``dedup_components`` live here."""
    swap = F.struct(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    edges = (
        pairs_df.select(F.inline(F.array(F.struct("doc_a", "doc_b"), swap)))
        .repartition("doc_b")
        .localCheckpoint()
    )
    labels = (
        edges.groupBy("doc_a")
        .agg(F.least("doc_a", F.min("doc_b")).alias("component"))
        .withColumnRenamed("doc_a", "doc_id")
        .localCheckpoint()
    )
    while True:
        neigh = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy("doc_a")
            .agg(F.min("component").alias("neigh_min"))
        )
        neigh_min = F.coalesce(F.col("neigh_min"), labels["component"])
        # count_if, not max: an empty label table reads 0, not NULL
        obs = Observation()
        labels = (
            labels.join(neigh, labels["doc_id"] == neigh["doc_a"], "left")
            .select(
                labels["doc_id"],
                F.least(labels["component"], neigh_min).alias("component"),
                (neigh_min < labels["component"]).alias("chg"),
            )
            .observe(obs, F.count_if("chg").alias("changed"))
            .localCheckpoint()
            .drop("chg")
        )
        if obs.get["changed"] == 0:
            return labels


@query(
    "dedup_canonical_docs",
    f"""
    WITH RECURSIVE {_CC_CTES},
    drops AS (SELECT doc_id FROM comp WHERE doc_id <> component)
    SELECT d.doc_id, d.source
    FROM documents d LEFT JOIN drops USING (doc_id)
    WHERE drops.doc_id IS NULL
    """,
)
def dedup_canonical_docs(spark, sf_dir):
    """The dedup payoff query: materialize the corpus with every near-
    dup cluster collapsed to its canonical (min-id) member — the step
    that actually shrinks a training set. documents LEFT ANTI JOIN the
    non-canonical ids, the full table scanned exactly once. The drop
    set grows with the corpus, so the join strategy is left to AQE: a
    broadcast while the set is small, a shuffle join once it is not."""
    from .tables import load as _load

    comp = dedup_components(spark, sf_dir)
    drops = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
    return (
        _load(spark, sf_dir, "documents")
        .join(drops, "doc_id", "left_anti")
        .select("doc_id", "source")
    )


# Quality-gate stopword list and thresholds: the single source for BOTH
# the Spark predicate (``quality_gate``) and every oracle that embeds
# the gate (training_data_filter, training_corpus_final).
QUALITY_STOPWORDS = (
    "the and of to is in that with for on der die und das ist"
).split()
QUALITY_MIN_WORDS = 20
QUALITY_MIN_CHARS = 100
# a doc in these (Latin-script) languages needs >= 1 stopword per
# QUALITY_WORDS_PER_STOP words
QUALITY_STOP_LANGS = ("en", "de")
QUALITY_WORDS_PER_STOP = 10
_STOP_IN_SQL = ", ".join(f"'{s}'" for s in QUALITY_STOPWORDS)
_QUALITY_CTES = f"""qfeat AS (
      SELECT doc_id, lang, n_chars,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
                 x -> x IN ({_STOP_IN_SQL}))) AS n_stop
      FROM documents
    ),
    quality AS (
      SELECT doc_id, lang, n_words
      FROM qfeat
      WHERE n_words >= {QUALITY_MIN_WORDS}
        AND n_chars >= {QUALITY_MIN_CHARS}
        AND (lang NOT IN ({", ".join(f"'{x}'" for x in QUALITY_STOP_LANGS)})
             OR {QUALITY_WORDS_PER_STOP} * n_stop >= n_words)
    )"""


def quality_gate(df: DataFrame, text: Column, n_chars: Column) -> DataFrame:
    """The rows of ``df`` (which carries ``lang``) whose ``text`` passes
    the quality gate, with an ``n_words`` column added: length floors
    plus a stopword-density floor for Latin-script docs. A narrow
    filter; Catalyst fuses the predicates into one codegen stage."""
    words = F.split(text, " ")
    n_stop = F.size(F.filter(words, lambda x: x.isin(*QUALITY_STOPWORDS)))
    n_words = F.col("n_words")
    return (
        df.select("*", F.size(words).alias("n_words"), n_stop.alias("_n_stop"))
        .filter(
            (n_words >= QUALITY_MIN_WORDS)
            & (n_chars >= QUALITY_MIN_CHARS)
            & (
                ~F.col("lang").isin(*QUALITY_STOP_LANGS)
                | (F.lit(QUALITY_WORDS_PER_STOP) * F.col("_n_stop") >= n_words)
            )
        )
        .drop("_n_stop")
    )


@query(
    "training_data_filter",
    f"WITH {_QUALITY_CTES} SELECT doc_id, lang, n_words FROM quality",
)
def training_data_filter(spark, sf_dir):
    """Composite quality gate — the shape of a real training-data
    filter stage (``quality_gate`` over the documents table): one scan,
    a pushdown-friendly narrow map at corpus scale, no shuffle."""
    from .tables import load as _load

    d = _load(spark, sf_dir, "documents")
    return quality_gate(d, F.col("text"), F.col("n_chars")).select(
        "doc_id", "lang", "n_words"
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination + cross-document boilerplate
# ---------------------------------------------------------------------------

DECON_W = 13  # n-gram width for contamination (the GPT-3/Pile convention)
BENCH_MOD = 29  # deterministic synthetic "benchmark" subset: doc_id % 29 == 0
BOILER_W = 5  # n-gram width for cross-document boilerplate
BOILER_MIN_DF = 2  # a gram in >= this many docs counts as boilerplate


# Shared contamination CTE chain (13-grams -> benchmark gram set ->
# per-doc hit counts); composed by decontaminate_ngram and
# training_corpus_final so the protocol lives in one string.
_DECON_CTES = f"""grams AS ({_ngrams_sql(DECON_W, "g")}),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {BENCH_MOD} = 0),
    cont_hits AS (
      SELECT doc_id, count(*) AS n_hits
      FROM grams
      WHERE doc_id % {BENCH_MOD} <> 0 AND g IN (SELECT g FROM bench)
      GROUP BY doc_id
    )"""


def _decon_hits(corpus: DataFrame, bench: DataFrame) -> DataFrame:
    """(doc_id, h): one row per DECON_W-gram occurrence in ``corpus``
    whose md5 ``h`` is also a gram of the eval suite ``bench``. The
    one gram build behind both decontamination sites (the registry
    query and the staged chain's ``decontaminate`` stage).

    The benchmark gram set is forced to broadcast: it is bounded by the
    size of the eval suite, whatever the size of the corpus. The corpus
    side stays non-distinct and streams through the broadcast hash join
    with no shuffle; callers dedup the (small) hit set."""

    def hashes(d):
        return _word_ngrams(d, DECON_W, "g", distinct=False).select(
            "doc_id", F.md5("g").alias("h")
        )

    bench_h = hashes(bench).select("h").distinct()
    return hashes(corpus).join(F.broadcast(bench_h), "h")


@query(
    "decontaminate_ngram",
    f"WITH {_DECON_CTES} SELECT doc_id, n_hits FROM cont_hits",
)
def decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    13-gram with the evaluation set (the GPT-3 §C / Pile protocol —
    overlap at 13 words is effectively never coincidence). Here the
    "benchmark" is a deterministic synthetic subset (doc_id % 29 == 0);
    in production it is the eval-suite table.

    Scale shape: eval suites are tiny next to a training corpus, so the
    benchmark gram set is BROADCAST and the corpus side streams through
    a broadcast hash join with NO corpus-side shuffle at all (round-4
    hot-stage fix: the old form ran a corpus-wide DISTINCT over raw
    13-word strings before the join — the single most expensive shuffle
    of the staged chain; now the stream stays non-distinct, only the
    ~3% benchmark slice pays a distinct, and per-doc gram dedup happens
    in count(DISTINCT h) over the tiny hit set — value-identical).
    Both sides join on md5(gram), not the raw 13-word string: a fixed
    32-char key shrinks the broadcast table and every probe-side
    comparison ~3-6x (md5 collisions are vanishing at any real
    eval-suite size, and the DuckDB oracle keeps raw-string equality,
    so a collision would surface as a driver mismatch). Emits
    (doc_id, n_hits) for contaminated docs only; the drop step is an
    anti-join of this result, same as dedup_canonical_docs."""
    d = load(spark, sf_dir, "documents")
    in_bench = F.col("doc_id") % BENCH_MOD == 0
    return (
        _decon_hits(d.filter(~in_bench), d.filter(in_bench))
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_hits"))
    )


@query(
    "boilerplate_ngrams",
    f"""
    WITH grams AS ({_ngrams_sql(BOILER_W, "g")})
    SELECT g AS gram, count(*) AS df
    FROM grams GROUP BY g HAVING count(*) >= {BOILER_MIN_DF}
    """,
)
def boilerplate_ngrams(spark, sf_dir):
    """Cross-document repeated n-grams — the CCNet-style boilerplate
    census (nav bars, cookie banners, licence footers repeat verbatim
    across sites). Emits (gram, df) for every 5-gram appearing in >=
    BOILER_MIN_DF distinct documents; downstream filters strip these
    from training text.

    Scale shape: distinct-per-doc explode, then ONE shuffle on the gram
    with map-side partial aggregation; the df >= k predicate prunes the
    output to the heavy tail. Same skew logic as SHINGLE_DF_CAP: the
    census itself never joins back doc-to-doc, so no key fans out
    quadratically."""
    d = load(spark, sf_dir, "documents")
    return (
        _word_ngrams(d, BOILER_W, "g")
        .groupBy(F.col("g").alias("gram"))
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DF)
    )


@query(
    "text_repetition_score",
    f"""
    WITH grams AS ({_ngrams_sql(2, "g", distinct=False)})
    SELECT doc_id,
           count(*) AS n_bigrams,
           count(DISTINCT g) AS n_distinct,
           count(*) - count(DISTINCT g) AS n_repeated
    FROM grams GROUP BY doc_id
    """,
)
def text_repetition_score(spark, sf_dir):
    """Intra-document repetition stats — the Gopher-rules quality
    signal (Rae et al. 2021 drop docs whose duplicate-n-gram fraction
    is high: spun text, keyword stuffing, template loops repeat the
    same bigrams). Emits exact integer counts (total, distinct,
    repeated bigrams per doc); the gate threshold stays downstream so
    the compared output carries no float ratio.

    Scale shape: explode + ONE per-doc aggregate, map-side combined —
    no cross-document state at all, the cheapest of the quality
    signals."""
    d = load(spark, sf_dir, "documents")
    return (
        _word_ngrams(d, 2, "g", distinct=False)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count_distinct(F.col("g")).alias("n_distinct"),
            (F.count("*") - F.count_distinct(F.col("g"))).alias("n_repeated"),
        )
    )


SCRUB_W = 8  # words per position-aligned scrub unit
SCRUB_MIN_DF = 2  # unit in >= this many docs is boilerplate


@query(
    "boilerplate_scrub_chunks",
    f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    u AS (
      SELECT doc_id, uu.pos, uu.unit FROM (
        SELECT doc_id, unnest(list_transform(
          generate_series(0,
            CAST(ceil(len(words) / {SCRUB_W}.0) AS BIGINT) - 1),
          i -> struct_pack(
            pos := i,
            unit := array_to_string(
              words[i * {SCRUB_W} + 1 : i * {SCRUB_W} + {SCRUB_W}], ' ')
          ))) AS uu
        FROM w
      )
    ),
    heavy AS (
      SELECT md5(unit) AS h FROM u
      GROUP BY md5(unit) HAVING count(DISTINCT doc_id) >= {SCRUB_MIN_DF}
    ),
    keptagg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(unit, ' ' ORDER BY pos) AS cleaned
      FROM u WHERE md5(unit) NOT IN (SELECT h FROM heavy)
      GROUP BY doc_id
    )
    SELECT w.doc_id,
           CAST(ceil(len(w.words) / {SCRUB_W}.0) AS BIGINT) AS n_units,
           coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
           coalesce(k.cleaned, '') AS cleaned
    FROM w LEFT JOIN keptagg k USING (doc_id)
    """,
)
def boilerplate_scrub_chunks(spark, sf_dir):
    """Cross-document boilerplate REMOVAL, CCNet line-dedup style: the
    step beyond the census (``boilerplate_ngrams``) that actually
    materializes cleaned documents. Unit = position-aligned
    {SCRUB_W}-word chunk (the synthetic table carries no newlines; on a
    real crawl the unit is the line); a unit appearing in >=
    SCRUB_MIN_DF distinct documents is boilerplate and is dropped, the
    survivors are stitched back in order. Emits
    (doc_id, n_units, n_kept, cleaned).

    Scale shape: the unit table is materialized ONCE
    (localCheckpoint) and feeds the census and the scrub side; the
    census is one md5-key shuffle with map-side partial agg; the heavy
    list (boilerplate is by definition the df tail) broadcasts into a
    hash-key anti-join; only the KEPT units pay the one regroup
    shuffle that rebuilds documents — dropped boilerplate never
    travels. n_units comes narrow from the source row (ceil of the
    word count), not from a second aggregate over the exploded
    table."""
    return _scrub_from_docs(load(spark, sf_dir, "documents"))


def _scrub_from_docs(d):
    """Boilerplate-scrub compute body over an arbitrary documents
    DataFrame — factored so the staged curation runner can feed it the
    canonical table it just wrote."""
    w = F.col("w")
    idx = F.sequence(
        F.lit(0).cast("long"),
        F.ceil(F.size(w) / float(SCRUB_W)).cast("long") - 1,
    )
    words = d.select("doc_id", F.split("text", " ").alias("w"))
    units = words.select(
        "doc_id",
        F.posexplode(
            F.transform(
                idx,
                lambda i: F.array_join(
                    F.slice(w, (i * SCRUB_W + 1).cast("int"), SCRUB_W), " "
                ),
            )
        ).alias("pos", "unit"),
    ).localCheckpoint()
    heavy = (
        units.groupBy(F.md5("unit").alias("h"))
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= SCRUB_MIN_DF)
        .select("h")
    )
    # forced broadcast, bounded by construction: each heavy key stands
    # for >= SCRUB_MIN_DF unit rows, so the list holds at most
    # 1/SCRUB_MIN_DF of the unit table, and in a crawl it is the
    # boilerplate shared across pages, which grows with sites, not pages
    kept = units.withColumn("h", F.md5("unit")).join(
        F.broadcast(heavy), "h", "left_anti"
    )
    keptagg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "unit"))),
                lambda x: x["unit"],
            ),
            " ",
        ).alias("cleaned"),
    )
    stats = words.select(
        "doc_id",
        F.ceil(F.size(w) / float(SCRUB_W)).cast("long").alias("n_units"),
    )
    return (
        stats.join(keptagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_units",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
        )
    )


# per-lang keep-rate as a hex-prefix threshold over md5(doc_id):
# 2 hex chars = doc_id's bucket in 0..255; '80' keeps 128/256 = 50%.
SAMPLE_RATES = {"en": "80", "de": "40", "hi": "40", "sa": "ff"}


@query(
    "stratified_sample",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
          CASE lang {" ".join(f"WHEN '{k}' THEN '{v}'" for k, v in SAMPLE_RATES.items())}
          ELSE '00' END
    """,
)
def stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — the data-mixing primitive of
    a training pipeline (down-weight over-represented languages or
    sources to a target mixture). Membership is a pure function of
    doc_id: keep iff the first md5 hex byte falls under the stratum's
    threshold, so the sample is reproducible across runs, engines and
    partitionings (no RNG, no sample() nondeterminism), and a document
    keeps or loses membership independently of every other row.

    Scale shape: a single narrow scan-and-filter — no shuffle; the
    hex-prefix comparison is a monotone map of a uniform hash, so each
    stratum's realized rate concentrates tightly around its target."""
    d = load(spark, sf_dir, "documents")
    pref = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    rate = F.lit("00")
    for k, v in reversed(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    return d.filter(pref < rate).select("doc_id", "lang")


@query(
    "training_corpus_final",
    f"""
    WITH RECURSIVE {_CC_CTES},
    dup_drops AS (SELECT doc_id FROM comp WHERE doc_id <> component),
    {_DECON_CTES},
    {_QUALITY_CTES}
    SELECT q.doc_id, q.lang, q.n_words
    FROM quality q
    LEFT JOIN dup_drops dd USING (doc_id)
    LEFT JOIN (SELECT doc_id FROM cont_hits) cd USING (doc_id)
    WHERE dd.doc_id IS NULL AND cd.doc_id IS NULL
      AND q.doc_id % {BENCH_MOD} <> 0
    """,
)
def training_corpus_final(spark, sf_dir):
    """The pipeline payoff, composed end-to-end: materialize the
    training corpus that survives EVERY gate — near-dup canonicalized
    (keep only each LSH cluster's min-id member), benchmark-
    decontaminated (drop any doc sharing a 13-gram with the eval set,
    and the eval set itself), and quality-filtered (length + stopword
    floors). This is the query a data team actually ships; the
    components are the individually-oracled operators above.

    Scale shape: the corpus is scanned ONCE (the quality gate's narrow
    filter) and every exclusion list (dup drops, contaminated ids)
    anti-joins against that scan — the same shape as
    dedup_canonical_docs. The contaminated ids carry no hint: the
    planner sizes them and broadcasts them while they are small. The
    dup drops keep a forced broadcast for now, with no size bound: they
    come out of the checkpointed CC rounds, whose estimated size is the
    product of the rounds' join estimates (8.9e17 bytes for 48 rows at
    sf0.001), so the planner alone would shuffle the corpus for them."""
    comp = dedup_components(spark, sf_dir)
    dup_drops = comp.filter(
        F.col("doc_id") != F.col("component")
    ).select("doc_id")
    cont_drops = decontaminate_ngram(spark, sf_dir).select("doc_id")
    quality = training_data_filter(spark, sf_dir)
    return (
        quality.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(dup_drops), "doc_id", "left_anti")
        .join(cont_drops, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_words")
    )
