"""Query registry — training-data-pipeline extensions (SURVEY.md §7
Phase 4 / BASELINE.json north star): dedup, text analysis, similarity
search, multimodal plumbing, over the ``documents`` / ``embeddings``
fixtures. Same oracle conventions as queries.py.

The fixture documents are all distinct, so dedup queries inject a
deterministic "re-crawl": every doc with ``doc_id % 5 = 0`` reappears
with ``doc_id + 100000`` — both engines apply the identical union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import textops as TX
from .operators import dedup_text as DD
from .operators import graph as GR
from .operators.memo import fixture_key, memoized
from .queries import ORACLES, QUERIES, T, register
from .similarity import cosine, cosine_topk_bruteforce, cosine_topk_lsh, ivf_topk, label_centroids


def _with_recrawl(docs: DataFrame) -> DataFrame:
    dup = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    return docs.unionByName(dup)


_RECRAWL_SQL = """
        SELECT * FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
        FROM documents WHERE doc_id % 5 = 0
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "x1_dedup_exact",
    f"""
    WITH docs AS ({_RECRAWL_SQL})
    SELECT md5(text)    AS content_hash,
           min(doc_id)  AS keep_id,
           count(*)     AS n_copies
    FROM docs
    GROUP BY 1
    """,
)
def x1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, min-id representative — one shuffle
    on the content hash."""
    return DD.exact_dup_groups(_with_recrawl(T(spark, sf_dir, "documents")), "doc_id", "text")


@register(
    "x2_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def x2_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the canonicalized text."""
    return T(spark, sf_dir, "documents").select("doc_id", TX.fingerprint("text").alias("fp"))


@register(
    "x3_ngram_jaccard",
    f"""
    WITH docs AS ({_RECRAWL_SQL}),
    tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM docs
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM tok WHERE len(toks) >= 3
    ),
    sz AS (SELECT doc_id, len(s) AS sz FROM sh),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           floor(CAST(inter * 10000 AS DOUBLE)
                 / (za.sz + zb.sz - inter)) / 10000.0 AS jaccard
    FROM pairs
    JOIN sz za ON doc_a = za.doc_id
    JOIN sz zb ON doc_b = zb.doc_id
    WHERE inter / (za.sz + zb.sz - inter) >= 0.6
    """,
)
def x3_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs: exact-set collapse (identical
    shingle sets join once via a representative — x63's production
    step, retrofitted per VERDICT r7 #3), shingle-join pruning (docs
    only meet on a shared shingle), exact verification, pair expansion.
    The stop-shingle skew guard is ON (max_df=100), and since r9 the
    default guard is DUP-SAFE (VERDICT r8 #1): passing max_df alone
    implies max_df_frac=0.01, and the pair drives a JOIN-STRATEGY
    profile (one aggregate, exact-rational fraction compare — the
    decision is replication-invariant). Dup-light corpus (no shingle
    df in (100, 1 %·N]): the classic guarded join runs — hot shingles
    never become join keys, their intersection contribution restored
    exactly via the broadcast hot-set; every gate fixture takes this
    path, so gate plans and values are unchanged from r8. Dup-heavy
    corpus (the band occupied — exactly where the r8 20× probe caught
    the absolute cap silently dropping 15.6 % of true pairs): the call
    auto-routes to x63's prefix-filter join, complete at the threshold
    by theorem and measured 8× cheaper there than widening the guard
    (r9 probe: 22.7 s vs 189.7 s, identical 882 694-pair output).
    ``max_df_frac=0.0`` opts back into the absolute-only heuristic
    with no profile (pre-r9 behavior)."""
    return DD.ngram_jaccard_pairs(
        _with_recrawl(T(spark, sf_dir, "documents")),
        "doc_id",
        "text",
        n=3,
        threshold=0.6,
        max_df=100,
    )


@register("x4_minhash_lsh", None)  # oracle attached below (reuses x3's)
def x4_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH → exact-verify dedup pipeline
    (shingle→minhash→band→bucket-join→array_intersect Jaccard).

    The full production shape: LSH prunes the pair space to ~linear,
    exact verification keeps only true near-dups — so the output is
    value-identical to the all-shared-shingle x3 query and shares its
    DuckDB oracle. The oracle therefore ALSO gates LSH recall: a
    banding miss of any ≥-threshold pair would show up as a missing
    row. (32 hashes × 8 bands; the statistical recall contract is
    pinned in tests/test_text_similarity.py as well.)
    """
    docs = _with_recrawl(T(spark, sf_dir, "documents"))
    return DD.minhash_lsh_verified(
        docs, "doc_id", "text", n=3, num_hashes=32, bands=8, threshold=0.6
    )


# LSH+verify is value-identical to the exact all-shared-shingle query.
ORACLES["x4_minhash_lsh"] = ORACLES["x3_ngram_jaccard"]


# x5_simhash (rows-only) was FOLDED INTO x5b_simhash_planted_dups in
# round 4 (VERDICT r3 next-round #5): the operator is the same
# ``DD.simhash_near_pairs`` machinery, but the registry entry with a
# value contract (planted exact dups must all pair up) is the one the
# gate runs. Statistical near-dup behavior stays pinned in pytest
# (tests/test_text_similarity.py — hash-dependent, not oracle-able).


@register(
    "x6_embedding_near_dup",
    """
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    blocked AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm,
               list_aggregate(list_transform(v[1:8], x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END),
                              'string_agg', '') AS blk
        FROM base
    )
    SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.8
    """,
)
def x6_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: sign-bit block then exact cosine.
    Deterministic re-ingest dups (vec_id % 50) guarantee findable
    pairs in the random fixture."""
    emb = T(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") % 50 == 0).withColumn("vec_id", F.col("vec_id") + 100000)
    return DD.embedding_cosine_pairs(
        emb.unionByName(dup), "vec_id", "embedding", threshold=0.8, block_bits=8
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "x7_token_stats",
    """
    WITH t AS (
        SELECT lang, len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
        FROM documents
    )
    SELECT lang,
           count(*)                     AS n_docs,
           CAST(sum(n_tok) AS BIGINT)   AS total_tokens,
           floor(CAST(sum(n_tok) * 100 AS DOUBLE) / count(*)) / 100.0 AS avg_tokens,
           CAST(min(n_tok) AS BIGINT)   AS min_tokens,
           CAST(max(n_tok) AS BIGINT)   AS max_tokens
    FROM t
    GROUP BY lang
    """,
)
def x7_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace) aggregated per language. The average
    is floor-scaled from the exact integer token sum (round(avg) of the
    same double can disagree across engines' rounding conventions on
    halfway points; floor of identical doubles cannot)."""
    docs = T(spark, sf_dir, "documents")
    n_tok = TX.token_count("text")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("long").alias("total_tokens"),
        (
            F.floor((F.sum(n_tok) * 100).cast("double") / F.count(F.lit(1))) / 100.0
        ).alias("avg_tokens"),
        F.min(n_tok).cast("long").alias("min_tokens"),
        F.max(n_tok).cast("long").alias("max_tokens"),
    )


@register(
    "x8_quality_scores",
    """
    WITH f AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+'))            AS n_tokens,
               len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b')) AS n_stopwords,
               len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))          AS n_punct,
               length(regexp_replace(text, '\\s', '', 'g'))              AS n_nospace,
               length(text)                                              AS n_len
        FROM documents
    )
    SELECT doc_id, n_tokens, n_stopwords,
           CAST(n_stopwords * 10000 // n_tokens AS DOUBLE) / 10000.0 AS stop_ratio,
           CAST(n_punct * 10000 // n_len AS DOUBLE) / 10000.0        AS punct_ratio,
           CAST(n_nospace * 10000 // n_tokens AS DOUBLE) / 10000.0   AS avg_token_len,
           CASE WHEN n_stopwords * 100 >= n_tokens * 5 AND n_tokens BETWEEN 10 AND 10000
                THEN 'good' ELSE 'low_quality' END AS quality_label
    FROM f
    """,
)
def x8_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length/punct/stopword ratios).

    r11: the five integer counts run in one vectorized RE2 pass
    (``quality.quality_count_batches`` via ``mapInArrow``; Java-regex
    parity pinned by ``test_quality_counts_arrow_matches_jvm``); the
    ratio/label arithmetic is the same native-Column stage the JVM
    form uses (``textops.quality_ratio_select``). Still map-only,
    zero shuffle."""
    from .operators.quality import quality_count_batches

    docs = T(spark, sf_dir, "documents")
    counts = docs.select("doc_id", "text").mapInArrow(
        quality_count_batches,
        "doc_id bigint, n_tokens bigint, n_stopwords bigint, "
        "n_punct bigint, n_nospace bigint, n_len bigint",
    )
    return TX.quality_ratio_select(counts)


def _langid_counts_sql() -> dict[str, str]:
    out = {}
    for lang, words in TX.LANG_STOPWORDS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        out[lang] = f"len(regexp_extract_all(lower(text), '{pat}'))"
    return out


_LC = _langid_counts_sql()


@register(
    "x9_lang_id",
    f"""
    WITH g AS (
        SELECT lang,
               CASE WHEN {_LC['en']} + {_LC['de']} + {_LC['pt']} = 0 THEN 'unknown'
                    WHEN {_LC['en']} >= {_LC['de']} AND {_LC['en']} >= {_LC['pt']} THEN 'en'
                    WHEN {_LC['de']} >= {_LC['pt']} THEN 'de'
                    ELSE 'pt' END AS guess
        FROM documents
    )
    SELECT lang, guess, count(*) AS n
    FROM g GROUP BY 1, 2
    """,
)
def x9_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-count argmax) vs the labeled
    ``lang`` column — confusion counts."""
    docs = T(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.lang_guess("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "x10_bpe_estimate",
    """
    SELECT source,
           CAST(sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT)
               AS est_bpe_tokens,
           count(*) AS n_docs
    FROM documents
    GROUP BY source
    """,
)
def x10_bpe_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimate per source (shard-sizing input)."""
    docs = T(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(TX.bpe_token_estimate("text")).cast("long").alias("est_bpe_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "x11_knn_bruteforce",
    """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (
        SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    )
    SELECT query_id, neighbor_id, round(sim, 6) AS cosine, rnk
    FROM (
        SELECT query_id, neighbor_id,
               list_dot_product(qv, cv)
                   / (sqrt(list_sum(list_transform(qv, x -> x*x)))
                      * sqrt(list_sum(list_transform(cv, x -> x*x)))) AS sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY list_dot_product(qv, cv)
                                        / (sqrt(list_sum(list_transform(qv, x -> x*x)))
                                           * sqrt(list_sum(list_transform(cv, x -> x*x)))) DESC,
                                  neighbor_id) AS rnk
        FROM q, c WHERE query_id <> neighbor_id
    )
    WHERE rnk <= 10
    """,
)
def x11_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 per query (brute force — the ANN baseline)."""
    emb = T(spark, sf_dir, "embeddings")
    return cosine_topk_bruteforce(emb.filter(F.col("vec_id") < 5), emb, k=10)


_PLANTED_DUP_RANK1_SQL = """
    SELECT vec_id + 100000      AS query_id,
           vec_id               AS neighbor_id,
           CAST(1.0 AS DOUBLE)  AS cosine,
           1                    AS rnk
    FROM embeddings WHERE vec_id % 50 = 0
"""


def _planted_dup_queries(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Re-ingest duplicates (vec_id % 50 → +100000) as ANN queries over
    the corpus-plus-duplicates — the deterministic self-recall probe."""
    dup = emb.filter(F.col("vec_id") % 50 == 0).withColumn("vec_id", F.col("vec_id") + 100000)
    return dup, emb.unionByName(dup)


@register("x12_knn_lsh", _PLANTED_DUP_RANK1_SQL)
def x12_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit-LSH-bucketed ANN (the scale path: bucket = join key),
    value-gated by the planted-duplicate self-recall contract: every
    re-ingested exact duplicate must retrieve its original at rank 1
    with cosine 1.0. Deterministic by construction — an exact dup has
    identical sign bits, so it collides in EVERY hash table, and
    nothing can outrank cosine 1.0. A bucketing/probe bug (wrong join
    key, dropped table, off-by-one dim window) breaks the contract.
    Statistical recall-vs-brute-force is pinned in pytest (hash-
    dependent, so not value-oracle-able)."""
    emb = T(spark, sf_dir, "embeddings")
    dup, corpus = _planted_dup_queries(emb)
    return cosine_topk_lsh(dup, corpus, k=10, bits=8).filter(F.col("rnk") == 1)


@register("x13_knn_ivf", _PLANTED_DUP_RANK1_SQL)
def x13_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (route to nprobe nearest label-centroids, search
    only those partitions), value-gated by the same planted-duplicate
    self-recall contract as x12/x18/x20/x21 (VERDICT r3 next-round #5
    — previously the last fixture-label rows-only entry): every
    re-ingested exact duplicate must retrieve its original at rank 1
    with cosine 1.0. The dup's vector is identical to the original's,
    so its home partition is probed and nothing can outrank cosine
    1.0 — a routing or partition-scan bug breaks the contract.
    Statistical recall-vs-brute-force stays pinned in pytest."""
    emb = T(spark, sf_dir, "embeddings")
    dup, corpus = _planted_dup_queries(emb)
    return ivf_topk(dup, corpus, k=10, nprobe=3).filter(F.col("rnk") == 1)


@register(
    "x14_label_centroids",
    """
    SELECT label, CAST(i AS INT) + 1 AS dim,
           floor(CAST(sum(CAST(round(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                                     * 1000000) AS BIGINT)) AS DOUBLE)
                 / count(*)) / 1000000.0 + 0.0 AS centroid
    FROM embeddings, range(0, 64) t(i)
    GROUP BY 1, 2
    """,
)
def x14_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label (IVF coarse quantizer) —
    exact integer micro-unit mean on both engines (see
    ``similarity.label_centroids``)."""
    out = label_centroids(T(spark, sf_dir, "embeddings"))
    return out.withColumn("dim", F.col("dim").cast("int"))


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "x15_multimodal_features",
    """
    SELECT meta_lang AS lang,
           count(*) AS n,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes
    FROM (
        SELECT lang AS meta_lang, octet_length(encode(text)) AS n_bytes
        FROM documents
    )
    GROUP BY 1
    """,
)
def x15_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: documents → opaque bytes + typed meta →
    mapInPandas feature extraction (Arrow batches) → aggregate. The
    extractor is the deterministic stub (codecs absent); the plumbing —
    schema, batching, binary transport — is the real thing."""
    from .multimodal import documents_as_media, extract_features

    media = documents_as_media(T(spark, sf_dir, "documents"))
    feats = extract_features(media)
    joined = feats.join(
        documents_as_media(T(spark, sf_dir, "documents")).select(
            "media_id", F.col("meta")["lang"].alias("lang")
        ),
        "media_id",
    )
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_bytes").cast("long").alias("total_bytes")
    )


# ---------------------------------------------------------------------------
# Cluster assignment + dataset splits (the steps after pair detection)
# ---------------------------------------------------------------------------


def _x16_oracle() -> str:
    # Reuse the value-checked n-gram-Jaccard pair query as the edge
    # source, then take its transitive closure with a recursive CTE —
    # DuckDB's fixpoint is the oracle for the distributed label
    # propagation.
    pairs_sql = ORACLES["x3_ngram_jaccard"]
    return f"""
    WITH RECURSIVE jp AS ({pairs_sql}),
    edges(a, b) AS (
        SELECT doc_a, doc_b FROM jp UNION ALL SELECT doc_b, doc_a FROM jp
    ),
    walk(node, lab) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, w.lab FROM walk w JOIN edges e ON e.a = w.node
    ),
    cc AS (SELECT node, min(lab) AS cluster_id FROM walk GROUP BY node),
    docs AS ({_RECRAWL_SQL})
    SELECT d.doc_id,
           CAST(coalesce(cc.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
    FROM docs d LEFT JOIN cc ON d.doc_id = cc.node
    """


@register("x16_dedup_clusters", None)  # oracle attached below (needs x3's)
def x16_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment — the step after pair detection:
    n-gram-Jaccard pairs (x3) → distributed connected components
    (min-label propagation, ``operators/graph.py``) → every document
    labeled with its duplicate-cluster id (its own id if unique).
    "Keep one per cluster" is then a trivial ``cluster_id`` groupBy.

    DuckDB oracle: the same pair query closed transitively with a
    recursive CTE — the declarative fixpoint checks the iterative one.
    """
    from .operators.graph import attach_clusters, connected_components

    docs = _with_recrawl(T(spark, sf_dir, "documents"))
    pairs = DD.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.6, max_df=100)
    comps = connected_components(pairs, "doc_a", "doc_b")
    return attach_clusters(docs.select("doc_id"), comps, "doc_id").select(
        "doc_id", "cluster_id"
    )


ORACLES["x16_dedup_clusters"] = _x16_oracle()


@register(
    "x17_train_eval_split",
    """
    SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                THEN 'train' ELSE 'eval' END AS split,
           lang,
           count(*) AS n
    FROM documents
    GROUP BY 1, 2
    """,
)
def x17_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/eval split — the standard content-hash
    technique: route each doc by the first byte of md5(doc_id), 'cd'/256
    ≈ 80/20. Engine-portable (md5 is md5 everywhere), reproducible
    across runs and cluster sizes, and a pure map — no shuffle until
    the per-(split, lang) count. The same expression works as a
    partition-pruning predicate when train/eval land in separate
    table partitions.
    """
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd", "train"
    ).otherwise("eval")
    return (
        T(spark, sf_dir, "documents")
        .groupBy(split.alias("split"), "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register("x18_knn_ivf_kmeans", _PLANTED_DUP_RANK1_SQL)
def x18_knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over learned k-means partitions (deterministic Lloyd,
    ``similarity.kmeans_centroids``) — the production coarse quantizer;
    measured recall@5 0.57 vs 0.30 for the fixture-label partitions at
    the same nprobe (tests/test_text_similarity.py quality contracts).

    Value-gated by the planted-duplicate self-recall contract, which
    for k-means IVF is deterministic by construction: routing and
    assignment run the SAME argmax-cosine over the same centroids, so
    a query identical to a corpus vector always probes that vector's
    own partition (nprobe ≥ 1) and retrieves it at rank 1 / cosine 1.0.
    (Label-routed IVF — x13 — has no such guarantee: label partitions
    carry no geometric signal, so it stays rows-only.)"""
    from .similarity import ivf_topk_kmeans

    emb = T(spark, sf_dir, "embeddings")
    dup, corpus = _planted_dup_queries(emb)
    return ivf_topk_kmeans(dup, corpus, k=10, kclusters=8, nprobe=2).filter(
        F.col("rnk") == 1
    )


# ---------------------------------------------------------------------------
# Corpus curation: deterministic sampling, continuous aggregates, layout
# ---------------------------------------------------------------------------

_SAMPLE_RATES = {"en": 0.25, "zh": 0.5, "de": 1.0}
_SAMPLE_DEFAULT = 0.1


@register("ext_stratified_sample", None)  # oracle attached below
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus downsampling
    (``operators/sampling.py``): per-lang keep rates, membership decided
    by md5(doc_id) vs a broadcast per-stratum threshold — a pure map
    over the corpus (zero fact-side shuffle until the audit groupBy),
    reproducible across engines, runs and partitionings. The audit
    output (count + exact char sum per lang) value-checks MEMBERSHIP,
    not just sample size: a different sample with the right cardinality
    still fails the hash compare."""
    from .operators.sampling import stratified_sample

    docs = T(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, spark, "lang", "doc_id", _SAMPLE_RATES, default_rate=_SAMPLE_DEFAULT
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def _stratified_oracle() -> str:
    from .operators.sampling import stratified_sample_sql_predicate

    pred = stratified_sample_sql_predicate("lang", "doc_id", _SAMPLE_RATES, _SAMPLE_DEFAULT)
    return f"""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE {pred}
    GROUP BY lang
    """


ORACLES["ext_stratified_sample"] = _stratified_oracle()


@register(
    "ext_incremental_agg_merge",
    """
    WITH s AS (
        SELECT event_type,
               count(*) AS n,
               sum(CAST(value * 1000000 AS BIGINT))  AS micro,
               min(CAST(value * 1000000 AS BIGINT))  AS mn,
               max(CAST(value * 1000000 AS BIGINT))  AS mx
        FROM (SELECT event_type, CAST(value AS DECIMAL(18,6)) AS value FROM events)
        GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(micro // 10000 AS DOUBLE) / 100.0        AS total,
           CAST(micro // (n * 10000) AS DOUBLE) / 100.0  AS avg_v,
           CAST(mn // 10000 AS DOUBLE) / 100.0           AS min_v,
           CAST(mx // 10000 AS DOUBLE) / 100.0           AS max_v
    FROM s
    """,
)
def ext_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (``operators/incremental.py``):
    history (event_id % 5 != 0) is collapsed once into mergeable per-key
    state (n/sum/min/max); the new batch (event_id % 5 = 0) folds in as
    a state merge — one |delta| shuffle + a |keys|-row full-outer, no
    rescan of history. The DuckDB oracle aggregates everything from
    scratch: merged state must equal the from-scratch answer exactly —
    the algebraic property that makes incremental view maintenance
    sound. Values aggregate as DECIMAL(18,6) on BOTH sides (exact,
    association-invariant sums) and every output is trunc-scaled from
    exact integer micro-units — round(sum/n, 2) of a rational could
    land exactly on .xx5 where the engines' rounding conventions
    disagree (the r5 x19 class), whatever the regenerated fixture
    holds."""
    from .operators.incremental import merge_aggregate_state, partial_aggregate

    ev = T(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    history = ev.filter(F.col("event_id") % 5 != 0)
    delta = ev.filter(F.col("event_id") % 5 == 0)
    state = partial_aggregate(history, ["event_type"], "value")
    new_state = merge_aggregate_state(state, partial_aggregate(delta, ["event_type"], "value"), ["event_type"])
    return new_state.select(
        "event_type",
        "n",
        (F.expr("div(CAST(total * 1000000 AS BIGINT), 10000)") / 100.0).alias("total"),
        (F.expr("div(CAST(total * 1000000 AS BIGINT), n * 10000)") / 100.0).alias("avg_v"),
        (F.expr("div(CAST(min_v * 1000000 AS BIGINT), 10000)") / 100.0).alias("min_v"),
        (F.expr("div(CAST(max_v * 1000000 AS BIGINT), 10000)") / 100.0).alias("max_v"),
    )


_ZORDER_PRED_SQL = "l_partkey BETWEEN 200 AND 400 AND l_suppkey BETWEEN 10 AND 30"


@register(
    "ext_zorder_skipping",
    f"""
    SELECT count(*)                       AS n,
           round(sum(l_quantity), 2)      AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE {_ZORDER_PRED_SQL}
    """,
)
def ext_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered rewrite (``operators/layout.py``) + a
    two-dimensional box predicate over the clustered copy. Layout moves,
    values don't: the aggregate over the clustered files must equal the
    oracle's answer over the original table, while the conjunctive
    predicate now skips whole files on parquet footer min/max for BOTH
    dimensions (file-count contract in tests/test_layout.py). At 100 TB
    this is the difference between scanning a partition and scanning
    the handful of files whose stats overlap the box."""
    import os as _os

    from .io import read_parquet
    from .operators.layout import cluster_write

    li = T(spark, sf_dir, "lineitem")
    path = f"/tmp/fintrack_zorder_{_os.path.basename(sf_dir.rstrip('/'))}"
    cluster_write(li, ["l_partkey", "l_suppkey"], path, n_files=8, bits_per_dim=4)
    return (
        read_parquet(spark, path)
        .filter(F.expr(_ZORDER_PRED_SQL))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@register(
    "ext_data_quality",
    """
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN value IS NOT NULL AND value >= 0
                     AND event_type IN ('view','click','purchase','signup')
                     AND user_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END)
                AS BIGINT)  AS viol_value_nonneg,
           CAST(sum(CASE WHEN event_type NOT IN ('view','click','purchase','signup')
                     OR event_type IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)           AS viol_known_type,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT)             AS viol_user_present
    FROM events
    """,
)
def ext_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level expectations audit (``operators/quality.py``): three
    named constraints over events, counted in ONE aggregate pass (sums
    of casts, map-side combined — no per-rule scans, no fact shuffle).
    The quarantine split (good/bad + violations array) reuses the same
    predicates; tests cover it, the audit is the oracle-gated surface."""
    from .operators.quality import Expectation, quality_audit

    ev = T(spark, sf_dir, "events")
    exps = [
        Expectation("value_nonneg", F.col("value").isNotNull() & (F.col("value") >= 0)),
        Expectation(
            "known_type",
            F.col("event_type").isin("view", "click", "purchase", "signup"),
        ),
        Expectation("user_present", F.col("user_id").isNotNull()),
    ]
    return quality_audit(ev, exps)


@register(
    "ext_heavy_hitters",
    """
    SELECT event_type, count(*) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY cnt DESC, event_type
    LIMIT 3
    """,
)
def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the mergeable ``approx_top_k`` sketch (Spark
    4.1 built-in): one pass, map-side partial sketches merged at the
    reduce — O(k·buckets) state however large the stream, the
    distributed analog of SpaceSaving. On a low-cardinality column
    (|domain| ≤ sketch capacity) the sketch is EXACT, which is what
    lets the DuckDB exact top-k be the value oracle rather than a
    bounds check; at real cardinalities the same plan degrades to
    ε-approximate counts instead of failing."""
    ev = T(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__hh_events")
    return spark.sql(
        """
        SELECT t.item AS event_type, t.count AS cnt
        FROM (SELECT explode(approx_top_k(event_type, 3, 100)) AS t
              FROM __hh_events)
        ORDER BY cnt DESC, event_type
        """
    )


@register(
    "ext_merge_evolving",
    """
    WITH tgt AS (
        SELECT event_id, event_type, round(value, 2) AS value,
               CAST(NULL AS VARCHAR) AS quality_tier
        FROM events WHERE event_id % 3 != 0
    ),
    src AS (
        SELECT event_id, event_type, round(value * 2, 2) AS value,
               CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS quality_tier
        FROM events WHERE event_id % 3 = 0
    ),
    merged AS (
        SELECT * FROM tgt UNION ALL SELECT * FROM src
    )
    SELECT event_type,
           count(*)                                     AS n,
           round(sum(value), 2)                         AS total,
           CAST(sum(CASE WHEN quality_tier IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pre_evolution
    FROM merged
    GROUP BY event_type
    """,
)
def ext_merge_evolving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving MERGE (``operators/upsert.py``): the source
    batch carries a column the target has never seen (quality_tier);
    the reference evolves the table first, then MERGEs
    (``evoluir_schema`` → ``mesclar_dados``). Disjoint keys here make
    the expected state SQL-expressible: pre-evolution target rows keep
    NULL for the new column (exactly ALTER TABLE ADD COLUMN
    semantics), source rows carry values."""
    from .operators.upsert import merge_latest_wins_evolving

    ev = T(spark, sf_dir, "events")
    target = ev.filter(F.col("event_id") % 3 != 0).select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )
    source = ev.filter(F.col("event_id") % 3 == 0).select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 2, 2).alias("value"),
        F.when(F.col("value") >= 50, "high").otherwise("low").alias("quality_tier"),
    )
    merged = merge_latest_wins_evolving(target, source, ["event_id"], "event_id")
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total"),
        F.sum(F.when(F.col("quality_tier").isNull(), 1).otherwise(0)).alias("n_pre_evolution"),
    )


@register(
    "ext_incremental_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE                    AS approx_within_bound
    FROM events
    GROUP BY event_type
    """,
)
def ext_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally maintained DISTINCT count: per-key HLL sketches
    (``operators/incremental.py``) — history folds once, the delta
    unions in register-wise (commutative + idempotent, so unlike the
    sum-merge state a replayed delta cannot corrupt it). The sketch
    value is engine-specific, so the oracle gates the ACCURACY
    CONTRACT (same pattern as ext_approx_distinct): exact count
    value-checked against DuckDB + an in-query boolean that the
    merged-sketch estimate lands within 15% (HLL lg_k=12 rse ≈ 1.6%,
    so the bound has ~10× margin)."""
    from .operators.incremental import (
        finalize_distinct,
        merge_distinct_state,
        partial_distinct_state,
    )

    ev = T(spark, sf_dir, "events")
    history = ev.filter(F.col("event_id") % 5 != 0)
    delta = ev.filter(F.col("event_id") % 5 == 0)
    state = merge_distinct_state(
        partial_distinct_state(history, ["event_type"], "user_id"),
        partial_distinct_state(delta, ["event_type"], "user_id"),
        ["event_type"],
    )
    approx = finalize_distinct(state, ["event_type"])
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    return exact.join(approx, "event_type").select(
        "event_type",
        "n_exact",
        (F.abs(F.col("approx_nd") - F.col("n_exact")) / F.col("n_exact") <= 0.15).alias(
            "approx_within_bound"
        ),
    )


@register(
    "x19_repetition_filter",
    """
    WITH toks AS (
        SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t,
               len(string_split(text, chr(10)))
                 - len(list_distinct(string_split(text, chr(10)))) AS dup_lines,
               len(string_split(text, chr(10))) AS n_lines
        FROM documents
    ),
    grams AS (
        SELECT doc_id, greatest(len(t) - 1, 0) AS n_bigrams,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
        FROM toks WHERE len(t) >= 2
    ),
    cnt AS (
        SELECT doc_id, n_bigrams, gram, count(*) AS c
        FROM grams GROUP BY ALL
    ),
    bg AS (
        SELECT doc_id, n_bigrams, max(c) AS top_cnt
        FROM cnt GROUP BY doc_id, n_bigrams
    ),
    per_doc AS (
        -- total over ALL docs: <2-token docs keep ratio 0 (LEFT JOIN),
        -- matching the engine's explode_outer — no fixture-shape reliance.
        -- All stats stay exact integers: thresholds as a*100 > pct*b,
        -- the ratio in floor-scaled basis points via integer division.
        SELECT toks.doc_id, lang,
               dup_lines, n_lines,
               COALESCE(bg.top_cnt, 0)    AS top_cnt,
               COALESCE(bg.n_bigrams, 0)  AS n_bigrams,
               CASE WHEN COALESCE(bg.n_bigrams, 0) > 0
                    THEN (COALESCE(bg.top_cnt, 0) * 10000) // bg.n_bigrams
                    ELSE 0 END            AS top_bigram_bp
        FROM toks LEFT JOIN bg ON toks.doc_id = bg.doc_id
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN dup_lines * 100 > n_lines * 30
                      OR top_cnt * 100 > n_bigrams * 18
                    THEN 1 ELSE 0 END) AS BIGINT)             AS n_repetitive,
           CAST(sum(top_bigram_bp) // count(*) AS BIGINT)     AS avg_top_bigram_bp
    FROM per_doc
    GROUP BY lang
    """,
)
def x19_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter (``textops.
    repetition_features``): duplicate-line fraction (pure map) +
    most-frequent-bigram fraction (one shuffle on exploded grams,
    map-side combined) → per-lang rejection counts. The DuckDB twin is
    total over all docs: <2-token docs (no bigrams) enter with
    top_bigram_bp 0 via LEFT JOIN + COALESCE, exactly like the
    engine's explode_outer — regenerated fixture data with degenerate
    docs cannot desync the oracle. Every emitted statistic is an exact
    integer (basis points via integer division, thresholds as cross-
    multiplied integer compares): Spark's partial-agg summation order
    vs DuckDB's sequential sum can never flip a driver hash bit —
    the ext_correlation discipline, applied after r5's x19 red."""
    from .textops import repetition_features

    docs = T(spark, sf_dir, "documents")
    feats = repetition_features(docs)
    joined = feats.join(docs.select("doc_id", "lang"), "doc_id")
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("repetitive"), 1).otherwise(0)).alias("n_repetitive"),
        F.expr("div(sum(top_bigram_bp), count(1))").alias("avg_top_bigram_bp"),
    )


@register("x20_knn_ivf_pq", _PLANTED_DUP_RANK1_SQL)
def x20_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (``similarity.pq_topk``) — the
    compressed-corpus scale path: per-subspace codebooks (one grouped
    deterministic Lloyd across all subspaces), corpus stored as m small
    codes (~32× smaller than the vectors), ADC scoring as m broadcast
    table lookups + one partial-sum shuffle, exact re-rank of the
    shortlist. Value-gated by the planted-duplicate contract: an exact
    dup encodes to identical codes, its ADC score is the maximum for
    that code word combination, and the exact re-rank pins it at
    rank 1 / cosine 1.0; pipeline is RNG-free so the gate is
    deterministic. Quantization-recall statistics live in pytest."""
    from .similarity import pq_topk

    emb = T(spark, sf_dir, "embeddings")
    dup, corpus = _planted_dup_queries(emb)
    return pq_topk(dup, corpus, k=10, m=8, ksub=16, shortlist=50).filter(F.col("rnk") == 1)


@register("x21_knn_ivfpq", _PLANTED_DUP_RANK1_SQL)
def x21_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined IVF-PQ (``similarity.ivfpq_topk``) — coarse k-means
    routing AND compressed-code ADC in one pipeline, the full Jégou et
    al. architecture: versus x20 the ADC scan shrinks to the probed
    coarse cells; versus x18 the probed cells are scanned as m-byte
    codes, not D-float vectors. Planted-duplicate contract: a dup
    shares its original's coarse cell assignment (identical vector,
    deterministic argmax) and code word, so the probe finds it, ADC
    maximizes it, and the exact re-rank pins cosine 1.0 at rank 1."""
    from .similarity import ivfpq_topk

    emb = T(spark, sf_dir, "embeddings")
    dup, corpus = _planted_dup_queries(emb)
    return ivfpq_topk(
        dup, corpus, k=10, kclusters=8, nprobe=2, m=8, ksub=16, shortlist=50
    ).filter(F.col("rnk") == 1)


@register(
    "x5b_simhash_planted_dups",
    """
    SELECT doc_id                    AS doc_a,
           doc_id + 100000           AS doc_b,
           CAST(0 AS BIGINT)         AS hamming
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def x5b_simhash_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-gateable core of x5: an exact re-crawl dup has an
    IDENTICAL simhash (same weighted bit votes), so hamming is exactly
    0 and the pair collides in EVERY rotation table — hash-independent,
    so unlike x5's full output (whose near-pairs depend on the hash
    function) this projection is a deterministic oracle: the planted
    pairs, all at hamming 0, nothing about them left to chance. A
    blocking bug (wrong rotation, dropped table, off-by-one prefix) or
    a non-deterministic simhash breaks it. The statistical pigeonhole
    recall contract for hamming ≤ n_tables−1 stays in pytest."""
    pairs = DD.simhash_near_pairs(
        _with_recrawl(T(spark, sf_dir, "documents")), "doc_id", "text", max_hamming=8
    )
    return pairs.filter(F.col("doc_b") - F.col("doc_a") == 100000).select(
        "doc_a", "doc_b", F.col("hamming").cast("bigint").alias("hamming")
    )


@register(
    "x22_media_metadata",
    """
    SELECT doc_id                         AS media_id,
           'wav'                          AS format,
           44100                          AS sample_rate,
           2                              AS channels,
           16                             AS bits_per_sample,
           floor(CAST(octet_length(encode(text)) AS BIGINT) * 1000000 // 176400
                 ) / 1000.0 AS duration_ms
    FROM documents
    """,
)
def x22_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal metadata extraction under the value gate: each
    document's utf-8 bytes are wrapped in a genuine RIFF/WAVE container
    (16-bit stereo 44.1 kHz header built per spec in the encode pass),
    and ``multimodal.sniff_media_metadata`` parses the header back —
    fmt params exactly, duration derived from the data-chunk size. The
    oracle recomputes duration arithmetically from the text's byte
    length (octet_length·1000/byte_rate), so a header-layout or
    chunk-walk bug cannot hide. Image formats (PNG/JPEG/GIF/BMP
    dimensions) are covered by hand-built headers in pytest.

    Encode and sniff compose into ONE ``map_rows`` pass (the WAV
    writer feeds ``multimodal._sniff_row`` per row): only (doc_id,
    text) enters and (media_id, metadata) leaves Python, so the WAV
    payload never crosses back to the JVM just to be parsed (guide
    §4.1). Both real codec steps still run unchanged."""
    from . import multimodal as MM
    from .operators.rows import map_rows

    docs = T(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism  # codec CPU >> I/O
    )
    media = map_rows(
        docs,
        lambda doc_id, text: MM._sniff_row(
            doc_id, MM.encode_wav_pcm(text.encode("utf-8"), 2, 44100, 16)
        ),
        MM.SNIFF_SCHEMA,
    )
    return media.select(
        "media_id", "format", "sample_rate", "channels", "bits_per_sample", "duration_ms"
    )


@register(
    "x23_decontaminate",
    """
    WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ),
    tgrams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(t) - 11),
                      i -> list_aggregate(t[i:i+12], 'string_agg', ' ')))) AS g
        FROM tok WHERE len(t) >= 13
    ),
    egrams AS (
        SELECT DISTINCT g FROM tgrams WHERE doc_id % 7 = 0
    ),
    hits AS (
        SELECT doc_id, count(DISTINCT g) AS eval_ngram_hits
        FROM tgrams JOIN egrams USING (g)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.eval_ngram_hits, 0) AS BIGINT) AS eval_ngram_hits,
           coalesce(h.eval_ngram_hits, 0) >= 1            AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
)
def x23_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination under the value gate
    (``dedup_text.decontaminate``): eval set = every 7th document, so
    each eval doc with ≥13 tokens must self-flag and any train doc
    sharing a verbatim 13-gram flags with the exact distinct-collision
    count. The engine joins on xxhash64 shingle hashes (8-byte
    broadcast set, corpus never shuffles); the oracle recomputes on the
    raw grams — hash collisions would surface as a value mismatch, so
    the gate also certifies the hashing is injective on this corpus."""
    docs = T(spark, sf_dir, "documents")
    eval_set = docs.filter(F.col("doc_id") % 7 == 0)
    out = DD.decontaminate(docs, eval_set)
    return out.select(
        "doc_id",
        F.col("eval_ngram_hits").cast("bigint").alias("eval_ngram_hits"),
        "contaminated",
    )


_TB_BUDGETS = {"en": 20000, "pt": 10000, "de": 5000}


def _token_budget_oracle() -> str:
    from .operators.sampling import token_budget_sql_cte

    cte = token_budget_sql_cte(
        "lang",
        "len(regexp_split_to_array(trim(text), '\\s+'))",
        "doc_id",
        _TB_BUDGETS,
        "documents",
    )
    return f"""
    WITH {cte}
    SELECT doc_id, lang,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM kept
    """


@register("ext_token_budget_sample", None)
def ext_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing to token budgets (``sampling.sample_to_token_budget``
    — the pretraining mixture op): per-stratum keep-rate derived from
    the stratum's own token mass, then the deterministic md5-threshold
    sample. Membership is a pure function of (lang, doc_id), so the
    DuckDB twin (built from the SAME ``token_budget_sql_cte`` the
    pytest contracts use) reproduces the sample row for row — including
    the documented drop-by-default of unbudgeted strata."""
    from .operators.sampling import sample_to_token_budget
    from .textops import token_count

    docs = T(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text")).cast("bigint")
    )
    kept = sample_to_token_budget(docs, spark, "lang", "n_tokens", "doc_id", _TB_BUDGETS)
    return kept.select("doc_id", "lang", "n_tokens")


ORACLES["ext_token_budget_sample"] = _token_budget_oracle()


@register(
    "ext_pack_documents",
    """
    WITH d AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) * 1.0 / 5000) AS BIGINT) AS shard_id
    FROM d
    """,
)
def ext_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (``operators/packing.py``) under the
    value gate: shard_id = floor(prefix_before / budget) in doc_id
    order — computed distributedly as range partition → per-partition
    prefix sums → O(#partitions) broadcast offsets (the only collect is
    one row per partition), while the oracle states the same assignment
    as a single window cumulative sum. Equality certifies the offset
    realignment across partitions exactly."""
    from .operators.packing import pack_documents_by_tokens
    from .textops import token_count

    docs = T(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    return pack_documents_by_tokens(docs, 5000, order_col="doc_id").select(
        "doc_id", "n_tokens", "shard_id"
    )


@register(
    "x24_tfidf_topk",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               CAST(tf.tf AS DOUBLE)
                 * (CAST(n.n_docs AS DOUBLE) / CAST(dfreq.df AS DOUBLE)) AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term,
           CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df,
           round(score, 6)    AS score,
           CAST(rnk AS INT)   AS rnk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id
            ORDER BY score DESC, tf DESC, term ASC) AS rnk
        FROM scored
    )
    WHERE rnk <= 3
    """,
)
def x24_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: per-doc top-3 terms by tf-idf
    (``textops.tfidf_topk``; raw-frequency idf so the score — and the
    ranking — is bit-exact across engines). Reference analogue: the
    category rule engine ranks descriptions by keyword hits
    (rules/categories_bb.py); this is the corpus-statistical version a
    training pipeline uses for topic tagging."""
    return TX.tfidf_topk(T(spark, sf_dir, "documents"), k=3)


@register(
    "x25_pii_redaction",
    """
    WITH dirty AS (
        SELECT doc_id, source,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com'
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' cpf ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                                 || '.' || lpad(CAST(doc_id % 997 AS VARCHAR), 3, '0')
                                 || '.' || lpad(CAST(doc_id % 991 AS VARCHAR), 3, '0')
                                 || '-' || lpad(CAST(doc_id % 89 AS VARCHAR), 2, '0')
                            ELSE '' END
                    || CASE WHEN doc_id % 4 = 0
                            THEN ' tel (11) 9' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                                 || '-' || lpad(CAST(doc_id % 9973 AS VARCHAR), 4, '0')
                            ELSE '' END AS text
        FROM documents
    ),
    red AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
               len(regexp_extract_all(text, '\\b\\d{3}\\.\\d{3}\\.\\d{3}-\\d{2}\\b'))          AS n_cpfs,
               len(regexp_extract_all(text, '\\(\\d{2}\\)\\s?\\d{4,5}-\\d{4}'))                 AS n_phones,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                       '\\b\\d{3}\\.\\d{3}\\.\\d{3}-\\d{2}\\b', '[CPF]', 'g'),
                   '\\(\\d{2}\\)\\s?\\d{4,5}-\\d{4}', '[PHONE]', 'g') AS redacted
        FROM dirty
    )
    SELECT source,
           CAST(count(*) AS BIGINT)      AS n_docs,
           CAST(sum(n_emails) AS BIGINT) AS n_emails,
           CAST(sum(n_cpfs) AS BIGINT)   AS n_cpfs,
           CAST(sum(n_phones) AS BIGINT) AS n_phones,
           CAST(sum(len(redacted)) AS BIGINT)                    AS redacted_chars,
           CAST(sum(CASE WHEN redacted LIKE '%[EMAIL]%' THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_email
    FROM red
    GROUP BY source
    """,
)
def x25_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (``textops.redact_pii``). The fixture
    corpus carries no PII, so BOTH engines interleave deterministic
    synthetic PII derived from doc_id (emails everywhere, CPFs on
    doc_id%3, BR phones on doc_id%4), then the redaction chain must
    erase exactly the same spans — counts, redacted lengths, and
    marker placement are all value-gated. Map-only regexp chain, no
    shuffle except the final per-source rollup."""
    docs = T(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def _pad(expr, n):
        return F.lpad(expr.cast("string"), n, "0")

    dirty = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" cpf "), _pad(did % 1000, 3),
                    F.lit("."), _pad(did % 997, 3),
                    F.lit("."), _pad(did % 991, 3),
                    F.lit("-"), _pad(did % 89, 2),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit(" tel (11) 9"), _pad(did % 10000, 4),
                    F.lit("-"), _pad(did % 9973, 4),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = dirty.select(
        "source",
        TX.pii_count("text", "email").alias("n_emails"),
        TX.pii_count("text", "cpf").alias("n_cpfs"),
        TX.pii_count("text", "phone").alias("n_phones"),
        TX.redact_pii("text").alias("redacted"),
    )
    return red.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_cpfs").cast("long").alias("n_cpfs"),
        F.sum("n_phones").cast("long").alias("n_phones"),
        F.sum(F.length("redacted")).cast("long").alias("redacted_chars"),
        F.sum(F.when(F.col("redacted").contains("[EMAIL]"), 1).otherwise(0))
        .cast("long")
        .alias("docs_with_email"),
    )


@register(
    "x26_unigram_lm_score",
    """
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ),
    lm AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
    tot AS (SELECT sum(c) AS total FROM lm)
    SELECT tok.doc_id,
           CAST(count(*) AS BIGINT)  AS n_tokens,
           CAST(sum(lm.c) AS BIGINT) AS sum_count,
           CAST(sum(CASE WHEN lm.c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           CAST(sum(lm.c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               / CAST(tot.total AS DOUBLE) AS avg_unigram_p
    FROM tok JOIN lm USING (term) CROSS JOIN tot
    GROUP BY tok.doc_id, tot.total
    """,
)
def x26_unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM document scoring — the cheap perplexity proxy used
    for pre-training quality filtering (high avg unigram probability =
    common-word boilerplate, low = rare/garbled text; n_rare counts
    tokens outside the count>=5 vocabulary).

    Deliberately log-free: the score is integer token-count sums with
    ONE fixed-association double division chain, so it is bit-exact
    across engines — a ln()-based logprob differs in the last ulp
    between libm implementations and would flake a hash oracle. Plan:
    one shuffle to build the LM (|vocab| rows, broadcast back), one
    shuffle for the per-doc rollup; the corpus streams once."""
    docs = T(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term")
    )
    lm = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = lm.agg(F.sum("c").alias("total"))
    return (
        tok.join(F.broadcast(lm), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("c").cast("long").alias("sum_count"),
            F.sum(F.when(F.col("c") < 5, 1).otherwise(0)).cast("long").alias("n_rare"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "sum_count",
            "n_rare",
            (
                F.col("sum_count").cast("double")
                / F.col("n_tokens").cast("double")
                / F.col("total").cast("double")
            ).alias("avg_unigram_p"),
        )
    )


@register(
    "x27_chunk_documents",
    """
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    idx AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   0,
                   greatest(CAST(ceil(len(toks) / 24.0) AS INT) - 1, 0)
               )) AS chunk_id
        FROM t
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32))
                AS BIGINT) AS chunk_tokens,
           md5(array_to_string(
               list_slice(toks, chunk_id * 24 + 1, chunk_id * 24 + 32), ' '
           )) AS chunk_hash
    FROM idx
    """,
)
def x27_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking (window=32, stride=24 → 8-token
    overlap): documents → near-fixed-size training samples, identified
    by (doc_id, chunk_id) with a content hash for downstream chunk-level
    dedup. Narrow map + generate only — see
    ``textops.chunk_documents`` for the 100 TB design notes."""
    docs = T(spark, sf_dir, "documents")
    out = TX.chunk_documents(docs, window=32, stride=24)
    return out.withColumn("chunk_id", F.col("chunk_id").cast("long"))


@register(
    "x28_vocab_oov",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    vocab AS (SELECT tok FROM df ORDER BY df DESC, tok ASC LIMIT 10)
    SELECT lang,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 10000
                // count(*) AS DOUBLE) / 10000.0 AS oov_rate
    FROM toks LEFT JOIN vocab v USING (tok)
    GROUP BY lang
    """,
)
def x28_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + out-of-vocabulary coverage: top-K tokens by
    document frequency (ties broken lexicographically so the vocab is
    deterministic), then per-language OOV token rate against it — the
    coverage check run before committing to a tokenizer/vocab on a new
    corpus.

    Plan: the DF table is one |vocab|-row shuffle with map-side
    distinct partials; the top-K is a TakeOrderedAndProject over it;
    the scoring pass broadcast-joins the K-row vocab onto the token
    stream, so the corpus shuffles only for the final per-lang rollup
    — at 100 TB the vocab stays KB-sized no matter the corpus."""
    docs = T(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(TX.tokens("text")).alias("tok")
    )
    dfreq = (
        docs.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    vocab = dfreq.orderBy(F.desc("df"), F.asc("tok")).limit(10).select(
        "tok", F.lit(True).alias("__in_vocab")
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
            (
                F.floor(
                    (
                        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
                        * 10000
                    ).cast("double")
                    / F.count(F.lit(1))
                )
                / 10000.0
            ).alias("oov_rate"),
        )
    )


@register(
    "x30_quality_gate",
    """
    WITH f AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\\s+'))  AS n_tokens,
               len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                   AS n_distinct,
               len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))
                   AS n_stopwords,
               length(regexp_replace(text, '\\s', '', 'g'))    AS n_nospace
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT)                AS n_tokens,
           CAST(n_distinct * 10000 // n_tokens AS DOUBLE) / 10000.0  AS distinct_ratio,
           CAST(n_stopwords * 10000 // n_tokens AS DOUBLE) / 10000.0 AS stop_ratio,
           CAST(n_nospace * 10000 // n_tokens AS DOUBLE) / 10000.0   AS avg_token_len,
           (n_tokens BETWEEN 10 AND 10000
            AND n_distinct * 100 >= n_tokens * 45
            AND n_stopwords * 100 >= n_tokens * 2
            AND n_nospace >= n_tokens * 2 AND n_nospace <= n_tokens * 12) AS keep,
           concat_ws(',',
               CASE WHEN n_tokens < 10 THEN 'too_short' END,
               CASE WHEN n_tokens > 10000 THEN 'too_long' END,
               CASE WHEN n_distinct * 100 < n_tokens * 45 THEN 'repetitive' END,
               CASE WHEN n_stopwords * 100 < n_tokens * 2 THEN 'no_stopwords' END,
               CASE WHEN n_nospace < n_tokens * 2 THEN 'tokens_too_short' END,
               CASE WHEN n_nospace > n_tokens * 12 THEN 'tokens_too_long' END
           ) AS reasons
    FROM f
    """,
)
def x30_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite pre-training quality gate (C4 / Gopher-rule style):
    length band, lexical-diversity floor (distinct-token ratio — the
    zero-shuffle proxy for repetition; the exact per-gram version is
    x19), stopword-density floor, and mean-token-length band, folded
    into one keep/drop verdict with machine-readable failure reasons
    (``concat_ws`` skips the NULL non-failures in both engines, so the
    reason list is deterministic and identical).

    The gate is one narrow map over the corpus — every signal is an
    array/regex expression on the row, no shuffle, no UDF — so at
    100 TB it runs at scan speed and composes with any downstream
    filter pushdown. Thresholds are corpus-calibrated (fixture mix:
    both keeps and drops); callers tune per corpus."""
    docs = T(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    f = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(
            F.expr(r"regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b', 0)")
        ).alias("n_stopwords"),
        F.length(F.regexp_replace("text", r"\s", "")).alias("n_nospace"),
    )
    # exact integer bp ratios + cross-multiplied thresholds (x19 class)
    nt, nd, ns, nn = (F.col(c) for c in ("n_tokens", "n_distinct", "n_stopwords", "n_nospace"))
    return f.select(
        "doc_id",
        nt.cast("long").alias("n_tokens"),
        (F.expr("div(CAST(n_distinct AS BIGINT) * 10000, n_tokens)") / 10000.0).alias(
            "distinct_ratio"
        ),
        (F.expr("div(CAST(n_stopwords AS BIGINT) * 10000, n_tokens)") / 10000.0).alias(
            "stop_ratio"
        ),
        (F.expr("div(CAST(n_nospace AS BIGINT) * 10000, n_tokens)") / 10000.0).alias(
            "avg_token_len"
        ),
        (
            nt.between(10, 10000)
            & (nd * 100 >= nt * 45)
            & (ns * 100 >= nt * 2)
            & (nn >= nt * 2)
            & (nn <= nt * 12)
        ).alias("keep"),
        F.concat_ws(
            ",",
            F.when(nt < 10, "too_short"),
            F.when(nt > 10000, "too_long"),
            F.when(nd * 100 < nt * 45, "repetitive"),
            F.when(ns * 100 < nt * 2, "no_stopwords"),
            F.when(nn < nt * 2, "tokens_too_short"),
            F.when(nn > nt * 12, "tokens_too_long"),
        ).alias("reasons"),
    )


# ---------------------------------------------------------------------------
# Round-3 fourth wave: semantic dedup + embedding quantization
# ---------------------------------------------------------------------------


@register(
    "x31_semdedup",
    """
    WITH base AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 50 = 0
    ),
    normed AS (
        SELECT vec_id, label, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM base
    ),
    hits AS (
        SELECT b.vec_id AS id,
               max(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4))
                 AS nearest_earlier_sim
        FROM normed a JOIN normed b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.9
        GROUP BY b.vec_id
    )
    SELECT base.vec_id AS id, base.label AS cluster,
           hits.id IS NULL AS is_kept,
           hits.nearest_earlier_sim
    FROM base LEFT JOIN hits ON base.vec_id = hits.id
    """,
)
def x31_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup —
    within each embedding cluster, drop rows whose cosine to an
    earlier row is ≥ 0.9 (keep-first). The fixture's ``label`` column
    is the cluster assignment (the learned-k-means variant is
    ``similarity.kmeans_centroids`` + the same operator — pytest-
    contracted; labels keep the oracle pure SQL). Planted re-ingest
    dups (vec_id % 50) guarantee droppable rows."""
    emb = T(spark, sf_dir, "embeddings")
    dup = emb.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    return DD.semdedup(
        emb.unionByName(dup), "vec_id", "embedding", "label", threshold=0.9
    )


@register(
    "x29_quantize_embeddings",
    """
    WITH q AS (
        SELECT vec_id, label,
               CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0
                 AS scale
        FROM embeddings
    )
    SELECT vec_id, label,
           CAST(floor(scale * 1e9) AS BIGINT) AS scale_nano,
           array_to_string(list_transform(v,
                 x -> CAST(CAST(round(x / scale, 0) AS TINYINT) AS VARCHAR)), ',')
             AS q8_csv,
           CAST(floor(list_sum(list_transform(v,
                 x -> abs(x - round(x / scale, 0) * scale))) / len(v) * 1e9) AS BIGINT)
             AS mae_nano
    FROM q
    """,
)
def x29_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric per-vector quantization — the storage path for a
    100 TB embedding table (4× smaller than float32, 8× than the
    double-typed oracle view; ADC-style scoring reads q8 + one scale).
    Pure native array expressions: per-vector absmax/127 scale,
    round-to-nearest int8 codes, and the reconstruction mean-abs-error
    as the quality audit column. Zero shuffles — a single narrow map
    pass, exactly reproducible in the DuckDB oracle because every step
    (abs, max, round, divide) is a correctly-rounded scalar op over
    the same doubles in the same order. Scale/error are reported as
    FLOOR(x * 1e9) integer nano-units: the doubles are bit-identical
    across engines, but decimal round() half-way behavior is not
    (Spark HALF_UP vs DuckDB away-from-zero met a .5 on this fixture);
    floor over identical doubles cannot disagree. The int8 code
    vector is emitted as a comma-joined string (``q8_csv``) so the
    driver's pandas canonicalizer can sort/hash the column (python
    lists are unhashable there); the raw ``array<tinyint>`` form
    stays available via ``quantize_embeddings_array`` for downstream
    ADC scoring.

    r11: the three interpreted per-element HOF passes run as ONE
    vectorized Arrow kernel (``similarity.quantize_batches`` — still
    map-only, zero shuffle); bit-parity with the Column form
    (HALF_UP round, sequential mae fold) is argued in the kernel
    docstring and pinned by ``test_quantize_batches_matches_hof``."""
    from .similarity import quantize_batches

    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding")
    )
    label_ddl = emb.schema["label"].dataType.simpleString()
    return emb.mapInArrow(
        quantize_batches,
        f"vec_id bigint, label {label_ddl}, "
        "scale_nano bigint, q8_csv string, mae_nano bigint",
    )


def quantize_embeddings_array(emb: DataFrame) -> DataFrame:
    """Internal operator form of x29: per-vector int8 symmetric
    quantization returning the raw ``array<tinyint>`` code column
    (``q8``) plus ``scale_nano``/``mae_nano`` audit columns. One
    narrow map pass, zero shuffles."""
    v0 = F.col("embedding").cast("array<double>")
    scale0 = F.array_max(F.transform(v0, lambda x: F.abs(x))) / 127.0
    v = F.col("v")
    q8 = F.transform(v, lambda x: F.round(x / F.col("scale"), 0).cast("tinyint"))
    err = (
        F.aggregate(
            v,
            F.lit(0.0),
            lambda a, x: a + F.abs(x - F.round(x / F.col("scale"), 0) * F.col("scale")),
        )
        / F.size(v)
    )
    return (
        emb.select("vec_id", "label", v0.alias("v"), scale0.alias("scale"))
        .select(
            "vec_id",
            "label",
            F.floor(F.col("scale") * 1e9).cast("long").alias("scale_nano"),
            q8.alias("q8"),
            F.floor(err * 1e9).cast("long").alias("mae_nano"),
        )
    )


@register(
    "ext_source_overlap",
    """
    WITH tok AS (
        SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source, g
        FROM (
            SELECT source,
                   unnest(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
            FROM tok WHERE len(toks) >= 3
        )
    ),
    sz AS (SELECT source, count(*) AS sz FROM sh GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           za.sz + zb.sz - n_shared AS n_union,
           floor(CAST(n_shared * 10000 AS DOUBLE)
                 / (za.sz + zb.sz - n_shared)) / 10000.0 AS jaccard
    FROM inter
    JOIN sz za ON source_a = za.source
    JOIN sz zb ON source_b = zb.source
    """,
)
def ext_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: 3-gram shingle Jaccard
    between every pair of SOURCES (not documents) — the corpus-level
    audit behind mixture design ("how much of src_a is already in
    src_b?"). Scale: the unit of joining is the DISTINCT
    (source, shingle) table — one groupBy-distinct shuffle over the
    exploded shingles — and a shingle shared by s sources emits only
    C(s,2) pair rows with s bounded by the source catalog (dozens),
    not the document count, so the self-join cannot go quadratic in
    docs. Pair counting is one more shuffle on (source_a, source_b):
    |sources|² rows at most."""
    docs = T(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    # Shingles travel hashed (8-byte longs, not ~30-byte strings) and
    # the pair matrix comes from ONE groupBy-per-shingle + in-row pair
    # expansion over the per-shingle source set — the basket-local
    # trick (x41) instead of a self-join, so the corpus is shingled
    # and shuffled ONCE (the self-join recomputed both sides:
    # 27 s -> ~6 s cold at sf0.1). A shingle in s sources still emits
    # exactly C(s,2) rows, s bounded by the source catalog.
    sh = (
        docs.select("source", TX.shingles(toks, 3).alias("sh"))
        .select("source", F.explode("sh").alias("g0"))
        .select("source", F.xxhash64("g0").alias("g"))
        .distinct()
    )
    sz = sh.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    pair_expr = F.expr(
        "flatten(transform(srcs, x -> "
        "transform(filter(srcs, y -> y > x), "
        "y -> struct(x AS source_a, y AS source_b))))"
    )
    inter = (
        sh.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.source_a", "p.source_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    uni = F.col("za.sz") + F.col("zb.sz") - F.col("n_shared")
    return (
        inter.join(F.broadcast(sz.alias("za")), F.col("source_a") == F.col("za.source"))
        .join(F.broadcast(sz.alias("zb")), F.col("source_b") == F.col("zb.source"))
        .select(
            "source_a",
            "source_b",
            "n_shared",
            uni.alias("n_union"),
            (F.floor((F.col("n_shared") * 10000).cast("double") / uni) / 10000.0).alias(
                "jaccard"
            ),
        )
    )


@register(
    "x32_feature_stats",
    """
    WITH ex0 AS (
        SELECT unnest(list_transform(range(0, len(embedding)),
               i -> {'dim': i, 'x': CAST(embedding[i + 1] AS DOUBLE)})) AS s
        FROM embeddings
    ),
    ex AS (SELECT s.dim AS dim, s.x AS x FROM ex0)
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor(sum(CAST(floor(x * 1e9) AS BIGINT)) / count(*)) AS BIGINT)
             AS mean_nano,
           floor(min(x) * 1000000) / 1000000.0 AS min_x,
           floor(max(x) * 1000000) / 1000000.0 AS max_x
    FROM ex GROUP BY dim
    """,
)
def x32_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding feature statistics — the audit pass
    before normalization/whitening of a 100 TB embedding table. One
    posexplode → groupBy(dim) shuffle of (rows × dims) small records;
    at scale this is the map-side-combined partial-agg pattern (64
    groups regardless of corpus size). Mean is computed over
    per-element floor(x·1e9) integer nano-units: double sums differ
    across engines by association, integer sums cannot; min/max are
    order-free and stay exact doubles."""
    emb = T(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    ).select("dim", "x", F.floor(F.col("x") * 1e9).cast("long").alias("x_nano"))
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor(F.sum("x_nano") / F.count(F.lit(1))).cast("long").alias("mean_nano"),
        (F.floor(F.min("x") * 1000000) / 1000000.0).alias("min_x"),
        (F.floor(F.max("x") * 1000000) / 1000000.0).alias("max_x"),
    )


@register(
    "x33_incremental_corpus_dedup",
    f"""
    WITH docs AS ({_RECRAWL_SQL}),
    tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM docs
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM tok WHERE len(toks) >= 3
    ),
    sz AS (SELECT doc_id, len(s) AS sz FROM sh),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    pairs AS (
        SELECT a.doc_id AS dup_of, b.doc_id AS batch_id, count(*) AS inter
        FROM ex a JOIN ex b
          ON a.g = b.g AND a.doc_id < 100000 AND b.doc_id >= 100000
        GROUP BY 1, 2
    )
    SELECT batch_id, dup_of,
           floor(CAST(inter * 10000 AS DOUBLE)
                 / (za.sz + zb.sz - inter)) / 10000.0 AS jaccard
    FROM pairs
    JOIN sz za ON dup_of = za.doc_id
    JOIN sz zb ON batch_id = zb.doc_id
    WHERE inter / (za.sz + zb.sz - inter) >= 0.6
    """,
)
def x33_incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the continuous-ingest path: a new
    crawl batch is scored against the EXISTING corpus via its
    materialized LSH signature store (``dedup_text.signature_store`` +
    ``dedup_against_store``). Only the batch is hashed; candidates
    come from probing the store's (band, bh) buckets — at 100 TB the
    store is bucketed on those columns so the probe join is
    shuffle-free on the corpus side, and verification reads only the
    few matched corpus docs. The oracle computes exact cross-set
    Jaccard (batch × store) with no LSH, so the signature path's
    recall at threshold 0.6 is itself value-gated (same discipline as
    x4 vs x3)."""
    docs = T(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    store = DD.signature_store(docs, "doc_id", "text")
    return DD.dedup_against_store(
        batch, store, docs, "doc_id", "text", threshold=0.6
    )


@register(
    "x34_bigram_pmi",
    """
    WITH tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                      i -> {'a': toks[i], 'b': toks[i+1]})) AS s
        FROM tok WHERE len(toks) >= 2
    ),
    pairs AS (SELECT s.a AS a, s.b AS b, count(*) AS n_ab FROM bg GROUP BY 1, 2),
    lefts  AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a FROM pairs GROUP BY a),
    rights AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_b FROM pairs GROUP BY b),
    tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM pairs)
    SELECT a, b, n_ab,
           CAST(n_ab * n * 1000000 // (n_a * n_b) AS DOUBLE) / 1000000.0 AS lift
    FROM pairs
    JOIN lefts USING (a) JOIN rights USING (b)
    CROSS JOIN tot
    WHERE n_ab >= 5
    ORDER BY lift DESC, a ASC, b ASC
    LIMIT 20
    """,
)
def x34_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram association mining (PMI lift — phrase/collocation
    discovery for tokenizer + n-gram vocab work): lift =
    P(ab)/(P(a)P(b)) over bigram-position marginals, min-count 5,
    global top-20. All inputs are integer counts, so the single double
    division is deterministic across engines (counts stay < 2^53 —
    at 100 TB switch the lift to log-space per-partial sums or keep
    counts in DECIMAL). Plan: one explode + pair groupBy shuffle; the
    marginals are |vocab|-sized aggregates of the PAIR table (not a
    second corpus pass) and broadcast back; top-20 is
    TakeOrderedAndProject."""
    docs = T(spark, sf_dir, "documents")
    toks = TX.tokens(F.col("text"))
    bg = (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, F.size("toks") - 1),
                    F.slice("toks", 2, F.size("toks") - 1),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("s")
        )
        .select("s.a", "s.b")
    )
    # pin the pair table: the three marginals below each re-derive it,
    # and column-pruning differences defeat ReuseExchange — without the
    # checkpoint the corpus is exploded and aggregated four times
    pairs = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab")).localCheckpoint()
    lefts = pairs.groupBy("a").agg(F.sum("n_ab").alias("n_a"))
    rights = pairs.groupBy("b").agg(F.sum("n_ab").alias("n_b"))
    tot = pairs.agg(F.sum("n_ab").alias("n"))
    # trunc-scaled micro-lift from exact integer counts: round() of the
    # rational n_ab·n/(n_a·n_b) can land exactly on a .xxxxxx5 halfway.
    # Numerator in DECIMAL(38,0): at corpus scale (n ~ 1e10 bigrams)
    # n_ab·n·1e6 exceeds 2^63 and a BIGINT multiply would wrap silently
    # with ANSI off while the DuckDB twin (HUGEINT) stays exact.
    lift = (
        F.expr(
            "div(CAST(n_ab AS DECIMAL(38,0)) * n * 1000000,"
            "    CAST(n_a AS DECIMAL(38,0)) * n_b)"
        )
        / 1000000.0
    )
    return (
        pairs.filter(F.col("n_ab") >= 5)
        .join(F.broadcast(lefts), "a")
        .join(F.broadcast(rights), "b")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", "n_ab", lift.alias("lift"))
        .orderBy(F.desc("lift"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


def _curation_oracle() -> str:
    from .operators.sampling import token_budget_sql_cte

    tb = token_budget_sql_cte(
        "lang",
        "len(regexp_split_to_array(trim(text), '\\s+'))",
        "doc_id",
        _TB_BUDGETS,
        "cleaned",
    )
    return f"""
    WITH docs AS ({_RECRAWL_SQL}),
    f AS (
        SELECT doc_id, lang, text,
               len(regexp_split_to_array(trim(text), '\\s+'))  AS n_tokens,
               len(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                   AS n_distinct,
               len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b'))
                   AS n_stopwords,
               length(regexp_replace(text, '\\s', '', 'g'))    AS n_nospace
        FROM docs
    ),
    gated AS (
        SELECT doc_id, lang, text FROM f
        WHERE n_tokens BETWEEN 10 AND 10000
          AND n_distinct / n_tokens >= 0.45
          AND n_stopwords / n_tokens >= 0.02
          AND n_nospace / n_tokens BETWEEN 2.0 AND 12.0
    ),
    cleaned AS (
        SELECT g.doc_id, g.lang, g.text
        FROM gated g
        JOIN (SELECT md5(text) AS h, min(doc_id) AS keep_id
              FROM gated GROUP BY 1) k
          ON md5(g.text) = k.h AND g.doc_id = k.keep_id
    ),
    {tb}
    SELECT doc_id, lang,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
    FROM kept
    """


@register("x35_curation_pipeline", None)
def x35_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-data curation flow as ONE composed,
    row-level oracle-gated query: quality gate (x30's keep predicate)
    → exact dedup keep-first over the re-crawl-augmented corpus (x1)
    → domain mixing to per-language token budgets
    (``sampling.sample_to_token_budget``). Output = the surviving
    training set's (doc_id, lang, n_tokens).

    Plan shape end to end: the gate is a narrow map (scan-speed, no
    shuffle); dedup is a window min over md5(text) — one shuffle, no
    keeper table (that table is |distinct texts|-sized, corpus-scale
    at 100 TB, so broadcasting it is a non-design); the budget stage
    shuffles only |strata|
    totals and broadcasts the thresholds — the corpus itself crosses
    the wire exactly once (the dedup groupBy). Every stage is a pure
    function of row content/ids, so the DuckDB twin reproduces the
    surviving set row for row."""
    from .operators.sampling import sample_to_token_budget

    docs = _with_recrawl(T(spark, sf_dir, "documents"))
    toks = TX.tokens("text")
    f = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(
            F.expr(r"regexp_extract_all(lower(text), '\\b(the|and|of|to|in|a|is)\\b', 0)")
        ).alias("n_stopwords"),
        F.length(F.regexp_replace("text", r"\s", "")).alias("n_nospace"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    gated = f.filter(
        F.col("n_tokens").between(10, 10000)
        & (d("n_distinct") / d("n_tokens") >= 0.45)
        & (d("n_stopwords") / d("n_tokens") >= 0.02)
        & (d("n_nospace") / d("n_tokens")).between(2.0, 12.0)
    ).select("doc_id", "lang", "text")
    # keep-first dedup as a window min over the content hash: one
    # shuffle on md5(text), no keeper table to broadcast (it would be
    # |distinct texts|-sized — corpus-scale at 100 TB)
    cleaned = (
        gated.withColumn(
            "__keep_id", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        )
        .filter(F.col("doc_id") == F.col("__keep_id"))
        .drop("__keep_id")
        .withColumn("n_tokens", TX.token_count(F.col("text")).cast("bigint"))
    )
    kept = sample_to_token_budget(
        cleaned, spark, "lang", "n_tokens", "doc_id", _TB_BUDGETS
    )
    return kept.select("doc_id", "lang", "n_tokens")


ORACLES["x35_curation_pipeline"] = _curation_oracle()


@register(
    "x36_file_stats",
    """
    SELECT regexp_extract(file_name, '[^/]+$') AS file,
           CAST(row_group_id AS INTEGER) AS row_group_id,
           CAST(row_group_num_rows AS BIGINT) AS n_rows,
           CAST(stats_min_value AS BIGINT) AS min_key,
           CAST(stats_max_value AS BIGINT) AS max_key
    FROM parquet_metadata('/root/testdata/sf0.01/lineitem.parquet')
    WHERE path_in_schema = 'l_orderkey'
    """,
)
def x36_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed parquet footer audit
    (``layout.parquet_footer_stats``): per (file, row-group) counts
    and l_orderkey min/max — footer-only I/O parallelized over the
    file list, the operational check behind z-order clustering and
    file skipping. The oracle reads the same footers via DuckDB's
    parquet_metadata() at the gate's fixed sf0.01 path (oracle SQL is
    static text; the Spark side follows sf_dir).

    KNOWN sf0.001-ONLY ORACLE DIVERGENCE (pre-existing,
    r12-documented per VERDICT r11 #7): because the oracle path is
    pinned to sf0.01 while the Spark side follows ``sf_dir``, running
    the gate at any OTHER scale factor compares different files'
    footers and fails by construction. The driver gates at sf0.01,
    where both sides read the same footers."""
    import os as _os

    from .operators.layout import parquet_footer_stats

    path = _os.path.join(sf_dir, "lineitem.parquet")
    return parquet_footer_stats(spark, [path], "l_orderkey")


@register(
    "x37_contrastive_pairs",
    """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 8
    ),
    c AS (
        SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, cand_id,
               list_dot_product(qv, cv)
                 / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                    * sqrt(list_sum(list_transform(cv, x -> x * x)))) AS sim,
               md5(CAST(query_id AS VARCHAR) || ':' || CAST(cand_id AS VARCHAR)) AS h
        FROM q JOIN c ON cand_id <> query_id
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, cand_id ASC) AS rnk_pos
        FROM scored
    ),
    negs AS (
        SELECT *,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY h ASC, cand_id ASC) AS rnk_neg
        FROM ranked WHERE rnk_pos > 1
    )
    SELECT query_id, cand_id, 'pos' AS role, round(sim, 6) AS cosine
    FROM ranked WHERE rnk_pos = 1
    UNION ALL
    SELECT query_id, cand_id, 'neg' AS role, round(sim, 6) AS cosine
    FROM negs WHERE rnk_neg <= 3
    """,
)
def x37_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining: for each query embedding, the
    exact nearest neighbor as the positive and 3 DETERMINISTIC random
    negatives (ranked by md5(query:cand) — reproducible across runs
    and engines, no RNG state). The standard data-prep step for
    embedding-model fine-tuning. Plan mirrors x11: queries broadcast,
    corpus scanned once without a shuffle, and both per-query windows
    (top-1 by sim, bottom-3 by hash) ride one |q|-partitioned exchange
    of partition-pruned candidates. ``similarity.cosine``'s sequential
    dot fold is bit-identical to DuckDB's list_dot_product."""
    emb = T(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            cosine(F.col("qv"), F.col("cv")).alias("sim"),
            F.md5(
                F.concat_ws(":", F.col("query_id").cast("string"), F.col("cand_id").cast("string"))
            ).alias("h"),
        )
    )
    w_pos = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    ranked = scored.withColumn("rnk_pos", F.row_number().over(w_pos))
    pos = ranked.filter(F.col("rnk_pos") == 1).select(
        "query_id", "cand_id", F.lit("pos").alias("role"), F.round("sim", 6).alias("cosine")
    )
    w_neg = Window.partitionBy("query_id").orderBy(F.asc("h"), F.asc("cand_id"))
    neg = (
        ranked.filter(F.col("rnk_pos") > 1)
        .withColumn("rnk_neg", F.row_number().over(w_neg))
        .filter(F.col("rnk_neg") <= 3)
        .select(
            "query_id", "cand_id", F.lit("neg").alias("role"), F.round("sim", 6).alias("cosine")
        )
    )
    return pos.unionByName(neg)


@register(
    "ext_audience_overlap",
    """
    WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
    b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_purchase,
           CAST((SELECT count(*) FROM a JOIN b USING (user_id)) AS BIGINT)
             AS n_both_exact,
           TRUE AS hll_within_bound
    """,
)
def ext_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap — distinct users present in BOTH event cohorts
    ('view' ∩ 'purchase'), the segmentation question behind every
    funnel/retargeting report. Exact side: two distinct sets + one
    semi-join count (value-checked). Sketch side: |A∩B| by
    inclusion–exclusion over HLL sketches — |A| + |B| − |A∪B| with
    ``hll_union`` — which at 100 TB needs one pass per cohort and
    merges across partitions/time like any mergeable state (the
    sketches can be PERSISTED per day and unioned across arbitrary
    date ranges without rescanning events). Sketch bytes are
    engine-specific, so the oracle gates the accuracy contract, same
    pattern as ext_incremental_distinct: the in-query boolean asserts
    the estimate lands within 15% of exact (inclusion–exclusion
    doubles the rse; lg_k=12 still leaves ~5× margin). All three
    exact counts come from ONE per-user bool_or pass (one shuffle,
    one action), not three separate distinct jobs; the two driver
    scalars are O(1) values, not data movement."""
    ev = T(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max(F.col("event_type") == "view").alias("has_a"),
            F.max(F.col("event_type") == "purchase").alias("has_b"),
        )
    )
    row = per_user.agg(
        F.sum(F.col("has_a").cast("long")).alias("n_a"),
        F.sum(F.col("has_b").cast("long")).alias("n_b"),
        F.sum((F.col("has_a") & F.col("has_b")).cast("long")).alias("n_both"),
    ).first()
    exact_a, exact_b, exact_both = row["n_a"], row["n_b"], row["n_both"]
    sk = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("event_type")
        .agg(F.expr("hll_sketch_agg(user_id, 12)").alias("sk"))
    )
    est = sk.agg(
        F.expr(
            "hll_sketch_estimate(hll_union_agg(sk)) AS e_union"
        ),
        F.sum(F.expr("hll_sketch_estimate(sk)")).alias("e_sum"),
    ).select((F.col("e_sum") - F.col("e_union")).alias("e_both"))
    e_both = est.first()["e_both"]
    ok = exact_both == 0 or abs(e_both - exact_both) / exact_both <= 0.15
    from .io import local_rows

    return local_rows(
        spark,
        [(exact_a, exact_b, exact_both, bool(ok))],
        "n_view long, n_purchase long, n_both_exact long, hll_within_bound boolean",
    )


@register(
    "x39_dup_rate_estimate",
    f"""
    WITH docs AS ({_RECRAWL_SQL}),
    hashed AS (
        SELECT doc_id, md5(text) AS h,
               substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS in_sample
        FROM docs
    ),
    exact AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dups
        FROM hashed
    ),
    sample AS (
        SELECT CAST(count(*) AS BIGINT) AS s_docs,
               CAST(count(*) - count(DISTINCT h) AS BIGINT) AS s_dups
        FROM hashed WHERE in_sample
    )
    SELECT n_docs, n_dups,
           CAST(n_dups * 10000 // n_docs AS DOUBLE) / 10000.0 AS exact_rate,
           s_docs, s_dups,
           CAST(s_dups * 10000 // s_docs AS DOUBLE) / 10000.0 AS sampled_rate,
           abs(s_dups * 1.0 / s_docs - n_dups * 1.0 / n_docs) < 0.1
             AS estimate_within_bound
    FROM exact, sample
    """,
)
def x39_dup_rate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate estimation by deterministic sampling — the
    corpus-triage question ("is this crawl 2% or 40% duplicated?")
    answered WITHOUT hashing the full corpus: an md5(doc_id) ~25%
    sample's within-sample dup rate approximates the full rate when
    duplication is id-independent (true for re-crawls; the planted
    dups here are id-correlated with the sample, making this the
    conservative case). Both the exact and the sampled numbers are
    deterministic — the oracle value-checks them all — and the
    statistical claim itself is the in-query bound boolean. Scale:
    the sample path hashes ~25% of bytes; the groupBy runs on the
    sample only. (A HLL distinct-count variant drops the dedup
    shuffle entirely — see ext_incremental_distinct.)"""
    docs = _with_recrawl(T(spark, sf_dir, "documents"))
    hashed = docs.select(
        F.md5("text").alias("h"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "4").alias(
            "in_sample"
        ),
    )
    ex = hashed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.count_distinct("h")).alias("n_dups"),
    )
    sa = hashed.filter("in_sample").agg(
        F.count(F.lit(1)).alias("s_docs"),
        (F.count(F.lit(1)) - F.count_distinct("h")).alias("s_dups"),
    )
    er = F.col("n_dups") / F.col("n_docs")
    sr = F.col("s_dups") / F.col("s_docs")
    return ex.crossJoin(sa).select(
        "n_docs",
        "n_dups",
        (F.expr("div(n_dups * 10000, n_docs)") / 10000.0).alias("exact_rate"),
        "s_docs",
        "s_dups",
        (F.expr("div(s_dups * 10000, s_docs)") / 10000.0).alias("sampled_rate"),
        (F.abs(sr - er) < 0.1).alias("estimate_within_bound"),
    )


@register(
    "x40_line_dedup",
    """
    WITH docs2 AS (
        SELECT doc_id,
               [text,
                CASE WHEN doc_id % 3 = 0
                       THEN 'cookie consent required to view this page'
                     WHEN doc_id % 3 = 1
                       THEN 'subscribe to our newsletter for updates'
                     ELSE 'ref ' || CAST(doc_id AS VARCHAR) END,
                'all rights reserved'] AS lines
        FROM documents
    ),
    ex AS (SELECT doc_id, unnest(lines) AS line FROM docs2),
    hot AS (
        SELECT line FROM ex GROUP BY 1
        HAVING count(DISTINCT doc_id)
               >= 0.1 * (SELECT count(*) FROM documents)
    ),
    h AS (SELECT list(line ORDER BY line) AS hotset FROM hot)
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_filter(lines,
                x -> NOT list_contains(hotset, x))) AS BIGINT) AS n_kept,
           md5(array_to_string(list_filter(lines,
                x -> NOT list_contains(hotset, x)), chr(10))) AS kept_hash
    FROM docs2, h
    """,
)
def x40_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (CCNet / RefinedWeb line dedup):
    drop every line that recurs across >= 10% of the corpus (cookie
    banners, footers), keep order-preserved content. The fixture docs
    are single-line, so both engines append the SAME deterministic
    footer lines (two hot boilerplate variants + a per-doc unique ref
    line) before deduping — the unique lines must survive, the hot
    ones must go.

    Scale: line frequencies are ONE explode + groupBy (shuffle on the
    line hash); the hot set is tiny BY CONSTRUCTION (heavy hitters
    above a frequency floor — bounded by 1/floor distinct values), so
    it broadcasts and the corpus rewrite is a map-only array filter on
    the un-exploded rows: the full text is never shuffled, never
    re-joined. 100 TB cost = one scan + one line-count exchange. The
    10% threshold joins in as a lazy 1-row aggregate (the oracle's
    scalar-subquery shape) — no eager count() action at plan time."""
    docs = T(spark, sf_dir, "documents")
    n_docs_df = docs.agg(F.count(F.lit(1)).alias("_n"))
    footer = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("cookie consent required to view this page"),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.lit("subscribe to our newsletter for updates"),
        )
        .otherwise(F.concat(F.lit("ref "), F.col("doc_id").cast("string")))
    )
    docs2 = docs.select(
        "doc_id", F.array(F.col("text"), footer, F.lit("all rights reserved")).alias("lines")
    )
    hot = (
        docs2.select("doc_id", F.explode("lines").alias("line"))
        .groupBy("line")
        .agg(F.count_distinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs_df))
        .filter(F.col("df") >= 0.1 * F.col("_n"))
        .agg(F.sort_array(F.collect_list("line")).alias("hotset"))
    )
    kept = F.filter("lines", lambda x: ~F.array_contains(F.col("hotset"), x))
    return docs2.crossJoin(F.broadcast(hot)).select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.array_join(kept, "\n")).alias("kept_hash"),
    )


@register(
    "x41_copurchase_pairs",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    ok AS (  -- same pathological-basket quarantine as the engine
        SELECT l_orderkey FROM items GROUP BY 1 HAVING count(*) <= 1000
    ),
    kept AS (
        SELECT i.* FROM items i JOIN ok USING (l_orderkey)
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS n_orders_together
        FROM kept a JOIN kept b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_orders_together
    FROM pairs
    ORDER BY n_orders_together DESC, part_a, part_b
    LIMIT 20
    """,
)
def x41_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise co-occurrence mining (market-basket "bought together",
    the same shape as co-citation / term co-occurrence counting for
    training-data analysis): distinct (order, part) → per-order pair
    expansion → pair counts → deterministic top-20.

    Scale: NOT a self-join — that would scan and shuffle the fact
    table twice. One scan groups items per order (shuffle on
    l_orderkey), then the k(k-1)/2 pair expansion runs order-locally
    on the sorted distinct basket array (k ≤ ~7 here; baskets past
    1000 items are dropped as pathological — same quarantine stance
    as the oversized-document guard). The pair count is a second
    (partial-agg) shuffle on the pair key, and the top-20 is
    TakeOrderedAndProject — no global sort. No all-pairs-of-catalog
    join exists at any scale.

    r12: the pair expansion is two chained codegen generators
    (``posexplode`` anchor + ``explode(slice(...))`` tail) instead of
    one nested ``transform``/``flatten``/``struct`` higher-order
    expression — HOF lambdas are CodegenFallback, so the old Generate
    ran interpreted per basket AND split the whole-stage-codegen span
    between the basket agg and the pair count; the generator pair
    enumerates the identical i<j combinations of the same sorted
    array fully codegen'd, with no per-pair struct allocation (guide
    §1.2 per-task work, §4.1 prefer built-ins)."""
    li = T(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= 1000)
    )
    pairs = (
        baskets.select(F.posexplode("parts").alias("_i", "part_a"), "parts")
        .select(
            "part_a",
            F.explode(F.expr("slice(parts, _i + 2, size(parts))")).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders_together"))
    )
    return pairs.orderBy(
        F.col("n_orders_together").desc(), "part_a", "part_b"
    ).limit(20)


@register(
    "x42_pagerank",
    """
    WITH raw AS (
        SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                        's' || CAST(l_suppkey AS VARCHAR) AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    edges AS (
        SELECT src, dst FROM raw
        UNION ALL
        SELECT dst AS src, src AS dst FROM raw
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY 1),
    r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS rank FROM deg),
    r1 AS (
        SELECT e.dst AS node,
               150000000 + sum((r.rank * 85) // (100 * d.outdeg)) AS rank
        FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        GROUP BY 1
    ),
    r2 AS (
        SELECT e.dst AS node,
               150000000 + sum((r.rank * 85) // (100 * d.outdeg)) AS rank
        FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        GROUP BY 1
    ),
    r3 AS (
        SELECT e.dst AS node,
               150000000 + sum((r.rank * 85) // (100 * d.outdeg)) AS rank
        FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        GROUP BY 1
    )
    SELECT node, CAST(rank AS BIGINT) AS rank_nano
    FROM r3 ORDER BY rank DESC, node LIMIT 20
    """,
)
def x42_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) over the undirected
    customer–supplier purchase graph — the canonical iterative graph
    workload (importance ranking for curation: which sources/hubs
    dominate a crawl graph). All arithmetic is INTEGER: ranks start at
    1e9 nano-units and every contribution is ``(rank * 85) div
    (100 * outdeg)`` integer division, so the fixpoint trajectory is
    bit-identical on any engine — no float summation order anywhere
    (the sanctioned determinism pattern from the verify notes, applied
    to an algorithm usually run in doubles).

    Scale: the edge list is built once (one join + distinct), then
    CACHED and re-partitioned by src — each of the 3 iterations is one
    shuffle-join (ranks ⋈ edges on src) + one partial-agg shuffle on
    dst; rank state is |nodes| rows, never the fact table. At 100 TB
    the edges would live bucketed by src so every iteration's join is
    shuffle-free; iteration count is fixed (streaming-style bounded
    rounds), not convergence-polled — matching how web-scale PR runs
    (power iteration with early cutoff). Top-20 is
    TakeOrderedAndProject."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    raw = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    edges = raw.unionByName(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = GR.integer_pagerank(edges, iterations=3, damping_pct=85)
    return (
        ranks.select("node", F.col("rank").alias("rank_nano"))
        .orderBy(F.col("rank_nano").desc(), "node")
        .limit(20)
    )


@register(
    "x43_canonical_pick",
    f"""
    WITH docs AS ({_RECRAWL_SQL}),
    variants AS (
        SELECT doc_id,
               CASE WHEN doc_id >= 100000
                    THEN text || '   ###  !!!  ***   '
                    ELSE text END AS text
        FROM docs
    ),
    scored AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                 AS fp,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM variants
    ),
    ranked AS (
        SELECT doc_id, fp, n_chars,
               row_number() OVER (PARTITION BY fp
                                  ORDER BY n_chars ASC, doc_id ASC) AS rn
        FROM scored
    )
    SELECT fp, doc_id AS keep_id, n_chars AS keep_n_chars,
           CAST((SELECT count(*) FROM scored s WHERE s.fp = ranked.fp)
                AS BIGINT) AS n_candidates
    FROM ranked WHERE rn = 1
    """,
)
def x43_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection — after near-dup clustering,
    keep the BEST copy, not an arbitrary one (the curation step after
    every dedup pass: prefer the copy without the boilerplate tail /
    OCR junk). Re-crawled copies get a deterministic non-alphanumeric junk tail
    (vanishes under fingerprint normalization, inflates raw length), so each normalized-fingerprint cluster holds variants of
    different raw quality; the pick is the shortest raw text (junk-free
    original), doc_id tie-break. One window per cluster key — same
    WindowGroupLimit shape as w1 — plus a cluster-size count; nothing
    touches an all-pairs comparison. At 100 TB this runs on the OUTPUT
    of the LSH/CC cluster assignment (cluster_id as the partition
    key), so the window partitions are bounded by cluster size."""
    docs = _with_recrawl(T(spark, sf_dir, "documents"))
    variants = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") >= 100000,
            F.concat(F.col("text"), F.lit("   ###  !!!  ***   ")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scored = variants.select(
        "doc_id",
        TX.fingerprint("text").alias("fp"),
        F.length("text").cast("long").alias("n_chars"),
    )
    w = Window.partitionBy("fp").orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    sized = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_candidates", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )
    return sized.filter(F.col("rn") == 1).select(
        "fp",
        F.col("doc_id").alias("keep_id"),
        F.col("n_chars").alias("keep_n_chars"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
    )


@register(
    "x44_span_coverage",
    f"""
    WITH docs AS ({_RECRAWL_SQL}),
    tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM docs
    ),
    grams AS (
        SELECT doc_id, len(toks) AS n_toks, u.i AS pos,
               md5(array_to_string(toks[u.i:u.i+7], ' ')) AS g
        FROM tok, LATERAL (
            SELECT unnest(range(1, len(toks) - 6)) AS i
        ) u
        WHERE len(toks) >= 8
    ),
    shared AS (
        SELECT g FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) > 1
    ),
    covered AS (
        SELECT DISTINCT gr.doc_id, gr.n_toks, v.p
        FROM grams gr JOIN shared s ON gr.g = s.g,
             LATERAL (SELECT unnest(range(gr.pos, gr.pos + 8)) AS p) v
    ),
    per_doc AS (
        SELECT doc_id, CAST(max(n_toks) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_covered
        FROM covered GROUP BY 1
    ),
    alln AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok
        WHERE len(toks) >= 8
    )
    SELECT a.doc_id, a.n_tokens,
           COALESCE(p.n_covered, 0) AS n_covered,
           (1000000000 * COALESCE(p.n_covered, 0)) // a.n_tokens
             AS covered_frac_nano
    FROM alln a LEFT JOIN per_doc p ON a.doc_id = p.doc_id
    """,
)
def x44_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span-duplication coverage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the fraction of token positions covered by some
    8-gram that also appears verbatim in ANOTHER document — the
    memorization-risk signal that line- and doc-level dedup both miss.
    Re-crawled copies guarantee fully-covered docs; originals without
    a re-crawl partner score 0.

    Scale: grams are md5-keyed (engine-portable, uniform), the
    shared-gram filter is one partial-agg shuffle on the gram hash,
    and the coverage join keys on the SAME gram hash — the classic
    shingle-join shape of x3 with its pruning properties (only grams
    that recur ever join). Position coverage explodes ×8 per shared
    gram only, then distinct-counts per doc. The fraction is integer
    nano-units via integer division — exact cross-engine. A hot-gram
    guard (max_df cap, as in x3) is the 100 TB skew valve for
    degenerate boilerplate grams."""
    docs = _with_recrawl(T(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    grams = (
        tok.filter(F.size("toks") >= 8)
        .select(
            "doc_id",
            F.size("toks").alias("n_toks"),
            # when() guard keeps the sequence total even if Catalyst
            # re-evaluates the generator outside the size filter
            # (InferFiltersFromGenerate — see textops.shingles)
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 8 THEN "
                    "transform(sequence(1, size(toks) - 7), "
                    "i -> struct(i AS pos, "
                    "md5(array_join(slice(toks, i, 8), ' ')) AS g)) "
                    "ELSE array() END"
                )
            ).alias("x"),
        )
        .select("doc_id", "n_toks", "x.pos", "x.g")
    )
    shared = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("g")
    )
    covered = (
        grams.join(shared, "g")
        .select(
            "doc_id",
            "n_toks",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.max("n_toks").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_covered"),
        )
    )
    alln = tok.filter(F.size("toks") >= 8).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    return (
        alln.join(covered.drop("n_tokens"), "doc_id", "left")
        .na.fill({"n_covered": 0})
        .select(
            "doc_id",
            "n_tokens",
            "n_covered",
            F.expr("(1000000000 * n_covered) DIV n_tokens").alias(
                "covered_frac_nano"
            ),
        )
    )


def _x45_oracle() -> str:
    # dHash recomputed arithmetically from the SAME pixel definition the
    # BMP encoder uses: pixel[i] = ascii(char i of text right-padded to
    # 72 with 'x') mod 256, laid out as 8 rows x 9 cols; row byte =
    # sum_c (p[r,c] < p[r,c+1]) << c, hash = 16 uppercase hex chars.
    px = (
        "list_transform(range(1, 73), "
        "i -> ascii(substring(rpad(text, 72, 'x'), i, 1)) % 256)"
    )
    row_bytes = []
    for r in range(8):
        bits = " + ".join(
            f"(CASE WHEN p[{r * 9 + c + 1}] < p[{r * 9 + c + 2}] "
            f"THEN {1 << c} ELSE 0 END)"
            for c in range(8)
        )
        row_bytes.append(f"lpad(hex({bits}), 2, '0')")
    phash = " || ".join(row_bytes)
    return f"""
    WITH docs AS ({_RECRAWL_SQL}),
    pix AS (SELECT doc_id, {px} AS p FROM docs),
    hashed AS (SELECT doc_id, {phash} AS phash FROM pix)
    SELECT phash,
           min(doc_id)              AS keep_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM hashed GROUP BY 1
    """


@register("x45_image_phash_dedup", _x45_oracle())
def x45_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (dHash) image dedup with REAL container plumbing
    under the value gate: each document's first 72 chars become the
    grayscale pixels of a genuine top-down 24-bit BMP (9×8) built
    byte-for-byte per the BITMAPINFOHEADER spec
    (``parse/minipng.encode_bmp``); the decode parses the container back
    (``parse/minipng.decode_bmp``: magic, pixel-array offset,
    width/height/bpp, row stride), recovers the pixel matrix, and
    computes the 64-bit difference hash (adjacent-pixel gradient
    signs, the standard near-dup image fingerprint).
    Exact re-crawl copies collide; the oracle recomputes the hash
    arithmetically from the text so any container-layout, stride, or
    bit-order bug surfaces as a value mismatch.

    Scale: encode, decode and hash are one row function in ONE
    ``map_rows`` pass (Arrow-batched; the image bytes never leave the
    Python worker); the only shuffle is the final hash groupBy. Swap
    the deterministic text→pixels stub for a real JPEG/PNG decode
    (Pillow slot, ``multimodal.decode_image``) and nothing else
    changes: dHash bucketing at 100 TB is one scan + one
    |distinct-hash| exchange; a Hamming-ball near-dup variant adds the
    SimHash rotate-and-block tables from x5 on the SAME 64-bit codes."""
    from pyspark.sql import types as TT

    from .operators.rows import map_rows
    from .parse.minipng import decode_bmp, encode_bmp

    docs = _with_recrawl(T(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    ).repartition(spark.sparkContext.defaultParallelism)  # codec CPU >> I/O
    W, H = 9, 8

    def _phash(doc_id, text):
        s = (text + "x" * (W * H))[: W * H]
        gray_rgb = bytes(ord(c) % 256 for c in s for _ in range(3))
        w, h, _, rgb = decode_bmp(encode_bmp(gray_rgb, W, H))
        assert (w, h) == (W, H), (w, h)
        out = []
        for r in range(H):
            p = rgb[r * w * 3 : (r + 1) * w * 3 : 3]
            byte = sum((1 << c) for c in range(w - 1) if p[c] < p[c + 1])
            out.append(f"{byte:02X}")
        return [(doc_id, "".join(out))]

    hashed = map_rows(
        docs, _phash, TT.StructType().add("media_id", "long").add("phash", "string")
    )
    return hashed.groupBy("phash").agg(
        F.min("media_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _x46_oracle(rounds: int = 3) -> str:
    # Each round: weighted adjacent-pair counts over the word dictionary
    # -> deterministic top pair (count desc, pair asc) -> left-to-right
    # non-overlapping merge via replace() (identical semantics in both
    # engines). Every symbol is wrapped in \x02...\x03 sentinels, so the
    # replace pattern '\x02a\x03\x02b\x03' is anchored to full-symbol
    # boundaries — it can never match a suffix/prefix INSIDE a
    # '~'-merged neighbor symbol (e.g. 'x~a' followed by 'b').
    sql = """
    WITH dict0 AS (
        SELECT array_to_string(
                   list_transform(range(1, len(w) + 1),
                                  i -> chr(2) || w[i] || chr(3)), '') AS sym,
               CAST(count(*) AS BIGINT) AS freq
        FROM (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        )
        WHERE len(w) >= 2
        GROUP BY 1
    )"""
    split = (
        "string_split(substring(d.sym, 2, length(d.sym) - 2), chr(3) || chr(2))"
    )
    for r in range(rounds):
        sql += f""",
    pairs{r} AS (
        SELECT p.a, p.b, sum(d.freq) AS cnt
        FROM dict{r} d, LATERAL (
            SELECT s[i] AS a, s[i + 1] AS b
            FROM (SELECT {split} AS s),
                 (SELECT unnest(range(1, len({split}))) AS i)
        ) p
        GROUP BY 1, 2
    ),
    top{r} AS (
        SELECT a, b, cnt FROM pairs{r}
        ORDER BY cnt DESC, a, b LIMIT 1
    ),
    dict{r + 1} AS (
        SELECT replace(d.sym,
                       chr(2) || t.a || chr(3) || chr(2) || t.b || chr(3),
                       chr(2) || t.a || '~' || t.b || chr(3)) AS sym,
               d.freq
        FROM dict{r} d, top{r} t
    )"""
    selects = " UNION ALL ".join(
        f"SELECT {r + 1} AS round, a AS sym_a, b AS sym_b, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM top{r}"
        for r in range(rounds)
    )
    return sql + f"\n    {selects}"


@register("x46_bpe_merges", _x46_oracle())
def x46_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training — the first 3 merge rounds of
    byte-pair encoding, exactly as tokenizer training runs at corpus
    scale: (1) the corpus collapses ONCE to the word-frequency
    dictionary (the only pass that touches 100 TB — BPE never rescans
    the corpus); (2) each round counts adjacent symbol pairs weighted
    by word frequency, picks the deterministic argmax (count desc,
    pair asc), and applies the merge left-to-right non-overlapping via
    ``replace`` — the same greedy semantics as reference BPE trainers.
    Every symbol is wrapped in ``\\x02…\\x03`` sentinels so the replace
    pattern is anchored to full-symbol boundaries and can never match
    inside a '~'-merged neighbor symbol (ADVICE r3). Everything is
    integer counts + string ops, so the oracle value-checks all three
    chosen merges and their counts.

    Scale: the dictionary is |distinct words| rows (~5 orders smaller
    than the corpus); each round is one partial-agg shuffle of pair
    counts + a 1-row broadcast of the winning pair (TakeOrdered, not a
    sort). Driver holds only the 1-row winner per round. Real
    tokenizer training = the same loop to 50k rounds with the pair
    counts INCREMENTALLY maintained (only words containing the merged
    pair change — a delta update, not a recount); the per-round plan
    shape here is that inner loop."""
    docs = T(spark, sf_dir, "documents")
    dic = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            F.array_join(
                F.expr(
                    "transform(sequence(1, length(w)), "
                    "i -> concat(chr(2), substring(w, i, 1), chr(3)))"
                ),
                "",
            ).alias("sym"),
            "freq",
        )
    ).localCheckpoint()  # tiny dictionary state, iterated on
    out = []
    for r in range(3):
        pairs = (
            dic.select(
                F.split(
                    F.expr("substring(sym, 2, length(sym) - 2)"), "\x03\x02"
                ).alias("s"),
                "freq",
            )
            .select(
                # guard: a word fully collapsed to ONE symbol by an
                # earlier merge has no pairs — without the CASE the
                # descending sequence(1, 0) would index out of bounds
                # (ANSI crash) or fabricate null pairs
                F.explode(
                    F.expr(
                        "CASE WHEN size(s) >= 2 THEN "
                        "transform(sequence(1, size(s) - 1), "
                        "i -> struct(s[i - 1] AS a, s[i] AS b)) "
                        "ELSE array() END"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "a", "b").limit(1).localCheckpoint()
        out.append(
            top.select(
                F.lit(r + 1).alias("round"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                F.col("cnt").alias("pair_count"),
            )
        )
        dic = dic.crossJoin(F.broadcast(top)).select(
            F.replace(
                F.col("sym"),
                F.concat(
                    F.lit("\x02"), F.col("a"), F.lit("\x03"),
                    F.lit("\x02"), F.col("b"), F.lit("\x03"),
                ),
                F.concat(
                    F.lit("\x02"), F.col("a"), F.lit("~"), F.col("b"),
                    F.lit("\x03"),
                ),
            ).alias("sym"),
            "freq",
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


@register(
    "x47_leakage_safe_split",
    f"""
    WITH docs AS ({_RECRAWL_SQL}),
    keyed AS (
        SELECT doc_id, md5(text) AS cluster_key FROM docs
    )
    SELECT doc_id,
           CASE WHEN substring(md5(cluster_key), 1, 1) < 'c'
                THEN 'train' ELSE 'eval' END AS split
    FROM keyed
    """,
)
def x47_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split: the split key is the DEDUP
    CLUSTER (content hash here; LSH/CC cluster id in the general
    pipeline), not the document id — so duplicates and near-duplicates
    can never straddle the boundary and leak eval content into
    training (the failure mode of x17's id-keyed split on a
    deduplicated-later corpus; Lee et al. 2022 §6). Same deterministic
    md5-threshold assignment as x17 (~75 % train), applied to the
    cluster key: pure map, no shuffle, engine-portable row for row.
    At 100 TB the cluster id comes from x16's components table via one
    broadcast-or-bucketed join; the assignment itself stays a map."""
    docs = _with_recrawl(T(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.when(
            F.substring(F.md5(F.md5("text")), 1, 1) < "c", F.lit("train")
        )
        .otherwise(F.lit("eval"))
        .alias("split"),
    )


@register(
    "ext_pps_token_sample",
    """
    WITH toks AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        FROM toks
    ),
    stepped AS (
        SELECT *, greatest((SELECT sum(n_tokens) FROM toks) // 20, 1) AS step
        FROM cum
    )
    SELECT doc_id, n_tokens, c AS cum_tokens
    FROM stepped
    WHERE c // step > (c - n_tokens) // step
    """,
)
def ext_pps_token_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS sampling by token mass — the deterministic
    "pick ~N docs, long docs proportionally more often" selection used
    for corpus inspection/eval carving (every doc's inclusion
    probability ∝ its token count, zero randomness, replayable).
    ``operators/sampling.pps_systematic_sample``: the global running
    token total comes from the distributed two-phase prefix sum (the
    packing machinery) — per-partition cumsum, O(#partitions) offsets
    collect, broadcast back; the oracle recomputes it with a plain
    window. Selection is pure integer division both sides."""
    from .operators.sampling import pps_systematic_sample

    toks = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    out = pps_systematic_sample(toks, "doc_id", "n_tokens", n_picks=20)
    return out.select(
        "doc_id", "n_tokens", F.col("cum_weight").alias("cum_tokens")
    )


@register(
    "x48_corpus_datasheet",
    """
    WITH base AS (
        SELECT doc_id, lang, source,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                 AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars,
               md5(text) AS h
        FROM documents
    ),
    lang_counts AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1
    ),
    top_lang AS (
        SELECT lang FROM lang_counts ORDER BY c DESC, lang LIMIT 1
    )
    SELECT CAST(count(*) AS BIGINT)                   AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT)     AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT)       AS n_langs,
           (SELECT lang FROM top_lang)                AS top_lang,
           CAST(sum(n_tokens) AS BIGINT)              AS total_tokens,
           CAST(sum(n_chars) AS BIGINT)               AS total_chars,
           CAST(min(n_tokens) AS BIGINT)              AS min_tokens,
           CAST(max(n_tokens) AS BIGINT)              AS max_tokens,
           round(quantile_cont(n_tokens, 0.5), 2)     AS p50_tokens,
           (1000000000 * (count(*) - count(DISTINCT h))) // count(*)
                                                      AS dup_rate_nano,
           (1000000000 * count(*) FILTER (WHERE n_tokens < 10)) // count(*)
                                                      AS short_rate_nano
    FROM base
    """,
)
def x48_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet — the one-row "datasheet for a dataset"
    summary (Gebru et al.) every corpus release ships with: volume
    (docs/tokens/chars), language mix (count + deterministic top
    language), source spread, length distribution (min/p50/max), exact
    duplicate rate and short-doc rate as integer nano-fractions. One
    scan computes every per-doc stat; the only extra exchanges are the
    tiny lang-count aggregate and the global distinct-count partials —
    at 100 TB the same query swaps exact count-distinct for the HLL
    sketches (ext_incremental_distinct) and exact p50 for the
    mergeable histogram state (ext_incremental_quantiles), both
    already in the engine, without changing the datasheet schema."""
    docs = T(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5("text").alias("h"),
    )
    top_lang = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"))
    )
    summary = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.5D)"), 2).alias("p50_tokens"),
        F.count_distinct("h").alias("_dh"),
        F.sum((F.col("n_tokens") < 10).cast("long")).alias("_short"),
    )
    return summary.crossJoin(F.broadcast(top_lang)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "top_lang",
        "total_tokens",
        "total_chars",
        "min_tokens",
        "max_tokens",
        "p50_tokens",
        F.expr("(1000000000 * (n_docs - _dh)) DIV n_docs").alias("dup_rate_nano"),
        F.expr("(1000000000 * _short) DIV n_docs").alias("short_rate_nano"),
    )


def _x49_oracle() -> str:
    # Samples are the raw utf-8/ASCII byte codes of text (8-bit PCM);
    # voiced iff |b − 128| ≥ 16. Segment starts = voiced with silent
    # (or no) predecessor. Pure list arithmetic, no explode.
    bs = "list_transform(range(1, length(text) + 1), i -> ascii(substring(text, i, 1)) % 256)"
    voiced = "list_transform(b, x -> CASE WHEN x <= 112 OR x >= 144 THEN 1 ELSE 0 END)"
    return f"""
    WITH pcm AS (SELECT doc_id, {bs} AS b FROM documents),
    v AS (SELECT doc_id, len(b) AS n, {voiced} AS vs FROM pcm)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(COALESCE(list_sum(vs), 0) AS BIGINT) AS n_voiced,
           CAST(COALESCE(list_sum(list_transform(range(1, len(vs) + 1),
                i -> CASE WHEN vs[i] = 1 AND (i = 1 OR vs[i - 1] = 0)
                     THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_segments,
           (CAST(n AS BIGINT) * 1000) // 8000 AS duration_ms
    FROM v
    """


@register("x49_audio_segments", _x49_oracle())
def x49_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation over REAL audio container plumbing:
    each document's bytes become 8-bit mono 8 kHz PCM inside a genuine
    RIFF/WAVE file (``multimodal.encode_wav_pcm``: fmt + data chunks
    per spec); the decode re-parses the container — chunk walk
    (``multimodal.riff_walk``), fmt validation, sample extraction —
    then runs the standard energy-threshold VAD (voiced iff
    |s−128| ≥ 16) and counts silence→speech transitions (segments),
    voiced samples, and duration. The oracle recomputes everything
    arithmetically from the text bytes, so a header, chunk-offset, or
    threshold bug is a value mismatch. Swap the byte stub for a real
    audio decode and the segmentation step is unchanged — this is the
    frame-level pipeline shape (VAD → segment → per-segment features)
    of speech-corpus curation. Encode and decode are one row function
    in ONE Arrow-batched ``map_rows`` pass, so the WAV payload never
    crosses the Python↔JVM boundary (guide §4.1); the only shuffle is
    whatever aggregation consumes the per-doc rows."""
    import struct

    from pyspark.sql import types as TT

    from . import multimodal as MM
    from .operators.rows import map_rows

    docs = T(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism  # codec CPU >> I/O
    )

    def _vad(doc_id, text):
        blob = MM.encode_wav_pcm(bytes(ord(c) % 256 for c in text), 1, 8000, 8)
        assert MM.riff_form_type(blob) == b"WAVE"
        samples = None
        for cid, at, sz in MM.riff_walk(blob):
            if cid == b"fmt ":
                fmt = struct.unpack_from("<HHIIHH", blob, at)
                assert fmt == (1, 1, 8000, 8000, 1, 8), fmt
            elif cid == b"data":
                samples = blob[at : at + sz]
        n = len(samples)
        voiced = [1 if (s <= 112 or s >= 144) else 0 for s in samples]
        segs = sum(
            1 for i, v in enumerate(voiced) if v and (i == 0 or not voiced[i - 1])
        )
        return [(doc_id, n, sum(voiced), segs, n * 1000 // 8000)]

    out_schema = (
        TT.StructType()
        .add("doc_id", "long")
        .add("n_samples", "long")
        .add("n_voiced", "long")
        .add("n_segments", "long")
        .add("duration_ms", "long")
    )
    return map_rows(docs, _vad, out_schema)


@register(
    "x50_feature_hash",
    """
    WITH feats AS (
        SELECT o_orderkey,
               'priority=' || o_orderpriority AS f1,
               'status=' || o_orderstatus     AS f2
        FROM orders
    ),
    hashed AS (
        SELECT o_orderkey,
               CAST(('0x' || substring(md5(f1), 1, 8)) AS BIGINT) % 64 AS b1,
               CAST(('0x' || substring(md5(f2), 1, 8)) AS BIGINT) % 64 AS b2
        FROM feats
    ),
    buckets AS (
        SELECT b1 AS bucket FROM hashed UNION ALL SELECT b2 FROM hashed
    ),
    stats AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows
        FROM buckets GROUP BY 1
    ),
    collisions AS (
        SELECT bucket, CAST(count(DISTINCT feat) AS BIGINT) AS n_distinct_feats
        FROM (
            SELECT b1 AS bucket, f1 AS feat FROM hashed JOIN feats USING (o_orderkey)
            UNION ALL
            SELECT b2, f2 FROM hashed JOIN feats USING (o_orderkey)
        ) GROUP BY 1
    )
    SELECT s.bucket, s.n_rows, c.n_distinct_feats,
           c.n_distinct_feats > 1 AS has_collision
    FROM stats s JOIN collisions c USING (bucket)
    """,
)
def x50_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing ("hashing trick", Weinberger et al. 2009) — the
    ML feature-prep step that maps unbounded categorical vocabularies
    into a fixed bucket space with no dictionary to build, ship, or
    look up: bucket = md5(feature-string) mod 64 (md5-derived so the
    bucketing is engine-portable and replayable, unlike engine-native
    hash()). Reports per-bucket load and collision audit (distinct
    features sharing a bucket) — the two numbers that size the bucket
    space. Scale: bucketing is a pure map over the fact table; the
    audit aggregates are |buckets|-bounded. The same md5-bucket
    expression is the partitioner for one-pass distributed one-hot /
    cross-feature accumulation at 100 TB."""
    o = T(spark, sf_dir, "orders")
    feats = o.select(
        "o_orderkey",
        F.concat(F.lit("priority="), F.col("o_orderpriority")).alias("f1"),
        F.concat(F.lit("status="), F.col("o_orderstatus")).alias("f2"),
    )
    def bucket(c):
        return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % 64

    long_form = feats.select(
        bucket(F.col("f1")).alias("bucket"), F.col("f1").alias("feat")
    ).unionByName(
        feats.select(bucket(F.col("f2")).alias("bucket"), F.col("f2").alias("feat"))
    )
    return long_form.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("feat").alias("n_distinct_feats"),
        (F.count_distinct("feat") > 1).alias("has_collision"),
    )


@register(
    "ext_corpus_diff",
    f"""
    WITH snap_a AS (SELECT doc_id, md5(text) AS h FROM documents
                    WHERE doc_id % 7 <> 0),
    snap_b AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [edited]'
                        ELSE text END) AS h
        FROM documents WHERE doc_id % 5 <> 1
    )
    SELECT CASE
             WHEN a.doc_id IS NULL THEN 'added'
             WHEN b.doc_id IS NULL THEN 'removed'
             WHEN a.h <> b.h       THEN 'changed'
             ELSE 'unchanged'
           END AS status,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(COALESCE(a.doc_id, b.doc_id)) AS sample_doc_id
    FROM snap_a a FULL OUTER JOIN snap_b b ON a.doc_id = b.doc_id
    GROUP BY 1
    """,
)
def ext_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the release-to-release audit every
    dataset version bump needs (what was added / removed / edited
    between crawl N and crawl N+1): full-outer join on doc_id with
    content-hash comparison, rolled up to status counts with a sample
    id per class. Both snapshots are deterministic slices/edits of the
    fixture so the oracle value-checks all four classes. Scale: the
    join keys on doc_id — with both snapshots bucketed by doc_id (the
    lake_tx layout) it is exchange-free; comparing md5 hashes instead
    of text keeps the shuffle rows narrow. The per-class sample ids
    make the diff actionable without a second scan."""
    docs = T(spark, sf_dir, "documents")
    snap_a = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    snap_b = docs.filter(F.col("doc_id") % 5 != 1).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    a, b = snap_a.alias("a"), snap_b.alias("b")
    joined = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    status = (
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        status.alias("status"),
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("did"),
    ).groupBy("status").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("did").alias("sample_doc_id"),
    )


@register(
    "ext_mixture_waterfill",
    """
    WITH avail AS (
        SELECT source,
               CAST(COALESCE(sum(len(regexp_split_to_array(trim(text), '\\s+'))),
                             0) AS BIGINT) AS avail_tokens,
               CAST(CASE source
                    WHEN 'web'    THEN 500000000
                    WHEN 'books'  THEN 300000000
                    WHEN 'code'   THEN 150000000
                    ELSE 50000000 END AS BIGINT) AS share_nano
        FROM documents GROUP BY source
    ),
    r1 AS (
        SELECT *,
               least(avail_tokens, (share_nano * 30000) // 1000000000)
                 AS got1
        FROM avail
    ),
    l1 AS (
        -- clamp: hardcoded shares may sum above 1.0 on an unexpected
        -- source mix; a negative leftover must not SHRINK round-1
        -- grants (and Spark DIV vs DuckDB // disagree on negatives)
        SELECT greatest(CAST(30000 - sum(got1) AS BIGINT),
                        CAST(0 AS BIGINT)) AS leftover,
               CAST(sum(CASE WHEN got1 < avail_tokens THEN share_nano
                        ELSE 0 END) AS BIGINT) AS unsat_share
        FROM r1
    ),
    r2 AS (
        SELECT r1.source, r1.avail_tokens, r1.share_nano, r1.got1,
               CASE WHEN r1.got1 < r1.avail_tokens AND l1.unsat_share > 0
                    THEN least(r1.avail_tokens,
                               r1.got1 + (r1.share_nano * l1.leftover)
                                         // l1.unsat_share)
                    ELSE r1.got1 END AS allocated
        FROM r1, l1
    )
    SELECT source, avail_tokens, share_nano,
           (share_nano * 30000) // 1000000000 AS want_tokens,
           CAST(allocated AS BIGINT) AS allocated_tokens,
           allocated >= got1 AS monotone
    FROM r2
    """,
)
def ext_mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture budget allocation with water-filling — the planning
    step between a target data mixture ("web 50%, books 30%, code
    15%, rest 5%" in nano-shares) and the per-source token budgets
    that ``sample_to_token_budget`` executes: round 1 allocates
    ``share × B`` capped by availability; the undershoot (sources
    thinner than their share) is redistributed in round 2 to the
    unsaturated sources proportional to share, capped again. Two
    fixed rounds, all integer nano-share arithmetic — deterministic
    and value-gated (DoReMi-style mixture tuning reduces to feeding
    re-weighted shares into this same allocator).

    Scale: runs entirely on the |sources|-row availability table (the
    ONE corpus scan is the per-source token sum); the allocation math
    is a driver-free chain of two aggregates and a broadcast-sized
    cross join."""
    docs = T(spark, sf_dir, "documents")
    B = 30000
    share = (
        F.when(F.col("source") == "web", 500000000)
        .when(F.col("source") == "books", 300000000)
        .when(F.col("source") == "code", 150000000)
        .otherwise(50000000)
        .cast("long")
    )
    # NULL text contributes nothing (size(split(NULL)) is -1, which
    # would silently SUBTRACT — mirror the oracle's NULL-skipping sum)
    tok = F.when(
        F.col("text").isNull(), F.lit(None)
    ).otherwise(F.size(F.split(F.trim("text"), r"\s+")).cast("long"))
    avail = docs.groupBy("source").agg(
        F.coalesce(F.sum(tok), F.lit(0)).cast("long").alias("avail_tokens")
    ).withColumn("share_nano", share)
    r1 = avail.withColumn(
        "got1",
        F.least(
            F.col("avail_tokens"),
            F.expr(f"(share_nano * {B}) DIV 1000000000"),
        ),
    )
    l1 = r1.agg(
        F.greatest(F.lit(B) - F.sum("got1"), F.lit(0)).cast("long").alias("leftover"),
        F.sum(
            F.when(F.col("got1") < F.col("avail_tokens"), F.col("share_nano")).otherwise(
                F.lit(0)
            )
        ).cast("long").alias("unsat_share"),
    )
    r2 = r1.crossJoin(F.broadcast(l1)).withColumn(
        "allocated",
        F.when(
            (F.col("got1") < F.col("avail_tokens")) & (F.col("unsat_share") > 0),
            F.least(
                F.col("avail_tokens"),
                F.col("got1")
                + F.expr("(share_nano * leftover) DIV unsat_share"),
            ),
        ).otherwise(F.col("got1")),
    )
    return r2.select(
        "source",
        "avail_tokens",
        "share_nano",
        F.expr(f"(share_nano * {B}) DIV 1000000000").alias("want_tokens"),
        F.col("allocated").cast("long").alias("allocated_tokens"),
        (F.col("allocated") >= F.col("got1")).alias("monotone"),
    )


@register(
    "x84_temperature_mixture",
    """
    WITH s AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    q AS (
        -- exact integer sqrt: floor(correctly-rounded sqrt) is
        -- bit-identical across engines for x < 2^52
        SELECT source, n_docs,
               CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT) AS w
        FROM s
    ),
    t AS (SELECT sum(w) AS sw FROM q)
    SELECT source,
           CAST(n_docs AS BIGINT)                 AS n_docs,
           w                                      AS weight_milli,
           CAST(w * 1000000 // t.sw AS BIGINT)    AS mix_ppm,
           CAST(w * 1000000 // t.sw * 100 AS BIGINT) AS budget_docs
    FROM q, t
    """,
)
def x84_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling weights (the multilingual
    pre-training mix of mT5/XLM-R: q_i ∝ p_i^α with α < 1 upweighting
    low-resource sources so the head never drowns the tail). α = 1/2
    is computed in EXACT scaled-integer arithmetic — isqrt(n·10⁶) via
    floor(sqrt(x)), bit-identical across engines below 2^52, then all
    shares/budgets as integer division of exact integers (a float
    pow()/normalize pipeline differs in last ulps between libm
    implementations, the x19 class; general α stays available off the
    gate path via pow). Output: per-source weight, mix share in ppm,
    and a document budget for a 100 M-doc target epoch (scaled here to
    10⁸·ppm ≡ ppm·100). One |sources|-row aggregate — at 100 TB this
    is a metadata query that steers the sampler, never a data scan
    beyond the grouped count."""
    docs = T(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    q = s.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.floor(F.sqrt((F.col("n_docs") * 1000000).cast("double")))
        .cast("long")
        .alias("weight_milli"),
    )
    # the normalizer is a window over the |sources|-row AGGREGATE (a
    # scalar-subquery crossJoin re-scans the corpus for a second
    # single-column pass; the window keeps it one scan — plan-pinned)
    sw = F.sum("weight_milli").over(Window.partitionBy())
    return q.select(
        "source",
        "n_docs",
        "weight_milli",
        F.expr("weight_milli * 1000000").alias("__num"),
        sw.alias("__sw"),
    ).select(
        "source",
        "n_docs",
        "weight_milli",
        F.expr("div(__num, __sw)").alias("mix_ppm"),
        (F.expr("div(__num, __sw)") * 100).alias("budget_docs"),
    )


@register(
    "x85_ngram_novelty",
    f"""
    WITH corpus AS ({_RECRAWL_SQL}),
    tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        FROM corpus
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS g
        FROM tok WHERE len(t) >= 3
    ),
    firsts AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g),
    per_doc AS (
        SELECT grams.doc_id,
               count(*) AS n_grams,
               sum(CASE WHEN f.first_doc = grams.doc_id THEN 1 ELSE 0 END)
                 AS n_novel
        FROM grams JOIN firsts f USING (g)
        GROUP BY grams.doc_id
    )
    SELECT (doc_id // 1000) * 1000 AS doc_bucket,
           CAST(count(*) AS BIGINT)       AS n_docs,
           CAST(sum(n_grams) AS BIGINT)   AS total_grams,
           CAST(sum(n_novel) AS BIGINT)   AS novel_grams,
           CAST(sum(n_novel) * 10000 // sum(n_grams) AS DOUBLE) / 10000.0
               AS novelty_ratio
    FROM per_doc
    GROUP BY 1
    """,
)
def x85_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus NOVELTY CURVE — per ingestion bucket, the fraction of a
    document's distinct 3-gram shingles never seen in any earlier
    document (first occurrence attributed by min doc_id). The standard
    diminishing-returns diagnostic for data curation (Lee et al. 2022
    measure exactly this to justify dedup: novelty decays as a corpus
    saturates, and re-crawled content — the planted +100000 twins —
    contributes ~zero new grams).

    Fully distributed with NO ordered scan: "seen before" is a
    per-gram ``min(doc_id)`` (one groupBy over exploded shingles,
    map-side combined), joined back to attribute each gram to its
    first document — the monotone-id trick that turns a sequential
    definition into two shuffles. Novelty ratios are floor-scaled
    basis points of exact integer counts (the r6 determinism rule).
    At 100 TB: shingles travel hashed in production (the gate keeps
    strings so the oracle join is portable); the firsts table is
    |vocab|-sized and the bucket rollup is |corpus|/1000 rows."""
    docs = _with_recrawl(T(spark, sf_dir, "documents"))
    toks = TX.tokens(F.col("text"))
    grams = docs.select(
        "doc_id", F.explode(TX.shingles(toks, 3)).alias("g")
    )
    firsts = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        per_doc.groupBy((F.expr("div(doc_id, 1000)") * 1000).alias("doc_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").cast("long").alias("total_grams"),
            F.sum("n_novel").cast("long").alias("novel_grams"),
            (
                F.expr("div(sum(n_novel) * 10000, sum(n_grams))") / 10000.0
            ).alias("novelty_ratio"),
        )
    )


@register(
    "x86_token_frequency_spectrum",
    """
    WITH tok AS (
        SELECT lang, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
        FROM documents
    ),
    tf AS (SELECT lang, w, count(*) AS f FROM tok GROUP BY 1, 2),
    spec AS (
        SELECT lang, CAST(floor(log2(f)) AS BIGINT) AS log2_freq_bucket,
               count(*)  AS n_types,
               sum(f)    AS n_tokens
        FROM tf GROUP BY 1, 2
    )
    SELECT lang, log2_freq_bucket,
           CAST(n_types  AS BIGINT) AS n_types,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_tokens * 10000
                // sum(n_tokens) OVER (PARTITION BY lang) AS DOUBLE) / 10000.0
               AS mass_share
    FROM spec
    """,
)
def x86_token_frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency-of-frequencies SPECTRUM (Zipf diagnostics): how
    many distinct token types — and how much corpus mass — sit in each
    power-of-two frequency band, per language. The standard pre-tokenizer audit: the
    singleton band sizes the hapax tail a vocab will never cover, the
    top bands show how much mass a few stopwords own (what temperature
    sampling / subword merges must absorb).

    Exactness: ``floor(log2(f))`` of an exact integer is engine-safe —
    log2 of identical longs is the correctly-rounded double on both
    engines and floor can only disagree within ulp of an integer, i.e.
    when f is within rounding distance of 2^k; log2 IS exact at powers
    of two and monotone elsewhere with gap ≫ ulp for f < 2^53, so the
    bucket is exact. Mass shares are floor-scaled bp of exact sums.
    Plan: one explode → |vocab| groupBy (map-side combined) → ~30-row
    spectrum; at 100 TB the only data-sized exchange is the token
    count itself — the same aggregate any BPE trainer already runs."""
    docs = T(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(TX.tokens(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    spec = tf.groupBy(
        "lang", F.floor(F.log2("f")).cast("long").alias("log2_freq_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("f").alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy("lang"))
    return spec.select(
        "lang",
        "log2_freq_bucket",
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        total.alias("__t"),
    ).select(
        "lang",
        "log2_freq_bucket",
        "n_types",
        "n_tokens",
        (F.expr("div(n_tokens * 10000, __t)") / 10000.0).alias("mass_share"),
    )


_X52_IDX = [
    r2 * 2 * 9 + (c2 * 9) // 4 + 1 for r2 in range(4) for c2 in range(4)
]  # nearest-neighbor source index, 1-based into the 72-char raster


@register(
    "x52_png_roundtrip",
    f"""
    WITH pix AS (
        SELECT doc_id,
               list_transform(range(1, 73),
                   i -> ascii(substring(rpad(text, 72, 'x'), i, 1)) % 256) AS p
        FROM documents
    ),
    sel AS (
        SELECT doc_id,
               list_transform({_X52_IDX}, i -> p[i]) AS q
        FROM pix
    )
    SELECT doc_id,
           CAST(9 AS INTEGER) AS src_w,
           CAST(8 AS INTEGER) AS src_h,
           'gray' AS mode,
           CAST(4 AS INTEGER) AS out_w,
           CAST(4 AS INTEGER) AS out_h,
           array_to_string(list_transform(q, v -> CAST(v AS VARCHAR)), ',')
             AS px_csv,
           CAST(list_sum(q) AS BIGINT) AS px_sum
    FROM sel
    """,
)
def x52_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec end-to-end under the value gate (VERDICT r3
    next-round #4): each document's first 72 chars become the 9×8
    grayscale raster of a genuine PNG — encoded with the per-row
    filter type CYCLING through all five spec filters
    (None/Sub/Up/Average/Paeth), zlib IDAT, CRC-checked chunks
    (``parse/minipng.py``) — then ``multimodal.decode_image`` parses
    the container back (de-filtering every path) and
    ``multimodal.resize_image`` nearest-neighbor-resamples the decoded
    raster to 4×4. The oracle recomputes the resampled pixels
    arithmetically from the text, so any filter, CRC, inflate, stride,
    or index-mapping bug in the codec surfaces as a value mismatch —
    the same discipline as x45's BMP path, but exercising the full
    PNG filter suite.

    Scale: ONE narrow Arrow-batched ``map_rows`` pass: the encode →
    decode → resize chain is one row function, so the PNG bytes and
    the decoded raster never cross the Python↔JVM boundary (guide
    §4.1). Python is unavoidable here by design (it IS the codec), and
    batches are Arrow-sized."""
    from pyspark.sql import types as TT

    from .multimodal import _decode_raster, _resize_raster
    from .operators.rows import map_rows
    from .parse.minipng import encode_png

    docs = T(spark, sf_dir, "documents").select("doc_id", "text").repartition(
        spark.sparkContext.defaultParallelism  # codec CPU >> I/O
    )
    W, H = 9, 8

    def _roundtrip(doc_id, t):
        s = ((t or "") + "x" * (W * H))[: W * H]
        px = bytes(ord(c) % 256 for c in s)
        blob = encode_png(px, W, H, color_type=0, filters=[0, 1, 2, 3, 4])
        w0, h0, mode, raster, err = _decode_raster(blob)
        if err is not None:  # quarantine parity with decode_image/
            out = (blob * (16 // len(blob) + 1))[:16]  # resize_image
        else:
            out = _resize_raster(w0, h0, mode, raster, 4, 4)
        return [(doc_id, w0, h0, mode, out)]

    fused = map_rows(
        docs,
        _roundtrip,
        TT.StructType()
        .add("media_id", "long", False)
        .add("src_w", "integer")
        .add("src_h", "integer")
        .add("mode", "string")
        .add("pixels", "binary"),
    )
    arr = F.expr(
        "transform(sequence(0, 15), "
        "i -> CAST(conv(substring(hex(pixels), 2 * i + 1, 2), 16, 10) AS INT))"
    )
    return fused.select(
        F.col("media_id").alias("doc_id"),
        "src_w",
        "src_h",
        "mode",
        F.lit(4).cast("int").alias("out_w"),
        F.lit(4).cast("int").alias("out_h"),
        F.concat_ws(",", arr.cast("array<string>")).alias("px_csv"),
        F.aggregate(
            arr, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("px_sum"),
    )


def _x53_oracle(rounds: int = 3) -> str:
    # Same trainer chain as x46 (boundary-anchored wrapped symbols) but
    # the dictionary carries the word, and after the final round every
    # DOCUMENT is scored by joining its words to the encoded dictionary.
    split = (
        "string_split(substring(d.sym, 2, length(d.sym) - 2), chr(3) || chr(2))"
    )
    sql = """
    WITH words AS (
        SELECT doc_id, w FROM (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents
        ) WHERE len(w) >= 2
    ),
    dict0 AS (
        SELECT w,
               array_to_string(
                   list_transform(range(1, len(w) + 1),
                                  i -> chr(2) || w[i] || chr(3)), '') AS sym,
               CAST(count(*) AS BIGINT) AS freq
        FROM words GROUP BY 1
    )"""
    for r in range(rounds):
        sql += f""",
    pairs{r} AS (
        SELECT p.a, p.b, sum(d.freq) AS cnt
        FROM dict{r} d, LATERAL (
            SELECT s[i] AS a, s[i + 1] AS b
            FROM (SELECT {split} AS s),
                 (SELECT unnest(range(1, len({split}))) AS i)
        ) p
        GROUP BY 1, 2
    ),
    top{r} AS (
        SELECT a, b, cnt FROM pairs{r}
        ORDER BY cnt DESC, a, b LIMIT 1
    ),
    dict{r + 1} AS (
        SELECT d.w,
               replace(d.sym,
                       chr(2) || t.a || chr(3) || chr(2) || t.b || chr(3),
                       chr(2) || t.a || '~' || t.b || chr(3)) AS sym,
               d.freq
        FROM dict{r} d, top{r} t
    )"""
    return sql + f"""
    , enc AS (
        SELECT d.w,
               len({split}) AS n_tok
        FROM dict{rounds} d
    )"""


def _x53_final() -> str:
    return """
    SELECT words.doc_id,
           CAST(sum(enc.n_tok) AS BIGINT) AS bpe_tokens,
           CAST(count(*) AS BIGINT)       AS n_words
    FROM words JOIN enc ON words.w = enc.w
    GROUP BY words.doc_id
    """


def _bpe_words_enc(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared x53/x89 build: train 3 BPE merges on the word-frequency
    dictionary (x46's trainer, boundary-anchored symbols) and return
    ``(words (doc_id, w), enc (w, n_tok))`` — the encoded dictionary a
    tokenization pipeline joins against. The trainer is a model
    artifact: x53 and x89 share one build per (session, documents
    fixture) in the "bpe" memo site."""

    def build() -> tuple[DataFrame, DataFrame]:
        docs = T(spark, sf_dir, "documents")
        words = docs.select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
        ).filter(F.length("w") >= 2)
        dic = (
            words.groupBy("w")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(
                "w",
                F.array_join(
                    F.expr(
                        "transform(sequence(1, length(w)), "
                        "i -> concat(chr(2), substring(w, i, 1), chr(3)))"
                    ),
                    "",
                ).alias("sym"),
                "freq",
            )
        ).localCheckpoint()
        for _ in range(3):
            pairs = (
                dic.select(
                    F.split(
                        F.expr("substring(sym, 2, length(sym) - 2)"), "\x03\x02"
                    ).alias("s"),
                    "freq",
                )
                .select(
                    F.explode(
                        F.expr(
                            "CASE WHEN size(s) >= 2 THEN "
                            "transform(sequence(1, size(s) - 1), "
                            "i -> struct(s[i - 1] AS a, s[i] AS b)) "
                            "ELSE array() END"
                        )
                    ).alias("p"),
                    "freq",
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("cnt"))
            )
            top = pairs.orderBy(F.col("cnt").desc(), "a", "b").limit(1).localCheckpoint()
            dic = dic.crossJoin(F.broadcast(top)).select(
                "w",
                F.replace(
                    F.col("sym"),
                    F.concat(
                        F.lit("\x02"), F.col("a"), F.lit("\x03"),
                        F.lit("\x02"), F.col("b"), F.lit("\x03"),
                    ),
                    F.concat(
                        F.lit("\x02"), F.col("a"), F.lit("~"), F.col("b"),
                        F.lit("\x03"),
                    ),
                ).alias("sym"),
                "freq",
            )
        enc = dic.select(
            "w",
            F.size(
                F.split(F.expr("substring(sym, 2, length(sym) - 2)"), "\x03\x02")
            ).alias("n_tok"),
        ).localCheckpoint(eager=False)
        return words, enc

    return memoized("bpe", fixture_key(spark, sf_dir, "documents"), build)


@register("x53_bpe_encode", _x53_oracle() + _x53_final())
def x53_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INFERENCE half of tokenization at corpus scale: train 3 BPE
    merges on the word-frequency dictionary (x46's trainer, boundary-
    anchored symbols) and ENCODE every document — per-doc token count
    after the merges, the number a token-budget pipeline actually
    consumes. The scalable shape is the point: merges are applied to
    the |distinct words| dictionary ONCE (not to every occurrence),
    then documents join their words back to the encoded dictionary —
    corpus text is tokenized by a dictionary join, never re-scanned
    per merge. 100 TB: dictionary fits comfortably in a broadcast or
    one small shuffle; the per-round replace touches only the
    dictionary; the final join is the only corpus-sized exchange.
    Value-gated: the oracle replays the identical trainer + join."""
    words, enc = _bpe_words_enc(spark, sf_dir)
    return (
        words.join(enc, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("n_tok").cast("long").alias("bpe_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
    )


@register(
    "x54_training_shuffle",
    """
    WITH keyed AS (
        SELECT doc_id, source,
               md5(CAST(doc_id AS VARCHAR) || ':ep1') AS sk,
               CAST(strpos('0123456789abcdef',
                           substring(md5(CAST(doc_id AS VARCHAR) || ':ep1'),
                                     1, 1)) - 1 AS INT) AS shard
        FROM documents
    )
    SELECT doc_id, source, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY sk, doc_id)
                AS BIGINT) AS pos
    FROM keyed
    """,
)
def x54_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle + sharding — the
    step between curation and the trainer: every document gets a
    pseudorandom but REPLAYABLE position (md5 over doc_id + epoch
    salt; change the salt, get an independent permutation for the next
    epoch) and a shard via a hash bucket of the same key. Scale shape:
    shard assignment is a pure map (no global sort — each of the 16
    shards is a uniform random 1/16 sample by construction), and the
    within-shard position is the two-phase
    ``windows.grouped_global_rank`` (r9): a plain window partitioned
    BY SHARD would sort corpus/16 rows in ONE task — the last instance
    of the unbounded-window-sort class this round swept — whereas the
    two-phase rank bounds every task's sort at one range partition and
    collects only #shards × #partitions count rows. Writers then emit
    one file per shard in pos order. md5 is bit-identical across
    engines, so the oracle value-checks the entire permutation."""
    from .operators.windows import grouped_global_rank

    docs = T(spark, sf_dir, "documents")
    sk = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":ep1")))
    keyed = docs.select(
        "doc_id",
        "source",
        sk.alias("sk"),
        F.expr(
            "instr('0123456789abcdef', "
            "substring(md5(concat(cast(doc_id as string), ':ep1')), 1, 1)) - 1"
        ).cast("int").alias("shard"),
    )
    return grouped_global_rank(
        keyed, ["shard"], ["sk", "doc_id"], rank_col="pos"
    ).select(
        "doc_id",
        "source",
        "shard",
        "pos",
    )


@register(
    "x55_video_frame_sample",
    """
    WITH pcm AS (
        SELECT doc_id,
               list_transform(range(1, (length(text) // 64) * 64 + 1),
                              i -> ascii(substring(text, i, 1)) % 256) AS b
        FROM documents WHERE length(text) >= 64
    ),
    f AS (SELECT doc_id, len(b) // 64 AS n_frames, b FROM pcm),
    s AS (SELECT doc_id, n_frames,
                 list_filter(range(0, n_frames), fi -> fi % 4 = 0) AS sel, b
          FROM f)
    SELECT doc_id,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(len(sel) AS BIGINT) AS n_sampled,
           CAST(n_frames AS BIGINT) * 125 AS duration_ms,
           CAST(list_sum(list_transform(sel,
                fi -> list_sum(b[fi*64+1 : fi*64+64]))) AS BIGINT) AS luma_sum,
           CAST(list_sum(list_transform(sel,
                fi -> list_sum(b[fi*64+1 : fi*64+8]))) AS BIGINT) AS toprow_sum
    FROM s
    """,
)
def x55_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling over a REAL RIFF/AVI container codec
    (multimodal.encode_avi / parse_avi and the per-row sampler
    ``sample_avi_frames`` runs — avih + strl headers, bottom-up 8-bpp
    DIB '00db' frames, idx1 offsets cross-checked on decode): each
    document's chars become 8x8 grayscale frames at 8 fps, packed into
    a spec-compliant AVI; the sampler re-parses the container and fans
    out one row per 4th frame (the flatMap sampling contract), each
    reduced to integer luma sums BEFORE the only shuffle (per-doc
    aggregation), so raw pixels never cross the wire. Encode, sample
    and features are one row function in ONE ``map_rows`` pass: the
    AVI bytes and the frames never leave the Python worker. The oracle
    recomputes everything arithmetically from the text bytes — a
    header-layout, row-flip, stride, idx1, or sampling-cadence bug is
    a value mismatch (the toprow_sum column exists precisely to catch
    a bottom-up/top-down flip that luma_sum alone would miss). Swap
    the text→pixels stub for a real compressed-video decode and the
    sampling pipeline is unchanged — this is the keyframe-extraction
    shape of video-corpus curation. Reference analog: none (engine
    extension; the reference has no media path at all)."""
    from pyspark.sql import types as TT

    from . import multimodal as MM
    from .operators.rows import map_rows

    docs = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 64)
        .repartition(spark.sparkContext.defaultParallelism)  # codec CPU >> I/O
    )

    def _features(doc_id, text):
        px = bytes(ord(c) % 256 for c in text)
        frames = [px[i * 64 : (i + 1) * 64] for i in range(len(px) // 64)]
        avi = MM.encode_avi(frames, 8, 8)
        for _, _, n_frames, duration_ms, f in MM._sampled_avi_frames(avi, 4):
            yield doc_id, n_frames, duration_ms, sum(f), sum(f[:8])

    feat_schema = (
        TT.StructType()
        .add("doc_id", "long")
        .add("n_frames", "long")
        .add("duration_ms", "long")
        .add("luma", "long")
        .add("toprow", "long")
    )
    feats = map_rows(docs, _features, feat_schema)
    return feats.groupBy("doc_id").agg(
        F.first("n_frames").alias("n_frames"),
        F.count(F.lit(1)).alias("n_sampled"),
        F.first("duration_ms").alias("duration_ms"),
        F.sum("luma").alias("luma_sum"),
        F.sum("toprow").alias("toprow_sum"),
    )


@register(
    "x56_bfs_hops",
    """
    WITH RECURSIVE e0 AS (
        SELECT DISTINCT 'C' || o_custkey AS c, 'S' || l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    e AS (SELECT c AS src, s AS dst FROM e0 UNION ALL SELECT s, c FROM e0),
    src AS (SELECT 'S' || s_suppkey AS node FROM supplier WHERE s_nationkey = 0),
    bfs AS (
        SELECT node, 0 AS hop FROM src
        UNION
        SELECT e.dst, bfs.hop + 1 FROM bfs JOIN e ON e.src = bfs.node
        WHERE bfs.hop < 3
    )
    SELECT node, CAST(min(hop) AS BIGINT) AS hop FROM bfs GROUP BY node
    """,
)
def x56_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source bounded BFS (graph.bfs_hops — frontier-only delta
    iteration) over the undirected customer–supplier transaction
    graph: nodes 'C<custkey>'/'S<suppkey>', an edge where a customer's
    order ships a supplier's line, sources = nation-0 suppliers, hops
    capped at 3. The oracle is a DuckDB RECURSIVE CTE with UNION-
    dedup semantics — min-hop per node is engine-agnostic, so a
    frontier bug, a missed anti-join, or an off-by-one hop bound all
    surface as value mismatches. Scale: the edge list shuffles ONCE
    (repartition by src, checkpointed); each round joins only the
    frontier against it; the explored ball — not rounds x edges —
    bounds total work. Reference analog: none (engine extension; the
    graph family lives alongside x16/x38/x42)."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = e0.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        e0.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    sources = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select(F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    return GR.bfs_hops(edges, sources, max_hops=3)


@register(
    "x57_skyline_parts",
    """
    SELECT p_partkey,
           round(p_retailprice, 2) AS price,
           CAST(p_size AS BIGINT)  AS size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice
          AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def x57_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier (operators/skyline.py): parts where
    no other part is both cheaper AND larger — minimize retail price,
    maximize size. Two-phase distributed skyline: per-partition
    vectorized dominance prune (mapInPandas, no shuffle, lossless),
    then the frontier-sized candidate set shuffles once for the
    exact global pass. The oracle is the textbook NOT EXISTS
    dominance query — any dominance-direction, tie, or local-prune
    bug is a value mismatch. Dominance compares raw parquet doubles
    (bit-identical across engines); only the OUTPUT price is rounded
    for the hash compare."""
    from .operators.skyline import skyline

    part = T(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    sky = skyline(part, minimize=["p_retailprice"], maximize=["p_size"])
    return sky.select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        F.col("p_size").cast("long").alias("size"),
    )


@register(
    "x58_temporal_reach",
    """
    WITH RECURSIVE e0 AS (
        SELECT DISTINCT 'C' || o_custkey AS c, 'S' || l_suppkey AS s,
               CAST(o_orderdate AS DATE) AS ts
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    e AS (SELECT c AS src, s AS dst, ts FROM e0
          UNION ALL SELECT s, c, ts FROM e0),
    src AS (SELECT 'S' || s_suppkey AS node, DATE '1994-01-01' AS d
            FROM supplier WHERE s_nationkey = 0),
    reach AS (
        SELECT node, d, 0 AS hop FROM src
        UNION
        SELECT e.dst, e.ts, reach.hop + 1
        FROM reach JOIN e ON e.src = reach.node AND e.ts >= reach.d
        WHERE reach.hop < 3
    )
    SELECT node, min(d) AS reach_date FROM reach GROUP BY node
    """,
)
def x58_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting reachability (graph.temporal_reach) over the
    dated customer–supplier interaction graph: nation-0 suppliers are
    seeded at 1994-01-01; an order on date t forwards reach acquired
    at or before t; hops capped at 3. The oracle is a recursive CTE
    enumerating ALL (node, time) states and taking the min — if the
    engine's min-reach label correcting were unsound (it is sound
    precisely because non-decreasing-time reachability is monotone),
    or a round leaked a time-travel edge (ts < reach), the dates
    diverge. Delta iteration: edges shuffle once, rounds join only
    improved nodes. Reference analog: none (engine extension)."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    e0 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
            F.col("o_orderdate").cast("date").alias("ts"),
        )
        .distinct()
    )
    edges = e0.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "ts"
    ).unionByName(e0.select(F.col("s").alias("src"), F.col("c").alias("dst"), "ts"))
    sources = (
        T(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select(
            F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("node"),
            F.to_date(F.lit("1994-01-01")).alias("ts"),
        )
    )
    return GR.temporal_reach(edges, sources, max_hops=3).select(
        "node", F.col("reach_ts").alias("reach_date")
    )


@register(
    "x59_readability",
    r"""
    WITH sent AS (
        SELECT doc_id,
               regexp_replace(lower(text),
                   '(\S+ \S+ \S+ \S+ \S+ \S+ \S+) ', '\1. ', 'g') AS t
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               greatest(len(list_filter(regexp_split_to_array(t, '[.!?]+'),
                            s -> length(trim(s)) > 0)), 1)        AS n_sentences,
               len(regexp_split_to_array(trim(t), '\s+'))          AS n_words,
               len(regexp_extract_all(t, '[aeiouy]+'))
                 + len(list_filter(regexp_split_to_array(trim(t), '\s+'),
                       w -> NOT regexp_matches(w, '[aeiouy]')))    AS n_syllables
        FROM sent
    )
    SELECT doc_id,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_words AS BIGINT)     AS n_words,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CAST(206835 - (1015000 * n_words) // n_sentences // 1000
                       - (84600000 * n_syllables) // n_words // 1000
                AS BIGINT)             AS flesch_milli
    FROM c
    """,
)
def x59_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation + readability scoring
    (``textops.sentence_stats``): the fixture corpus has no sentence
    punctuation, so BOTH engines first inject a deterministic
    terminator after every non-overlapping 7-word run (the x25
    synthetic-injection discipline), then the real machinery runs —
    ``[.!?]+`` segmentation, whitespace words, vowel-group syllables
    with the no-vowel floor, and a Flesch-style score in exact
    integer milli-units (nested truncating DIV on all-positive
    intermediates, bit-identical across engines — the x24 stance of
    never emitting a float the engines could disagree on). Map-only,
    zero UDFs, fully codegen'd."""
    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.lower("text"), r"(\S+ \S+ \S+ \S+ \S+ \S+ \S+) ", r"$1. "
        ).alias("text"),
    )
    return TX.sentence_stats(docs)


@register(
    "x60_conversion_pattern",
    """
    WITH seqs AS (
        SELECT user_id,
               string_agg(CASE event_type
                          WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                          WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                          WHEN 'error' THEN 'e' ELSE '?' END,
                          '' ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    ),
    m AS (SELECT user_id, seq,
                 regexp_extract_all(seq, 'vc+p') AS hits FROM seqs)
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS seq_len,
           CAST(len(hits) AS BIGINT)   AS n_matches,
           CAST(COALESCE(list_sum(list_transform(hits, h -> length(h))), 0)
                AS BIGINT)             AS matched_chars
    FROM m
    WHERE len(hits) >= 1
    """,
)
def x60_conversion_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite CEP (operators/sequence.match_pattern):
    conversions = view, one-or-more clicks, then purchase ('vc+p'),
    scanned non-overlapping left-to-right over each user's full
    ordered history (ties broken by event_id — a total order, the
    sessionize discipline). The pattern sits in the engine-portable
    unambiguous class (single-char codes, contiguous-run
    quantifiers), so Java regex and RE2 agree and the whole match
    list is value-gated: per-user match count AND total matched
    characters (clicks-per-conversion without a second scan). One
    shuffle (the per-user groupBy); encode is a map; the scan is
    linear. Reference analog: the stateful line classifier
    (parse/lines.py) — same encode-then-scan idea, distributed."""
    from .operators.sequence import match_pattern

    ev = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    out = match_pattern(
        ev,
        "user_id",
        ["ts", "event_id"],
        "event_type",
        {"view": "v", "click": "c", "purchase": "p", "signup": "s", "error": "e"},
        "vc+p",
    )
    return out.filter(F.col("n_matches") >= 1)


@register(
    "x61_bm25_topk",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                   (SELECT count(*) FROM tok)       AS total_dl),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, dl.dl,
               CAST(22 * tf.tf * tot.total_dl * tot.n_docs AS DOUBLE)
               / CAST(dfreq.df * (10 * tf.tf * tot.total_dl
                                  + 3 * tot.total_dl
                                  + 9 * dl.dl * tot.n_docs) AS DOUBLE) AS score
        FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN tot
    )
    SELECT doc_id, term,
           CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df,
           CAST(dl AS BIGINT) AS dl,
           round(score, 6)    AS score,
           CAST(rnk AS INT)   AS rnk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id
            ORDER BY score DESC, tf DESC, term ASC) AS rnk
        FROM scored
    )
    WHERE rnk <= 3
    """,
)
def x61_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 term ranking (``textops.bm25_topk``; k1=6/5, b=3/4) — the
    retrieval-grade keyword scorer next to x24's tf-idf. The score is
    algebraically cleared to one division of exact BIGINT products
    (raw-frequency idf, avgdl substituted out), so ranking AND score
    are bit-identical across engines and the whole top-3 list is
    value-gated. Same 100 TB shape as x24: one (doc, term) shuffle,
    broadcast statistics, WindowGroupLimit top-k."""
    return TX.bm25_topk(T(spark, sf_dir, "documents"), k=3)


@register(
    "x62_winsorized_spend",
    """
    WITH cents AS (
        SELECT l_returnflag AS grp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem
    ),
    bounds AS (
        SELECT grp,
               CAST(floor(quantile_cont(v, 0.05)) AS BIGINT) AS w_lo,
               CAST(ceil(quantile_cont(v, 0.95)) AS BIGINT)  AS w_hi
        FROM cents GROUP BY grp
    )
    SELECT c.grp AS l_returnflag, b.w_lo, b.w_hi,
           CAST(sum(CASE WHEN c.v < b.w_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN c.v > b.w_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(sum(least(greatest(c.v, b.w_lo), b.w_hi)) AS BIGINT)     AS sum_w_cents
    FROM cents c JOIN bounds b USING (grp)
    GROUP BY c.grp, b.w_lo, b.w_hi
    """,
)
def x62_winsorized_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorized aggregation (operators/quality.winsorize):
    line spend in integer cents clamped into each return-flag group's
    exact [p05, p95] percentile band (bounds floored/ceiled to whole
    cents so the clamped sum is an exact BIGINT — no float summation
    order anywhere), plus how many rows each tail clipped. The bounds
    table is |groups| rows and BROADCAST back onto the facts; the
    clamp is a map; one grouped percentile pass + one final rollup.
    At 100 TB swap the exact percentile for approx_percentile — same
    plan shape, gate stays on the exact twin."""
    from .operators.quality import winsorize

    cents = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("v"),
    )
    w = winsorize(cents, ["l_returnflag"], "v", 0.05, 0.95)
    return w.groupBy("l_returnflag", "w_lo", "w_hi").agg(
        F.sum((F.col("v") < F.col("w_lo")).cast("long")).alias("n_low"),
        F.sum((F.col("v") > F.col("w_hi")).cast("long")).alias("n_high"),
        F.sum("w_value").alias("sum_w_cents"),
    )


@register(
    "x63_ppjoin_pairs",
    f"""
    WITH docs AS ({_RECRAWL_SQL}),
    tok AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM docs
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(toks) - 1),
                             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM tok WHERE len(toks) >= 3
    ),
    sz AS (SELECT doc_id, len(s) AS sz FROM sh),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           floor(CAST(inter * 10000 AS DOUBLE)
                 / (za.sz + zb.sz - inter)) / 10000.0 AS jaccard
    FROM pairs
    JOIN sz za ON doc_a = za.doc_id
    JOIN sz zb ON doc_b = zb.doc_id
    WHERE inter / (za.sz + zb.sz - inter) >= 0.6
    """,
)
def x63_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join (PPJoin/All-Pairs family,
    ``dedup_text.prefix_filter_pairs``): join keys are each doc's
    RAREST shingles (global df-ascending order, prefix length
    |X|-ceil(t|X|)+1), so boilerplate never becomes a join key and —
    unlike the stop-shingle guard of x3 — completeness at the
    threshold is theorem-backed, zero recall loss. The oracle is the
    UNFILTERED exact all-pairs Jaccard (same as x3's): any pruning
    unsoundness shows up as a missing row. Third member of the
    pruning family next to x3 (df-guard) and x4 (MinHash-LSH)."""
    return DD.prefix_filter_pairs(
        _with_recrawl(T(spark, sf_dir, "documents")),
        "doc_id",
        "text",
        n=3,
        threshold=0.6,
    )


@register(
    "x64_source_drift_tvd",
    r"""
    WITH binned AS (
        SELECT source AS part,
               len(regexp_split_to_array(trim(text), '\s+')) // 10 AS bucket
        FROM documents
    ),
    per AS (SELECT part, bucket, count(*) AS c FROM binned GROUP BY 1, 2),
    gh AS (SELECT bucket, count(*) AS g FROM binned GROUP BY 1),
    np AS (SELECT part, sum(c) AS n_part FROM per GROUP BY 1),
    ng AS (SELECT sum(g) AS n_glob FROM gh),
    cells AS (
        SELECT np.part, gh.bucket, np.n_part, gh.g, ng.n_glob,
               COALESCE(per.c, 0) AS c
        FROM np CROSS JOIN gh CROSS JOIN ng
        LEFT JOIN per ON per.part = np.part AND per.bucket = gh.bucket
    )
    SELECT part AS source,
           CAST(n_part AS BIGINT) AS n_rows,
           CAST((sum(abs(c * n_glob - g * n_part)) * 1000000000)
                // (2 * n_part * n_glob) AS BIGINT) AS tvd_nano
    FROM cells
    GROUP BY part, n_part, n_glob
    """,
)
def x64_source_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitoring (quality.distribution_drift_tvd):
    total variation distance between each source's token-length
    histogram (decade buckets) and the global one, in exact integer
    nano-units — all-integer cross-multiplication, no log, no float
    division, so the drift table is bit-identical across engines
    (unlike PSI/KL). The "which source changed shape this snapshot"
    alert table of a training-data pipeline. One (source, bucket)
    groupBy + a broadcast bucket grid + one per-source reduce."""
    from .operators.quality import distribution_drift_tvd

    docs = T(spark, sf_dir, "documents")
    out = distribution_drift_tvd(
        docs,
        "source",
        (F.size(F.split(F.trim(F.col("text")), r"\s+")) / 10).cast("int").alias("b"),
    )
    return out.select(F.col("part").alias("source"), "n_rows", "tvd_nano")


@register(
    "x65_bm25_search",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                   (SELECT count(*) FROM tok)       AS total_dl),
    qt AS (SELECT * FROM tok WHERE term IN ('table', 'scan', 'fast')),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
    scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(22 * tf.tf * tot.total_dl * tot.n_docs AS DOUBLE)
               / CAST(dfreq.df * (10 * tf.tf * tot.total_dl
                                  + 3 * tot.total_dl
                                  + 9 * dl.dl * tot.n_docs) AS DOUBLE) AS s
        FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN tot
    ),
    agg AS (
        SELECT doc_id,
               round(list_reduce(list_prepend(0.0, list(s ORDER BY term)),
                                 (a, x) -> a + x), 6) AS score,
               CAST(count(*) AS BIGINT) AS n_terms_hit
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score, n_terms_hit, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
          FROM agg)
    WHERE rnk <= 10
    """,
)
def x65_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval serving (``textops.bm25_search``): score every
    document against the bag-of-terms query {table, scan, fast} and
    return the global top-10. Per-term scores use x61's cleared
    integer form; the per-doc SUM is a sequential fold in term order
    (sort_array + F.aggregate ≡ DuckDB list_reduce — double addition
    is not associative, so partial-agg F.sum ordering would be
    engine-divergent). The term filter prunes the token stream BEFORE
    any aggregation; top-10 is a TakeOrdered, not a sort."""
    return TX.bm25_search(
        T(spark, sf_dir, "documents"), ["table", "scan", "fast"], k=10
    )


@register(
    "x66_sorted_neighborhood",
    """
    WITH r AS (
        SELECT p_partkey, lower(p_name) AS k,
               row_number() OVER (ORDER BY lower(p_name), p_partkey) AS rn
        FROM part
    ),
    pairs AS (
        SELECT a.p_partkey AS src, b.p_partkey AS dst,
               CAST(b.rn - a.rn AS BIGINT) AS gap,
               CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
        FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 4
    )
    SELECT src, dst, gap, dist FROM pairs WHERE dist <= 3
    """,
)
def x66_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity blocking
    (``joins.sorted_neighborhood_pairs``): sort parts by lowercased
    name, slide a 5-row window over the TOTAL order, verify in-window
    candidates with exact Levenshtein <= 3. Catches the near-misses
    equi-key blocking (ext_entity_resolution's last-word block) drops
    at block boundaries. The global rank is distributed — range
    partitioning + per-partition row_number + an O(#partitions)
    prefix-sum collect — and the sliding window is ONE bucket
    equi-join (probe side duplicated into bucket and bucket-1,
    pigeonhole-complete for rank gaps <= window-1), so nothing is
    single-partition and nothing is all-pairs. Oracle replays the
    same window over DuckDB's row_number with identical tie-break."""
    from .operators.joins import sorted_neighborhood_pairs

    pairs = sorted_neighborhood_pairs(
        T(spark, sf_dir, "part"), "p_partkey", F.lower(F.col("p_name")), window=5
    )
    return (
        pairs.withColumn("dist", F.levenshtein("key_l", "key_r").cast("long"))
        .where(F.col("dist") <= 3)
        .select("src", "dst", F.col("gap").cast("long").alias("gap"), "dist")
    )


@register(
    "x67_weighted_sssp",
    """
    WITH RECURSIVE e AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               CAST(min(floor(l.l_extendedprice)) AS BIGINT) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    walk(node, d, hop) AS (
        SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0
        UNION
        SELECT e.dst, walk.d + e.w, walk.hop + 1
        FROM walk JOIN e ON e.src = walk.node
        WHERE walk.hop < 4
    )
    SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node
    """,
)
def x67_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest path (graph.weighted_sssp — frontier-only
    Bellman-Ford, <= 4 edges) over the directed nation trade graph:
    an edge supplier-nation -> customer-nation weighted by the
    cheapest line ever shipped between them (integer-floored price,
    parallel edges min-collapsed), source = nation 0. The oracle
    enumerates every <= 4-edge walk in a recursive CTE and takes the
    min — exact integer weights make the distances engine-identical,
    so a premature early-exit, a frontier that re-expands too little,
    or an off-by-one hop bound all surface as value mismatches.
    Scale: the edge list shuffles once; each round joins only the
    improved frontier; work is bounded by the explored ball, not
    rounds x edges."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_extendedprice")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.floor(F.min(F.floor(F.col("l_extendedprice")))).cast("long").alias("w"))
    )
    sources = spark.range(1).select(F.lit(0).cast("long").alias("node"))
    return GR.weighted_sssp(edges, sources, max_hops=4)


def _fd_oracle() -> str:
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    parts = []
    for a in cols:
        for b in cols:
            if a == b:
                continue
            parts.append(
                f"""
    SELECT '{a}' AS lhs, '{b}' AS rhs,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT {a} AS av, count(DISTINCT {b}) AS d
          FROM orders GROUP BY 1)"""
            )
    return " UNION ALL ".join(parts)


@register("x68_fd_discovery", _fd_oracle())
def x68_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise functional-dependency discovery
    (``quality.discover_fds``) over the orders table's key/status/
    priority columns — the profiling pass behind "which column is a
    key, which pairs are denormalized". ONE scan: rows explode into
    tagged pairs, per-(pair, lhs-value) distinct-rhs counts are
    map-side combined, verdicts are a second tiny aggregate. The
    oracle runs the 12 per-pair group-count subqueries explicitly and
    UNION ALLs them — any fanout/tagging bug in the exploded single
    pass diverges from the per-pair ground truth."""
    from .operators.quality import discover_fds

    return discover_fds(
        T(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


@register(
    "x69_bitemporal_revision",
    """
    WITH e AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts) AS vt,
               epoch_us(ts)
                 + (CAST(json_extract(props, '$.k') AS BIGINT) % 3)
                   * 86400000000 AS tt
        FROM events
    ),
    b1 AS (
        SELECT user_id, event_type, vt,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY vt DESC, event_id DESC) AS rn
        FROM e WHERE vt <= 1705708800000000 AND tt <= 1705708800000000
    ),
    b2 AS (
        SELECT user_id, event_type, vt,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY vt DESC, event_id DESC) AS rn
        FROM e WHERE vt <= 1705708800000000 AND tt <= 1705968000000000
    ),
    s1 AS (SELECT user_id, event_type AS old_state, vt AS old_since_us
           FROM b1 WHERE rn = 1),
    s2 AS (SELECT user_id, event_type AS new_state, vt AS new_since_us
           FROM b2 WHERE rn = 1)
    SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
           old_state, new_state, old_since_us, new_since_us
    FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
    WHERE old_state IS DISTINCT FROM new_state
       OR old_since_us IS DISTINCT FROM new_since_us
    """,
)
def x69_bitemporal_revision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal revision report (``windows.bitemporal_state``): each
    event carries VALID time (ts) and TRANSACTION time (ingest = ts +
    a deterministic 0-2 day late-arrival delay derived from props.k),
    and the report lists every user whose believed state at valid
    time 2024-01-20 was REVISED between transaction cutoffs 01-20 and
    01-23 — i.e. exactly the corrections late-arriving data forced.
    Both beliefs are one keyed window shuffle each (WindowGroupLimit
    top-1 per user); the diff is a full-outer join on the ~|users|
    belief tables, null-safe on both state and since. All times in
    integer epoch micros — engine-identical. The "what did we believe
    then vs now" audit primitive lake_tx time travel gives at file
    granularity, here at ROW granularity."""
    from .operators.windows import bitemporal_state

    t_us = 1705708800000000  # 2024-01-20 UTC
    d2_us = 1705968000000000  # 2024-01-23 UTC
    ev = T(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("vt"),
        (
            F.unix_micros(F.col("ts").cast("timestamp_ltz"))
            + (F.from_json("props", "k BIGINT")["k"] % 3) * F.lit(86400000000)
        ).alias("tt"),
    )
    old = bitemporal_state(
        ev, ["user_id"], "vt", "tt", ["vt", "event_id"], "event_type", t_us, t_us
    ).select(
        F.col("user_id").alias("_u1"),
        F.col("state").alias("old_state"),
        F.col("state_since").alias("old_since_us"),
    )
    new = bitemporal_state(
        ev, ["user_id"], "vt", "tt", ["vt", "event_id"], "event_type", t_us, d2_us
    ).select(
        F.col("user_id").alias("_u2"),
        F.col("state").alias("new_state"),
        F.col("state_since").alias("new_since_us"),
    )
    return (
        old.join(new, F.col("_u1") == F.col("_u2"), "full_outer")
        .where(
            ~F.col("old_state").eqNullSafe(F.col("new_state"))
            | ~F.col("old_since_us").eqNullSafe(F.col("new_since_us"))
        )
        .select(
            F.coalesce("_u1", "_u2").alias("user_id"),
            "old_state",
            "new_state",
            "old_since_us",
            "new_since_us",
        )
    )


@register(
    "x70_dsir_select",
    """
    WITH tok AS (
        SELECT doc_id, lang = 'en' AS is_t,
               CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket
        FROM (
            SELECT doc_id, lang,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents
        )
    ),
    wts AS (
        SELECT bucket,
               (sum(CASE WHEN is_t THEN 1 ELSE 0 END) + 1) * 1000000
                 // (sum(CASE WHEN is_t THEN 0 ELSE 1 END) + 1) AS lam
        FROM tok GROUP BY 1
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(w.lam) // count(*) AS BIGINT) AS score
        FROM tok t JOIN wts w USING (bucket)
        WHERE NOT t.is_t
        GROUP BY 1
    )
    SELECT doc_id, n_tokens, score FROM scored
    ORDER BY score DESC, doc_id ASC LIMIT 50
    """,
)
def x70_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (``textops.dsir_select``; Xie
    et al. 2023): the English docs are the quality exemplar target,
    every other doc is the raw pool, and the query keeps the 50 pool
    docs whose hashed-unigram distribution is most target-like. The
    per-bucket weight is the add-one-smoothed integer frequency ratio
    (log-free DSIR surrogate — exact BIGINTs both engines); scores
    are length-normalized integer sums; selection is a TakeOrdered.
    Scale: two corpus passes (census + scoring), an O(256)-row
    broadcast weight table, nothing driver-side — the DSIR paper's
    shape at 100 TB. Reference analog: none (engine extension)."""
    docs = T(spark, sf_dir, "documents")
    return TX.dsir_select(docs, F.col("lang") == "en", k=50, n_buckets=256)


@register(
    "x71_phrase_search",
    """
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
        FROM t, LATERAL (
            SELECT unnest(range(1, greatest(len(toks) - 1, 1))) AS i
        )
        WHERE len(toks) >= 3
    ),
    top AS (
        SELECT gram, CAST(count(*) AS BIGINT) AS n_total
        FROM grams GROUP BY 1
        ORDER BY count(*) DESC, gram ASC LIMIT 1
    )
    SELECT g.doc_id,
           t.gram AS phrase,
           t.n_total,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(g.pos) AS BIGINT) AS first_pos
    FROM grams g JOIN top t USING (gram)
    GROUP BY 1, 2, 3
    """,
)
def x71_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over a positional n-gram index
    (``textops.phrase_search``): the corpus's most frequent trigram
    (count desc, gram asc — deterministic argmax) is the query
    phrase; the result lists every doc containing it with match count
    and first match position. Index build = one (gram → count)
    shuffle; the winner is a 1-row TakeOrdered broadcast; the
    occurrence probe is a map-only broadcast semi-join over the
    positional stream — the corpus text is never shuffled. With a
    KNOWN phrase the build pass drops out and only the probe runs.
    Reference analog: none (engine extension)."""
    docs = T(spark, sf_dir, "documents")
    return TX.phrase_search(docs, n=3)


@register(
    "x72_association_rules",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS basket, p_brand AS item
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    sized AS (
        SELECT basket FROM items GROUP BY 1 HAVING count(*) <= 1000
    ),
    kept AS (SELECT i.* FROM items i JOIN sized USING (basket)),
    n AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM kept),
    ic AS (SELECT item, CAST(count(*) AS BIGINT) AS c FROM kept GROUP BY 1),
    pc AS (
        SELECT a.item AS antecedent, b.item AS consequent,
               CAST(count(*) AS BIGINT) AS pair_count
        FROM kept a JOIN kept b
          ON a.basket = b.basket AND a.item <> b.item
        GROUP BY 1, 2
        HAVING count(*) >= 5
    )
    SELECT antecedent, consequent, pair_count,
           1000000 * pair_count // n.n_baskets          AS support_ppm,
           1000 * pair_count // ca.c                    AS confidence_milli,
           1000 * pair_count * n.n_baskets // (ca.c * cb.c) AS lift_milli
    FROM pc
    JOIN ic ca ON ca.item = pc.antecedent
    JOIN ic cb ON cb.item = pc.consequent
    CROSS JOIN n
    """,
)
def x72_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori 2-itemset association rules (``operators/mining.py``)
    over order→brand baskets: every directional rule brand_a→brand_b
    with pair support >= 5, scored by exact scaled-integer support /
    confidence / lift (the float-free x24/x61 stance, so all three
    metrics are value-gated bit-for-bit). The oracle is the textbook
    self-join formulation; the engine never self-joins the fact table
    — distinct baskets group once, the k·(k-1) pair expansion runs
    basket-locally, item counts and N broadcast. Reference analog:
    none (engine extension)."""
    from .operators.mining import association_rules

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = T(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item")
    )
    return association_rules(items, "basket", "item", min_pair_count=5)


@register(
    "x73_random_walks",
    """
    WITH RECURSIVE e0 AS (
        SELECT DISTINCT 'C' || o_custkey AS c, 'S' || l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    e AS (SELECT c AS src, s AS dst FROM e0 UNION ALL SELECT s, c FROM e0),
    adj AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk,
               count(*)     OVER (PARTITION BY src)              AS deg
        FROM e
    ),
    starts AS (SELECT 'S' || s_suppkey AS node FROM supplier),
    walk AS (
        SELECT node || '#1' AS walk_id, 0 AS step, node FROM starts
        UNION ALL
        SELECT w.walk_id, w.step + 1, a.dst
        FROM walk w JOIN adj a
          ON a.src = w.node
         AND a.rnk = CAST(('0x' || substring(md5(
                w.walk_id || '|' || CAST(w.step + 1 AS VARCHAR) || '|' || w.node
             ), 1, 8)) AS BIGINT) % a.deg + 1
        WHERE w.step < 6
    )
    SELECT walk_id, CAST(step AS BIGINT) AS step, node FROM walk
    """,
)
def x73_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-embedding walk corpus (``graph.random_walks``): one
    6-step deterministic walk from every supplier over the undirected
    customer–supplier transaction graph (x56's graph). Each step's
    neighbor pick is md5(walk|step|node) mod degree over the
    dst-ranked adjacency — engine-portable pseudo-randomness, so the
    DuckDB RECURSIVE CTE replays the EXACT same walks and every
    visited (walk, step, node) row is value-gated; any divergence in
    adjacency ranking, degree, hash arithmetic, or early termination
    mismatches. Scale: ranked adjacency shuffles once
    (localCheckpointed); per-step work is |walks| frontier probes —
    the DeepWalk/node2vec corpus generator shape. Reference analog:
    none (engine extension)."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    edges = e0.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        e0.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    starts = T(spark, sf_dir, "supplier").select(
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("node")
    )
    return GR.random_walks(edges, starts, walk_len=6)


@register(
    "x74_rrf_fusion",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                   (SELECT count(*) FROM tok)       AS total_dl),
    qt AS (SELECT * FROM tok WHERE term IN ('table', 'scan', 'fast')),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM qt GROUP BY 1, 2),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
    scored AS (
        SELECT tf.doc_id, tf.term,
               CAST(22 * tf.tf * tot.total_dl * tot.n_docs AS DOUBLE)
               / CAST(dfreq.df * (10 * tf.tf * tot.total_dl
                                  + 3 * tot.total_dl
                                  + 9 * dl.dl * tot.n_docs) AS DOUBLE) AS s
        FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN tot
    ),
    lex AS (
        -- rank on the score ROUNDED to 6dp, exactly like the Spark
        -- bm25_search ranker (textops round(...,6) before the window):
        -- two docs whose raw folds differ by <1e-6 must tie-break by
        -- doc_id in BOTH engines or the fused top-10 flips.
        SELECT doc_id, rnk FROM (
            SELECT doc_id,
                   row_number() OVER (
                       ORDER BY round(list_reduce(list_prepend(0.0, list(s ORDER BY term)),
                                                  (a, x) -> a + x), 6) DESC,
                                doc_id ASC) AS rnk
            FROM scored GROUP BY doc_id
        ) WHERE rnk <= 20
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    dense AS (
        SELECT neighbor_id, rnk FROM (
            SELECT neighbor_id,
                   row_number() OVER (
                       ORDER BY list_dot_product(qv, cv)
                             / (sqrt(list_sum(list_transform(qv, x -> x*x)))
                                * sqrt(list_sum(list_transform(cv, x -> x*x)))) DESC,
                                neighbor_id) AS rnk
            FROM q, c WHERE neighbor_id <> 0
        ) WHERE rnk <= 20
    )
    SELECT doc_id,
           CAST(lex_rnk AS BIGINT)   AS lex_rnk,
           CAST(dense_rnk AS BIGINT) AS dense_rnk,
           rrf_nano,
           CAST(row_number() OVER (ORDER BY rrf_nano DESC, doc_id ASC) AS BIGINT)
               AS fused_rnk
    FROM (
        SELECT coalesce(l.doc_id, d.neighbor_id) AS doc_id,
               l.rnk AS lex_rnk, d.rnk AS dense_rnk,
               coalesce(1000000000 // (60 + l.rnk), 0)
                 + coalesce(1000000000 // (60 + d.rnk), 0) AS rrf_nano
        FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.neighbor_id
    )
    QUALIFY fused_rnk <= 10
    """,
)
def x74_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009): the lexical ranker (x65's exact-integer-cleared BM25 over
    query terms table/scan/fast, top-20) and the dense ranker (x11's
    brute-force cosine against doc 0's embedding, top-20) fuse as

        rrf_nano = sum_r floor(1e9 / (60 + rank_r))

    — integer reciprocal-rank units, so fusion scores and the fused
    top-10 ordering are value-gated bit-for-bit. Docs missing from a
    ranker contribute 0 (standard RRF over the union of top lists).
    Scale: each ranker ends in its own top-k (TakeOrdered / window
    top-1 shapes pinned elsewhere); the fusion join touches two
    k-row lists — broadcast territory, never the corpus. Reference
    analog: none (engine extension)."""
    from .similarity import cosine_topk_bruteforce

    docs = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    lex = TX.bm25_search(docs, ["table", "scan", "fast"], k=20).select(
        F.col("doc_id").alias("_lex_id"), F.col("rnk").cast("long").alias("lex_rnk")
    )
    dense = cosine_topk_bruteforce(
        emb.filter(F.col("vec_id") == 0), emb, k=20
    ).select(
        F.col("neighbor_id").alias("_dense_id"),
        F.col("rnk").cast("long").alias("dense_rnk"),
    )
    fused = (
        lex.join(dense, lex["_lex_id"] == dense["_dense_id"], "full_outer")
        .select(
            F.coalesce("_lex_id", "_dense_id").alias("doc_id"),
            "lex_rnk",
            "dense_rnk",
            (
                F.coalesce(F.expr("1000000000 DIV (60 + lex_rnk)"), F.lit(0))
                + F.coalesce(F.expr("1000000000 DIV (60 + dense_rnk)"), F.lit(0))
            ).alias("rrf_nano"),
        )
    )
    w = Window.orderBy(F.col("rrf_nano").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("fused_rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rnk") <= 10)
    )


@register(
    "x75_audio_fingerprint_dedup",
    """
    WITH pcm AS (
        SELECT doc_id AS media_id,
               list_transform(string_split(text, ''),
                              c -> ascii(c) % 256 - 128) AS s
        FROM documents
    ),
    corpus AS (
        SELECT media_id, s FROM pcm
        UNION ALL
        SELECT media_id + 200000,
               list_transform(range(1, len(s) + 1),
                              i -> s[i] + CASE WHEN (i - 1) % 7 = 0 THEN 1 ELSE 0 END)
        FROM pcm WHERE media_id % 4 = 0
    ),
    e AS (
        SELECT media_id,
               CASE WHEN len(s) >= 8 THEN
                   list_transform(range(0, len(s) // 8), f ->
                       list_transform(range(0, 4), b ->
                           list_sum(list_transform(
                               list_slice(s, 8*f + 2*b + 1, 8*f + 2*b + 2),
                               x -> CAST(x AS BIGINT) * x))))
               ELSE [] END AS e
        FROM corpus
    ),
    v AS (
        SELECT media_id,
               CASE WHEN len(e) >= 2 THEN
                   list_transform(range(1, len(e)), f ->
                       (CASE WHEN (e[f+1][1] - e[f+1][2]) - (e[f][1] - e[f][2]) > 0
                             THEN 1 ELSE 0 END)
                     + (CASE WHEN (e[f+1][2] - e[f+1][3]) - (e[f][2] - e[f][3]) > 0
                             THEN 2 ELSE 0 END)
                     + (CASE WHEN (e[f+1][3] - e[f+1][4]) - (e[f][3] - e[f][4]) > 0
                             THEN 4 ELSE 0 END))
               ELSE [] END AS v
        FROM e
    ),
    fp AS (
        SELECT media_id,
               list_transform(range(0, len(v) // 8), c ->
                   CAST(v[8*c+1] AS BIGINT) + (CAST(v[8*c+2] AS BIGINT) << 3)
                 + (CAST(v[8*c+3] AS BIGINT) << 6) + (CAST(v[8*c+4] AS BIGINT) << 9)
                 + (CAST(v[8*c+5] AS BIGINT) << 12) + (CAST(v[8*c+6] AS BIGINT) << 15)
                 + (CAST(v[8*c+7] AS BIGINT) << 18) + (CAST(v[8*c+8] AS BIGINT) << 21)) AS chunks
        FROM v WHERE len(v) // 8 >= 1
    ),
    flat AS (
        SELECT media_id, chunks,
               unnest(range(1, len(chunks) + 1)) AS pos
        FROM fp
    ),
    flatv AS (SELECT media_id, pos, chunks[pos] AS chunk FROM flat),
    cand AS (
        SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b
        FROM flatv a JOIN flatv b
          ON a.pos = b.pos AND a.chunk = b.chunk
         AND a.media_id < b.media_id
    )
    SELECT c.id_a, c.id_b,
           CAST(list_sum(list_transform(range(1, len(fa.chunks) + 1),
                i -> bit_count(xor(fa.chunks[i], fb.chunks[i])))) AS BIGINT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.media_id = c.id_a
    JOIN fp fb ON fb.media_id = c.id_b
    WHERE len(fa.chunks) = len(fb.chunks)
      AND list_sum(list_transform(range(1, len(fa.chunks) + 1),
              i -> bit_count(xor(fa.chunks[i], fb.chunks[i])))) <= 4
    """,
)
def x75_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate detection by Haitsma–Kalker fingerprint
    (``multimodal.pcm_fingerprint`` + ``fingerprint_match_pairs``):
    documents-as-8-bit-PCM (the x49 convention) with a planted
    "re-encode" — every 4th doc reappears with +1 amplitude on every
    7th sample, the tiny-perturbation shape a lossy transcode leaves.
    Sign-of-band-energy-derivative bits are robust to it, so the
    planted twin matches its original at small Hamming distance while
    unrelated docs don't collide. Candidates come from the (position,
    chunk) sub-fingerprint block join — bucketed, never all-pairs —
    and the full-Hamming verify (<= 4 bits) is value-gated
    bit-for-bit. All integer arithmetic end to end, zero UDFs.
    Reference analog: none (engine extension; the audio counterpart
    of x45's image pHash)."""
    from .multimodal import fingerprint_match_pairs, pcm_fingerprint

    docs = T(spark, sf_dir, "documents")
    # LINEAR byte extraction: split-to-chars is one O(n) pass. The
    # round-4 form — ascii(substring(text, i, 1)) per index i — was an
    # O(i) UTF-8 walk per character, and CollapseProject inlined it
    # into every (frame, band) aggregate lambda downstream: O(n^2) x
    # ~150 re-evaluations per document on the interpreted higher-order
    # path (BENCH_r04 rc=124, the stuck 2-task stage). The repartition
    # both fans the codec work across all cores and is an optimizer
    # barrier that keeps the pcm projection from being inlined.
    pcm = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(
            "transform(filter(split(text, ''), c -> c <> ''), "
            "c -> ascii(c) % 256 - 128)"
        ).alias("s"),
    ).repartition(spark.sparkContext.defaultParallelism)
    twins = pcm.filter(F.col("media_id") % 4 == 0).select(
        (F.col("media_id") + 200000).alias("media_id"),
        F.expr(
            "transform(sequence(1, size(s)), "
            "i -> s[i - 1] + CASE WHEN (i - 1) % 7 = 0 THEN 1 ELSE 0 END)"
        ).alias("s"),
    )
    corpus = pcm.unionByName(twins)
    # chunk_frames=8 -> 24-bit sub-fingerprints: wide enough that
    # (n, pos, chunk) buckets hold only true near-matches, never the
    # skew-driven collision piles 12-bit chunks produced in round 4.
    fps = pcm_fingerprint(corpus, sample_col="s", chunk_frames=8)
    return fingerprint_match_pairs(fps, max_hamming=4)


@register(
    "x76_substring_dedup",
    f"""
    WITH corpus AS ({_RECRAWL_SQL}),
    g AS (
        SELECT doc_id, text,
               unnest(range(0, CASE WHEN length(text) >= 30
                                    THEN length(text) - 30 + 1 ELSE 0 END)) AS p
        FROM corpus
    ),
    grams AS (
        SELECT doc_id, CAST(p AS BIGINT) AS p,
               substring(text, CAST(p AS INT) + 1, 30) AS gv
        FROM g
    ),
    shared AS (
        SELECT gv FROM grams GROUP BY gv HAVING count(DISTINCT doc_id) >= 2
    ),
    lagged AS (
        SELECT doc_id, p, gv,
               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        FROM grams JOIN shared USING (gv)
    ),
    cov AS (
        SELECT doc_id,
               count(DISTINCT gv) AS n_shared_grams,
               sum(CASE WHEN prev IS NULL THEN 30
                        ELSE least(30, p - prev) END) AS covered
        FROM lagged GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(length(c.text) AS BIGINT)            AS n_chars,
           CAST(coalesce(cov.n_shared_grams, 0) AS BIGINT) AS n_shared_grams,
           CAST(coalesce(cov.covered, 0) AS BIGINT)  AS covered_chars
    FROM corpus c LEFT JOIN cov ON c.doc_id = cov.doc_id
    """,
)
def x76_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level EXACT-SUBSTRING dedup profile
    (``dedup_text.substring_dedup`` — the Lee et al. 2022 ExactSubstr
    method): per document, the distinct 30-char windows shared
    verbatim with any OTHER document and the characters covered by
    those windows (the cuttable span). The recrawl twins guarantee
    full-coverage hits; template-generated text contributes partial
    spans that word-shingle dedup (x3/x4/x63) cannot see when reuse
    crosses token boundaries. Interval-union coverage is the
    sort + lag window form — exact, no pair expansion. The oracle
    recomputes on RAW substrings while the engine joins on xxhash64
    grams, so the value gate also certifies hash injectivity on this
    corpus (same discipline as x23). Scale: gram table is one
    let-bound split pass (stride=1 here; production uses a stride +
    verify pass, see operator docstring); shared-gram detection is one
    groupBy; coverage is a per-doc window. Reference analog: none
    (engine extension)."""
    from .operators.dedup_text import substring_dedup

    return substring_dedup(
        _with_recrawl(T(spark, sf_dir, "documents")), "doc_id", "text", gram_len=30
    )


@register(
    "x77_ccnet_buckets",
    r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    lm AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
    scored AS (
        SELECT tok.doc_id,
               CAST(1000000 * sum(lm.c) // count(*) AS BIGINT) AS score_micro
        FROM tok JOIN lm USING (term)
        GROUP BY tok.doc_id
    ),
    bucketed AS (
        SELECT d.doc_id, d.lang, s.score_micro,
               CAST(ntile(3) OVER (PARTITION BY d.lang
                                   ORDER BY s.score_micro DESC, d.doc_id ASC)
                    AS INT) AS bucket
        FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, score_micro, bucket, bucket <= 2 AS kept
    FROM bucketed
    """,
)
def x77_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the corpus unigram LM (x26's log-free integer
    proxy — avg corpus count per token, micro-scaled integer division
    so the value is bit-exact across engines), split each LANGUAGE
    into head/middle/tail terciles by score (ntile over a fully
    deterministic ordering), keep head+middle — the standard
    pre-training curation step that drops the most perplexe tail per
    language rather than applying one global threshold (which would
    starve low-resource languages). Plan: one |vocab| shuffle to build
    the LM (broadcast back), one per-doc rollup, one doc-level join
    for lang — the corpus streams once, and the tercile split runs on
    doc-level rows, never tokens. The split itself is the two-phase
    ``windows.grouped_global_rank`` (r9): a plain per-lang ntile
    window sorts corpus/|langs| rows in ONE task — with a handful of
    languages over a 100 TB corpus that is a single-task multi-TB
    sort — whereas the bounded rank plus the standard ntile formula
    (first cnt%n buckets get cnt div n + 1 rows; bucket derived from
    the global rank and the broadcast per-lang count) is the same
    value with every task's sort capped at one range partition.
    Reference analog: none (engine extension; composes with x30's
    heuristic gate and x70's DSIR as the curation family)."""
    from .operators.windows import grouped_global_rank

    docs = T(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("term")
    )
    lm = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    scored = (
        tok.join(F.broadcast(lm), "term")
        .groupBy("doc_id")
        .agg(F.expr("CAST(1000000 * sum(c) DIV count(*) AS BIGINT)").alias("score_micro"))
    )
    joined = scored.join(docs.select("doc_id", "lang"), "doc_id")
    ranked = grouped_global_rank(
        joined,
        ["lang"],
        [F.col("score_micro").desc(), F.col("doc_id").asc()],
        rank_col="_rn",
    )
    cnt = joined.groupBy("lang").agg(F.count(F.lit(1)).alias("_cnt"))
    # ntile(n) from (rank, group count), SQL-standard distribution:
    # q = cnt div n, r = cnt mod n; the first r buckets carry q+1 rows.
    # The ELSE's div-by-q is unreachable when q = 0 (then r = cnt and
    # every rn <= r*(q+1)); CASE evaluates lazily per row.
    bucket = F.expr(
        "CASE WHEN _rn <= (_cnt % 3) * (div(_cnt, 3) + 1) "
        "THEN div(_rn + div(_cnt, 3), div(_cnt, 3) + 1) "
        "ELSE (_cnt % 3) + div(_rn - (_cnt % 3) * (div(_cnt, 3) + 1) "
        "+ div(_cnt, 3) - 1, div(_cnt, 3)) END"
    ).cast("int")
    return (
        ranked.join(F.broadcast(cnt), "lang")
        .withColumn("bucket", bucket)
        .select(
            "doc_id",
            "lang",
            "score_micro",
            "bucket",
            (F.col("bucket") <= 2).alias("kept"),
        )
    )


@register(
    "x78_rle_video_roundtrip",
    """
    WITH px AS (
        SELECT doc_id,
               list_transform(string_split(text, ''), c -> ascii(c) % 256) AS p
        FROM documents
        WHERE length(text) >= 64
    ),
    f AS (SELECT doc_id, p, len(p) // 64 AS nf FROM px)
    SELECT doc_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(list_sum(list_slice(p, 1, 64 * nf)) AS BIGINT) AS luma_sum,
           CAST(list_sum(flatten(list_transform(range(0, nf), fr ->
                list_slice(p, 64 * fr + 1, 64 * fr + 8)))) AS BIGINT)
               AS toprow_sum,
           CAST(list_sum(list_transform(range(0, nf), fr ->
                18 + list_sum(list_transform(range(0, 8), r ->
                    2 + 2 * list_sum(list_transform(range(2, 9), i ->
                        CASE WHEN p[64 * fr + 8 * r + i]
                                  <> p[64 * fr + 8 * r + i - 1]
                             THEN 1 ELSE 0 END)))))) AS BIGINT)
               AS rle_bytes
    FROM f
    """,
)
def x78_rle_video_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-video roundtrip over the REAL MS-RLE8 codec
    (``multimodal.rle8_encode/decode`` — Microsoft's registered
    BI_RLE8 run-length format, fourcc 'mrle'): each document's chars
    become 8x8 grayscale frames packed into a spec-compliant AVI with
    RLE8-compressed ``00dc`` chunks; the distributed parse decodes
    every run back to pixels. The value gate is double-edged: the
    luma/toprow sums prove the DECODE bit-exact (any run/row/flip bug
    lands in the sums), and ``rle_bytes`` — the actual encoded chunk
    sizes — must equal the ORACLE'S ARITHMETIC MODEL of the encoder
    (per row: 2 bytes per value-change run + EOL; +EOB per frame),
    proving the ENCODER's run structure without the oracle ever
    seeing a byte of AVI. This closes the 'compressed video codecs
    absent' gap honestly for the run-length class; transform-coded
    formats (H.264 etc.) remain out of scope like mp3.
    Scale: one Arrow-batched codec pass, per-doc integer aggregates
    computed inside it, no shuffle until the final row emit."""
    from pyspark.sql import types as TT

    from . import multimodal as MM
    from .operators.rows import map_rows

    docs = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 64)
        .repartition(spark.sparkContext.defaultParallelism)  # codec CPU >> I/O
    )

    out_schema = (
        TT.StructType()
        .add("doc_id", "long")
        .add("n_frames", "long")
        .add("luma_sum", "long")
        .add("toprow_sum", "long")
        .add("rle_bytes", "long")
    )

    def _roundtrip(doc_id, t):
        px = bytes(ord(c) % 256 for c in t)
        nf = len(px) // 64
        frames = [px[i * 64 : (i + 1) * 64] for i in range(nf)]
        v = MM.parse_avi(MM.encode_avi(frames, 8, 8, codec="rle8"))  # decode proves the codec
        assert v["codec"] == "rle8" and v["frames"] == frames
        return [(
            doc_id,
            nf,
            sum(sum(f) for f in v["frames"]),
            sum(sum(f[:8]) for f in v["frames"]),
            sum(v["frame_bytes"]),
        )]

    return map_rows(docs, _roundtrip, out_schema)


@register(
    "x79_adpcm_audio_roundtrip",
    """
    WITH s AS (
        SELECT doc_id,
               list_transform(string_split(text, ''),
                              c -> (ascii(c) % 256 - 128) * 256) AS pcm
        FROM documents
        WHERE length(text) >= 1
    )
    SELECT doc_id,
           CAST(len(pcm) AS BIGINT)                            AS n_samples,
           CAST(256 * ((len(pcm) + 504) // 505) AS BIGINT)     AS adpcm_data_bytes,
           CAST(pcm[1] AS BIGINT)                              AS first_sample,
           CAST(list_sum(list_transform(range(0, (len(pcm) + 504) // 505),
                b -> pcm[505 * b + 1])) AS BIGINT)             AS anchor_sum
    FROM s
    """,
)
def x79_adpcm_audio_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-audio roundtrip over REAL IMA/DVI ADPCM
    (``multimodal.encode_wav_adpcm/parse_wav_adpcm`` — wFormatTag
    0x11, the standard 89-step/index-adjust tables, 256-byte blocks of
    505 samples): each document's chars become PCM16 (the x49
    convention), are compressed 4:1 into a spec-compliant ADPCM WAV
    (fmt extension + mandatory fact chunk), and fully DECODED back
    through the four-table state machine. Value gate: the decoded
    sample count, the data-chunk size (block arithmetic), and the
    per-block ANCHOR samples — each block header stores its first
    sample exactly, so the sum of decoded samples at positions 505*b
    must equal the oracle's sum over the raw text — prove container
    layout, block segmentation, and header decode bit-exactly. The
    lossy interior samples are pytest-contracted (SNR/adaptation);
    a wrong nibble order or step table would corrupt the decode and
    is covered by the codec unit tests' exact state-machine vectors.
    Closes the 'compressed audio absent' gap for the ADPCM class;
    transform codecs (mp3 etc.) stay out of scope.
    Scale: one Arrow-batched codec pass, per-doc integer aggregates
    computed inside it, no shuffle until the final row emit."""
    from pyspark.sql import types as TT

    from . import multimodal as MM
    from .operators.rows import map_rows

    docs = (
        T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= 1)
        .repartition(spark.sparkContext.defaultParallelism)  # codec CPU >> I/O
    )

    out_schema = (
        TT.StructType()
        .add("doc_id", "long")
        .add("n_samples", "long")
        .add("adpcm_data_bytes", "long")
        .add("first_sample", "long")
        .add("anchor_sum", "long")
    )

    def _roundtrip(doc_id, t):
        pcm = [(ord(c) % 256 - 128) * 256 for c in t]
        v = MM.parse_wav_adpcm(MM.encode_wav_adpcm(pcm))  # full decode proves the codec
        dec = v["samples"]
        anchors = dec[:: MM._ADPCM_SAMPLES_PER_BLOCK]
        return [(doc_id, v["n_samples"], v["data_bytes"], dec[0], sum(anchors))]

    return map_rows(docs, _roundtrip, out_schema)


@register(
    "x80_suffix_ranks",
    """
    WITH pos AS (
        SELECT doc_id, unnest(range(0, length(text))) AS p, text
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, CAST(p AS BIGINT) AS p,
               CAST(dense_rank() OVER (
                   ORDER BY substring(text, CAST(p AS INT) + 1, 32)
               ) AS BIGINT) AS srank
        FROM pos
    )
    SELECT doc_id, p, srank FROM ranked WHERE p % 25 = 0
    """,
)
def x80_suffix_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BOUNDED SUFFIX ARRAY (``operators/suffix.py`` —
    Manber–Myers prefix doubling as DataFrame rounds): dense rank of
    every (doc, position) by its suffix truncated to 32 chars, over
    the whole corpus. The suffix-sorting backbone of ExactSubstr dedup
    (x76 is the gram-table variant; equal ranks here ARE the repeated
    substrings). The oracle sorts the raw bounded suffixes outright —
    any error in the doubling recurrence, the per-doc lead pairing,
    the past-end sentinel, or the distributed rank offsets lands in a
    wrong rank. Scale: log2(bound) rounds, each ONE range-partitioned
    shuffle; the global dense rank is never a single-partition window
    (per-partition ranks + an O(#partitions) offsets collect — the
    packing.py prefix-sum discipline), and convergence stops the loop
    as soon as all ranks are distinct. Output sampled (p % 25) to
    keep the gate payload bounded; ranks are computed over ALL
    positions. Reference analog: none (engine extension)."""
    from .operators.suffix import suffix_ranks

    out = suffix_ranks(T(spark, sf_dir, "documents"), "doc_id", "text", bound=32)
    return out.filter(F.col("p") % 25 == 0)


@register(
    "x81_incremental_substring_dedup",
    """
    WITH batch AS (
        SELECT doc_id + 100000 AS doc_id, text
        FROM documents WHERE doc_id % 5 = 0
    ),
    corpus_grams AS (
        SELECT DISTINCT substring(text, CAST(p AS INT) + 1, 30) AS gv
        FROM (
            SELECT text,
                   unnest(range(0, CASE WHEN length(text) >= 30
                                        THEN length(text) - 30 + 1 ELSE 0 END)) AS p
            FROM documents
        )
    ),
    bg AS (
        SELECT doc_id, CAST(p AS BIGINT) AS p,
               substring(text, CAST(p AS INT) + 1, 30) AS gv
        FROM (
            SELECT doc_id, text,
                   unnest(range(0, CASE WHEN length(text) >= 30
                                        THEN length(text) - 30 + 1 ELSE 0 END)) AS p
            FROM batch
        )
    ),
    lagged AS (
        SELECT doc_id, p, gv,
               lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
        FROM bg SEMI JOIN corpus_grams ON bg.gv = corpus_grams.gv
    ),
    cov AS (
        SELECT doc_id,
               count(DISTINCT gv) AS n_hit_grams,
               sum(CASE WHEN prev IS NULL THEN 30
                        ELSE least(30, p - prev) END) AS covered
        FROM lagged GROUP BY doc_id
    )
    SELECT b.doc_id                                   AS batch_id,
           CAST(length(b.text) AS BIGINT)             AS n_chars,
           CAST(coalesce(cov.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
           CAST(coalesce(cov.covered, 0) AS BIGINT)   AS covered_chars
    FROM batch b LEFT JOIN cov ON b.doc_id = cov.doc_id
    """,
)
def x81_incremental_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS-INGEST exact-substring dedup
    (``dedup_text.gram_store`` + ``substring_dedup_against_store``):
    an incoming batch (the recrawl twins — guaranteed full-coverage
    hits) is profiled against the standing corpus via its materialized
    gram table; only the BATCH is scanned and hashed, the corpus
    contributes a distinct-gram semi-join (bucketed by g at 100 TB, so
    the probe never reshuffles the store — the exact-substring twin of
    x33's incremental LSH). The oracle recomputes on raw substrings,
    re-certifying hash injectivity. Every batch doc is an exact
    re-crawl, so covered_chars == n_chars for all long-enough docs —
    the value gate pins full coverage plus the gram counts.
    Reference analog: none (engine extension)."""
    from .operators.dedup_text import gram_store, substring_dedup_against_store

    docs = T(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    store = gram_store(docs, "doc_id", "text", 30)
    return substring_dedup_against_store(batch, store, "doc_id", "text", 30)


@register(
    "x82_winnowing_fingerprints",
    f"""
    WITH corpus0 AS ({_RECRAWL_SQL}),
    corpus AS (SELECT * FROM corpus0 WHERE doc_id % 4 = 0),
    hs AS (
        SELECT doc_id,
               CASE WHEN length(text) >= 20 THEN
                   list_transform(range(0, length(text) - 20 + 1), i ->
                       CAST(('0x' || substring(md5(substring(text, CAST(i AS INT) + 1, 20)), 1, 8))
                            AS BIGINT))
               ELSE [] END AS hs
        FROM corpus
    ),
    sel AS (
        SELECT doc_id,
               list_distinct(list_transform(range(0, len(hs) - 8 + 1), j ->
                   list_min(list_slice(hs, CAST(j AS INT) + 1, CAST(j AS INT) + 8)) * 1048576
                   + CAST(j + (8 + 1
                        - list_position(list_reverse(list_slice(hs, CAST(j AS INT) + 1, CAST(j AS INT) + 8)),
                                        list_min(list_slice(hs, CAST(j AS INT) + 1, CAST(j AS INT) + 8))))
                        - 1 AS BIGINT))) AS sel
        FROM hs WHERE len(hs) >= 8
    ),
    fp AS (
        SELECT doc_id, unnest(sel) // 1048576 AS h FROM sel
    ),
    shared AS (
        SELECT h FROM fp GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT fp.doc_id,
           CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(CASE WHEN shared.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_fp
    FROM fp LEFT JOIN shared ON fp.h = shared.h
    GROUP BY fp.doc_id
    """,
)
def x82_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING fingerprint selection (Schleimer–Wilkerson–Aiken,
    SIGMOD 2003 — the MOSS algorithm; ``textops.winnow_fingerprints``):
    per window of 8 consecutive 20-char-gram hashes pick the rightmost
    minimum — guaranteed to catch every match of length >= w + k - 1 =
    27 chars at an expected ~2/(w+1) fingerprint density, the
    principled alternative to stride sampling (which has no guarantee).
    The recrawl twins make every selected fingerprint of a twinned doc
    shared. Hashes are the engine-portable md5-first-8-hex -> BIGINT
    form because the SELECTION argmin depends on hash values — the
    oracle replays the identical selection, so the value gate checks
    the winnowing window logic itself (rightmost ties included), not
    just the aggregate counts. Map-only until the |selected| shuffle
    (~2n/(w+1) rows, not n). Reference analog: none (engine extension;
    completes the dedup family: exact x1, shingle x3/x63, MinHash x4,
    SimHash x5b, substring x76/x80/x81, winnowing x82)."""
    # Half the corpus (+ its twins): the gate certifies the SELECTION
    # LOGIC value-for-value, and the portable md5 hash it requires is
    # ~3x the production xxhash64 path — scale belongs to the default
    # hasher, correctness to this entry.
    docs = _with_recrawl(T(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 4 == 0
    )
    fps = TX.winnow_fingerprints(
        docs, "doc_id", "text", k=20, w=8, portable_hash=True
    )
    shared = (
        fps.groupBy("fp")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp")
    )
    return (
        fps.join(shared.withColumn("_sh", F.lit(1)), "fp", "left")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_selected"),
            F.sum(F.coalesce("_sh", F.lit(0))).cast("long").alias("n_shared_fp"),
        )
    )


@register(
    "x87_hopping_window",
    """
    WITH h AS (
        SELECT make_timestamp(((epoch_us(ts) // 21600000000) - k.k)
                              * 21600000000)  AS window_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k
        WHERE ts IS NOT NULL
    )
    SELECT window_start, event_type,
           count(*)                                              AS n,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                                                                 AS total_micro
    FROM h
    GROUP BY 1, 2
    """,
)
def x87_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-analog — HOPPING (sliding) event-time window: size
    1 day, hop 6 h, so every event lands in exactly 4 overlapping
    windows (``F.window(ts, size, hop)`` explodes the assignment
    map-side; the readStream twin is the same expression under
    ``withWatermark``). Completes the window family next to
    ext_tumbling_window / ext_session_window. Plan: one Expand (4
    rows/event) into a map-side-combined aggregate — one shuffle on
    (window, type), no self-joins. The DuckDB twin builds the same
    epoch-aligned 6 h grid arithmetically: the k-th preceding 6 h
    bucket for k = 0..3 (windows of a 1-day/6-h hop containing ts are
    exactly those 4 — epoch-aligned like Spark's window origin;
    ``make_timestamp`` keeps the twin timezone-free, where a
    ``to_timestamp``/CAST chain would detour through the oracle
    host's session zone). The summed value travels as floor-scaled
    integer micro-units (float-determinism convention: both engines
    floor the identical IEEE product, so partial-agg order cannot
    flip a rounding). NULL-ts rows: Spark's TimeWindowing rule injects
    an ``IS NOT NULL`` filter on the window column, so the oracle pins
    the same semantics explicitly (the fixture has no NULL ts today —
    the WHERE keeps a regenerated fixture from flipping the gate)."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 day", "6 hours").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            # DECIMAL(38,0) accumulator (ADVICE r7): a plain BIGINT sum
            # of 1e6-scale micro-units wraps near 1e12 rows with ANSI
            # off — same 100 TB headroom convention as j1/x34/x88. The
            # DuckDB twin already sums BIGINT into HUGEINT natively.
            F.sum(
                F.expr("CAST(floor(value * 1000000) AS BIGINT)").cast(
                    "decimal(38,0)"
                )
            )
            .cast("long")
            .alias("total_micro"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_micro",
        )
    )


@register(
    "x88_poisson_bootstrap",
    """
    WITH reps AS (SELECT unnest(range(16)) AS b),
    weighted AS (
        SELECT d.lang, d.b, d.n_chars,
               CASE
                   WHEN h <  385749 THEN 0
                   WHEN h <  771499 THEN 1
                   WHEN h <  964373 THEN 2
                   WHEN h < 1028665 THEN 3
                   WHEN h < 1044738 THEN 4
                   WHEN h < 1047952 THEN 5
                   WHEN h < 1048488 THEN 6
                   WHEN h < 1048565 THEN 7
                   ELSE 8
               END AS w
        FROM (
            SELECT lang, n_chars, doc_id, b,
                   ('0x' || substr(md5(doc_id || ':' || b), 1, 5))::BIGINT AS h
            FROM documents CROSS JOIN reps
        ) d
    ),
    rep_means AS (
        SELECT lang, b,
               CAST((CAST(sum(w * n_chars) AS HUGEINT) * 1000000)
                    // sum(w) AS BIGINT) AS mean_micro
        FROM weighted
        GROUP BY 1, 2
        HAVING sum(w) > 0
    ),
    pt AS (
        SELECT lang,
               CAST((CAST(sum(n_chars) AS HUGEINT) * 1000000)
                    // count(*) AS BIGINT) AS point_micro
        FROM documents
        GROUP BY 1
    )
    SELECT pt.lang, pt.point_micro,
           CAST(min(mean_micro) AS BIGINT) AS boot_lo_micro,
           CAST(max(mean_micro) AS BIGINT) AS boot_hi_micro,
           CAST(count(*) AS BIGINT)        AS n_replicas
    FROM rep_means JOIN pt USING (lang)
    GROUP BY 1, 2
    """,
)
def x88_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-PASS Poisson bootstrap (the online-bootstrap trick:
    resampling-with-replacement ~ per-row Poisson(1) replicate
    weights, so B bootstrap replicas cost ONE scan + one map-side
    explode instead of B shuffled resamples — the only bootstrap that
    works at 100 TB). Weights are DETERMINISTIC cross-engine: the
    20-bit md5 prefix of ``doc_id:b`` (portable-hash convention of
    operators/sampling.py) inverted through Poisson(1)'s cumulative
    thresholds pre-scaled to integers (floor(CDF_k * 2^20), truncated
    at w = 8 where the CDF is 1 - 1e-6 — identical CASE chain both
    engines, zero float comparisons). Emits per-lang point mean of
    n_chars plus the min/max envelope of B = 16 replicate means, all
    in exact integer micro-units (the 1e6-scaled product runs in
    DECIMAL(38,0)/HUGEINT so corpus-scale sums cannot wrap a BIGINT).
    Plan: explode x16 map-side -> one shuffle on (lang, b) -> |langs|
    rows; the point-estimate CTE is a second map-side-combined pass.
    """
    docs = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    wexp = docs.select(
        "lang",
        "n_chars",
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b"),
    )
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("doc_id"), F.col("b"))), 1, 5),
        16,
        10,
    ).cast("long")
    w = (
        F.when(h < 385749, 0)
        .when(h < 771499, 1)
        .when(h < 964373, 2)
        .when(h < 1028665, 3)
        .when(h < 1044738, 4)
        .when(h < 1047952, 5)
        .when(h < 1048488, 6)
        .when(h < 1048565, 7)
        .otherwise(8)
    )
    rep = (
        wexp.withColumn("w", w.cast("long"))
        .groupBy("lang", "b")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).alias("swc"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "lang",
            F.expr(
                "CAST(div(CAST(swc AS DECIMAL(38,0)) * 1000000, sw) AS BIGINT)"
            ).alias("mean_micro"),
        )
    )
    pt = docs.groupBy("lang").agg(
        F.expr(
            "CAST(div(CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000, count(*)) AS BIGINT)"
        ).alias("point_micro")
    )
    return (
        rep.groupBy("lang")
        .agg(
            F.min("mean_micro").alias("boot_lo_micro"),
            F.max("mean_micro").alias("boot_hi_micro"),
            F.count(F.lit(1)).alias("n_replicas"),
        )
        .join(pt, "lang")
        .select(
            "lang", "point_micro", "boot_lo_micro", "boot_hi_micro", "n_replicas"
        )
    )


@register(
    "x89_tokenizer_fertility",
    _x53_oracle()
    + """
    SELECT d2.lang,
           CAST(count(*) AS BIGINT)                      AS n_words,
           CAST(sum(enc.n_tok) AS BIGINT)                AS n_tokens,
           CAST(sum(strlen(words.w)) AS BIGINT)    AS n_bytes,
           CAST((CAST(sum(enc.n_tok) AS HUGEINT) * 1000000)
                // count(*) AS BIGINT)                   AS tokens_per_word_micro,
           CAST((CAST(sum(strlen(words.w)) AS HUGEINT) * 1000000)
                // sum(enc.n_tok) AS BIGINT)             AS bytes_per_token_micro
    FROM words
    JOIN enc ON words.w = enc.w
    JOIN documents d2 ON words.doc_id = d2.doc_id
    GROUP BY 1
    """,
)
def x89_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — the multilingual-pipeline
    diagnostic (mT5/XLM-R style): tokens-per-word and bytes-per-token
    under the corpus-trained BPE (x53's encoded dictionary, shared
    builder ``_bpe_words_enc``). High fertility for a language means
    the tokenizer fragments it — the signal that drives vocab
    reallocation or per-language sampling temperature (x84). Ratios
    travel as exact integer micro-units (DECIMAL/HUGEINT product, one
    truncating division — no float summation anywhere). Plan: the
    merge training touches only the |distinct words| dictionary; the
    corpus-sized work is one join of words to the encoded dictionary
    plus one (lang) aggregate — the lang column rides a slim
    broadcast-able join with documents."""
    words, enc = _bpe_words_enc(spark, sf_dir)
    langs = T(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        words.join(enc, "w")
        .join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.sum(F.octet_length("w")).cast("long").alias("n_bytes"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            "n_bytes",
            F.expr(
                "CAST(div(CAST(n_tokens AS DECIMAL(38,0)) * 1000000, n_words)"
                " AS BIGINT)"
            ).alias("tokens_per_word_micro"),
            F.expr(
                "CAST(div(CAST(n_bytes AS DECIMAL(38,0)) * 1000000, n_tokens)"
                " AS BIGINT)"
            ).alias("bytes_per_token_micro"),
        )
    )


@register(
    "x90_char_collision",
    """
    WITH cs AS (
        SELECT doc_id,
               list_transform(range(1, len(text) + 1), i -> text[i]) AS chars
        FROM documents
    )
    SELECT doc_id,
           CAST(len(chars) AS BIGINT)                AS n_chars_counted,
           CAST(len(list_distinct(chars)) AS BIGINT) AS n_distinct_chars,
           CASE WHEN len(chars) > 0 THEN
               CAST((CAST(list_sum(list_transform(list_distinct(chars),
                         c -> CAST(len(list_filter(chars, x -> x = c)) AS BIGINT)
                              * len(list_filter(chars, x -> x = c)))) AS HUGEINT)
                     * 1000000)
                    // (CAST(len(chars) AS HUGEINT) * len(chars)) AS BIGINT)
           ELSE 1000000 END                          AS collision_ppm
    FROM cs
    """,
)
def x90_char_collision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc CHARACTER COLLISION probability (Simpson index,
    sum(c_i^2)/n^2 in exact ppm) — the compression-proxy quality
    signal: near-uniform random bytes score ~1/alphabet (garbled or
    adversarial text), heavy repetition scores toward 1 (boilerplate,
    keyboard mashing). It is the Renyi-2 twin of Shannon entropy kept
    deliberately LOG-FREE (x26's convention: ln() differs in the last
    ulp across libm implementations and would flake a hash oracle) —
    pure integer counts, one truncating HUGEINT/DECIMAL division.
    Completes the quality family next to x8 (surface ratios), x19
    (repetition), x26 (LM score), x59 (readability).

    Plan: MAP-ONLY — the corpus streams once with NO shuffle at any
    scale. r11: the per-doc counting moved from interpreted array HOFs
    (O(alphabet x len) lambda evaluations per row — Spark higher-order
    functions have no codegen, and this was the most expensive single
    query in the r11 baseline at 1.64 s) to ONE vectorized Arrow pass
    (``quality.char_collision_batches``: batch-wide np.unique over
    packed (doc, codepoint) keys + two bincounts; 0.71 -> 0.20 s
    same-session at sf0.1). All outputs are exact integers, so the
    route change cannot move a value; parity pytest
    ``test_char_collision_arrow_matches_hof`` pins the HOF form
    (including NULL/empty-text handling) against this kernel."""
    from .operators.quality import char_collision_batches

    docs = T(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").mapInArrow(
        char_collision_batches,
        "doc_id long, n_chars_counted long, n_distinct_chars long, "
        "collision_ppm long",
    )
