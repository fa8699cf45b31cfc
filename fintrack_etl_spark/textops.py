"""Text-analysis operators for training-data pipelines (engine
extension mandated by BASELINE.json's north star; SURVEY.md §7 Phase 4).

All expressions are native Columns (codegen'd, no Python in the hot
path) and have exact DuckDB SQL twins so every operator is
oracle-checkable. At 100 TB these run as a single scan + projection;
the only shuffles are the explicit groupBys/joins in the dedup ops.

The lexical rankers share their steps, each written once:
:func:`_term_stats` (token explode, ``tf``, ``df``, ``n_docs``) feeds
``tfidf_topk``, ``bm25_topk`` and ``bm25_search``; :func:`_bm25_scored`
(``dl``, the corpus totals and the cleared-integer BM25 score) feeds
``bm25_topk`` and ``bm25_search``; :func:`_top_terms` (the per-document
top-k cut) ends ``tfidf_topk`` and ``bm25_topk``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Stopword probes per language for the n-gram language-ID heuristic.
# Deliberately tiny — the point is the *shape* (regex-count scoring,
# deterministic argmax), swappable for real tables.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "a", "is"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "pt": ("de", "que", "e", "o", "para", "com", "uma"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: Column | str) -> Column:
    """Token count (whitespace); BPE-ish subword estimate is
    ``bpe_token_estimate``."""
    return F.size(tokens(text))


def bpe_token_estimate(text: Column | str) -> Column:
    """BPE-ish token-count estimate: word-piece regex (runs of letters,
    digits, or single punctuation) — the cheap proxy for tokenizer cost
    used when sizing LLM training shards."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)))


def pattern_count(text: Column | str, pattern: str) -> Column:
    """Count regex matches in a string (JVM-side)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def stopword_count(text: Column | str, lang: str = "en") -> Column:
    pat = r"\b(" + "|".join(LANG_STOPWORDS[lang]) + r")\b"
    c = F.col(text) if isinstance(text, str) else text
    return pattern_count(F.lower(c), pat)


def lang_guess(text: Column | str) -> Column:
    """Language-ID heuristic: stopword-count argmax with deterministic
    priority ties (en > de > pt > unknown)."""
    c_en = stopword_count(text, "en")
    c_de = stopword_count(text, "de")
    c_pt = stopword_count(text, "pt")
    return (
        F.when((c_en + c_de + c_pt) == 0, "unknown")
        .when((c_en >= c_de) & (c_en >= c_pt), "en")
        .when(c_de >= c_pt, "de")
        .otherwise("pt")
    )


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality scoring: length / punctuation / stopword
    ratios — the standard pre-training filter features.

    Ratios are floor-scaled basis points from exact integer counts and
    the quality threshold is a cross-multiplied integer compare —
    ``round(a/b, 4)`` of a small-integer ratio lands exactly on .xxxx5
    halfway points where engines' rounding conventions disagree (the
    r5 x19 class)."""
    t = F.col(text_col)
    base = df.select(
        F.col(id_col),
        token_count(t).cast("long").alias("n_tokens"),
        stopword_count(t, "en").cast("long").alias("n_stopwords"),
        pattern_count(t, r"[^A-Za-z0-9\s]").cast("long").alias("n_punct"),
        F.length(F.regexp_replace(t, r"\s", "")).cast("long").alias("n_nospace"),
        F.length(t).cast("long").alias("n_len"),
    )
    return quality_ratio_select(base, id_col)


def quality_ratio_select(base: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The ratio/label stage of ``quality_features``, shared with the
    vectorized count kernel (``operators.quality.quality_count_batches``)
    so both forms apply bit-identical arithmetic to the same integers."""
    return base.select(
        id_col,
        "n_tokens",
        "n_stopwords",
        (F.expr("div(n_stopwords * 10000, n_tokens)") / 10000.0).alias("stop_ratio"),
        (F.expr("div(n_punct * 10000, n_len)") / 10000.0).alias("punct_ratio"),
        (F.expr("div(n_nospace * 10000, n_tokens)") / 10000.0).alias("avg_token_len"),
        F.when(
            (F.col("n_stopwords") * 100 >= F.col("n_tokens") * 5)
            & F.col("n_tokens").between(10, 10000),
            "good",
        )
        .otherwise("low_quality")
        .alias("quality_label"),
    )


def normalize_for_fingerprint(text: Column | str) -> Column:
    """Canonical form for near-identity fingerprinting: lowercase,
    non-alphanumeric runs → single space, trim."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (whole-doc
    rolling identity; shingle-level identity is in dedup_text)."""
    return F.md5(normalize_for_fingerprint(text))


def shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-gram (word) shingles from a token array — pure array
    expression, no explode until the caller needs one.

    TOTAL for any input: a sub-``n`` token array yields an empty array
    behind a ``when`` guard. The guard is load-bearing, not cosmetic —
    ``sequence(0, size-n)`` turns DESCENDING when size < n, and
    Catalyst freely re-evaluates this expression outside the caller's
    row filter (e.g. ``InferFiltersFromGenerate`` copies it into an
    inferred ``size(...) > 0`` predicate), where a bare ``element_at``
    past the array end is an ANSI runtime error. ``try_element_at``
    for the same reason; with the guard its indices are always valid.
    """
    # LET-BINDING via a 1-element transform: the old form referenced
    # ``toks`` inside the per-gram lambda (n times per gram), so when a
    # caller passes an EXPRESSION — shingles(tokens(text), 13) — or the
    # optimizer substitutes the alias into a pushed-down predicate, the
    # tokenizer re-evaluated n times per gram per row (measured 1.7 ms
    # per ~45-token document; 65 s of the round-4 x23 regression).
    # Binding the input to a lambda variable evaluates it exactly ONCE
    # per row no matter how the expression is inlined.
    def grams(t: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(t) - n)
        g = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(t, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
        return F.when(F.size(t) >= n, F.array_distinct(g)).otherwise(
            F.array().cast("array<string>")
        )

    return F.transform(F.array(toks), grams)[0]


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding token-window chunking — the training-data prep step that
    turns variable-length documents into near-fixed-size samples with
    ``window - stride`` tokens of overlap (so no sequence boundary ever
    splits context unseen). No reference counterpart (its documents are
    row-shaped statements); standard LLM-corpus practice.

    Chunk ``i`` covers tokens ``[i*stride, i*stride + window)``; chunks
    exist for every ``i*stride < n_tokens`` (so the count is
    ``ceil(n/stride)``, min 1 — the ``greatest`` guard also keeps
    ``sequence`` from turning descending on empty text).

    Scale: pure narrow map + generate (tokenize → ``sequence`` →
    ``explode`` → ``slice``), zero shuffles and nothing driver-side;
    output rows ≈ ``total_tokens / stride`` regardless of document
    skew, so one multi-GB document fans out across tasks after a
    ``repartition`` on (id, chunk_id) — which the caller only needs if
    the SOURCE was a single file; a parquet scan is already split.
    """
    n_chunks = F.ceil(F.size(F.col("__toks")) / F.lit(stride)).cast("int")
    return (
        df.select(F.col(id_col), tokens(text_col).alias("__toks"))
        .withColumn(
            "chunk_id",
            F.explode(F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))),
        )
        .select(
            id_col,
            "chunk_id",
            F.slice(
                F.col("__toks"), F.col("chunk_id") * stride + 1, window
            ).alias("__chunk"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("__chunk").cast("long").alias("chunk_tokens"),
            F.md5(F.array_join("__chunk", " ")).alias("chunk_hash"),
        )
    )


def repetition_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals — the standard pre-training
    filters for boilerplate/spam (Rae et al. 2021 §A1.1: fraction of
    duplicate lines, fraction of text in the most frequent n-gram).

    Two signals, two cost classes:

    * ``dup_line_ratio`` — pure array expression per row (split on
      newlines, distinct), no shuffle, scales as a map;
    * ``top_bigram_ratio`` — most-frequent word bigram / total bigrams.
      Per-doc mode needs a count per (doc, gram): ONE shuffle on the
      exploded grams, linear in corpus size (the no-shuffle array
      formulation is O(grams²) per doc — wrong trade at 100 TB, where
      web docs run to 10⁵ grams).

    Thresholds (0.30 dup lines, 0.18 top bigram) follow the Gopher
    paper's rejection rules; callers tune per corpus. Both thresholds
    and the basis-point outputs are evaluated on EXACT integer
    statistics (``a*100 > pct*b`` instead of ``a/b > pct/100``,
    ``div(a*10000, b)`` instead of ``floor(a/b*1e4)``) so results are
    bit-identical across engines and partition orders — the same
    discipline as ``queries.ext_correlation``. The ``*_ratio`` doubles
    are convenience views of those exact integers, never re-aggregated.
    """
    t = F.col(text_col)
    lines = F.split(t, r"\n")
    n_lines = F.size(lines)
    dup_lines = F.size(lines) - F.size(F.array_distinct(lines))

    toks = tokens(t)
    n_bigrams = F.greatest(F.size(toks) - 1, F.lit(0))
    base = df.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        dup_lines.cast("long").alias("dup_lines"),
        n_bigrams.cast("long").alias("n_bigrams"),
        toks.alias("__toks"),
    )
    # count occurrences of each DISTINCT gram once per doc: explode the
    # full gram sequence, aggregate — map-side combine keeps the
    # shuffle at |distinct grams per doc|, not |grams|
    grams = base.select(
        id_col,
        "n_lines",
        "dup_lines",
        "n_bigrams",
        F.explode_outer(
            F.when(
                F.size("__toks") >= 2,
                F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - 2),
                    lambda i: F.concat_ws(
                        " ",
                        F.try_element_at("__toks", (i + 1).cast("int")),
                        F.try_element_at("__toks", (i + 2).cast("int")),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    counts = grams.groupBy(id_col, "n_lines", "dup_lines", "n_bigrams", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = counts.groupBy(id_col, "n_lines", "dup_lines", "n_bigrams").agg(
        F.max(F.when(F.col("gram").isNotNull(), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("top_cnt")
    )
    top_bp = F.when(
        F.col("n_bigrams") > 0,
        F.expr("div(top_cnt * 10000, n_bigrams)"),
    ).otherwise(F.lit(0)).cast("long")
    dup_bp = F.when(
        F.col("n_lines") > 0,
        F.expr("div(dup_lines * 10000, n_lines)"),
    ).otherwise(F.lit(0)).cast("long")
    return per_doc.select(
        id_col,
        dup_bp.alias("dup_line_bp"),
        top_bp.alias("top_bigram_bp"),
        (dup_bp / 10000.0).alias("dup_line_ratio"),
        (top_bp / 10000.0).alias("top_bigram_ratio"),
        (
            (F.col("dup_lines") * 100 > F.col("n_lines") * 30)
            | (F.col("top_cnt") * 100 > F.col("n_bigrams") * 18)
        ).alias("repetitive"),
    )


def tfidf_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` keywords by tf-idf.

    Weighting is the *raw-frequency* idf variant ``tf * (N / df)``
    (Salton & Buckley's unlogged idf): every arithmetic step is a
    single IEEE-754 multiply or divide, which is correctly rounded and
    therefore bit-identical across engines — the score (and the
    ranking derived from it) is exactly oracle-checkable, unlike a
    transcendental ``ln(N/df)``. Swapping in log-idf is a one-line
    change at the ``score`` expression.

    Shape at 100 TB: term frequencies are one shuffle on
    ``(doc, term)`` with map-side partial counts; the document
    frequency table is |vocab| rows and broadcast back onto the tf
    table; the corpus count is a 1-row broadcast. Top-k per doc is a
    ``row_number`` window over the (doc, term) partitioning that
    already exists — Spark plans it as WindowGroupLimit, so nothing
    beyond rank ``k`` survives the shuffle read.
    """
    _, tf, dfreq, n_docs = _term_stats(df, text_col, id_col)
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs").cast("double") / F.col("df").cast("double")),
        )
    )
    return _top_terms(scored, k, id_col)


def _term_stats(
    df: DataFrame, text_col: str, id_col: str, terms: list[str] | None = None
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The one term-statistics step of the lexical rankers:
    ``(tok, tf, dfreq, n_docs)`` — the lowercased whitespace-token
    explode ``(id_col, term)``, the per-(doc, term) count ``tf``, the
    per-term document frequency ``df`` and the 1-row corpus size
    ``n_docs``. With ``terms``, ``tf`` and ``df`` count only those
    terms (the filter prunes before either aggregation)."""
    tok = df.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    hit = tok if terms is None else tok.filter(F.col("term").isin(terms))
    tf = hit.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = hit.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return tok, tf, dfreq, df.select(F.count(F.lit(1)).alias("n_docs"))


def _top_terms(scored: DataFrame, k: int, id_col: str, *extra: Column) -> DataFrame:
    """The per-document top-``k`` cut of the term rankers: a
    ``row_number`` over (score desc, tf desc, term asc) per document —
    planned as WindowGroupLimit over the (doc, term) partitioning that
    already exists — emitting ``tf``, ``df``, ``extra``, the score
    rounded to 6 dp and the rank."""
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("tf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            id_col,
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            *extra,
            F.round("score", 6).alias("score"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# PII patterns — RE2-safe (no lookaround/backrefs) so the same pattern
# runs identically on Java regex (Spark) and RE2 (DuckDB oracle).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "cpf": (r"\b\d{3}\.\d{3}\.\d{3}-\d{2}\b", "[CPF]"),
    "phone": (r"\(\d{2}\)\s?\d{4,5}-\d{4}", "[PHONE]"),
}


def pii_count(text: Column | str, kind: str) -> Column:
    """Number of matches of one PII pattern (JVM-side regex)."""
    return pattern_count(text, PII_PATTERNS[kind][0])


def redact_pii(text: Column | str, kinds: tuple[str, ...] = ("email", "cpf", "phone")) -> Column:
    """Redact PII in-place, each kind replaced by its ``[TAG]`` marker.

    Kinds apply in the given order (email before phone matters when
    patterns could overlap). Pure ``regexp_replace`` chain — one
    projection, codegen'd, no UDF; at 100 TB this is a map-only pass.
    The pattern set mirrors the reference's normalization surface
    (normalize_cpf, utils.py:116) extended to the redaction direction
    a training-data pipeline needs before text ships to a model.
    """
    c = F.col(text) if isinstance(text, str) else text
    for kind in kinds:
        pat, tag = PII_PATTERNS[kind]
        c = F.regexp_replace(c, pat, tag)
    return c


def sentence_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Sentence segmentation + readability counts, all native column
    expressions (zero Python): sentences = nonempty runs between
    ``[.!?]+`` terminators, words = whitespace tokens, syllables = the
    standard heuristic (maximal ``[aeiouy]+`` vowel groups, floor 1
    per word via a no-vowel-word bump). The Flesch-style score is
    emitted in exact INTEGER milli-units (nested DIV — truncating on
    the all-positive intermediates), so any engine reproduces it
    bit-for-bit: flesch_milli = 206835 - 1015*W/S - 84600*Syl/W.

    Scale: map-only over the corpus — one narrow projection, no
    shuffle, no UDF; every count is a regexp/array expression that
    whole-stage codegen compiles.

    r11 (guide §1.2 per-row work): the two interpreted ``filter``
    HOFs (per-segment ``trim`` lambda, per-word ``RLIKE`` lambda —
    higher-order functions have no codegen) are replaced by single
    compiled ``regexp_extract_all`` passes with the same counts:

    * sentences = segments between ``[.!?]+`` that survive
      ``length(trim(s)) > 0``  ≡  maximal terminator-free runs
      containing a non-space char — ``[^.!?]*[^ .!?][^.!?]*``
      (``[^ ...]`` not ``[^\\s...]``: ``trim`` strips SPACES only, so
      a tab-only segment counts as a sentence in both forms);
    * no-vowel words = every split token (empties included) minus
      tokens containing a vowel  ≡  ``n_words`` −
      ``count('\\S*[aeiouy]\\S*')`` (a ``\\S+`` run contains a vowel
      iff the corresponding nonempty token does; empty tokens carry
      no vowel in both forms).

    Equality with the HOF forms is pinned by
    ``test_sentence_stats_rewrite_matches_hof``; measured at sf0.1
    the HOF marginal costs were +0.086 s (sentences) and +0.056 s
    (no-vowel) over the scan vs +0.00/+0.02 for the compiled forms."""
    t = F.lower(F.col(text_col))
    sentences = F.expr(
        f"size(regexp_extract_all(lower({text_col}), '[^.!?]*[^ .!?][^.!?]*', 0))"
    )
    n_sent = F.greatest(sentences, F.lit(1))
    n_words = F.size(F.split(F.trim(t), r"\s+"))
    vowel_groups = F.size(F.expr(f"regexp_extract_all(lower({text_col}), '[aeiouy]+', 0)"))
    vowel_words = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S*[aeiouy]\\\\S*', 0)")
    )
    novowel_words = n_words - vowel_words
    n_syll = vowel_groups + novowel_words
    out = df.select(
        F.col(id_col),
        n_sent.cast("long").alias("n_sentences"),
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllables"),
    )
    return out.select(
        "*",
        (
            F.lit(206835)
            - F.expr("(1015000 * n_words) DIV n_sentences DIV 1000")
            - F.expr("(84600000 * n_syllables) DIV n_words DIV 1000")
        ).cast("long").alias("flesch_milli"),
    )


def bm25_topk(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-``k`` terms by BM25 (Robertson-Sparck Jones),
    k1 = 6/5, b = 3/4, with the same engine-portability stance as
    ``tfidf_topk``: raw-frequency idf (``N/df``, no transcendental
    log) and the whole score algebraically cleared to ONE division of
    two exact BIGINT products::

        bm25 = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
             = (22 * tf * total_dl * N)
               / (df * (10*tf*total_dl + 3*total_dl + 9*dl*N))

    (avgdl = total_dl/N substituted, numerator and denominator
    multiplied through by 10*total_dl — every factor an exact
    integer, so the single IEEE division is correctly rounded and
    bit-identical across engines.) The integer products fit BIGINT
    through corpus sizes of ~1e9 tokens x 1e5 docs per partition of
    the statistics; at true web scale switch the cleared form back to
    the floating factorization and gate on a tolerance instead.

    Shape at 100 TB: identical to tfidf_topk — one (doc, term)
    shuffle with partial counts, |vocab|-row broadcast of df, 1-row
    broadcast of the corpus totals, WindowGroupLimit top-k.
    """
    return _top_terms(_bm25_scored(df, text_col, id_col), k, id_col, F.col("dl").cast("long").alias("dl"))


def _bm25_scored(
    df: DataFrame, text_col: str, id_col: str, terms: list[str] | None = None
) -> DataFrame:
    """The one BM25 step: ``_term_stats``'s tf rows joined with the
    document length ``dl``, ``df`` and the corpus totals (``n_docs``,
    ``total_dl``), scored into ``score`` by the cleared-integer BM25
    expression of ``bm25_topk``'s docstring. ``terms`` as in
    ``_term_stats``; ``dl`` and the totals always count every token."""
    tok, tf, dfreq, n_docs = _term_stats(df, text_col, id_col, terms)
    dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    totals = n_docs.crossJoin(tok.select(F.count(F.lit(1)).alias("total_dl")))
    return (
        tf.join(dl, id_col)
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "score",
            (F.lit(22) * F.col("tf") * F.col("total_dl") * F.col("n_docs")).cast(
                "double"
            )
            / (
                F.col("df")
                * (
                    F.lit(10) * F.col("tf") * F.col("total_dl")
                    + F.lit(3) * F.col("total_dl")
                    + F.lit(9) * F.col("dl") * F.col("n_docs")
                )
            ).cast("double"),
        )
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieval serving on top of the ``bm25_topk`` statistics: score
    every document against a bag-of-terms query (sum of per-term BM25
    over the matching terms) and return the global top-``k``
    (score desc, id asc — total order). Same exact-integer clearing
    as ``bm25_topk``, so scores and ranking are engine-portable.

    Scale: the term filter is an ``isin`` on the EXPLODED token
    stream — it prunes before the (doc, term) aggregation, so tf is
    only computed for query terms (|query| x |docs-with-term| rows);
    df/dl/corpus stats broadcast; the final top-k is a TakeOrdered,
    never a full sort."""
    scored = (
        _bm25_scored(df, text_col, id_col, query_terms)
        .groupBy(id_col)
        .agg(
            # double addition is not associative: fold the per-term
            # scores SEQUENTIALLY in term order (sort_array + aggregate
            # — bit-identical to a DuckDB list_reduce over the same
            # ordering), never F.sum whose partial-agg order floats
            F.sort_array(F.collect_list(F.struct("term", "score"))).alias("arr"),
            F.count(F.lit(1)).cast("long").alias("n_terms_hit"),
        )
        .select(
            id_col,
            F.round(
                F.aggregate(
                    F.transform("arr", lambda x: x.getField("score")),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                6,
            ).alias("score"),
            "n_terms_hit",
        )
    )
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "score", "n_terms_hit", F.col("rnk").cast("int").alias("rnk"))
    )


def md5_bucket(c: Column, n_buckets: int) -> Column:
    """Engine-portable feature hashing: md5 first-8-hex → BIGINT →
    mod ``n_buckets``. Same expression family as x50's hashing trick;
    DuckDB twin is ``CAST(('0x' || substring(md5(x),1,8)) AS BIGINT)
    % n`` — replayable, unlike engine-native hash()."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % n_buckets


def dsir_select(
    df: DataFrame,
    is_target: Column,
    k: int = 50,
    n_buckets: int = 256,
    scale: int = 1_000_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data selection via importance weighting (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): rank a raw candidate pool by how target-like its
    hashed n-gram feature distribution is, and keep the top-``k``.

    ``is_target`` marks the quality exemplar set (DSIR's "target");
    every other row is the raw pool being selected FROM. Features are
    md5-hashed lowercase unigrams in ``n_buckets`` buckets; each
    bucket gets an integer importance weight

        lambda_b = floor((target_count_b + 1) * scale / (raw_count_b + 1))

    (add-one smoothed frequency RATIO — the deliberately log-free
    integer surrogate for DSIR's log-likelihood ratio: per-bucket
    monotone in the same direction, and exact across engines where a
    ln()-based weight would diverge in the last ulp; the x26/x61
    stance). A raw doc's score is the length-normalized weighted sum

        score = floor(sum_b c_b(doc) * lambda_b / n_tokens)

    — all BIGINT arithmetic, so the selection is value-oracle-exact.

    Scale: the token stream crosses the wire once for the bucket
    census (map-side combined to ``n_buckets`` grouped rows) and the
    per-doc rollup; the weight table is O(n_buckets) and broadcasts;
    the final selection is a TakeOrdered top-k, never a global sort.
    At 100 TB the census and the scoring pass stream the corpus
    exactly twice with nothing driver-side — the DSIR paper's
    two-pass shape."""
    flagged = df.select(
        F.col(id_col), F.col(text_col), is_target.alias("_is_target")
    )
    tok = flagged.select(
        id_col,
        "_is_target",
        F.explode(tokens(F.lower(F.col(text_col)))).alias("_term"),
    ).select(
        id_col, "_is_target", md5_bucket(F.col("_term"), n_buckets).alias("bucket")
    )
    weights = (
        tok.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_is_target"), 1).otherwise(0)).alias("tcnt"),
            F.sum(F.when(F.col("_is_target"), 0).otherwise(1)).alias("rcnt"),
        )
        .select(
            "bucket",
            F.expr(f"(tcnt + 1) * {scale} DIV (rcnt + 1)").alias("lam"),
        )
    )
    scored = (
        tok.filter(~F.col("_is_target"))
        .join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lam").cast("long").alias("wsum"),
        )
        .select(
            id_col,
            "n_tokens",
            F.expr("wsum DIV n_tokens").alias("score"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "n_tokens", "score")
    )


def phrase_search(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional-index phrase search: build the positional n-gram
    view of the corpus, take the globally most frequent ``n``-gram
    (count desc, gram asc — deterministic), and return every document
    containing it with its match count and first match position —
    the serving primitive behind exact-phrase retrieval.

    The index build is ONE shuffle of (gram → count) partial aggs;
    the winning phrase is a 1-row TakeOrdered broadcast; the
    occurrence probe re-scans the positional stream map-only against
    the broadcast phrase (a semi-join, no second shuffle of the
    corpus). At 100 TB with a KNOWN phrase the build pass drops out
    entirely and only the probe runs — filter-to-terms before any
    join, which is what the broadcast achieves here."""
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"CASE WHEN size(split(trim(lower({text_col})), '\\\\s+')) >= {n} "
                f"THEN transform(sequence(0, size(split(trim(lower({text_col})), '\\\\s+')) - {n}), "
                f"i -> struct(i AS pos, "
                f"array_join(slice(split(trim(lower({text_col})), '\\\\s+'), i + 1, {n}), ' ') AS gram)) "
                "ELSE array() END"
            )
        ).alias("g"),
    ).select(id_col, F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    top = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .orderBy(F.col("n_total").desc(), F.col("gram").asc())
        .limit(1)
    )
    return (
        grams.join(F.broadcast(top), "gram")
        .groupBy(id_col, "gram", "n_total")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .select(
            id_col,
            F.col("gram").alias("phrase"),
            F.col("n_total").cast("long").alias("n_total"),
            "n_matches",
            "first_pos",
        )
    )


#: position radix for the packed (hash, pos) winnowing fingerprint:
#: hash (< 2^32) in the high bits, gram position (< 2^20) in the low —
#: mirrored by the x82 oracle SQL.
_WINNOW_RADIX = 1 << 20


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    w: int = 8,
    portable_hash: bool = False,
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS plagiarism-detection algorithm): hash every
    k-char gram, then from each window of ``w`` consecutive gram
    hashes select the minimum (rightmost on ties — the paper's robust
    winnowing), and keep the distinct selected (pos, hash) pairs.

    The guarantee that makes this the principled alternative to stride
    sampling: any substring match of length >= w + k - 1 shares at
    least one SELECTED fingerprint (every length-w window must select
    something, and equal text selects equal minima), while expected
    density is only 2/(w+1) — an ~4.5x fingerprint reduction at w=8
    with zero missed matches above the threshold.

    Hashes are the engine-portable md5-first-8-hex → BIGINT form (the
    repo's cross-engine convention), NOT xxhash64: the SELECTION
    depends on hash VALUES, so a DuckDB oracle must reproduce the
    exact argmin — portable hashing makes the whole selection
    value-checkable. All expressions let-bound (chars once per row,
    hashes once per row); O(n·w) comparisons per doc, map-only, no
    shuffle until the caller aggregates.

    Returns one row per SELECTED fingerprint: (id, pos, fp).
    """
    sel_empty = "array<bigint>"
    chars = F.expr(f"filter(split({text_col}, ''), c -> c <> '')")

    def one_hash(g: Column) -> Column:
        if portable_hash:
            # md5 first-8-hex -> BIGINT: replayable in DuckDB, which the
            # oracle needs because the SELECTION argmin depends on hash
            # values. ~3x the cost of xxhash64 — gate currency only.
            return F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long")
        # production path: xxhash64 masked to 32 bits so the packed
        # (h·RADIX + p) form below stays within BIGINT
        return F.pmod(F.xxhash64(g), F.lit(2**32)).cast("long")

    def hashes(t: Column) -> Column:
        return F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - k),
                lambda i: one_hash(F.array_join(F.slice(t, i + 1, k), "")),
            ),
        ).otherwise(F.expr("CAST(array() AS array<bigint>)"))

    def select_windows(hs: Column) -> Column:
        # rightmost-min per window j..j+w-1, formulated as
        # min + position-in-reversed-window: identical in DuckDB
        # (list_min/list_reverse/list_position), sidestepping DuckDB's
        # struct-accumulator fold quirk entirely
        def pick(j: Column) -> Column:
            # (pos, hash) packed into ONE bigint (h·RADIX + p): DuckDB's
            # list_distinct cannot dedup struct arrays, and the packed
            # form gives both engines identical distinct semantics.
            # RADIX = 2^20 covers documents up to ~1 Mi grams; h < 2^32
            # (masked / md5 first 8 hex), so h·2^20 + p < 2^52 < BIGINT.
            win = F.slice(hs, (j + 1).cast("int"), w)
            m = F.array_min(win)
            rpos = F.lit(w) + 1 - F.array_position(F.reverse(win), m)
            return m * _WINNOW_RADIX + (j + rpos - 1).cast("long")

        # fail fast instead of silently corrupting the pack when a
        # document exceeds the position radix (the old 1024 radix
        # wrapped pos into the hash field at ~1 Ki chars)
        ok = F.assert_true(
            F.size(hs) <= F.lit(_WINNOW_RADIX),
            F.lit(f"winnow_fingerprints: document exceeds {_WINNOW_RADIX} grams"),
        )
        return F.when(
            ok.isNull() & (F.size(hs) >= w),
            F.array_distinct(
                F.transform(F.sequence(F.lit(0), F.size(hs) - w), pick)
            ),
        ).otherwise(F.expr(f"CAST(array() AS {sel_empty})"))

    sel = F.transform(
        F.array(F.transform(F.array(chars), hashes)[0]),  # let-bind hashes
        select_windows,
    )[0]
    return df.select(
        F.col(id_col).alias("id"), F.explode(sel).alias("s")
    ).select(
        "id",
        F.expr(f"s % {_WINNOW_RADIX}").cast("long").alias("pos"),
        F.expr(f"s DIV {_WINNOW_RADIX}").cast("long").alias("fp"),
    )
