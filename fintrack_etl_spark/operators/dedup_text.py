"""Document deduplication for training-data pipelines (engine
extension; SURVEY.md §7 Phase 4): exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine.

Scale design:
* exact / fingerprint dedup → one hash-groupBy (map-side combined);
* Jaccard verification joins only on shared shingles, never all-pairs;
* MinHash+LSH makes the candidate set ~linear: signature (one scan) →
  band buckets (explode b rows/doc) → candidates only within buckets;
* everything JVM-side (xxhash64 / array exprs), no Python UDFs.

Each scoring step is written once, and every batch and store face
calls it:
* :func:`_jaccard_kept` — the exact ``inter / uni >= threshold`` filter
  and the floor-scaled basis-point ``jaccard`` (the rule the x3/x4/x33/
  x63 oracles replay): ``ngram_jaccard_pairs``, ``prefix_filter_pairs``
  and ``verify_pairs_exact_jaccard`` (so ``minhash_lsh_verified`` and
  ``dedup_against_store``);
* :func:`_band_buckets` — MinHash signature → ``(id, band, bh)``:
  ``minhash_lsh_candidates`` joins it to itself, ``signature_store``
  persists it and ``dedup_against_store`` probes that store with the
  batch's;
* :func:`_coverage` — the union-of-intervals substring coverage:
  ``substring_dedup`` (hits = grams shared by two docs) and
  ``substring_dedup_against_store`` (hits = grams in the store); the
  stream twin ``streaming.substring_dedup_stream`` folds the same sum
  with ``aggregate``, since streams run no window;
* cosine — ``similarity.dot`` and ``similarity.l2_norm``:
  ``embedding_cosine_pairs`` and ``semdedup``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import similarity
from ..textops import fingerprint, shingles, tokens
from .memo import df_memo_key, memoized


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str, normalized: bool = False) -> DataFrame:
    """Exact (or normalized-fingerprint) duplicate groups: one
    hash-groupBy; keeps the min id as the canonical representative."""
    key = fingerprint(F.col(text_col)) if normalized else F.md5(F.col(text_col))
    return (
        df.groupBy(key.alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    # x3/x4/x63/x16/x33 each shingle the same recrawl corpus per run
    # (tokenize + n-gram transform is the shared front of every dedup
    # pipeline, ~2-3 s at sf0.1): one build per corpus plan + file
    # signature in the "shingle" memo site.
    def build() -> DataFrame:
        return (
            df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
            .filter(F.size("toks") >= n)
            .select("id", shingles(F.col("toks"), n).alias("sh"))
            .localCheckpoint(eager=False)
        )

    return memoized("shingle", df_memo_key(df, (id_col, text_col, n)), build)


def stop_shingles(
    ex: DataFrame,
    max_df: int,
    frac: float | None = None,
    n_docs: DataFrame | None = None,
    df_tab: DataFrame | None = None,
) -> DataFrame:
    """Shingles whose document frequency exceeds the cap, from an
    exploded ``(id, s)`` table.

    One hash-groupBy — map-side partial aggregation absorbs the hot
    keys, so computing the df table is itself skew-safe. The output is
    SMALL by construction: at most (total shingle occurrences)/cap
    rows, so it broadcasts.

    With ``frac`` (and ``n_docs``, a 1-row ``(n_docs)`` frame), the cap
    is RELATIVE: hot iff ``df > max_df`` AND ``df > frac * n_docs``,
    with ``n_docs`` joined in as a broadcast scalar so THIS function
    builds a lazy plan — no driver action of its own. (The default
    guarded path in :func:`ngram_jaccard_pairs` DOES run an eager
    one-row profile job before calling here — see its docstring — and
    hands the profiled doc-frequency table back in as ``df_tab`` so
    the exploded corpus is aggregated once, not twice, ADVICE r9.)
    A fraction cap is replication-invariant
    (df and corpus size scale together), which is exactly what the r8
    20× probe showed an absolute cap is not. The fraction compare is
    EXACT-rational, not float (ADVICE r8): ``frac``'s IEEE value is an
    exact dyadic rational num/2^k, so ``df * 2^k > num * n_docs`` in
    DECIMAL(38,0) decides ``df/n_docs > frac`` with zero rounding —
    replicating the corpus j-fold multiplies both sides by j and the
    decision is IDENTICAL at every scale, including the former
    one-unit ceil() boundary band. (Falls back to a float compare only
    for pathological fracs whose dyadic terms overflow a long —
    sub-normal-range values no real cap uses.)
    """
    if df_tab is None:
        df_tab = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    if frac is None:
        return df_tab.filter(F.col("df") > max_df).select("s")
    if n_docs is None:
        raise ValueError("stop_shingles: frac requires n_docs (1-row scalar frame)")
    return (
        df_tab.crossJoin(F.broadcast(n_docs))
        .filter((F.col("df") > max_df) & _frac_gt(frac))
        .select("s")
    )


def _frac_gt(frac: float) -> Column:
    """``df > frac * n_docs`` as an EXACT rational compare over the
    ``df`` / ``n_docs`` columns: the float's IEEE value is an exact
    dyadic rational num/2^k, so ``df * 2^k > num * n_docs`` in
    DECIMAL(38,0) decides the fraction with zero rounding — j-fold
    corpus replication multiplies both sides by j and the decision is
    IDENTICAL at every scale, including the one-unit band a ceil() (or
    a rounded float multiply) would smear (ADVICE r8). Falls back to a
    float compare only for pathological fracs whose dyadic terms
    overflow a long — sub-normal-range values no real cap uses."""
    from fractions import Fraction

    fr = Fraction(float(frac))
    if fr.numerator < 2**62 and fr.denominator < 2**62:
        dec = "decimal(38,0)"
        return (
            F.col("df").cast(dec) * F.lit(fr.denominator).cast(dec)
            > F.lit(fr.numerator).cast(dec) * F.col("n_docs").cast(dec)
        )
    # pragma: no cover — no realistic cap has >62-bit dyadic terms
    return F.col("df").cast("double") > F.lit(float(frac)) * F.col("n_docs")


def _frac_cap_bites(df_tab: DataFrame, sh: DataFrame, max_df: int, frac: float) -> bool:
    """Dup-factor profile for the guard's join-strategy choice (r9,
    VERDICT r8 #2 alternative; precedent ``skew.choose_join_strategy``):
    does ANY shingle fall in the band (max_df, frac·n_reps] — above the
    absolute floor but under the fraction line? Exactly there the
    dup-safe cap differs from the absolute cap: such shingles are
    dup-family signal (a replicated doc's shingles land in this band),
    NOT boilerplate, and keeping them as join keys costs up to
    (frac·N)² fan-out each. One aggregation job, one collected row —
    O(1) driver data; the corpus size rides the same job as a broadcast
    scalar subplan. Takes the (lazily-checkpointed) doc-frequency
    table rather than the raw exploded corpus: this ``.first()`` is
    what materializes its blocks, and the band-empty branch then hands
    the SAME table to :func:`stop_shingles` — the corpus is exploded
    and aggregated once per call, not twice (ADVICE r9)."""
    return _guard_profile(df_tab, sh, max_df, frac)[0]


def _guard_profile(
    df_tab: DataFrame, sh: DataFrame, max_df: int, frac: float
) -> tuple[bool, bool]:
    """One-job guard profile: ``(band_occupied, any_hot)``.

    ``band_occupied`` is :func:`_frac_cap_bites`'s routing question —
    does any shingle sit in (max_df, frac·n_reps]? ``any_hot`` rides
    the SAME aggregate for free: does any shingle exceed the absolute
    cap at all? When it is False the guard's hot set is provably
    empty, so the guarded join's anti-join / per-doc hot-set
    collection / per-pair ``array_intersect`` are algebraic no-ops —
    the caller skips that whole subplan (two shuffles and the
    broadcast hot joins) and runs the plain self-join, value-identical
    by construction."""
    n_docs = sh.select(F.count(F.lit(1)).alias("n_docs"))
    row = (
        df_tab.crossJoin(F.broadcast(n_docs))
        .agg(
            F.max(
                F.when((F.col("df") > max_df) & ~_frac_gt(frac), F.col("df"))
            ).alias("band"),
            F.max(F.when(F.col("df") > max_df, F.col("df"))).alias("hot"),
        )
        .first()
    )
    return row["band"] is not None, row["hot"] is not None


#: Default fraction cap paired with any absolute ``max_df`` (r9, VERDICT
#: r8 "What's wrong" #1): a shingle is only "boilerplate" if it appears
#: in > max(max_df, 1 % of representatives). The 1 % term is what makes
#: the DEFAULT guarded path replication-invariant — the r8 20× probe
#: measured exact PPJoin parity with this value at the boundary where
#: the absolute cap alone silently dropped 15.6 % of true pairs.
DEFAULT_MAX_DF_FRAC = 0.01

#: Column-metadata key under which ``ngram_jaccard_pairs`` records the
#: branch it ran (VERDICT r10 #5 — the routed branch and the guarded
#: branch have DIFFERENT documented miss classes, so the choice must be
#: caller-visible, not buried in a driver log). Read it back with
#: ``jaccard_route``.
JACCARD_ROUTE_META = "jaccard_route"


def jaccard_route(pairs: DataFrame) -> str | None:
    """The branch a ``ngram_jaccard_pairs`` result was produced by:
    ``"routed_prefix_filter"`` (dup-heavy corpus, PPJoin prefix filter,
    complete at the threshold — includes boilerplate-only pairs),
    ``"df_guard"`` (stop-shingle guard ran; pairs whose ENTIRE overlap
    is hot shingles are dropped by contract), or ``"exact_self_join"``
    (no guard requested — every pair, no miss class). ``None`` for a
    DataFrame not produced by ``ngram_jaccard_pairs``."""
    field = next((f for f in pairs.schema.fields if f.name == "doc_a"), None)
    if field is None or not field.metadata:
        return None
    return field.metadata.get(JACCARD_ROUTE_META)


def _mark_route(pairs: DataFrame, route: str) -> DataFrame:
    # Zero-cost observability: the marker rides the doc_a column's
    # metadata (survives select/filter that keep the column; no extra
    # column, so oracle row-hashing and downstream schemas are
    # untouched) plus one INFO log line for operators reading logs.
    import logging

    logging.getLogger(__name__).info("ngram_jaccard_pairs route=%s", route)
    meta = dict(pairs.schema["doc_a"].metadata or {})
    meta[JACCARD_ROUTE_META] = route
    return pairs.withColumn("doc_a", F.col("doc_a").alias("doc_a", metadata=meta))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int | None = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs.

    shingle → explode → self-equi-join on the shingle (only docs that
    SHARE a shingle ever meet — the join key is the pruning) → per-pair
    intersection count → |A∪B| = |A|+|B|−∩.

    At 100 TB this is the *verification* stage; candidate pruning
    should come from ``minhash_lsh_candidates`` first.

    **Stop-shingle skew guard** (``max_df``): a shingle shared by d
    documents emits d(d−1)/2 join rows — one boilerplate shingle in
    every doc turns the self-join quadratic. With ``max_df`` set,
    shingles with doc-frequency > max_df are removed from the JOIN KEYS
    (anti-join against the small df>cap table), and the intersection
    count they would have contributed is restored EXACTLY afterwards:
    each doc carries the (small, broadcastable) sorted set of hot
    shingle hashes it contains, and the pair's hot-overlap is
    ``size(array_intersect(...))`` at verification time. Jaccard is
    therefore exact for every pair that shares at least one rare
    shingle. The only pairs missed are those whose ENTIRE overlap is
    stop-shingles — at threshold t that requires ≥ t/(1+t) of the
    smaller doc to be boilerplate shared with > max_df other docs.
    MEASURED boundary (r8 20× probe): that class is NOT always
    no-signal noise — on a corpus where every doc has 20 near-dup
    replicas, short template docs' shingle df crosses an absolute
    max_df=100 (base_df 6–14 × 20) and a bare absolute cap drops true
    FAMILY pairs (15 % of all pairs at t=0.6, including a doc vs its
    own replica at J=0.64). An absolute df cap is a boilerplate
    heuristic that breaks under corpus replication, so since r9 the
    DEFAULT guarded path is replication-safe by construction: passing
    ``max_df`` alone implies ``max_df_frac=DEFAULT_MAX_DF_FRAC``
    (0.01), and the pair decides a JOIN STRATEGY (precedent:
    ``skew.choose_join_strategy``). A one-aggregate df profile
    (``_frac_cap_bites``, exact-rational fraction compare so the
    decision is identical at every corpus scale) asks whether any
    shingle sits in the band (max_df, frac·N] — above the absolute
    floor yet under 1 % of representatives. NOTE the profile is an
    EAGER one-row driver job at plan-build time (ADVICE r9) — with
    ``max_df`` set this function is not lazy end-to-end; the profiled
    doc-frequency table is checkpoint-memoized and reused by the
    band-empty branch's ``stop_shingles`` pass, so the explode +
    aggregate runs once per corpus, not per decision. Empty band: the corpus is
    dup-light, fraction and absolute caps agree shingle-for-shingle,
    and the classic guarded join runs unchanged. Non-empty band: those
    shingles are dup-family signal the absolute cap would silently
    drop (the measured 15.6 %), and keeping them joinable costs up to
    (frac·N)² fan-out each — so the call routes to
    ``prefix_filter_pairs``, complete at the threshold BY THEOREM and
    measured 8× cheaper exactly there (r9 20× probe: 22.7 s vs
    189.7 s for the frac-widened guard join, identical 882 694-pair
    output where the absolute cap emitted 745 171). Pass
    ``max_df_frac=0.0`` to opt back into the absolute-only cap with no
    routing (the pre-r9 behavior — for corpora KNOWN dup-light where
    the boilerplate heuristic's miss class is acceptable), or a custom
    fraction to move the dup-vs-boilerplate line the profile uses.
    (A family that spans MORE than frac·N of the corpus is judged
    boilerplate by construction — at that density the guard's premise
    "hot = no signal" is the stated contract, not a silent boundary.)
    ROUTED-PATH CONTRACT (ADVICE r9): the two branches have DIFFERENT
    miss classes by design, so output is not a continuous function of
    the corpus at the band boundary. The dup-light branch drops pairs
    whose entire overlap is hot (the "hot = no signal" contract
    above); the routed branch is STRICTLY COMPLETE — prefix filtering
    has no miss class at all, so it also emits pairs whose whole
    overlap sits above the frac line (true boilerplate families at
    J ≥ t). That direction is a superset, never a silent drop: one
    band shingle can only ADD boilerplate-only pairs, and completeness
    at the threshold — the property dedup correctness rests on — holds
    on both branches. Callers that need the hot-overlap pairs excluded
    on every branch should post-filter on the emitted shingle sets
    rather than rely on the guard's heuristic. The branch taken is
    SELF-DESCRIBING (VERDICT r10 #5): every result carries it in the
    ``doc_a`` column's metadata (key ``JACCARD_ROUTE_META`` —
    ``routed_prefix_filter`` / ``df_guard`` / ``exact_self_join``;
    read it back with ``jaccard_route``) plus one INFO log line, so
    downstream consumers can tell which miss-class contract their
    pairs carry without re-deriving the routing decision.
    Hot-set members are xxhash64(shingle) (8 bytes each, collision
    ~2⁻⁶⁴) so the broadcast payload stays bounded.
    **Exact-set collapse** (retrofit of x63's production step,
    VERDICT r7 #3): docs with identical shingle SETS join once via one
    representative and the pair set expands back afterwards
    (``_collapsed_rep_sets`` / ``_expand_rep_pairs``) — on a dup-heavy
    corpus the self-join shrinks quadratically, and Jaccard being a
    set function makes the expansion value-exact. Shingles travel as
    xxhash64 longs from the collapse on (8-byte join keys, ~3x less
    shuffle than the raw ~25-byte strings). ``max_df`` now counts
    REPRESENTATIVE frequency, not raw-doc frequency — a perf knob, not
    a semantics change: the guard restores hot-shingle contributions
    exactly whichever shingles it marks hot (and rep-frequency is the
    better measure — a page recrawled 1000x does not make its shingles
    boilerplate).
    """
    if max_df_frac is None:
        if max_df is not None:  # dup-safe default (r9): frac rides along
            max_df_frac = DEFAULT_MAX_DF_FRAC
    elif max_df_frac <= 0:  # explicit opt-out -> absolute-only cap
        max_df_frac = None
    groups, sh = _collapsed_rep_sets(df, id_col, text_col, n)
    ex = sh.select("id", F.explode("sh").alias("s"))
    df_tab = None
    if max_df is not None and max_df_frac is not None:
        # Join-strategy choice, not a second cap: when the df profile
        # shows shingles in the (max_df, frac·N] band, the corpus is
        # dup-heavy relative to the absolute floor — keeping those
        # shingles joinable is what completeness requires, but at up to
        # (frac·N)² fan-out each. The prefix-filter join is complete at
        # the threshold BY THEOREM and measured 8× cheaper exactly
        # there (r9 20× probe: 22.7 s vs 189.7 s for the frac-guard
        # join, identical 882 694-pair output), so route to it. When
        # the band is empty the fraction cap and the absolute cap agree
        # shingle-for-shingle, and the absolute-guard join below (the
        # plan every gate fixture has always run) is the cheap path.
        # The profile's df table IS stop_shingles' df table (ADVICE
        # r9): for file-backed corpora it is lazily checkpointed into
        # the shingle memo (the .first() below materializes it in the
        # same pass), so the band-empty branch filters the stored
        # blocks instead of re-exploding and re-aggregating the
        # corpus. Non-memoizable corpora (no file signature) keep the
        # plain lazy plan — one recompute, no unowned pinned blocks.
        dkey = df_memo_key(df, (id_col, text_col, n, "dftab"))

        def df_table() -> DataFrame:
            tab = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
            return tab if dkey is None else tab.localCheckpoint(eager=False)

        df_tab = memoized("shingle", dkey, df_table)
        band_occupied, any_hot = _guard_profile(df_tab, sh, max_df, max_df_frac)
        if band_occupied:
            return _mark_route(
                prefix_filter_pairs(df, id_col, text_col, n, threshold),
                "routed_prefix_filter",
            )
        max_df_frac = None  # band empty: frac guard ≡ absolute guard
        if not any_hot:
            # The profile proved NO shingle exceeds the absolute cap:
            # the hot set is empty, so the guard machinery below
            # (anti-join, per-doc hot-set collection, per-pair
            # array_intersect) would be an algebraic no-op costing two
            # shuffles and four broadcast joins. Skip straight to the
            # plain self-join — value-identical (an empty hot set
            # drops nothing and contributes 0 to every intersection),
            # and the df_guard contract holds trivially (its miss
            # class is empty).
            max_df = None
    empty_hot = F.array().cast("array<bigint>")
    if max_df is None and max_df_frac is None:
        route = "exact_self_join" if df_tab is None else "df_guard"
        sizes = sh.select("id", F.size("sh").alias("sz"), empty_hot.alias("hot"))
        rare = ex
    else:
        route = "df_guard"
        n_reps = (
            sh.select(F.count(F.lit(1)).alias("n_docs"))
            if max_df_frac is not None
            else None
        )
        hot = stop_shingles(
            ex, max_df or 0, frac=max_df_frac, n_docs=n_reps, df_tab=df_tab
        )
        rare = ex.join(F.broadcast(hot), "s", "left_anti")
        hot_sets = (
            ex.join(F.broadcast(hot), "s", "left_semi")
            .groupBy("id")
            .agg(F.sort_array(F.collect_set("s")).alias("hot"))
        )
        sizes = (
            sh.select("id", F.size("sh").alias("sz"))
            .join(hot_sets, "id", "left")
            .withColumn("hot", F.coalesce("hot", empty_hot))
        )
    pairs = (
        rare.alias("a")
        .join(rare.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter_rare"))
    )
    sized = pairs.join(
        sizes.select(F.col("id").alias("doc_a"), F.col("sz").alias("sza"), F.col("hot").alias("hot_a")),
        "doc_a",
    ).join(
        sizes.select(F.col("id").alias("doc_b"), F.col("sz").alias("szb"), F.col("hot").alias("hot_b")),
        "doc_b",
    )
    inter = (F.col("inter_rare") + F.size(F.array_intersect("hot_a", "hot_b"))).cast("long")
    rep_pairs = _jaccard_kept(sized, inter, threshold)
    return _mark_route(_expand_rep_pairs(rep_pairs, groups), route)


def _jaccard_kept(pairs: DataFrame, inter: Column, threshold: float) -> DataFrame:
    """The one Jaccard verify step: ``(doc_a, doc_b, jaccard)`` for the
    rows of ``pairs`` (which carry the set sizes ``sza``/``szb``) whose
    intersection count ``inter`` reaches ``threshold``.

    The threshold filter is the exact ``inter / uni`` float compare
    (both engines divide the same exact ints, and a correctly-rounded
    IEEE division gives identical doubles). The emission is
    floor-scaled basis points from exact integers: round(inter/union, 4)
    lands exactly on .xxxx5 for power-of-two unions (1/32 = 0.03125...)
    where Spark's HALF_UP and DuckDB's banker-ish double rounding
    disagree — the r5 x19 class. The x3/x4/x33/x63 oracles replay this
    rule."""
    uni = F.col("sza") + F.col("szb") - inter
    return pairs.filter(inter / uni >= threshold).select(
        "doc_a", "doc_b", (F.floor((inter * 10000).cast("double") / uni) / 10000.0).alias("jaccard")
    )


def _seeded_hash(i: int):
    # closure factory: a default-arg lambda would change the lambda's
    # arity and make PySpark pass the array index as the "seed"
    return lambda x: F.xxhash64(F.lit(str(i)), x)


def minhash_signature(sh: Column, num_hashes: int = 32) -> Column:
    """MinHash signature as an array expression: for seed i, min over
    shingles of xxhash64(i ‖ shingle). One pass, no explode."""
    return F.array(
        *[F.array_min(F.transform(sh, _seeded_hash(i))) for i in range(num_hashes)]
    )


def _band_buckets(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """The one LSH banding step: each shingled ``(id, sh)`` row's
    MinHash signature split into ``bands`` bands of
    ``num_hashes/bands`` rows, each band hashed, exploded to
    ``(id, band, bh)`` — one row per doc and band."""
    rows_per_band = num_hashes // bands
    sig = sh.select("id", minhash_signature(F.col("sh"), num_hashes).alias("sig"))
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]).alias("bh"),
        )
        for b in range(bands)
    ]
    return sig.select("id", F.explode(F.array(*band_cols)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding: candidate near-dup pairs.

    ``_band_buckets`` (signature → ``bands`` hashed bands per doc) →
    docs colliding in ANY band pair up.
    Output: (doc_a, doc_b, n_bands_shared) — feed to
    ``verify_pairs_exact_jaccard`` to verify.
    """
    sh = _shingled(df, id_col, text_col, n) if shingled is None else shingled
    buckets = _band_buckets(sh, num_hashes, bands)
    return (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_bands_shared"))
    )


def verify_pairs_exact_jaccard(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair set — the second
    stage of the LSH → verify dedup pipeline.

    Each candidate row ``(doc_a, doc_b)`` is joined with both docs'
    shingle sets and scored with ``size(array_intersect)`` — work is
    O(|candidates| × doc length), never all-pairs. With a candidate
    generator whose recall covers the threshold (e.g.
    ``minhash_lsh_candidates``), the output equals
    ``ngram_jaccard_pairs`` on the same corpus.
    """
    sh = (_shingled(df, id_col, text_col, n) if shingled is None else shingled).select(
        "id", "sh", F.size("sh").alias("sz")
    )
    sized = (
        pairs.select("doc_a", "doc_b")
        .join(sh.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sh.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("szb")), "doc_b")
    )
    return _jaccard_kept(sized, F.size(F.array_intersect("sh_a", "sh_b")).cast("long"), threshold)


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    ``n``-gram with the evaluation set (the standard 13-gram collision
    rule used for pre-training data hygiene).

    Scale shape: the eval side is SMALL (benchmarks are thousands of
    docs, not billions) — its distinct shingle hashes broadcast, so the
    train side is one scan + a broadcast semi-join-style aggregation,
    no shuffle of the corpus and no pair explosion. Shingles travel as
    ``xxhash64`` (8 bytes) rather than strings.

    Output: train rows + ``eval_ngram_hits`` (distinct collided
    n-grams) + ``contaminated`` (hits ≥ ``min_hits``).
    """
    eval_sh = (
        _shingled(eval_set, id_col, text_col, n)
        .select(F.explode("sh").alias("s"))
        .select(F.xxhash64("s").alias("h"))
        .distinct()
    )
    train_sh = _shingled(train, id_col, text_col, n).select(
        "id", F.explode("sh").alias("s")
    ).select("id", F.xxhash64("s").alias("h"))
    hits = (
        train_sh.join(F.broadcast(eval_sh), "h", "left_semi")
        .groupBy("id")
        .agg(F.count_distinct("h").alias("eval_ngram_hits"))
    )
    return (
        train.join(hits, train[id_col] == hits["id"], "left")
        .drop("id")
        .withColumn("eval_ngram_hits", F.coalesce("eval_ngram_hits", F.lit(0)))
        .withColumn("contaminated", F.col("eval_ngram_hits") >= min_hits)
    )


def minhash_lsh_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """The full LSH→verify dedup pipeline with ONE shingling pass: the
    tokenize+shingle projection (``_shingled``'s lazy checkpoint in the
    ``"shingle"`` memo site, which bounds and frees it) is shared by the
    signature stage and the verification joins — at corpus scale that's
    one scan of the documents instead of two (shingling is the dominant
    map-side cost; the checkpoint holds only (id, shingle-array))."""
    sh = _shingled(df, id_col, text_col, n)
    cand = minhash_lsh_candidates(
        df, id_col, text_col, n, num_hashes, bands, shingled=sh
    )
    return verify_pairs_exact_jaccard(
        cand, df, id_col, text_col, n, threshold, shingled=sh
    )


def simhash64(toks: Column) -> Column:
    """64-bit SimHash of a token array as a pure array expression: per
    bit j, sign of Σ_tokens (±1 by bit j of xxhash64(token))."""
    def bit_vote(j: int):
        return lambda acc, t: acc + F.when(
            F.shiftright(F.xxhash64(t), j).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_sums = [F.aggregate(toks, F.lit(0), bit_vote(j)) for j in range(64)]
    out = F.lit(0).cast("long")
    for j, s in enumerate(bit_sums):
        out = out + F.when(s > 0, F.lit(1).cast("long") * (2**j if j < 63 else -(2**63))).otherwise(0)
    return out


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) via the scale formulation: explode tokens, hash
    each token ONCE, then one groupBy folding 64 bit-vote sums.

    The array-expression variant (``simhash64``) folds the token array
    64 times through non-codegen higher-order functions, re-hashing
    every token per bit — ~10× slower. Here hashing is a single
    codegen'd pass and the 64 votes ride map-side partial aggregation,
    so the shuffle carries 64 ints per doc regardless of doc length —
    the formulation that survives 100 TB.
    """
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(tokens(F.col(text_col))).alias("tok"),
    ).select("id", F.xxhash64("tok").alias("h"))
    vote = lambda j: F.sum(
        F.when(F.col("h").isNull(), 0)
        .when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1)
        .otherwise(-1)
    ).alias(f"b{j}")
    votes = hashed.groupBy("id").agg(*[vote(j) for j in range(64)])
    sh = F.lit(0).cast("long")
    for j in range(64):
        sh = sh + F.when(
            F.col(f"b{j}") > 0, F.lit(1).cast("long") * (2**j if j < 63 else -(2**63))
        ).otherwise(0)
    return votes.select("id", sh.alias("sh"))


def _rotl64(c, r: int):
    """Rotate a 64-bit value left by ``r`` — pure JVM bit expressions."""
    if r % 64 == 0:
        return c
    return F.shiftleft(c, r % 64).bitwiseOR(F.shiftrightunsigned(c, 64 - (r % 64)))


def simhash_near_pairs_from_table(
    base: DataFrame,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    n_tables: int = 4,
) -> DataFrame:
    """Multi-table permutation blocking over an ``(id, sh)`` simhash
    table (Manku/Jain/Sarma, WWW'07 §3 — the rotate-and-block scheme).

    Table t rotates every simhash left by ``t·prefix_bits`` bits and
    blocks on the (now-leading) ``prefix_bits`` — i.e. the tables block
    on each of the ``n_tables`` disjoint bit-chunks in turn. Pigeonhole
    recall guarantee: a pair at hamming ≤ ``n_tables − 1`` has at least
    one untouched chunk, hence collides in that table — recall is 1.0
    (exact, not probabilistic) for hamming < n_tables, best-effort
    between n_tables−1 and ``max_hamming``. Candidates are verified
    with ``bit_count(xor)`` and deduped across tables.

    Scale shape: the per-table join key is (t, blk) so all tables ride
    ONE shuffle; work is ~``n_tables · Σ bucket²``, linear while
    buckets stay small (prefix_bits ≥ 16 → 65k buckets/table).
    """
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.shiftrightunsigned(_rotl64(F.col("sh"), t * prefix_bits), 64 - prefix_bits).alias("blk"),
            )
            for t in range(n_tables)
        ]
    )
    blocked = base.select("id", "sh", F.explode(tables).alias("tb")).select(
        "id", "sh", F.col("tb.t").alias("t"), F.col("tb.blk").alias("blk")
    )
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()  # a pair may collide in several tables
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    n_tables: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs over text: ``simhash_table`` then
    multi-table permutation blocking (see
    ``simhash_near_pairs_from_table`` for the recall contract)."""
    return simhash_near_pairs_from_table(
        simhash_table(df, id_col, text_col),
        max_hamming=max_hamming,
        prefix_bits=prefix_bits,
        n_tables=n_tables,
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_bits: int = 8,
) -> DataFrame:
    """Embedding near-dup pairs: sign-bit LSH block (first
    ``block_bits`` dims) then exact cosine within blocks — the
    embedding-space analog of fingerprint-then-verify.

    r11 (guide §3.4 avoid self-join recompute): the block self-join is
    HINTED to sort-merge. Under the default broadcast plan the two
    join branches are separate subtrees (a BroadcastExchange never
    reuses the probe side's pipeline), so the interpreted norm fold
    and the sign-block concat ran TWICE per vector; with a shuffle
    join both sides are the identical hash exchange on ``blk`` and AQE
    stage reuse computes the base ONCE (`ReusedExchange` — the x63
    lesson). Measured 0.27 → 0.08 s steady at sf0.1. Sort-merge is
    also the right 100 TB strategy: equally-sized self-join sides, no
    per-partition hash-build memory risk on a hot block."""
    v = F.col(vec_col).cast("array<double>")
    blk = F.concat_ws(
        "",
        *[F.when(F.element_at(v, i + 1) >= 0, "1").otherwise("0") for i in range(block_bits)],
    )
    base = df.select(
        F.col(id_col).alias("id"), v.alias("v"), similarity.l2_norm(v).alias("nrm"), blk.alias("blk")
    ).hint("merge")
    cos = similarity.dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        base.alias("a")
        .join(base.alias("b"), (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.round(cos, 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def semdedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    scoped to embedding clusters. Within each cluster, a row is DROPPED
    when an earlier row (lower id — deterministic keep-first) has
    cosine ≥ threshold with it; cluster boundaries cap the pairwise
    work, which is the paper's whole point — per-cluster O(n²) instead
    of corpus O(N²).

    Returns one row per input row: (id, cluster, is_kept,
    nearest_earlier_sim) where nearest_earlier_sim is the max cosine to
    any earlier same-cluster row at/above threshold (NULL for kept
    rows with no such neighbor).

    Scale: both self-join sides hash-partition on the cluster column,
    so the quadratic is per-cluster; pick #clusters ~ sqrt(N) to bound
    it. The dot product is ``similarity.dot``'s sequential fold — same
    association as DuckDB's ``list_dot_product``, so the oracle
    compares bit-identical doubles. At 100 TB, swap the inner pair
    loop for a per-cluster BLAS matmul via applyInPandas (same
    partitioning, vectorized kernel); the join formulation here keeps
    the whole plan JVM-side and oracle-exact.
    """
    v = F.col(vec_col).cast("array<double>")
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(cluster_col).alias("cluster"),
        v.alias("v"),
        similarity.l2_norm(v).alias("nrm"),
    )
    dot = similarity.dot(F.col("a.v"), F.col("b.v"))
    cos = F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4)
    hits = (
        base.alias("a")
        .join(
            base.alias("b"),
            (F.col("a.cluster") == F.col("b.cluster")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("b.id").alias("id"), cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .groupBy("id")
        .agg(F.max("cosine").alias("nearest_earlier_sim"))
    )
    return (
        base.select("id", "cluster")
        .join(hits, "id", "left")
        .select(
            "id",
            "cluster",
            F.col("nearest_earlier_sim").isNull().alias("is_kept"),
            "nearest_earlier_sim",
        )
    )


def signature_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The persisted side of incremental corpus dedup: each document's
    LSH band buckets ``(id, band, bh)`` — at 100 TB this table is
    written once at ingest (bucketed/partitioned by ``(band, bh)``)
    and every future batch probes it instead of re-hashing the corpus.
    """
    return _band_buckets(_shingled(df, id_col, text_col, n), num_hashes, bands)


def dedup_against_store(
    batch: DataFrame,
    store_sigs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
) -> DataFrame:
    """Incremental corpus dedup: score an incoming BATCH against an
    existing corpus via its materialized signature store — the
    continuous-ingest path (a new crawl lands; only it gets hashed;
    the corpus is never rescanned for candidates).

    batch → shingle+minhash (one narrow pass over the batch only) →
    band buckets → join against ``store_sigs`` on (band, bh) — the
    candidate set is ~linear in true near-dups, and with the store
    bucketed by (band, bh) this join is shuffle-free on the store
    side — → exact-Jaccard verification against only the candidate
    corpus docs. Output: (batch_id, dup_of, jaccard) for pairs at or
    above threshold.

    ``corpus`` is needed only to fetch shingles of candidate dup
    targets for verification; at scale that is a semi-join-pruned read
    of the few matched docs, not a corpus scan.
    """
    batch_sigs = signature_store(batch, id_col, text_col, n, num_hashes, bands)
    cands = (
        batch_sigs.alias("nb")
        .join(
            store_sigs.alias("st"),
            (F.col("nb.band") == F.col("st.band")) & (F.col("nb.bh") == F.col("st.bh")),
        )
        .select(F.col("st.id").alias("doc_a"), F.col("nb.id").alias("doc_b"))
        .distinct()
    )
    both = corpus.unionByName(batch)
    return verify_pairs_exact_jaccard(
        cands, both, id_col, text_col, n=n, threshold=threshold
    ).withColumnRenamed("doc_a", "dup_of").withColumnRenamed("doc_b", "batch_id").select(
        "batch_id", "dup_of", "jaccard"
    )


def _collapsed_rep_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """EXACT-SET COLLAPSE: docs with identical shingle SETS (recrawl
    copies, boilerplate twins) are one vertex — the standard
    exact-dedup-before-near-dup production step. Jaccard is a set
    function, so every member of a group has the SAME similarity to
    everything else; the caller joins one representative per set and
    expands pairs back at the end (intra-group pairs are J = 1 by
    construction). On a dup-heavy corpus this shrinks the candidate
    join quadratically; at 100 TB the groupBy is one cheap shuffle on
    an 8-byte set hash. Shingle arrays are DISTINCT by construction
    (textops.shingles), so sort_array is set identity. Sub-n-token
    docs have EMPTY shingle arrays (shingles is total); they can never
    satisfy J >= t against anything and the old unconditional-explode
    path dropped them implicitly — filtered out BEFORE the collapse or
    every pair of short docs would surface as a bogus intra J=1 row.

    Returns ``(groups (sh, members), reps (id, sh))``. The collapse is
    threshold-independent, so every prefix_filter_pairs threshold over
    one corpus shares one build: file-backed corpora are memoized in
    the "collapse" site (checkpointed, bounded, eviction-unpersisted);
    file-less plans (test-local corpora) are returned UNcached so a
    looped caller cannot strand blocks."""
    key = df_memo_key(df, ("ppjoin-collapse", id_col, text_col, n))
    pin = key is not None
    return memoized("collapse", key, lambda: _collapse(df, id_col, text_col, n, pin))


def _collapse(
    df: DataFrame, id_col: str, text_col: str, n: int, pin: bool
) -> tuple[DataFrame, DataFrame]:
    sh_all = _shingled(df, id_col, text_col, n).select(
        "id", F.transform("sh", lambda x: F.xxhash64(x)).alias("sh")
    )
    groups = (
        sh_all.filter(F.size("sh") > 0)
        .groupBy(F.sort_array("sh").alias("sh"))
        .agg(F.sort_array(F.collect_list("id")).alias("members"))
    )
    if pin:
        # EAGER (ADVICE r7): a lazily-checkpointed collapse entry's
        # recompute depends on a "shingle" memo entry's checkpoint
        # blocks, and the two sites evict independently — evicting the
        # shingle entry would turn a later, never-materialized collapse
        # hit into a "checkpoint block not found" job failure. Eager
        # materialization truncates the lineage NOW (the blocks are
        # self-contained), at the cost of a job that the first consumer
        # was about to run anyway.
        groups = groups.localCheckpoint(eager=True)
    # ``sh`` is a trivial projection of the (checkpointed) groups —
    # deriving it lazily instead of running a SECOND eager checkpoint
    # job saves one full pass per cold corpus; every downstream scan
    # re-reads the self-contained groups blocks plus one cheap
    # element_at map, so the cross-cache lineage-safety argument for
    # eager materialization (above) is inherited, not weakened.
    sh = groups.select(F.element_at("members", 1).alias("id"), "sh")
    return groups, sh


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (the
    PPJoin/All-Pairs family — Bayardo et al. WWW'07, Xiao et al.
    WWW'08): complete, not approximate, with join keys limited to
    each document's prefix under a global rarity order.

    Under any global total order on shingles, two sets with
    ``J(A,B) >= t`` MUST share a shingle within their prefixes of
    length ``|X| - ceil(t*|X|) + 1`` (if the prefixes were disjoint,
    the overlap is confined to the suffixes, which is too small to
    reach t). Ordering by ascending document frequency puts the
    RAREST shingles in the prefix, so hot boilerplate shingles never
    become join keys — the same quadratic-blowup protection as the
    stop-shingle guard in ``ngram_jaccard_pairs``, but with ZERO
    recall loss at the stated threshold (the guard's documented miss
    — pairs whose entire overlap is boilerplate — does not exist
    here; completeness is theorem-backed, and pytest pins equality
    with the unfiltered join).

    Scale shape: the df table is |vocab| rows (one map-side-combined
    groupBy); per-doc (df, shingle) sort is a map over arrays; the
    candidate join touches only prefix occurrences (~(1-t) of each
    doc's shingles, biased to rare keys); verification joins the full
    shingle ARRAYS onto the candidate-bounded pair set and intersects
    JVM-side (`array_intersect`) — candidate count, not corpus size,
    bounds the verify stage."""
    # Shingles travel as xxhash64 LONGS from the first explode on:
    # candidate keys, df stats, rarity sort, prefixes, and the verify
    # intersect all run on 8-byte ints instead of ~25-byte strings —
    # ~3x less shuffle and an order-of-magnitude cheaper
    # array_intersect on the candidate-bounded verify stage (measured
    # 22.8 -> ~8 s cold at sf0.1). Completeness is untouched: the
    # prefix theorem holds for ANY global total order, and Jaccard on
    # hashed sets equals Jaccard on string sets absent 64-bit
    # collisions (the unfiltered-oracle gate would surface one).
    groups, sh = _collapsed_rep_sets(df, id_col, text_col, n)
    ex = sh.select("id", F.explode("sh").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    arr = (
        ex.join(dfreq, "s")
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "s"))).alias("arr"))
        .select(
            "id",
            F.size("arr").alias("sz"),
            F.transform("arr", lambda x: x.getField("s")).alias("ordered"),
        )
    )
    # Prefix lengths (keep-side ceil slack 1e-9: float rounding may
    # only LENGTHEN a prefix, never shorten it — shortening loses
    # recall). Probing prefix |X|-ceil(t|X|)+1 for every doc; the
    # PPJoin asymmetry (Xiao et al. WWW'08 §3.2) lets the SMALLER doc
    # of a pair be matched on its shorter INDEX prefix
    # |X|-ceil(2t/(1+t)|X|)+1: if J(A,B)>=t and |A|<=|B|, the overlap
    # >= t/(1+t)(|A|+|B|) >= 2t/(1+t)|A| forces a shared token inside
    # A's index prefix and B's probing prefix. Join = mid-prefix
    # (smaller side) x full-prefix (larger side) — ~40% less fan-out
    # than full x full at t=0.6.
    prefix_len = (
        F.col("sz") - F.ceil(F.col("sz") * threshold - 1e-9) + 1
    ).cast("int")
    mid_frac = 2.0 * threshold / (1.0 + threshold)
    mid_len = (F.col("sz") - F.ceil(F.col("sz") * mid_frac - 1e-9) + 1).cast("int")
    pref_full = arr.select(
        "id", "sz", F.posexplode(F.slice("ordered", 1, prefix_len)).alias("pos", "s")
    )
    pref_mid = arr.select(
        "id", "sz", F.posexplode(F.slice("ordered", 1, mid_len)).alias("pos", "s")
    )
    # Candidate pruning BEFORE the array fetch (keep-side slack 1e-9 so
    # a borderline true pair can never be dropped, only a false
    # candidate kept):
    #   length: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|);
    #   positional (tight, first-match form): both prefixes follow the
    #     SAME global order, so the shared token with minimal (pa, pb)
    #     has NO common tokens before it in either doc (an earlier
    #     common token would sit inside both prefixes and be an
    #     earlier match). Hence overlap <= 1 + min(|A|-pa-1, |B|-pb-1)
    #     at the first match, and J >= t needs overlap >=
    #     t/(1+t) * (|A|+|B|).
    # Output pairs re-orient to doc_a < doc_b by id (the size order
    # used for the asymmetric join is an internal detail).
    need = F.lit(threshold / (1.0 + threshold)) * (F.col("sza") + F.col("szb"))
    smaller_first = (F.col("a.sz") < F.col("b.sz")) | (
        (F.col("a.sz") == F.col("b.sz")) & (F.col("a.id") < F.col("b.id"))
    )
    cand = (
        pref_mid.alias("a")
        .join(pref_full.alias("b"), "s")
        .filter(smaller_first)
        .filter(F.col("a.sz") >= F.lit(threshold) * F.col("b.sz") - 1e-9)
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("doc_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("doc_b"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("a.sz"))
            .otherwise(F.col("b.sz"))
            .alias("sza"),
            F.when(F.col("a.id") < F.col("b.id"), F.col("b.sz"))
            .otherwise(F.col("a.sz"))
            .alias("szb"),
            # (pa, pb) packed into ONE long, pa in the high 32 bits —
            # order-isomorphic to the (pa, pb) struct (positions are
            # 0-based ints < 2^31), so min(packed) IS the lexicographic
            # first-match. A struct min forces SortAggregate (struct is
            # not a mutable-buffer type), which SORTED the full
            # candidate fan-out — the largest intermediate of this
            # operator — on both the partial and final sides; the long
            # min hash-aggregates map-side with zero sorts (r11,
            # guide §2.2 partial aggregation).
            (
                F.shiftleft(
                    F.when(F.col("a.id") < F.col("b.id"), F.col("a.pos"))
                    .otherwise(F.col("b.pos"))
                    .cast("long"),
                    32,
                )
                + F.when(F.col("a.id") < F.col("b.id"), F.col("b.pos")).otherwise(
                    F.col("a.pos")
                )
            ).alias("pp"),
        )
        .groupBy("doc_a", "doc_b", "sza", "szb")
        .agg(F.min("pp").alias("fm"))
        .withColumn(
            "ub",
            1
            + F.least(
                F.col("sza") - F.shiftright("fm", 32) - 1,
                F.col("szb") - F.col("fm").bitwiseAND(F.lit(4294967295)) - 1,
            ),
        )
        .filter(F.col("ub") >= need - 1e-9)
        .select("doc_a", "doc_b", "sza", "szb")
    )
    full = sh.select(F.col("id"), F.col("sh"))
    # a column, not an expression: the emission then reads this one
    # intersect instead of computing it twice more
    verified = (
        cand.join(full.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(full.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
    )
    return _expand_rep_pairs(_jaccard_kept(verified, F.col("inter"), threshold), groups)


def _expand_rep_pairs(rep_pairs: DataFrame, groups: DataFrame) -> DataFrame:
    """EXPANSION (shared by ``prefix_filter_pairs`` and
    ``ngram_jaccard_pairs``): every member of rep A's set-group has rep
    A's exact shingle set, so each rep pair fans out to
    members_a x members_b with the SAME jaccard, and each multi-member
    group contributes its intra-group pairs at J = 1 (members sorted,
    so the nested slice enumerates each unordered pair once, already
    id-ordered). ``rep_pairs`` carries (doc_a, doc_b, jaccard) at the
    representative level; ``groups`` is ``_collapsed_rep_sets``'s
    (sh, members)."""
    mem = groups.select(F.element_at("members", 1).alias("rid"), "members")
    cross = (
        rep_pairs.join(
            mem.select(F.col("rid").alias("doc_a"), F.col("members").alias("ma")),
            "doc_a",
        )
        .join(
            mem.select(F.col("rid").alias("doc_b"), F.col("members").alias("mb")),
            "doc_b",
        )
        .select(F.explode("ma").alias("ia"), "mb", "jaccard")
        .select("ia", F.explode("mb").alias("ib"), "jaccard")
        .select(
            F.least("ia", "ib").alias("doc_a"),
            F.greatest("ia", "ib").alias("doc_b"),
            "jaccard",
        )
    )
    intra = (
        groups.filter(F.size("members") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (x, i) -> "
                    "transform(slice(members, i + 2, size(members) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", F.lit(1.0).alias("jaccard"))
    )
    return cross.unionByName(intra)


def gram_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 30,
) -> DataFrame:
    """The persisted side of SUBSTRING-level incremental dedup: every
    ``gram_len``-char window of every document as (id, p, g) with g an
    xxhash64 long — at 100 TB this table is written once at ingest
    (bucketed by g) and every future batch probes it instead of
    re-scanning the corpus (the exact-substring twin of the LSH
    ``signature_store``). One let-bound split pass per doc."""
    empty = "array<struct<p:bigint,g:bigint>>"
    chars = F.expr(f"filter(split({text_col}, ''), c -> c <> '')")
    grams = similarity._let(
        chars,
        lambda t: F.when(
            F.size(t) >= gram_len,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - gram_len),
                lambda p: F.struct(
                    p.cast("long").alias("p"),
                    F.xxhash64(F.array_join(F.slice(t, p + 1, gram_len), "")).alias(
                        "g"
                    ),
                ),
            ),
        ).otherwise(F.expr(f"CAST(array() AS {empty})")),
    )
    return df.select(F.col(id_col).alias("id"), F.explode(grams).alias("pg")).select(
        "id", F.col("pg.p").alias("p"), F.col("pg.g").alias("g")
    )


def substring_dedup_against_store(
    batch: DataFrame,
    store_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 30,
) -> DataFrame:
    """Incremental EXACT-SUBSTRING dedup: profile an incoming BATCH
    against an existing corpus via its materialized ``gram_store`` —
    the continuous-ingest path (a new crawl lands; only IT is scanned
    and hashed; the corpus contributes a semi-join against its gram
    table, bucketed by g at scale so the probe is shuffle-free on the
    store side). Coverage is the same union-of-intervals window as
    ``substring_dedup``, over batch rows only.

    Returns (batch_id, n_chars, n_hit_grams, covered_chars) — grams of
    the batch doc that appear ANYWHERE in the stored corpus, and the
    batch characters covered by them (the span a cutter would drop)."""
    hits = gram_store(batch, id_col, text_col, gram_len).join(
        store_grams.select("g").distinct(), "g", "left_semi"
    )
    return _coverage(batch, hits, id_col, text_col, gram_len, "batch_id", "n_hit_grams")


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_len: int = 30,
) -> DataFrame:
    """Cross-document EXACT-SUBSTRING duplication profile (the
    character-level dedup of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — ExactSubstr): for every
    document, how many of its ``gram_len``-char windows appear
    verbatim in at least one OTHER document, and how many of its
    characters are covered by such shared windows (the span you would
    cut). Word-shingle dedup (x3/x4/x63) misses verbatim reuse that
    crosses token boundaries or lives inside long lines; this is the
    substring-level complement.

    Shape: one split-to-chars pass per doc (let-bound — the window
    extraction references only lambda variables, so the char array is
    materialized once per row no matter how the optimizer inlines it),
    windows hashed to xxhash64 longs at the source; one groupBy over
    (gram → distinct-doc count) finds shared grams; per-doc coverage
    is the classic union-of-fixed-length-intervals sum — sort hit
    positions, first hit contributes ``gram_len``, each next
    ``min(gram_len, gap)`` — a per-doc window, never a self-join.

    At 100 TB the paper's suffix-array pass is replaced by exactly
    this gram table with a STRIDE (hash every k-th window, verify
    matches by re-reading the colliding docs); stride=1 here keeps
    the DuckDB oracle bit-exact.

    Returns (id, n_chars, n_shared_grams, covered_chars).
    """
    # Two consumers (shared-gram detection + the hit join) — pin the
    # gram table once or the whole split+window+hash extraction runs
    # twice (lazy checkpoint: ~24 B/gram, 40 MB at sf0.1).
    ex = gram_store(df, id_col, text_col, gram_len).localCheckpoint(eager=False)
    shared = (
        ex.groupBy("g")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g")
    )
    return _coverage(df, ex.join(shared, "g"), id_col, text_col, gram_len, id_col, "n_shared_grams")


def _coverage(
    docs: DataFrame,
    hits: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int,
    id_out: str,
    n_out: str,
) -> DataFrame:
    """The one substring-coverage step: per document of ``docs``, the
    distinct hit grams (as ``n_out``) and the characters they cover —
    the union of the fixed-length intervals at the sorted ``(id, p, g)``
    ``hits`` positions (first hit ``gram_len``, each next
    ``min(gram_len, gap)``, a per-doc window, never a self-join) — with
    0 for documents without a hit. ``streaming.substring_dedup_stream``
    folds the same sum with ``aggregate``, since streams run no window."""
    w = Window.partitionBy("id").orderBy("p")
    cov = (
        hits.withColumn("prev", F.lag("p").over(w))
        .groupBy("id")
        .agg(
            F.count_distinct("g").alias(n_out),
            F.sum(
                F.when(F.col("prev").isNull(), gram_len).otherwise(
                    F.least(F.lit(gram_len), F.col("p") - F.col("prev"))
                )
            ).alias("covered_chars"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("id"), F.length(text_col).alias("n_chars"))
        .join(cov, "id", "left")
        .select(
            F.col("id").alias(id_out),
            F.col("n_chars").cast("long").alias("n_chars"),
            F.coalesce(n_out, F.lit(0)).cast("long").alias(n_out),
            F.coalesce("covered_chars", F.lit(0)).cast("long").alias("covered_chars"),
        )
    )
