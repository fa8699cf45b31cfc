"""Similarity search over embedding columns (engine extension;
SURVEY.md §7 Phase 4 / BASELINE.json north star).

Brute-force cosine top-k is the correctness baseline (and is already
the right plan when the query set is small: broadcast queries × scan
corpus, per-partition top-k via TakeOrdered — no shuffle of the
corpus). The scale path is IVF-style pruning: cluster the corpus once,
route each query to its ``nprobe`` nearest centroids, and search only
those partitions — at 100 TB the centroid assignment is the partition
key, so a probe touches ~nprobe/k of the data.

The seven cosine top-k operators share one partition → prune → refine
tail and keep only how they generate candidates: :func:`_vectors`
projects ``(id, array<double>)`` rows, :func:`_route` sends each query
to its ``nprobe`` nearest centroids, :func:`_probe` scores the routed
cells exactly, :func:`_adc_rerank` is the PQ shortlist plus its exact
re-rank, and :func:`_topk` is the per-query top-k cut (the router, the
shortlist and the top-k all cut through :func:`_ranked`). Both
quantizers train through one sampled-Lloyd driver, :func:`_lloyd`:
``kmeans_centroids`` is the driver with no group key, ``pq_train`` the
driver grouped by subspace ``j``.

All vector math is sequential-fold array expressions (deterministic,
JVM codegen) — no Python in the hot path, with ONE deliberate
exception: above the Lloyd train-sample cap (the sampled/scale
regime, never reached by gate or bench fixtures) the Lloyd
assignment runs as an Arrow-batched numpy matmul (``_lloyd``'s BLAS
pass) — the r10 probe measured the per-pair JVM expression loop as
the whole cold-build bottleneck at k=√N, and a BLAS matmul is the
exact same flops at memory bandwidth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .io import read_parquet
from .operators.memo import df_memo_key, memoized, unpersist_checkpointed


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def _let(bound: Column, body) -> Column:
    """LET-BINDING for array expressions: evaluate ``bound`` exactly
    once per row and reference it as a lambda variable inside ``body``.

    A plain column reference inside a higher-order-function lambda is
    re-evaluated per element once the optimizer inlines the alias
    (CollapseProject / PushDownPredicate substitute with no cost
    model), which turned the normalize-then-slice pipeline here into
    ~100 k interpreted ops per row. ``transform`` evaluates its INPUT
    once, so a 1-element array + [0] pins the evaluation count no
    matter how the surrounding expression is rewritten. Same pattern
    as textops.shingles."""
    return F.transform(F.array(bound), body)[0]


def dot(a: Column, b: Column, dims: int | None = None) -> Column:
    """Sequential-fold dot product (deterministic order).

    With ``dims`` (vector length known at plan time) the fold is
    UNROLLED into a left-associated chain of multiply-adds — the same
    IEEE evaluation order bit-for-bit, but whole-stage-codegen'd
    instead of the interpreted ArrayAggregate path (higher-order
    functions never codegen; the lambda machinery costs ~20 allocs per
    call, which dominated the ANN training loops)."""
    if dims:
        out: Column = F.try_element_at(a, F.lit(1)) * F.try_element_at(b, F.lit(1))
        for i in range(2, dims + 1):
            out = out + F.try_element_at(a, F.lit(i)) * F.try_element_at(b, F.lit(i))
        return out
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column, dims: int | None = None) -> Column:
    if dims:
        x1 = F.try_element_at(a, F.lit(1))
        out: Column = x1 * x1
        for i in range(2, dims + 1):
            xi = F.try_element_at(a, F.lit(i))
            out = out + xi * xi
        return F.sqrt(out)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column, dims: int | None = None) -> Column:
    return dot(a, b, dims) / (l2_norm(a, dims) * l2_norm(b, dims))


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, id_out: str, vec_out: str, *mid
) -> DataFrame:
    """``(id_out, *mid, vec_out)`` rows: the id and the vector cast to
    ``array<double>``, under the names a search or training step uses."""
    return df.select(F.col(id_col).alias(id_out), *mid, _as_double(F.col(vec_col)).alias(vec_out))


def _ranked(df: DataFrame, n: int, col: str, *order: Column, rank=F.row_number) -> DataFrame:
    """The rows ranked ``<= n`` (as ``col``) within their query by
    ``order`` — the one per-query cut behind the router, the ADC
    shortlist and the top-k."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn(col, rank().over(w)).filter(F.col(col) <= n)


def _topk(sim: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best neighbors by ``sim``, ties to the lower
    ``neighbor_id``, with the cosine rounded to 6 dp."""
    return _ranked(sim, k, "rnk", F.desc("sim"), F.asc("neighbor_id")).select(
        "query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rnk"
    )


def _route(
    queries: DataFrame,
    cents: DataFrame,
    cell: str,
    nprobe: int,
    id_col: str,
    vec_col: str,
    dims: int | None = None,
) -> DataFrame:
    """The coarse router: ``(query_id, qv, cell)`` for each query's
    ``nprobe`` nearest centroids ``(cell, ccv)`` by cosine, ties to the
    lower cell."""
    q = _vectors(queries, id_col, vec_col, "query_id", "qv")
    sims = q.crossJoin(F.broadcast(cents)).withColumn(
        "sim_c", cosine(F.col("qv"), F.col("ccv"), dims)
    )
    return _ranked(sims, nprobe, "rc", F.desc("sim_c"), F.asc(cell)).select("query_id", "qv", cell)


def _probe(
    routed: DataFrame, cands: DataFrame, cell: str, k: int, dims: int | None = None
) -> DataFrame:
    """The fine probe: candidates ``(neighbor_id, cell, cv)`` of the
    routed cells, scored by exact cosine, self-pairs dropped, cut to
    each query's top ``k``."""
    return _topk(
        cands.join(F.broadcast(routed), cell)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv"), dims)),
        k,
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Queries are broadcast (the small side); the corpus is scanned once
    with no data-sized shuffle (a compact single-split scan gets one
    corpus-sized spread to core parallelism first — see
    :func:`_spread_candidates`; many-split scans skip it); the
    per-query top-k window shuffles only
    |queries|×|corpus-partition-topk| rows after AQE.
    """
    q = _vectors(queries, id_col, vec_col, "query_id", "qv").withColumn(
        "qn", l2_norm(F.col("qv"), dims)
    )
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv").withColumn(
        "cn", l2_norm(F.col("cv"), dims)
    )
    c = _spread_candidates(c, "neighbor_id", _corpus_count(corpus))
    return _topk(
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).withColumn(
            "sim", dot(F.col("qv"), F.col("cv"), dims) / (F.col("qn") * F.col("cn"))
        ),
        k,
    )


def sign_lsh_bucket(vec: Column, bits: int = 8, offset: int = 0) -> Column:
    """Sign-bit LSH bucket id from ``bits`` dimensions starting at
    ``offset`` — deterministic, hyperplane-free (axis-aligned) hashing.
    ``offset`` gives independent hash TABLES from disjoint dim windows
    (near vectors that flip a sign in one window still collide in
    another). Windows past the vector's length hash everything to
    bucket 0 (``try_element_at`` → NULL → bit unset): harmless for
    correctness, but an all-in-one-bucket table prunes nothing — size
    ``tables × bits`` within the embedding dimension."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(
            F.try_element_at(vec, F.lit(offset + i + 1)) >= 0, F.lit(2**i)
        ).otherwise(0)
    return out


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: search only buckets the query hashes into.

    ``tables`` independent hash tables (disjoint dimension windows)
    union their candidates — the standard LSH recall lever: a near
    neighbor that flips one sign bit in table 0 still collides in
    table 1; exact duplicates collide in EVERY table. Work scales as
    ``tables × |corpus| / 2^bits`` per query; recall rises as
    ``1-(1-p)^tables``. The 100 TB variant writes the corpus bucketed
    (``bucketBy(2^bits, 'bkt_0')``) so the primary probe is a
    single-bucket scan.
    """
    def bucketed(df: DataFrame, out_id: str) -> DataFrame:
        v = _as_double(F.col(vec_col))
        tb = F.array(*[sign_lsh_bucket(v, bits, t * bits) for t in range(tables)])
        return df.select(
            F.col(id_col).alias(out_id),
            v.alias(f"{out_id}_v"),
            F.posexplode(tb).alias("tbl", "bkt"),
        )

    q = bucketed(queries, "query_id")
    c = bucketed(corpus, "neighbor_id")
    n = _corpus_count(corpus)
    c = _spread_candidates(c, "neighbor_id", n * tables if n is not None else None)
    cand = (
        c.join(F.broadcast(q), ["tbl", "bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("query_id_v"), F.col("neighbor_id_v")))
        # a pair colliding in several tables scores identically — keep one
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("sim").alias("sim"))
    )
    return _topk(cand, k)


def label_centroids(corpus: DataFrame, label_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Element-wise mean vector per label — the IVF coarse-quantizer
    building block (posexplode → per-(label, dim) mean).

    The mean is :func:`_micro_mean`'s exact one, bit-identical across
    engines and partitionings (avg-of-doubles merges partials in
    partition order; its last ulps flipped x19's driver hash in r5).
    """
    v = _as_double(F.col(vec_col))
    ex = corpus.select(F.col(label_col).alias("label"), F.posexplode(v).alias("dim0", "x"))
    return _micro_mean(ex, ["label", (F.col("dim0") + 1).alias("dim")], "centroid")


def _micro_mean(ex: DataFrame, keys: list, out: str) -> DataFrame:
    """Per-``keys`` mean of column ``x``, exact: each component is
    quantized to integer micro-units (``round(x·1e6)``, engine-exact on
    identical doubles), summed as BIGINT and floor-divided by the
    count, so no float-sum partial order can move a bit. ``+ 0.0``
    canonicalizes -0.0. Returns the key columns and ``out``."""
    return (
        ex.groupBy(*keys)
        .agg(
            F.sum(F.expr("CAST(round(x * 1000000) AS BIGINT)")).alias("sm"),
            F.count(F.lit(1)).alias("cn"),
        )
        .withColumn(out, F.floor(F.col("sm").cast("double") / F.col("cn")) / 1000000.0 + F.lit(0.0))
        .drop("sm", "cn")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style ANN using the label column as the coarse partition
    (in production the assignment comes from k-means; the fixture's
    ``label`` plays that role): route each query to its ``nprobe``
    closest centroids, search only those partitions."""
    cents = (
        label_centroids(corpus, label_col, vec_col)
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "centroid"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p["centroid"]).alias("ccv"))
    )
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv", F.col(label_col).alias("label"))
    c = _spread_candidates(c, "neighbor_id", _corpus_count(corpus))
    return _probe(_route(queries, cents, "label", nprobe, id_col, vec_col), c, "label", k)


#: Floor for the auto-selected coarse-quantizer size (the pre-r9 fixed
#: default). ``kclusters=None`` in the IVF / IVF-PQ builders resolves to
#: ``max(floor, ceil(sqrt(n_vectors)))`` — the classical IVF balance
#: point (≈√N cells of ≈√N vectors each) and the lever the r8 probe
#: MEASURED: warm train-once query time fell 31.0→4.7 s (6.6×) moving
#: kclusters 8→32 on a 10× corpus at self-recall 415/415, because the
#: probed fraction is nprobe/kclusters. A fixed 8 stops pruning as N
#: grows; √N keeps per-probe work Θ(√N · nprobe).
DEFAULT_IVF_FLOOR = 8


def _corpus_count(corpus: DataFrame) -> int | None:
    """Memoized ``count(corpus)`` (a columnar-metadata job, no row
    scan), or None when the corpus has no memoizable file signature.
    Counts live in their own memo site, so a count never evicts a
    trained model (ADVICE r9)."""
    key = df_memo_key(corpus, ("nvec",))
    return None if key is None else memoized("count", key, corpus.count)


#: Minimum candidate rows per task before a pre-scoring spread is worth
#: a shuffle. Every oracle-gated fixture (500–2000 vectors) stays under
#: one task's worth, so gate and bench plans are byte-identical with or
#: without the helper — the spread exists for the compact-file × large-
#: fanout regime the r11 50× probe caught (see _spread_candidates).
_SPREAD_ROWS_PER_TASK = 2048


def _spread_candidates(df: DataFrame, key: str, n_rows: int | None) -> DataFrame:
    """Hash-repartition the candidate (corpus) side of a scoring join
    up to the session's core parallelism BEFORE the broadcast-fanout
    join against the query side.

    Why: every ANN query path here is ``candidates ⋈ broadcast(queries)
    → cosine → per-query top-k``. A broadcast join preserves the
    STREAM side's partitioning, and partition counts come from scan
    BYTES (``maxPartitionBytes``) — blind to the join's fan-out. The
    r11 50× probe measured the failure: a 100k-vector corpus lands in
    ONE ~50 MB parquet split, so 26M candidate pairs × a 64-element
    interpreted HOF fold ran as ONE 16-minute task on a 32-core host.
    At real scale the scan arrives in many splits and this helper is a
    no-op (``getNumPartitions() >= target``); it exists for the
    compact-scan × large-fanout middle, where one cheap corpus-sized
    shuffle (hash on the unique id — uniform, no round-robin local
    sort) buys full-width scoring parallelism.

    Value-neutral by construction: every consumer computes per-row
    expressions and per-key aggregates/windows with explicit id
    tie-breaks. The one partition-ORDER-sensitive consumer (PQ's ADC
    ``sum`` of double partials) only sees a changed plan above the
    per-task floor, which no oracle-gated fixture reaches.

    ``n_rows=None`` (no memoizable file signature — test-local
    corpora) skips: such corpora are gate-sized and a shuffle would be
    pure overhead.
    """
    if n_rows is None or n_rows <= _SPREAD_ROWS_PER_TASK:
        return df
    target = min(
        df.sparkSession.sparkContext.defaultParallelism,
        -(-n_rows // _SPREAD_ROWS_PER_TASK),
    )
    if target <= 1 or df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key))


def auto_kclusters(corpus: DataFrame, floor: int = DEFAULT_IVF_FLOOR) -> int:
    """``max(floor, ceil(sqrt(count(corpus))))`` — the count is
    memoized on the corpus's file signature (:func:`_corpus_count`),
    so it runs once per corpus, not once per query call."""
    import math

    n = _corpus_count(corpus)
    if n is None:
        n = corpus.count()
    return max(floor, math.isqrt(max(n - 1, 0)) + 1 if n > 0 else floor)


#: Sampled-Lloyd training bound (VERDICT r9 #3): Lloyd's assignment is
#: O(rows · k) per round, so with the auto-√N kclusters default the
#: COLD build grew O(N^1.5) per round (r9 probe: 95.9 s at 10×/k=142
#: vs 23.6 s at k=8). Training on a deterministic md5-threshold sample
#: of ≈max(FLOOR, PER_CLUSTER·k) vectors bounds every round at
#: O(k²·PER_CLUSTER) while the FINAL assignment stays exact over the
#: full corpus — one O(N·k) pass, the irreducible cost of an exact
#: IVF partition. 32 vectors/cluster is the classical training-set
#: rule of thumb (faiss documents 30–256×k); the 4096 floor keeps
#: every corpus at or below bench scale (500–2000 vectors) on the
#: bit-identical full-corpus path, so gate values cannot move.
TRAIN_SAMPLE_FLOOR = 4096
TRAIN_SAMPLE_PER_CLUSTER = 32

#: Ceiling on the centroid/codebook matrix the Arrow/BLAS assignment
#: serializes into each task closure (ADVICE r10): groups·k·D float64
#: bytes. 64 MiB ≈ k=128k clusters at D=64 — far past any auto-√N
#: gate/bench configuration. Above it the exact pass falls back to the
#: JVM broadcast-join argmax, whose small side is torrent-broadcast and
#: memory-managed by the executor rather than pickled per task.
_BLAS_CLOSURE_CAP_BYTES = 64 << 20


def _lloyd(
    corpus: DataFrame,
    key: tuple,
    rows,
    init: Column,
    pairs,
    pick,
    *,
    k: int,
    iters: int,
    id_col: str,
    train_sample_cap: int | None,
    keys: tuple[str, ...] = (),
    code: str = "cid",
    per_vec: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """The one deterministic sampled-Lloyd trainer, grouped by
    ``keys``: ``kmeans_centroids`` calls it with no key, ``pq_train``
    with the subspace ``j``.

    The caller gives its training rows ``rows() → (_id, *keys, cv)``
    (``per_vec`` rows per corpus vector, built only on a memo miss),
    its ``init`` code expression, ``k`` codes per group, and its two
    assignment steps: ``pairs(frame, cents)`` — frame × centroids with
    a ``sim`` score, whose argmax the driver takes as a hash-agg struct
    max (highest sim, then LOWEST code: ``(sim, -code)`` lexicographic
    max ≡ a row_number over (desc sim, asc code), minus the per-round
    sort exchange) — and ``pick(centroid_rows)``, its Arrow/BLAS twin:
    a numpy ``pdf → codes`` function over the code-sorted centroid rows.

    The driver owns the rest. The rows are spread to core parallelism
    (r11, :func:`_spread_candidates`: the pinned partitioning is the
    task count of every round AND of the map-only Arrow pass) and
    pinned once, so no round re-derives the scan lineage. When the
    corpus exceeds the train cap (default ``max(TRAIN_SAMPLE_FLOOR,
    TRAIN_SAMPLE_PER_CLUSTER · k)``; ``train_sample_cap=0``/negative
    opts out), the rounds run on a deterministic md5-threshold sample
    of whole vectors (``sampling.rate_threshold_hex`` — membership is
    a pure function of the id, so every group sees the same sampled
    ids on any engine at any partitioning), and ONE exact assignment
    pass over the full corpus follows: a vector identical to a trained
    one lands in the same cell, sampled or not. Only that regime probes
    for fixed-width vectors and, under ``_BLAS_CLOSURE_CAP_BYTES``,
    assigns with ``pick`` — preserving the lowest-code tie-break,
    identical-vector⇒identical-code and partition invariance, while
    allowing ulp-level summation-order drift vs the JVM fold. Below
    the cap (every gate/bench fixture) the path is the bit-identical
    full-corpus JVM loop. Init is the caller's ``init``; each round's
    centroids are exact integer micro-unit means
    (:func:`_micro_mean`), ``localCheckpoint``-pinned to cut the
    iterated lineage. The final assignment is pinned eagerly; then the
    row pin, the sample pin and every superseded round's centroids are
    freed.

    Returns ``(assignments (id_col, *keys, code), centroids (*keys,
    code, ccv))`` — centroids ``None`` at ``iters=0`` — memoized at the
    ``"train"`` site under ``key + (cap,)``.
    """
    if train_sample_cap is None:
        cap = max(TRAIN_SAMPLE_FLOOR, TRAIN_SAMPLE_PER_CLUSTER * k)
    else:
        cap = train_sample_cap if train_sample_cap > 0 else None

    def argmax(frame: DataFrame, cents: DataFrame) -> DataFrame:
        return (
            pairs(frame, cents)
            .groupBy("_id", *keys)
            .agg(F.max(F.struct("sim", (-F.col(code)).alias("_nc"), code, "cv")).alias("b"))
            .select("_id", *keys, F.col("b.cv").alias("cv"), F.col(f"b.{code}").alias(code))
        )

    def blas(frame: DataFrame, cents: DataFrame) -> DataFrame:
        from pyspark.sql.types import IntegerType, StructField, StructType

        codes = pick(sorted(cents.collect(), key=lambda r: tuple(r[c] for c in (*keys, code))))
        schema = StructType([*frame.schema.fields, StructField(code, IntegerType(), False)])

        def gen(batches):
            for pdf in batches:
                if len(pdf):
                    yield pdf.assign(**{code: codes(pdf)})

        return frame.mapInPandas(gen, schema)

    def build() -> tuple[DataFrame, DataFrame]:
        n_corpus = _corpus_count(corpus)
        v = _spread_candidates(
            rows(), "_id", n_corpus * per_vec if n_corpus is not None else None
        ).localCheckpoint()
        train, step = v, argmax
        if cap is not None:
            n = n_corpus if n_corpus is not None else v.count() // per_vec  # no rescan
            if n > cap:
                from .operators.sampling import rate_threshold_hex

                # 8 hex digits (ADVICE r10 medium): at 4 digits cap/n
                # underflows to the keep-NOTHING threshold once
                # n > cap·2¹⁶/0.5. Eager pin: each round re-reads the
                # sample instead of re-running the md5 filter over all
                # pinned rows, and the emptiness guard is a free count.
                thresh = rate_threshold_hex(cap / n, digits=8)
                train = v.filter(
                    F.substring(F.md5(F.col("_id").cast("string")), 1, 8) < thresh
                ).localCheckpoint(eager=True)
                if train.count() == 0:
                    # an empty sample (a pathological id set) would train
                    # nothing: fall back to the full-corpus loop
                    unpersist_checkpointed(train)
                    train = v
        if train is not v:
            # Fixed-width detection gates the BLAS pass (np.stack needs a
            # rectangular matrix). NOT used to unroll the dot: the r10
            # probe measured the 64-term unrolled chain in this
            # crossJoin+agg context at 93.8 s vs the HOF fold's 60.6 s.
            lo, hi = v.agg(F.min(F.size("cv")), F.max(F.size("cv"))).first()
            if lo is not None and lo == hi and 0 < per_vec * k * lo * 8 <= _BLAS_CLOSURE_CAP_BYTES:
                step = blas
        assigned = train.withColumn(code, init)
        rounds = []
        for _ in range(iters):
            cents = (
                _micro_mean(
                    assigned.select(*keys, code, F.posexplode("cv").alias("dim0", "x")),
                    [*keys, code, "dim0"],
                    "m",
                )
                .groupBy(*keys, code)
                .agg(F.array_sort(F.collect_list(F.struct("dim0", "m"))).alias("p"))
                .select(*keys, code, F.transform("p", lambda s: s["m"]).alias("ccv"))
                .localCheckpoint()
            )
            rounds.append(cents)
            assigned = step(train, cents)
        if train is not v:  # the one exact pass over the full corpus
            assigned = step(v, rounds[-1]) if rounds else v.withColumn(code, init)
        # EAGER: cached consumers re-join the assignment, and a lazy one
        # would replay the iterated lineage and keep depending on the
        # training pins (the collapse-cache hazard class); materialized,
        # those pins are dead weight and are freed.
        out = assigned.select(F.col("_id").alias(id_col), *keys, code).localCheckpoint(eager=True)
        unpersist_checkpointed([v, *rounds[:-1], *([train] if train is not v else [])])
        return out, rounds[-1] if rounds else None

    return memoized("train", df_memo_key(corpus, (*key, cap)), build)


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_sample_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic distributed Lloyd k-means — the real IVF coarse
    quantizer (``ivf_topk``'s label column is the fixture stand-in):
    :func:`_lloyd` with no group key.

    Init is the deterministic partition ``vec_id % k``; each round is
    (a) centroid update — posexplode dims, per-(cid, dim) exact integer
    micro-unit mean, so results are partition-order independent — and
    (b) assignment — corpus × broadcast(centroids), argmax cosine with a
    cid tie-break. 2 shuffles/round over (corpus × dims) and
    (corpus × k) rows.

    Above ``train_sample_cap`` (default ``max(TRAIN_SAMPLE_FLOOR,
    TRAIN_SAMPLE_PER_CLUSTER · k)``) the rounds train on a
    deterministic md5-threshold sample and one exact full-corpus
    assignment pass follows, so the cold build is O(N·k + cap·k·iters)
    instead of O(N·k·iters); fixed-width corpora run those passes as an
    Arrow-batched numpy matmul (the r10 probe measured the per-pair JVM
    expression loop as ~90 % of the 10×/auto-k cold build). At or below
    the cap (every gate/bench fixture) the path is the bit-identical
    full-corpus loop; ``train_sample_cap=0``/negative opts out.

    Returns ``(assignments (id, cid), centroids (cid, ccv))``.
    """

    def pairs(frame: DataFrame, cents: DataFrame) -> DataFrame:
        # Norms precomputed ONCE per side (r10): the same deterministic
        # doubles cosine() recomputed per PAIR, so pair work drops to the
        # dot. _vn sits in a Project BELOW the broadcast join (Projects
        # never collapse across a Join): once per corpus row.
        cc = F.broadcast(cents.withColumn("_ccn", l2_norm(F.col("ccv"), dims)))
        return (
            frame.withColumn("_vn", l2_norm(F.col("cv"), dims))
            .crossJoin(cc)
            .withColumn("sim", dot(F.col("cv"), F.col("ccv"), dims) / (F.col("_vn") * F.col("_ccn")))
        )

    def pick(crows):
        """Exact argmax-cosine per Arrow batch against the compact k×D
        centroid matrix (ADVICE r10: numpy, not list-of-lists floats).
        Ties break to the LOWEST cid: rows are cid-sorted and np.argmax
        returns the first maximum. Zero-norm rows yield NaN sims BY
        DESIGN, matching the JVM path's 0/0 → NaN: a zero-norm VECTOR
        has all-NaN sims, np.argmax takes the first index (lowest cid)
        and Spark's struct max sees k equal NaNs and takes max(-cid);
        a zero-norm CENTROID poisons one column, np.argmax returns the
        first NaN it scans and Spark orders NaN above every double with
        the same -cid tie-break."""
        import numpy as np

        cids = np.asarray([int(r["cid"]) for r in crows], dtype="int32")
        cmat = np.asarray([r["ccv"] for r in crows], dtype="float64")
        cn = np.sqrt((cmat * cmat).sum(axis=1))

        def codes(pdf):
            V = np.asarray(pdf["cv"].tolist(), dtype="float64")
            vn = np.sqrt((V * V).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                return cids[((V @ cmat.T) / (vn[:, None] * cn[None, :])).argmax(axis=1)]

        return codes

    return _lloyd(
        corpus,
        ("kmeans", k, iters, id_col, vec_col, dims),
        lambda: _vectors(corpus, id_col, vec_col, "_id", "cv"),
        (F.col("_id") % k).cast("int"),
        pairs,
        pick,
        k=k,
        iters=iters,
        id_col=id_col,
        train_sample_cap=train_sample_cap,
    )


def _coarse(corpus: DataFrame, kclusters: int | None, *args) -> tuple[DataFrame, DataFrame]:
    """:func:`kmeans_centroids` (``args`` after its ``k``) at
    ``kclusters``, or at :func:`auto_kclusters` when it is None."""
    if kclusters is None:
        kclusters = auto_kclusters(corpus)
    return kmeans_centroids(corpus, kclusters, *args)


def ivf_topk_kmeans(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    kclusters: int | None = None,
    nprobe: int = 2,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_sample_cap: int | None = None,
) -> DataFrame:
    """IVF ANN over learned k-means partitions: cluster the corpus
    once, route each query to its ``nprobe`` nearest centroids, search
    only those partitions (~nprobe/kclusters of the data). At 100 TB
    the assignment happens at ingest and ``cid`` is the table's
    partition column, so a probe is partition-pruned I/O, not compute.
    ``kclusters=None`` (default since r9, VERDICT r8 #5) auto-selects
    ``max(8, ceil(√N))`` — see :func:`auto_kclusters`.
    """
    assigns, cents = _coarse(corpus, kclusters, iters, id_col, vec_col, dims, train_sample_cap)
    c = _vectors(corpus.join(assigns, id_col), id_col, vec_col, "neighbor_id", "cv", "cid")
    c = _spread_candidates(c, "neighbor_id", _corpus_count(corpus))
    return _probe(_route(queries, cents, "cid", nprobe, id_col, vec_col, dims), c, "cid", k, dims)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ): compress, ADC-scan, exact re-rank
# ---------------------------------------------------------------------------


def _subvectors(
    df: DataFrame,
    id_out: str,
    m: int,
    id_col: str,
    vec_col: str,
    dims: int | None = None,
) -> DataFrame:
    """(id, j, cv) rows — one normalized subvector per subspace. Dimension
    D must be divisible by m; slicing is a pure array expression.

    Both the (vector, norm) pair and the normalized array are
    let-bound (``_let``): the old form referenced the normalize
    expression inside the per-subspace slice lambda — size() + slice()
    per j re-ran the 64-division normalize whose own lambda re-ran the
    64-term norm fold PER ELEMENT: ~100 k interpreted ops per row,
    17 s just to materialize the subvector table at sf0.1 (now <1 s).
    """
    raw = _as_double(F.col(vec_col))
    nv = _let(
        F.struct(raw.alias("v"), l2_norm(raw).alias("n")),
        lambda s: F.transform(s["v"], lambda x: x / s["n"]),
    )
    subs = _let(
        nv,
        lambda t: F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.slice(
                t,
                (j * (F.size(t) / m) + 1).cast("int"),
                (F.size(t) / m).cast("int"),
            ),
        ),
    )
    return df.select(
        F.col(id_col).alias(id_out), F.posexplode(subs).alias("j", "cv")
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_sample_cap: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks and encode the corpus — the
    vector-compression half of IVF-PQ (Jégou et al., TPAMI 2011):
    :func:`_lloyd` grouped by subspace. Rows are (vec, subspace)
    subvectors, centroids group by (subspace, code), assignment is an
    argmax dot restricted to the same subspace — so adding subspaces
    adds rows, not jobs (m sequential k-means runs would be m× the
    shuffles for identical results).

    Deterministic like ``kmeans_centroids``: modulo init
    ``(vec_id + j) % ksub``, exact integer centroid means, code
    tie-breaks. Returns ``(codes (vec_id, j, code), codebooks (j, code,
    ccv))``; the codes table is the compressed corpus — m small ints
    instead of D floats (64-D float32 → 8 codes ≈ 32× smaller), which
    at 100 TB is the difference between scanning embeddings and
    scanning bytes.

    Sampled training as in ``kmeans_centroids``: above
    ``train_sample_cap`` vectors (default ``max(TRAIN_SAMPLE_FLOOR,
    TRAIN_SAMPLE_PER_CLUSTER · ksub)``) the codebook rounds train on an
    md5-threshold sample of whole vectors (every subspace sees the same
    sampled ids) and ONE exact encode pass over the full corpus
    follows, as an Arrow-batched numpy matmul per subspace for
    fixed-width subvectors. Below the cap — every gate/bench fixture —
    the path is the bit-identical full-corpus JVM loop;
    ``train_sample_cap=0`` opts out entirely.
    """
    sublen = dims // m if dims else None

    def pairs(frame: DataFrame, books: DataFrame) -> DataFrame:
        return frame.join(F.broadcast(books), "j").withColumn(
            "sim", dot(F.col("cv"), F.col("ccv"), sublen)
        )

    def pick(brows):
        """Exact per-subspace argmax-dot per Arrow batch against compact
        per-``j`` codebook matrices: the first maximum over code-sorted
        rows keeps the lowest-code tie-break. Dots only, no norm
        division, so no zero-norm NaN case arises."""
        import numpy as np

        lists: dict[int, tuple[list[int], list]] = {}
        for r in brows:
            cs, vs = lists.setdefault(int(r["j"]), ([], []))
            cs.append(int(r["code"]))
            vs.append(r["ccv"])
        mats = {
            j: (np.asarray(cs, dtype="int32"), np.asarray(vs, dtype="float64"))
            for j, (cs, vs) in lists.items()
        }

        def codes(pdf):
            out = np.empty(len(pdf), dtype="int32")
            jvals = pdf["j"].to_numpy()
            V = np.asarray(pdf["cv"].tolist(), dtype="float64")
            for j in np.unique(jvals):
                sel = jvals == j
                cs, B = mats[int(j)]
                out[sel] = cs[(V[sel] @ B.T).argmax(axis=1)]
            return out

        return codes

    return _lloyd(
        corpus,
        ("pq", m, ksub, iters, id_col, vec_col, dims),
        lambda: _subvectors(corpus, "_id", m, id_col, vec_col, dims),
        ((F.col("_id") + F.col("j")) % ksub).cast("int"),
        pairs,
        pick,
        k=ksub,
        iters=iters,
        id_col=id_col,
        train_sample_cap=train_sample_cap,
        keys=("j",),
        code="code",
        per_vec=m,
    )


def _adc_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    codes: DataFrame,
    books: DataFrame,
    scan,
    k: int,
    m: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
    dims: int | None,
) -> DataFrame:
    """PQ's search tail: ADC-score the candidate codes that
    ``scan(codes, partials)`` joins to the query partials, keep each
    query's top ``shortlist`` scores with boundary ties included, and
    re-rank those with exact cosine (see :func:`pq_topk`)."""
    # ADC partials: dot of each query subvector with every codeword, in
    # exact integer nano-units: identical codes ⇒ EXACTLY equal ADC sums
    # under any partitioning
    partials = (
        _subvectors(queries, "query_id", m, id_col, vec_col, dims)
        .join(F.broadcast(books), "j")
        .withColumn("partial", dot(F.col("cv"), F.col("ccv"), dims // m if dims else None))
        .withColumn("qpartial", F.expr("CAST(round(partial * 1e9) AS BIGINT)"))
        .select("query_id", "j", "code", "qpartial")
    )
    n = _corpus_count(corpus)
    approx = (
        scan(_spread_candidates(codes, id_col, n * m if n is not None else None), partials)
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("qpartial").alias("approx_sim"))
    )
    # rank(), score only: ADC-indistinguishable candidates tie and ALL
    # reach the exact re-rank — never truncated by id order
    short = _ranked(approx, shortlist, "rs", F.desc("approx_sim"), rank=F.rank)
    return _topk(
        short.join(F.broadcast(_vectors(queries, id_col, vec_col, "query_id", "qv")), "query_id")
        .join(_vectors(corpus, id_col, vec_col, "neighbor_id", "cv"), "neighbor_id")
        .withColumn("sim", cosine(F.col("qv"), F.col("cv"), dims)),
        k,
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    shortlist: int = 50,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_sample_cap: int | None = None,
) -> DataFrame:
    """PQ ANN with asymmetric distance computation + exact re-rank.

    ADC: each query precomputes dot(query_subvec, centroid) for every
    (subspace, code) — an nq×m×ksub partials table, broadcast — then a
    corpus vector's approximate cosine is the SUM of m table lookups
    over its codes. The corpus side touches only the codes table
    (never the vectors), is never shuffled into the join (broadcast
    hash), and the only exchange is the (query, vec) partial-sum
    aggregate. The top-``shortlist`` candidates per query are then
    re-ranked with EXACT cosine against the full vectors — the
    standard IVF-PQ refinement step that turns quantization error into
    a recall knob instead of a result error.

    **ADC ties are included at the shortlist boundary** (r11 — found
    by the 100× probe): vectors with identical codes have identical
    ADC scores, ADC cannot rank inside such a class, and a
    ``row_number`` cut used to truncate it by id order — at 100×
    (100-member near-dup families, every member code-identical to the
    planted query twin) half the twins fell out of a 50-deep shortlist
    and self-recall broke (1285/2063). The cut is now ``rank()`` over
    the score alone, so everything ADC cannot distinguish from the
    boundary candidate goes to the exact re-rank, which CAN rank it —
    the planted-dup contract holds at ANY code-collision class size,
    paying only |boundary tie class| extra exact cosines. To make
    "identical codes ⇒ identical score" exact rather than
    ulp-accidental, partials are quantized to integer NANO-UNITS
    (``round(partial·1e9)`` BIGINT — the repo's exact-integer
    aggregation discipline): BIGINT sums are associative, so the tie
    class is exact under any partitioning/order, while 1e-9 score
    resolution is far inside quantization error for a SHORTLISTING
    signal (final values come from the exact re-rank either way).
    """
    codes, books = pq_train(
        corpus, m, ksub, iters, id_col, vec_col, dims, train_sample_cap
    )
    return _adc_rerank(
        queries,
        corpus,
        codes,
        books,
        lambda adc, partials: adc.join(F.broadcast(partials), ["j", "code"]).filter(
            F.col(id_col) != F.col("query_id")
        ),
        k,
        m,
        shortlist,
        id_col,
        vec_col,
        dims,
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    kclusters: int | None = None,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    shortlist: int = 50,
    coarse_iters: int = 2,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
    train_sample_cap: int | None = None,
) -> DataFrame:
    """Combined IVF-PQ — the full Jégou et al. architecture: a coarse
    k-means quantizer partitions the corpus (``kmeans_centroids``), PQ
    codes compress it (``pq_train``), and a query (a) routes to its
    ``nprobe`` nearest coarse partitions, (b) ADC-scores ONLY the codes
    inside those partitions, (c) exact-re-ranks the shortlist.

    Versus PQ alone the ADC scan shrinks to ~nprobe/kclusters of the
    codes; versus IVF alone the probed partitions are read as m-byte
    codes instead of D-float vectors. At 100 TB: ``cid`` is the ingest
    partition column, codes are a ~32× smaller companion table, probes
    are partition-pruned I/O over compressed bytes, and the only
    full-width vector reads are the |queries|×shortlist re-rank rows.

    Determinism matches the component operators (modulo init, rounded
    means, id tie-breaks) — the planted-duplicate contract holds: an
    exact dup shares its query's coarse cell and code word, so it
    ADC-maximizes and re-ranks to rank 1 / cosine 1.0 — at ANY
    code-collision class size, because the ADC shortlist cut includes
    boundary ties over exact integer scores (see pq_topk's r11 notes).

    ``kclusters=None`` auto-selects ``max(8, ceil(√N))``
    (:func:`auto_kclusters`, r9) — the coarse grid keeps the ADC scan
    at ~nprobe·√N codes as the corpus grows instead of a fixed 1/8th.
    """
    assigns, cents = _coarse(
        corpus, kclusters, coarse_iters, id_col, vec_col, dims, train_sample_cap
    )
    codes, books = pq_train(
        corpus, m, ksub, pq_iters, id_col, vec_col, dims, train_sample_cap
    )
    routed = _route(queries, cents, "cid", nprobe, id_col, vec_col, dims)

    def scan(adc: DataFrame, partials: DataFrame) -> DataFrame:
        # codes restricted to the probed coarse cells: the broadcast
        # (query, cid) pairs prune the scan before any ADC work happens —
        # at scale this is partition pruning on the codes table
        return (
            adc.join(assigns.withColumnRenamed(id_col, "__aid"), adc[id_col] == F.col("__aid"))
            .join(F.broadcast(routed), "cid")
            .filter(F.col(id_col) != F.col("query_id"))
            .select("query_id", id_col, "j", "code")
            .join(F.broadcast(partials), ["query_id", "j", "code"])
        )

    return _adc_rerank(queries, corpus, codes, books, scan, k, m, shortlist, id_col, vec_col, dims)


def write_ivf_layout(
    corpus: DataFrame,
    root: str,
    kclusters: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    dims: int | None = None,
    train_sample_cap: int | None = None,
) -> None:
    """Materialize the IVF index as an INGEST-PARTITIONED table layout —
    the shape every in-memory IVF docstring here promises for 100 TB,
    made concrete: vectors land in ``root/vectors/cid=<n>/`` (one
    partition per coarse cell) and centroids in ``root/centroids/``.
    A probe then reads ``nprobe`` partition DIRECTORIES — partition
    pruning in the scan, visible as PartitionFilters in the plan — not
    a filter over a full scan. Assignment costs one clustered write at
    ingest; every query after that does pruned I/O.
    ``kclusters=None`` auto-selects ``max(8, ceil(√N))`` — ≈√N
    partition directories of ≈√N vectors each (:func:`auto_kclusters`,
    r9)."""
    assigns, cents = _coarse(corpus, kclusters, iters, id_col, vec_col, dims, train_sample_cap)
    (
        corpus.join(assigns, id_col)
        .repartition("cid")
        .write.mode(mode)
        .partitionBy("cid")
        .parquet(f"{root}/vectors")
    )
    cents.write.mode(mode).parquet(f"{root}/centroids")


def ivf_topk_from_layout(
    spark,
    root: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Probe a :func:`write_ivf_layout` index: route queries to their
    ``nprobe`` nearest stored centroids, then scan ONLY those ``cid=``
    partitions (the probed-cid list is collected — O(kclusters) ids,
    not data — and placed in the scan's partition filter, so the
    FileSourceScan never lists the other directories)."""
    cents = read_parquet(spark, f"{root}/centroids")
    routed = _route(queries, cents, "cid", nprobe, id_col, vec_col, dims)
    # O(|queries| × nprobe) cid ids — metadata, not data
    probed_cids = sorted({r["cid"] for r in routed.select("cid").distinct().collect()})
    vectors = read_parquet(spark, f"{root}/vectors").filter(F.col("cid").isin(probed_cids))
    return _probe(routed, _vectors(vectors, id_col, vec_col, "neighbor_id", "cv", "cid"), "cid", k)


def mmr_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[dict]:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    greedily pick the candidate maximizing
    ``λ·sim(query) − (1−λ)·max sim(already picked)`` — the diversity
    step after ANY retrieval stage here (brute/LSH/IVF/IVF-PQ), so a
    near-dup-heavy shortlist doesn't return k copies of one document.

    ``shortlist`` is (query_id, neighbor_id, cosine) — the OUTPUT of a
    top-k' retrieval (k' ~ tens). The candidate vectors are fetched
    with ONE semi-join scan of the corpus; the greedy loop then runs
    driver-side over k'·k pairs of small lists — this is by design,
    not a scale compromise: MMR is inherently sequential in k and its
    working set is the shortlist, never the corpus. Ties break on
    neighbor_id (deterministic). Returns picked rows as dicts in pick
    order: (query_id, neighbor_id, rank, relevance, mmr_score)."""
    import math

    cand = (
        shortlist.select("query_id", "neighbor_id", "cosine")
        .join(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                _as_double(F.col(vec_col)).alias("v"),
            ),
            "neighbor_id",
        )
        .collect()
    )
    by_q: dict = {}
    for r in cand:
        by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], float(r["cosine"]), [float(x) for x in r["v"]])
        )

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den if den else 0.0

    out = []
    for qid, items in sorted(by_q.items(), key=lambda kv: str(kv[0])):
        items = sorted(items, key=lambda t: (-t[1], t[0]))
        picked: list = []
        while items and len(picked) < k:
            best = None
            for nid, rel, v in items:
                div = max((cos(v, pv) for _, _, pv in picked), default=0.0)
                score = lam * rel - (1.0 - lam) * div
                if best is None or score > best[0] + 1e-12 or (
                    abs(score - best[0]) <= 1e-12 and str(nid) < str(best[1])
                ):
                    best = (score, nid, rel, v)
            picked.append((best[1], best[2], best[3]))
            out.append(
                {
                    "query_id": qid,
                    "neighbor_id": best[1],
                    "rank": len(picked),
                    "relevance": round(best[2], 6),
                    "mmr_score": round(best[0], 6),
                }
            )
            items = [t for t in items if t[0] != best[1]]
    return out


def mmr_rerank_batch(
    shortlist: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed MMR re-rank — the BATCH face of :func:`mmr_rerank`
    (VERDICT r5 #7): the serving face collects the shortlist to the
    driver, which is right for one query but a driver OOM for batch
    re-rank of millions of queries × k' candidates. Here each query's
    candidate group is re-ranked inside an ``applyInPandas`` worker:
    the shortlist joins its candidate vectors once (one corpus
    semi-join scan, exactly like the serving face), shuffles on
    query_id, and the greedy k-loop — inherently sequential in k but
    embarrassingly parallel ACROSS queries — runs per group in Arrow
    batches. Value-equivalence to the driver loop is pytest-pinned.

    Returns a DataFrame (query_id, neighbor_id, rank, relevance,
    mmr_score) — same rows as the serving face, unordered (downstream
    sorts on (query_id, rank) when order matters).
    """
    import pandas as pd
    from pyspark.sql import types as T

    cand = shortlist.select("query_id", "neighbor_id", "cosine").join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("v"),
        ),
        "neighbor_id",
    )
    qt = cand.schema["query_id"].dataType
    nt = cand.schema["neighbor_id"].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", qt, False),
            T.StructField("neighbor_id", nt, False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("relevance", T.DoubleType(), False),
            T.StructField("mmr_score", T.DoubleType(), False),
        ]
    )

    def _rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        items = sorted(
            (
                (r.neighbor_id, float(r.cosine), [float(x) for x in r.v])
                for r in pdf.itertuples()
            ),
            key=lambda t: (-t[1], t[0]),
        )
        qid = pdf["query_id"].iloc[0]

        def cos(a, b):
            num = sum(x * y for x, y in zip(a, b))
            den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
            return num / den if den else 0.0

        picked: list = []
        rows = []
        while items and len(picked) < k:
            best = None
            for nid, rel, v in items:
                div = max((cos(v, pv) for _, _, pv in picked), default=0.0)
                score = lam * rel - (1.0 - lam) * div
                if best is None or score > best[0] + 1e-12 or (
                    abs(score - best[0]) <= 1e-12 and str(nid) < str(best[1])
                ):
                    best = (score, nid, rel, v)
            picked.append((best[1], best[2], best[3]))
            rows.append(
                (qid, best[1], len(picked), round(best[2], 6), round(best[0], 6))
            )
            items = [t for t in items if t[0] != best[1]]
        return pd.DataFrame(
            rows, columns=["query_id", "neighbor_id", "rank", "relevance", "mmr_score"]
        )

    return cand.groupBy("query_id").applyInPandas(_rerank, schema)


def quantize_batches(batches):
    """x29 kernel — int8 symmetric per-vector quantization over Arrow
    batches, bit-identical to the Column-HOF form it replaces
    (``queries_ext.quantize_embeddings_array``; the three interpreted
    per-element passes — scale transform, q8 transform, mae fold —
    were the whole cost of a zero-shuffle map query).

    Bit-parity arguments (pinned by
    ``test_quantize_batches_matches_hof``):

    * ``scale`` — max of |x| then one divide by 127.0: same selection,
      same correctly-rounded ops in the same order.
    * ``q8 = round(x/scale, 0)`` — Spark's Round is HALF_UP over
      ``BigDecimal.valueOf(double)`` (the SHORTEST round-tripping
      decimal). For round-to-integer that decision equals the binary
      frac-vs-0.5 compare: if the double sits strictly on one side of
      k±0.5 its shortest repr sits on the same side (it must
      round-trip), and exact halves are representable and spelled
      "k.5" — so ``floor + (x−floor ≥ 0.5)`` (mirrored for negatives,
      away-from-zero) reproduces it exactly; the fractional parts are
      exact by Sterbenz. NO ``np.rint`` (half-even) and NO
      ``floor(x+0.5)`` (the add can round across the boundary).
    * ``mae`` — the JVM fold is a sequential left-to-right double sum;
      per-row ``np.cumsum(...)[-1]`` reproduces the same chain
      (prefix i = prefix i−1 + e_i, and 0.0+e_0 == e_0), where a
      whole-array ``np.sum`` (pairwise) would not.
    * NULL embedding → NULL scale/mae, ``q8_csv`` '' (concat_ws skips
      null args). All-zero or empty vectors are NOT supported (the JVM
      form itself NaN-poisons / raises ANSI divide-by-zero there; the
      fixture has neither) — the kernel raises a ValueError naming the
      offending ``vec_id`` up front (ADVICE r11: letting the NaN
      propagate produced garbage int8 codes and a confusing
      ArrowInvalid far from the cause at the int64 conversion).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        emb = b.column("embedding")
        n = len(emb)
        lens = pc.list_value_length(emb).to_numpy(zero_copy_only=False)
        isnull = np.asarray(pc.is_null(emb).to_numpy(zero_copy_only=False), dtype=bool)
        lens = np.where(isnull, 0, lens).astype(np.int64)
        vals = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        ends = np.cumsum(lens)
        nz = lens > 0
        rowmax = np.zeros(n, np.float64)
        if vals.size:
            absv = np.abs(vals)
            rm = np.maximum.reduceat(absv, starts[nz]) if nz.any() else absv[:0]
            rowmax[nz] = rm
        scale = rowmax / 127.0
        bad = np.flatnonzero(~isnull & (scale == 0.0))
        if bad.size:
            bad_id = b.column("vec_id")[int(bad[0])].as_py()
            raise ValueError(
                f"quantize_batches: vec_id={bad_id} has a non-null "
                "all-zero or empty embedding (scale == 0); int8 "
                "symmetric quantization is undefined there, matching "
                "the JVM form's ANSI divide-by-zero"
            )
        # srep has no zeros: non-null zero-scale rows raised above, and
        # null rows contribute no elements (lens forced to 0)
        srep = np.repeat(scale, lens)
        xs = vals / srep
        # HALF_UP round-to-integer on the exact binary value
        f = np.floor(xs)
        q = np.where(xs >= 0, f + (xs - f >= 0.5), np.ceil(xs) - (np.ceil(xs) - xs >= 0.5))
        q8 = q.astype(np.int8)
        err = np.abs(vals - q * srep)
        mae = np.full(n, np.nan)
        for i in np.flatnonzero(nz):
            mae[i] = np.cumsum(err[starts[i] : ends[i]])[-1] / lens[i]
        scale_nano = np.floor(scale * 1e9)
        mae_nano = np.floor(mae * 1e9)

        off32 = np.concatenate(([0], ends)).astype(np.int32)
        q8_list = pa.ListArray.from_arrays(
            pa.array(off32), pa.array(q8, pa.int8()).cast(pa.string())
        )
        csv = pc.binary_join(q8_list, ",")
        sn = scale_nano.astype(object)
        mn = mae_nano.astype(object)
        sn[isnull] = None
        mn[isnull] = None
        yield pa.record_batch(
            [
                b.column("vec_id").cast(pa.int64()),
                b.column("label"),  # passed through with its own dtype
                pa.array(sn.tolist(), pa.int64()),
                csv.cast(pa.string()),
                pa.array(mn.tolist(), pa.int64()),
            ],
            names=["vec_id", "label", "scale_nano", "q8_csv", "mae_nano"],
        )
