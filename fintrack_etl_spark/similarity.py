"""Similarity search over embedding columns (engine extension;
SURVEY.md §7 Phase 4 / BASELINE.json north star).

Brute-force cosine top-k is the correctness baseline (and is already
the right plan when the query set is small: broadcast queries × scan
corpus, per-partition top-k via TakeOrdered — no shuffle of the
corpus). The scale path is IVF-style pruning: cluster the corpus once,
route each query to its ``nprobe`` nearest centroids, and search only
those partitions — at 100 TB the centroid assignment is the partition
key, so a probe touches ~nprobe/k of the data.

All vector math is sequential-fold array expressions (deterministic,
JVM codegen) — no Python in the hot path, with ONE deliberate
exception: above the Lloyd train-sample cap (the sampled/scale
regime, never reached by gate or bench fixtures) the k-means
assignment runs as an Arrow-batched numpy matmul
(``kmeans_centroids._assign_blas``) — the r10 probe measured the
per-pair JVM expression loop as the whole cold-build bottleneck at
k=√N, and a BLAS matmul is the exact same flops at memory bandwidth.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

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
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", l2_norm(F.col("qv"), dims))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", l2_norm(F.col("cv"), dims))
    c = _spread_candidates(c, "neighbor_id", _corpus_count(corpus))
    sim = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", dot(F.col("qv"), F.col("cv"), dims) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rnk")
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
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rnk")
    )


def label_centroids(corpus: DataFrame, label_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Element-wise mean vector per label — the IVF coarse-quantizer
    building block (posexplode → per-(label, dim) mean).

    Components are quantized to EXACT integer micro-units before the
    sum (``round(x·1e6)`` of identical doubles is engine-exact), so the
    mean is a floor division of exact integers — no float-sum partial-
    order dependence, bit-identical across engines and partitionings
    (avg-of-doubles merges partials in partition order; its last ulps
    flipped x19's driver hash in r5). ``+ 0.0`` canonicalizes -0.0.
    """
    v = _as_double(F.col(vec_col))
    ex = corpus.select(F.col(label_col).alias("label"), F.posexplode(v).alias("dim0", "x"))
    return (
        ex.groupBy("label", (F.col("dim0") + 1).alias("dim"))
        .agg(
            F.sum(F.expr("CAST(round(x * 1000000) AS BIGINT)")).alias("sm"),
            F.count(F.lit(1)).alias("cn"),
        )
        .select(
            "label",
            "dim",
            (
                F.floor(F.col("sm").cast("double") / F.col("cn")) / 1000000.0 + F.lit(0.0)
            ).alias("centroid"),
        )
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
        .select("label", F.transform("pairs", lambda p: p["centroid"]).alias("cv"))
    )
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    routed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("sim_c", cosine(F.col("qv"), F.col("cv")))
        .withColumn(
            "rc",
            F.row_number().over(Window.partitionBy("query_id").orderBy(F.desc("sim_c"), F.asc("label"))),
        )
        .filter(F.col("rc") <= nprobe)
        .select("query_id", "qv", "label")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("label"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    c = _spread_candidates(c, "neighbor_id", _corpus_count(corpus))
    sim = (
        c.join(F.broadcast(routed), "label")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rnk")
    )


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
#: serializes into each task closure (ADVICE r10): k·D float64 bytes.
#: 64 MiB ≈ k=128k clusters at D=64 — far past any auto-√N gate/bench
#: configuration. Above it the exact pass falls back to the JVM
#: broadcast-join argmax, whose small side is torrent-broadcast and
#: memory-managed by the executor rather than pickled per task.
_BLAS_CLOSURE_CAP_BYTES = 64 << 20


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
    quantizer (``ivf_topk``'s label column is the fixture stand-in).

    Init is the deterministic partition ``vec_id % k``; each round is
    (a) centroid update — posexplode dims, per-(cid, dim) mean rounded
    to 6 dp so results are partition-order independent — and (b)
    assignment — corpus × broadcast(centroids), argmax cosine with a
    cid tie-break. 2 shuffles/round over (corpus × dims) and
    (corpus × k) rows; centroids are ``localCheckpoint``-pinned per
    round to cut the iterated lineage (same discipline as
    ``operators/graph.py``).

    When the corpus exceeds ``train_sample_cap`` (default
    ``max(TRAIN_SAMPLE_FLOOR, TRAIN_SAMPLE_PER_CLUSTER · k)``), the
    Lloyd ROUNDS run on a deterministic md5-threshold sample of ≈cap
    vectors (``sampling.rate_threshold_hex`` — the x17 discipline:
    membership is a pure function of the id, reproducible on any
    engine at any partitioning) and one exact full-corpus assignment
    pass follows. That bounds the cold build at O(N·k + cap·k·iters)
    instead of O(N·k·iters) with every per-round shuffle
    corpus-independent; at or below the cap the code path is the
    bit-identical full-corpus loop (every gate/bench fixture).
    ``train_sample_cap=0``/negative opts out (always full-corpus).
    In the sampled regime, fixed-width corpora additionally run every
    assignment pass as an Arrow-batched numpy matmul
    (``_assign_blas`` — the r10 probe measured the per-pair JVM
    expression loop as ~90 % of the 10×/auto-k cold build; BLAS does
    the same flops at memory bandwidth), preserving the lowest-cid
    tie-break, identical-vector⇒identical-cell, and
    partition-invariance contracts while allowing ulp-level
    summation-order drift vs the JVM fold — below the cap nothing
    changes, bit for bit.

    Returns ``(assignments (id, cid), centroids (cid, ccv))``.
    """
    if train_sample_cap is None:
        cap = max(TRAIN_SAMPLE_FLOOR, TRAIN_SAMPLE_PER_CLUSTER * k)
    elif train_sample_cap <= 0:
        cap = None
    else:
        cap = train_sample_cap
    return memoized(
        "train",
        df_memo_key(corpus, ("kmeans", k, iters, id_col, vec_col, dims, cap)),
        lambda: _kmeans_build(corpus, k, iters, id_col, vec_col, dims, cap),
    )


def _kmeans_build(
    corpus: DataFrame, k: int, iters: int, id_col: str, vec_col: str,
    dims: int | None, cap: int | None,
) -> tuple[DataFrame, DataFrame]:
    """kmeans_centroids' build, unmemoized."""
    # Pin the vector table: every Lloyd round joins it, and re-deriving
    # the scan+cast lineage per round is plan-compile overhead (same
    # rationale as pq_train's sv checkpoint). Spread a compact scan to
    # core parallelism FIRST (r11, _spread_candidates): the pinned
    # blocks feed every per-round assignment join and the final exact
    # pass — including the map-only Arrow/BLAS pass, whose task count
    # IS this partitioning — and a 1-split corpus file would otherwise
    # single-thread all of it.
    n_corpus = _corpus_count(corpus)
    v = _spread_candidates(
        corpus.select(F.col(id_col).alias("_id"), _as_double(F.col(vec_col)).alias("cv")),
        "_id",
        n_corpus,
    ).localCheckpoint()
    train = v
    if cap is not None:
        n = n_corpus
        if n is None:
            n = v.count()  # over the pinned blocks — no corpus rescan
        if n > cap:
            from .operators.sampling import rate_threshold_hex

            # 8 hex digits (ADVICE r10 medium): at 4 digits cap/n
            # underflows to the keep-NOTHING threshold once
            # n > cap·2¹⁶/0.5 — training would run on an empty set and
            # the final pass would crash (BLAS) or silently assign
            # nothing (JVM). 8 digits + the ≥1-bucket clamp keep the
            # sample non-empty in expectation out to n ≈ cap·2³².
            thresh = rate_threshold_hex(cap / n, digits=8)
            train = v.filter(
                F.substring(F.md5(F.col("_id").cast("string")), 1, 8) < thresh
            ).localCheckpoint(eager=True)
            # Eager pin: each Lloyd round re-reads the sample; without
            # the cut every round re-runs the md5 filter over ALL N
            # pinned rows — O(N·iters) scans for a cap-sized input.
            # Materialized, the emptiness guard below is a free count
            # over ~cap local rows.
            if train.count() == 0:
                # Belt-and-braces (ADVICE r10): resolution loss can no
                # longer produce this, but a pathological id set could.
                # Empty training would yield empty centroids → empty
                # (or crashing) final assignment: fall back to the
                # full-corpus loop instead.
                unpersist_checkpointed(train)
                train = v
    # Fixed-width detection — the gate for the Arrow/BLAS assignment
    # below (np.stack needs a rectangular matrix). NOT used to unroll
    # the dot: the r10 probe MEASURED the 64-term unrolled chain in
    # this crossJoin+agg context at 93.8 s vs the HOF fold's 60.6 s
    # (and 166 s vs 94 s unsampled) — the giant generated method falls
    # off the JIT path, so "codegen" loses to the interpreted fold.
    width = None
    if train is not v:  # only the sampled/scale regime consults it
        wrow = v.agg(F.min(F.size("cv")), F.max(F.size("cv"))).first()
        if wrow[0] is not None and wrow[0] == wrow[1] and wrow[0] > 0:
            width = int(wrow[0])

    def _assign(frame: DataFrame, cents: DataFrame) -> DataFrame:
        # argmax as a hash-agg struct max (highest sim, then LOWEST cid
        # on exact ties — (sim, -cid) lexicographic max ≡ the old
        # row_number ordering) instead of a row_number window: map-side
        # partial aggregation, no per-round sort exchange. Norms are
        # precomputed ONCE per side (r10): the same deterministic
        # doubles cosine() recomputed per PAIR — value-identical, but
        # pair work drops to the dot alone. _vn sits in a Project
        # BELOW the broadcast join (Projects never collapse across a
        # Join), so it is evaluated once per corpus row, not per pair.
        cc = F.broadcast(cents.withColumn("_ccn", l2_norm(F.col("ccv"), dims)))
        return (
            frame.withColumn("_vn", l2_norm(F.col("cv"), dims))
            .crossJoin(cc)
            .withColumn(
                "sim",
                dot(F.col("cv"), F.col("ccv"), dims) / (F.col("_vn") * F.col("_ccn")),
            )
            .groupBy("_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("sim"),
                        (-F.col("cid")).alias("_nc"),
                        F.col("cid"),
                        F.col("cv"),
                    )
                ).alias("b")
            )
            .select("_id", F.col("b.cv").alias("cv"), F.col("b.cid").alias("cid"))
        )

    def _assign_blas(frame: DataFrame, cents: DataFrame) -> DataFrame:
        """Arrow-batched exact argmax-cosine assignment — the SCALE
        path, used only in the sampled regime (corpus above the train
        cap) on fixed-width vectors. The per-pair JVM expression loop
        is the measured bottleneck there (r10 probe: the one exact
        N×k pass was ~55 s of the 60.6 s 10×/k=142 build); one numpy
        matmul per Arrow batch against the broadcast k×D centroid
        matrix does the same flops in BLAS. Contracts preserved: ties
        break to the LOWEST cid (centroid rows sorted by cid;
        np.argmax returns the first maximum), identical vectors get
        identical cells (pure function of the pair), and the result is
        partition-invariant (no cross-row accumulation). Summation
        ORDER inside one dot differs from the JVM fold at ulp level —
        acceptable above the cap, where training is already sampled;
        below the cap every path stays the bit-exact JVM loop.

        The centroid matrix ships in the task closure as a COMPACT
        numpy array (ADVICE r10: list-of-lists Python floats are ~6×
        the bytes and pickle row-at-a-time), and the path is gated on
        ``k·D·8 ≤ _BLAS_CLOSURE_CAP_BYTES`` — above that ceiling the
        caller falls back to the JVM broadcast-join assignment, whose
        broadcast is torrent-distributed and memory-managed instead of
        being serialized into every task.

        Zero-norm rows (ADVICE r10): the division is run under
        ``np.errstate`` with divide/invalid ignored — a zero-norm
        vector or centroid yields NaN sims BY DESIGN, matching the JVM
        path's 0/0 → NaN. Tie-break parity holds in both directions:
        a zero-norm VECTOR has all-NaN sims — np.argmax returns the
        FIRST index (rows are cid-sorted → lowest cid), and Spark's
        struct-max sees k equal NaN sims and takes max(-cid) → lowest
        cid; a zero-norm CENTROID poisons one cid-sorted column —
        np.argmax returns the first NaN it scans (lowest zero-norm
        cid), and Spark orders NaN above every double with the same
        -cid tie-break. Documented, not coincidental."""
        import numpy as np
        from pyspark.sql.types import IntegerType, StructField, StructType

        crows = sorted(cents.select("cid", "ccv").collect(), key=lambda r: r["cid"])
        cid_arr = np.asarray([int(r["cid"]) for r in crows], dtype="int32")
        cmat = np.asarray([r["ccv"] for r in crows], dtype="float64")
        schema = StructType(
            [frame.schema["_id"], frame.schema["cv"], StructField("cid", IntegerType(), False)]
        )

        def gen(batches):
            import numpy as np  # re-import: runs inside the worker
            import pandas as pd

            cn = np.sqrt((cmat * cmat).sum(axis=1))
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.asarray(pdf["cv"].tolist(), dtype="float64")
                vn = np.sqrt((V * V).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (V @ cmat.T) / (vn[:, None] * cn[None, :])
                best = sims.argmax(axis=1)
                yield pd.DataFrame(
                    {"_id": pdf["_id"], "cv": pdf["cv"], "cid": cid_arr[best]}
                )

        return frame.mapInPandas(gen, schema)

    if (
        train is not v
        and width is not None
        and k * width * 8 <= _BLAS_CLOSURE_CAP_BYTES
    ):
        _assign = _assign_blas  # noqa: F811 — the sampled/scale regime

    assigned = train.withColumn("cid", (F.col("_id") % k).cast("int"))
    cents = None
    for _ in range(iters):
        # exact integer micro-unit mean (see label_centroids): Lloyd
        # stays bit-deterministic under ANY partitioning — avg-of-doubles
        # partials could flip an assignment ulp run-to-run
        cents = (
            assigned.select("cid", F.posexplode("cv").alias("dim0", "x"))
            .groupBy("cid", "dim0")
            .agg(
                F.sum(F.expr("CAST(round(x * 1000000) AS BIGINT)")).alias("sm"),
                F.count(F.lit(1)).alias("cn"),
            )
            .select(
                "cid",
                "dim0",
                (F.floor(F.col("sm").cast("double") / F.col("cn")) / 1000000.0 + F.lit(0.0)).alias("m"),
            )
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("dim0", "m"))).alias("p"))
            .select("cid", F.transform("p", lambda s: s["m"]).alias("ccv"))
            .localCheckpoint()
        )
        # per-round input is `train` (== v on the full-corpus path;
        # the md5 sample when the cap bites)
        assigned = _assign(train, cents)
    if train is not v and cents is None:  # iters=0: modulo init, full corpus
        assigned = v.withColumn("cid", (F.col("_id") % k).cast("int"))
    elif train is not v:
        # sampled training: ONE exact assignment pass over the full
        # corpus against the final centroids — same argmax expression,
        # so a vector identical to a trained one lands in the same
        # cell (the planted-dup contract is assignment-side, not
        # training-side)
        assigned = _assign(v, cents)
    # pin the final assignment EAGERLY: cached consumers re-join it
    # repeatedly, recomputation would replay the full iterated lineage,
    # and — the r8 block-hygiene point — a LAZY artifact here would
    # keep depending on the training-only vector pin below (the
    # collapse-cache hazard class), whereas once it is materialized the
    # pin is dead weight and can be freed.
    result = (
        assigned.select(F.col("_id").alias(id_col), "cid").localCheckpoint(eager=True),
        cents,
    )
    unpersist_checkpointed(v)
    if train is not v:  # free the training-sample pin too (block hygiene)
        unpersist_checkpointed(train)
    return result


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
    if kclusters is None:
        kclusters = auto_kclusters(corpus)
    assigns, cents = kmeans_centroids(
        corpus, kclusters, iters, id_col, vec_col, dims, train_sample_cap
    )
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    routed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("sim_c", cosine(F.col("qv"), F.col("ccv"), dims))
        .withColumn(
            "rc",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim_c"), F.asc("cid"))
            ),
        )
        .filter(F.col("rc") <= nprobe)
        .select("query_id", "qv", "cid")
    )
    c = corpus.join(assigns, id_col).select(
        F.col(id_col).alias("neighbor_id"), "cid", _as_double(F.col(vec_col)).alias("cv")
    )
    c = _spread_candidates(c, "neighbor_id", _corpus_count(corpus))
    sim = (
        c.join(F.broadcast(routed), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv"), dims))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rnk")
    )


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
    """(id, j, subvec) rows — one per subspace. Dimension D must be
    divisible by m; slicing is a pure array expression.

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
        F.col(id_col).alias(id_out), F.posexplode(subs).alias("j", "sv")
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
    vector-compression half of IVF-PQ (Jégou et al., TPAMI 2011),
    re-expressed as one grouped Lloyd over ALL subspaces at once:
    rows are (vec, subspace) subvectors, centroids group by
    (subspace, code), assignment is an argmax restricted to the same
    subspace — so adding subspaces adds rows, not jobs (m sequential
    k-means runs would be m× the shuffles for identical results).

    Deterministic like ``kmeans_centroids``: modulo init, rounded
    centroid means, code tie-breaks. Returns
    ``(codes (vec_id, j, code), codebooks (j, code, ccv))``; the codes
    table is the compressed corpus — m small ints instead of D floats
    (64-D float32 → 8 codes ≈ 32× smaller), which at 100 TB is the
    difference between scanning embeddings and scanning bytes.

    Sampled training (r10 — the kmeans_centroids discipline swept to
    the repo's OTHER Lloyd): above ``train_sample_cap`` vectors
    (default ``max(TRAIN_SAMPLE_FLOOR, TRAIN_SAMPLE_PER_CLUSTER ·
    ksub)``) the codebook ROUNDS train on a deterministic
    md5-threshold sample of whole vectors (every subspace sees the
    same sampled ids) and ONE exact encode pass over the full corpus
    follows; fixed-width subvectors run that encode as an
    Arrow-batched numpy matmul per subspace (``_pq_assign_blas``).
    Below the cap — every gate/bench fixture — the path is the
    bit-identical full-corpus JVM loop; ``train_sample_cap=0`` opts
    out entirely.
    """
    if train_sample_cap is None:
        cap = max(TRAIN_SAMPLE_FLOOR, TRAIN_SAMPLE_PER_CLUSTER * ksub)
    elif train_sample_cap <= 0:
        cap = None
    else:
        cap = train_sample_cap
    return memoized(
        "train",
        df_memo_key(corpus, ("pq", m, ksub, iters, id_col, vec_col, dims, cap)),
        lambda: _pq_build(corpus, m, ksub, iters, id_col, vec_col, dims, cap),
    )


def _pq_build(
    corpus: DataFrame, m: int, ksub: int, iters: int, id_col: str, vec_col: str,
    dims: int | None, cap: int | None,
) -> tuple[DataFrame, DataFrame]:
    """pq_train's build, unmemoized."""
    # Pin the subvector table once: every Lloyd round (and the final
    # encode) joins against it, and without the cut each round's plan
    # re-derives the scan + normalize + slice lineage — at gate scale
    # that's pure plan-compile overhead dominating wall time. Spread a
    # compact scan to core parallelism first (r11, _spread_candidates —
    # the same 1-split-file hazard as kmeans_centroids' v: the pinned
    # partitioning is the task count of every round AND of the map-only
    # Arrow encode pass).
    n_corpus = _corpus_count(corpus)
    sv = _spread_candidates(
        _subvectors(corpus, "_id", m, id_col, vec_col, dims),
        "_id",
        n_corpus * m if n_corpus is not None else None,
    ).localCheckpoint()
    sublen = dims // m if dims else None
    train_sv = sv
    width = None
    if cap is not None:
        n = n_corpus
        if n is None:
            n = sv.count() // m  # over the pinned blocks, no corpus rescan
        if n > cap:
            from .operators.sampling import rate_threshold_hex

            # 8 hex digits + eager sample pin + emptiness fallback —
            # the same ADVICE r10 fixes as kmeans_centroids (see the
            # comments there): no keep-nothing underflow at extreme N,
            # no per-round md5 re-filter over all N·m pinned rows, no
            # empty-codebook crash on a pathological id set.
            thresh = rate_threshold_hex(cap / n, digits=8)
            train_sv = sv.filter(
                F.substring(F.md5(F.col("_id").cast("string")), 1, 8) < thresh
            ).localCheckpoint(eager=True)
            if train_sv.count() == 0:
                unpersist_checkpointed(train_sv)
                train_sv = sv
            wrow = sv.agg(F.min(F.size("sv")), F.max(F.size("sv"))).first()
            if wrow[0] is not None and wrow[0] == wrow[1] and wrow[0] > 0:
                width = int(wrow[0])

    def _pq_assign(frame: DataFrame, books: DataFrame) -> DataFrame:
        # Same hash-agg argmax as kmeans_centroids: struct max on
        # (s, -code, ...) ≡ row_number over (desc s, asc code), minus
        # the per-round sort exchange.
        return (
            frame.join(F.broadcast(books), "j")
            .withColumn("s", dot(F.col("sv"), F.col("ccv"), sublen))
            .groupBy("_id", "j")
            .agg(
                F.max(
                    F.struct(
                        F.col("s"),
                        (-F.col("code")).alias("_nc"),
                        F.col("code"),
                        F.col("sv"),
                    )
                ).alias("b")
            )
            .select("_id", "j", F.col("b.sv").alias("sv"), F.col("b.code").alias("code"))
        )

    def _pq_assign_blas(frame: DataFrame, books: DataFrame) -> DataFrame:
        """Arrow-batched exact per-subspace argmax-dot encode — the
        scale regime's pass (see kmeans_centroids._assign_blas for the
        contract discussion: first-max argmax over code-sorted rows
        keeps the lowest-code tie-break, identical subvectors encode
        identically, no cross-row accumulation so the result is
        partition-invariant; ulp-level summation-order drift vs the
        JVM fold is confined to the above-cap regime). The codebook
        ships closure-side as compact numpy arrays under the same
        ``_BLAS_CLOSURE_CAP_BYTES`` ceiling as ``_assign_blas``
        (ADVICE r10) — above it the caller keeps the JVM
        broadcast-join encode. Dots only, no norm division, so the
        zero-norm NaN discussion there does not arise here."""
        import numpy as np
        from pyspark.sql.types import IntegerType, StructField, StructType

        brows = books.select("j", "code", "ccv").collect()
        lists: dict[int, tuple[list[int], list[list[float]]]] = {}
        for r in sorted(brows, key=lambda r: (r["j"], r["code"])):
            cs, vs = lists.setdefault(int(r["j"]), ([], []))
            cs.append(int(r["code"]))
            vs.append(r["ccv"])
        mats = {
            j: (np.asarray(cs, dtype="int32"), np.asarray(vs, dtype="float64"))
            for j, (cs, vs) in lists.items()
        }
        schema = StructType(
            [frame.schema["_id"], frame.schema["j"], frame.schema["sv"],
             StructField("code", IntegerType(), False)]
        )

        def gen(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                out_code = np.empty(len(pdf), dtype="int32")
                jvals = pdf["j"].to_numpy()
                V = np.asarray(pdf["sv"].tolist(), dtype="float64")
                for j in np.unique(jvals):
                    sel = jvals == j
                    cs, B = mats[int(j)]
                    out_code[sel] = cs[(V[sel] @ B.T).argmax(axis=1)]
                yield pd.DataFrame(
                    {"_id": pdf["_id"], "j": pdf["j"], "sv": pdf["sv"],
                     "code": out_code}
                )

        return frame.mapInPandas(gen, schema)

    if (
        train_sv is not sv
        and width is not None
        and m * ksub * width * 8 <= _BLAS_CLOSURE_CAP_BYTES
    ):
        _pq_assign = _pq_assign_blas  # noqa: F811 — the sampled/scale regime

    assigned = train_sv.withColumn(
        "code", ((F.col("_id") + F.col("j")) % ksub).cast("int")
    )
    books = None
    for _ in range(iters):
        # exact integer micro-unit mean (see label_centroids / kmeans)
        books = (
            assigned.select("j", "code", F.posexplode("sv").alias("dim0", "x"))
            .groupBy("j", "code", "dim0")
            .agg(
                F.sum(F.expr("CAST(round(x * 1000000) AS BIGINT)")).alias("sm"),
                F.count(F.lit(1)).alias("cn"),
            )
            .select(
                "j",
                "code",
                "dim0",
                (F.floor(F.col("sm").cast("double") / F.col("cn")) / 1000000.0 + F.lit(0.0)).alias("mn"),
            )
            .groupBy("j", "code")
            .agg(F.array_sort(F.collect_list(F.struct("dim0", "mn"))).alias("p"))
            .select("j", "code", F.transform("p", lambda s: s["mn"]).alias("ccv"))
            .localCheckpoint()
        )
        # per-round input is `train_sv` (== sv on the full-corpus
        # path; the md5 sample when the cap bites)
        assigned = _pq_assign(train_sv, books)
    if train_sv is not sv and books is None:  # iters=0: modulo init, full corpus
        assigned = sv.withColumn(
            "code", ((F.col("_id") + F.col("j")) % ksub).cast("int")
        )
    elif train_sv is not sv:
        # sampled training: ONE exact encode pass over the full corpus
        # against the final codebooks — identical subvectors encode
        # identically whether or not they were sampled into training
        assigned = _pq_assign(sv, books)
    # EAGER for the same reason as kmeans_centroids' assignment: a lazy
    # codes artifact would depend on the training-only subvector pin
    # (collapse-cache hazard class); materialized, the pin can be freed.
    codes = assigned.select(F.col("_id").alias(id_col), "j", "code").localCheckpoint(
        eager=True
    )
    unpersist_checkpointed(sv)
    if train_sv is not sv:  # free the training-sample pin (block hygiene)
        unpersist_checkpointed(train_sv)
    return codes, books


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
    # ADC partials: dot of each query subvector with every codeword
    qsub = _subvectors(queries, "query_id", m, id_col, vec_col, dims)
    partials = (
        qsub.join(F.broadcast(books), "j")
        .withColumn("partial", dot(F.col("sv"), F.col("ccv"), dims // m if dims else None))
        # exact integer nano-units: identical codes ⇒ EXACTLY equal ADC
        # sums under any partitioning (see the tie-inclusion docstring)
        .withColumn("qpartial", F.expr("CAST(round(partial * 1e9) AS BIGINT)"))
        .select("query_id", "j", "code", "qpartial")
    )
    n = _corpus_count(corpus)
    adc_codes = _spread_candidates(
        codes, id_col, n * m if n is not None else None
    )
    approx = (
        adc_codes.join(F.broadcast(partials), ["j", "code"])
        .filter(F.col(id_col) != F.col("query_id"))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("qpartial").alias("approx_sim"))
    )
    # rank(), score only: ADC-indistinguishable candidates tie and ALL
    # reach the exact re-rank — never truncated by id order
    ws = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"))
    short = approx.withColumn("rs", F.rank().over(ws)).filter(F.col("rs") <= shortlist)
    # exact re-rank of the shortlist
    qv = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", cosine(F.col("qv"), F.col("cv"), dims))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rnk")
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
    if kclusters is None:
        kclusters = auto_kclusters(corpus)
    assigns, cents = kmeans_centroids(
        corpus, kclusters, coarse_iters, id_col, vec_col, dims, train_sample_cap
    )
    codes, books = pq_train(
        corpus, m, ksub, pq_iters, id_col, vec_col, dims, train_sample_cap
    )
    # coarse routing: query → nprobe nearest centroids
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    routed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("sim_c", cosine(F.col("qv"), F.col("ccv"), dims))
        .withColumn(
            "rc",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim_c"), F.asc("cid"))
            ),
        )
        .filter(F.col("rc") <= nprobe)
        .select("query_id", "cid")
    )
    # ADC partials per (query, subspace, code)
    qsub = _subvectors(queries, "query_id", m, id_col, vec_col, dims)
    partials = (
        qsub.join(F.broadcast(books), "j")
        .withColumn("partial", dot(F.col("sv"), F.col("ccv"), dims // m if dims else None))
        # exact integer nano-units — see pq_topk's tie-inclusion notes
        .withColumn("qpartial", F.expr("CAST(round(partial * 1e9) AS BIGINT)"))
        .select("query_id", "j", "code", "qpartial")
    )
    # codes restricted to the probed coarse cells: the broadcast
    # (query, cid) pairs prune the scan before any ADC work happens —
    # at scale this is partition pruning on the codes table
    n = _corpus_count(corpus)
    adc_codes = _spread_candidates(
        codes, id_col, n * m if n is not None else None
    )
    probed = (
        adc_codes.join(assigns.withColumnRenamed(id_col, "__aid"),
                       adc_codes[id_col] == F.col("__aid"))
        .join(F.broadcast(routed), "cid")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, "j", "code")
    )
    approx = (
        probed.join(F.broadcast(partials), ["query_id", "j", "code"])
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("qpartial").alias("approx_sim"))
    )
    # rank() over the score alone: ADC ties go to the exact re-rank
    # whole, never id-truncated (pq_topk's r11 contract — the 100×
    # probe broke the row_number cut at code-collision class 100)
    ws = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"))
    short = approx.withColumn("rs", F.rank().over(ws)).filter(F.col("rs") <= shortlist)
    qv = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        short.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", cosine(F.col("qv"), F.col("cv"), dims))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rnk")
    )


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
    if kclusters is None:
        kclusters = auto_kclusters(corpus)
    assigns, cents = kmeans_centroids(
        corpus, kclusters, iters, id_col, vec_col, dims, train_sample_cap
    )
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
    cents = spark.read.parquet(f"{root}/centroids")
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv"))
    routed = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("sim_c", cosine(F.col("qv"), F.col("ccv"), dims))
        .withColumn(
            "rc",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("sim_c"), F.asc("cid"))
            ),
        )
        .filter(F.col("rc") <= nprobe)
        .select("query_id", "qv", "cid")
    )
    # O(|queries| × nprobe) cid ids — metadata, not data
    probed_cids = sorted({r["cid"] for r in routed.select("cid").distinct().collect()})
    vectors = spark.read.parquet(f"{root}/vectors").filter(F.col("cid").isin(probed_cids))
    sim = (
        vectors.select(F.col(id_col).alias("neighbor_id"), "cid", _as_double(F.col(vec_col)).alias("cv"))
        .join(F.broadcast(routed), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rnk")
    )


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
