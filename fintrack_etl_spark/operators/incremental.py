"""Incremental loads and incremental aggregate maintenance
(reference parity: D4, SURVEY.md §2.9).

D4: the reference keeps a ``controle_carga`` Iceberg table keyed
(entidade_trusted, input_table) holding the last ingestion timestamp
consumed and filters ``dt > last`` (``datatrack_spark_utils.py:102-217``).
The filter is a batch operator; the streaming analog (file-source
checkpoint / ``withWatermark``) lives in streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def incremental_filter(df: DataFrame, inc_col: str, last_value) -> DataFrame:
    """D4 — high-watermark predicate (``:146-188``). Pushed to the
    parquet scan by Catalyst; on a time-partitioned table this prunes
    whole partitions."""
    if last_value is None:
        return df
    return df.filter(F.col(inc_col) > F.lit(last_value))


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (engine extension)
# ---------------------------------------------------------------------------
# The reference recomputes its reports from scratch every run
# (``monthly_summary.py``); at 100 TB a continuous aggregate must
# instead fold each new batch into a persisted per-key STATE whose
# components are mergeable (n, sum, min, max — the classic commutative
# monoid), never rescanning history. Folding a delta costs one shuffle
# of |delta| rows + a merge of |affected keys| state rows; the final
# metrics (avg etc.) are derived from state at read time.

#: State columns maintained per key.
AGG_STATE_COLS = ("n", "total", "min_v", "max_v")


def partial_aggregate(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Collapse rows into mergeable per-key state (map-side partial
    aggregation happens automatically before the keyed shuffle)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(value_col).alias("total"),
        F.min(value_col).alias("min_v"),
        F.max(value_col).alias("max_v"),
    )


def merge_aggregate_state(state: DataFrame, delta_state: DataFrame, keys: list[str]) -> DataFrame:
    """Fold a delta's partial state into the persisted state.

    Full-outer on the keys so brand-new keys appear and untouched keys
    pass through; each component merges with its own monoid op. The
    join shuffles only state rows (|keys|-bounded), not facts.
    """
    d = delta_state.select(
        *keys, *[F.col(c).alias(f"__d_{c}") for c in AGG_STATE_COLS]
    )
    merged = state.join(d, keys, "full_outer")
    zero = F.lit(0)
    # SQL sum() over only-NULL values is NULL, and the merge must
    # preserve that: 0.0-defaulting both sides would turn an all-NULL
    # group's total into 0.0 where a from-scratch aggregation says
    # NULL. NULL-iff-both-NULL keeps merged state == from-scratch for
    # every input, not just non-degenerate ones.
    # Untyped NULL / integer-0 literals so the value type passes through
    # unchanged: a DECIMAL total must stay decimal (exact, association-
    # invariant sums), not get coerced to double by a 0.0 literal.
    total = F.when(
        F.col("total").isNull() & F.col("__d_total").isNull(), F.lit(None)
    ).otherwise(F.coalesce(F.col("total"), zero) + F.coalesce(F.col("__d_total"), zero))
    return merged.select(
        *keys,
        (F.coalesce(F.col("n"), zero) + F.coalesce(F.col("__d_n"), zero)).alias("n"),
        total.alias("total"),
        F.least(F.col("min_v"), F.col("__d_min_v")).alias("min_v"),
        F.greatest(F.col("max_v"), F.col("__d_max_v")).alias("max_v"),
    )


def finalize_aggregate(state: DataFrame, keys: list[str]) -> DataFrame:
    """Derive the read-time metrics from state (avg = total / n)."""
    return state.select(
        *keys,
        "n",
        F.round("total", 2).alias("total"),
        F.round(F.col("total") / F.col("n"), 2).alias("avg_v"),
        F.round("min_v", 2).alias("min_v"),
        F.round("max_v", 2).alias("max_v"),
    )


def partial_distinct_state(df: DataFrame, keys: list[str], col: str, lg_k: int = 12) -> DataFrame:
    """Mergeable distinct-count state: a Datasketches HLL sketch per
    key (``hll_sketch_agg``). Unlike exact ``countDistinct`` — whose
    "state" is the value set itself and cannot be merged without
    re-shuffling history — the sketch is a fixed ~2^lg_k-byte register
    array with a union operator, which is what makes DISTINCT
    maintainable incrementally at 100 TB."""
    return df.groupBy(*keys).agg(F.hll_sketch_agg(col, F.lit(lg_k)).alias("nd_sketch"))


def merge_distinct_state(state: DataFrame, delta_state: DataFrame, keys: list[str]) -> DataFrame:
    """Union the per-key sketches (register-wise max — commutative,
    idempotent, associative: replay-safe by construction, unlike the
    sum-merge aggregate state)."""
    return (
        state.unionByName(delta_state)
        .groupBy(*keys)
        .agg(F.hll_union_agg("nd_sketch").alias("nd_sketch"))
    )


def finalize_distinct(state: DataFrame, keys: list[str], alias: str = "approx_nd") -> DataFrame:
    """Read-time estimate from the maintained sketch."""
    return state.select(*keys, F.hll_sketch_estimate("nd_sketch").cast("long").alias(alias))


def merge_join_view(
    old_view: DataFrame,
    a_old: DataFrame,
    b_old: DataFrame,
    a_delta: DataFrame,
    b_delta: DataFrame,
    on,
) -> DataFrame:
    """Incremental JOIN view maintenance — the delta rule
    ``Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB`` for insert-only deltas:
    fold new rows into a materialized join WITHOUT recomputing the
    full join. The join-view sibling of ``merge_aggregate_state``
    (aggregates fold partials; joins fold deltas).

    Cost: two delta-sized joins against the old sides plus the
    delta×delta join — at 100 TB with daily 0.1% deltas that is ~500×
    less work than the from-scratch join, and each delta join
    broadcasts its (small) delta side so the big tables never
    reshuffle. Insert-only by contract: updates/deletes need the
    keyed latest-wins/tombstone machinery (apply_changes) upstream of
    the view instead.
    """
    d1 = a_delta.join(b_old, on)
    d2 = a_old.join(b_delta, on)
    d3 = a_delta.join(b_delta, on)
    cols = old_view.columns
    return (
        old_view.unionByName(d1.select(cols))
        .unionByName(d2.select(cols))
        .unionByName(d3.select(cols))
    )


def partial_quantile_state(
    df: DataFrame, keys: list[str], value_col: str, lo: float, hi: float, bins: int
) -> DataFrame:
    """Mergeable quantile state: per-key equi-width histogram counts
    over the fixed range [lo, hi] — ``(keys, bin, n)`` rows. Merging
    two states is a groupBy-sum (exact, commutative, associative), so
    like the n/sum/min/max and HLL states this folds incrementally:
    history binned once, each delta binned alone. Values outside the
    range clamp to the edge bins (the estimate degrades gracefully,
    the state never loses rows)."""
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor((F.col(value_col) - lo) / width).cast("int")),
    )
    return df.groupBy(*keys, b.alias("bin")).agg(F.count(F.lit(1)).alias("n"))


def merge_quantile_state(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Union + groupBy-sum: the histogram merge."""
    return (
        a.unionByName(b)
        .groupBy(*keys, "bin")
        .agg(F.sum("n").alias("n"))
    )


def estimate_quantile(
    state: DataFrame, keys: list[str], q: float, lo: float, hi: float, bins: int
) -> DataFrame:
    """Quantile estimate from binned state: the left edge of the first
    bin whose cumulative count reaches q·total. Deterministic integer
    arithmetic + one double multiply — bit-identical across engines —
    with worst-case error one bin width (the in-query accuracy
    contract callers should pin)."""
    width = (hi - lo) / bins
    w = Window.partitionBy(*keys).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy(*keys)
    ranked = state.select(
        *keys,
        "bin",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(tot).alias("total"),
    )
    hit = ranked.filter(F.col("cum") >= F.ceil(F.lit(q) * F.col("total"))).groupBy(
        *keys
    ).agg(F.min("bin").alias("qbin"))
    return hit.select(*keys, (F.lit(lo) + F.col("qbin") * width).alias("q_est"))


#: Drawup (max-CUSUM) state columns — the Kadane-style associative
#: summary of a deviation series: chunk total, min/max prefix (vs a 0
#: baseline), and best drawup so far.
DRAWUP_STATE_COLS = ("du_s", "du_m", "du_mx", "du_d")


def partial_drawup_state(
    df: DataFrame, keys: list[str], order_col: str, value_col: str
) -> DataFrame:
    """Per-key mergeable state for the CUSUM maximum (prefix-sum
    drawup): over the ``order_col``-ordered deviations ``value_col``,
    compute (S = chunk total, m = min(0, min prefix), M = max prefix,
    d = max drawup within the chunk). Two consecutive chunks merge
    with :func:`merge_drawup_state` — ORDER MATTERS (history chunk
    first, then delta): drawup is associative but not commutative.

    One window pass per chunk (|chunk| rows, partitioned by key), one
    partial-agg shuffle to state rows."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zero = F.lit(0).cast("long")
    p = df.withColumn("_p", F.sum(value_col).over(w)).withColumn(
        "_rm", F.least(zero, F.min("_p").over(w))
    )
    return p.groupBy(*keys).agg(
        F.sum(value_col).cast("long").alias("du_s"),
        F.least(zero, F.min("_p")).cast("long").alias("du_m"),
        F.max("_p").cast("long").alias("du_mx"),
        F.max(F.col("_p") - F.col("_rm")).cast("long").alias("du_d"),
    )


def merge_drawup_state(history: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Merge time-ordered drawup states (history BEFORE delta):
    S = S_a + S_b; m = min(m_a, S_a + m_b); M = max(M_a, S_a + M_b);
    d = max(d_a, d_b, (S_a + M_b) − m_a). Missing-side states merge as
    the empty chunk (S=0, m=0, M=0 treated as absent, d=0). The join
    shuffles |keys| state rows only."""
    d = delta.select(*keys, *[F.col(c).alias(f"__d_{c}") for c in DRAWUP_STATE_COLS])
    j = history.join(d, keys, "full_outer")
    za = F.coalesce(F.col("du_s"), F.lit(0))
    ma = F.coalesce(F.col("du_m"), F.lit(0))
    da = F.coalesce(F.col("du_d"), F.lit(0))
    sb = F.coalesce(F.col("__d_du_s"), F.lit(0))
    mb = F.coalesce(F.col("__d_du_m"), F.lit(0))
    db = F.coalesce(F.col("__d_du_d"), F.lit(0))
    # max prefix of an absent chunk must not fabricate a 0 candidate:
    # coalesce M to the other side's reach instead of 0 when missing.
    mxa = F.col("du_mx")
    mxb = F.col("__d_du_mx")
    new_mx = F.when(
        mxa.isNull(), za + mxb
    ).when(mxb.isNull(), mxa).otherwise(F.greatest(mxa, za + mxb))
    cross = F.when(mxb.isNull(), F.lit(0)).otherwise((za + mxb) - ma)
    return j.select(
        *keys,
        (za + sb).cast("long").alias("du_s"),
        F.least(ma, za + mb).cast("long").alias("du_m"),
        new_mx.cast("long").alias("du_mx"),
        F.greatest(da, db, cross).cast("long").alias("du_d"),
    )


def _cm_bucket(key: F.Column, d: int, width: int) -> F.Column:
    """The ONE copy of the CM hash: md5-derived bucket for sketch row
    ``d``. State builder and estimator must agree bit-for-bit — any
    drift silently destroys the never-undercount guarantee, so both
    call this helper."""
    h = F.md5(F.concat(F.lit(str(d)), F.lit("|"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width


def count_min_state(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-Min sketch as mergeable state (Cormode & Muthukrishnan
    2005): ``depth`` independent hash rows of ``width`` counters; the
    frequency estimate for a key is the MIN over its ``depth`` cells —
    never an undercount, overcount bounded by collisions. Buckets are
    md5-derived (:func:`_cm_bucket`), so the sketch is deterministic
    and engine-portable. State size is depth×width BIGINTs regardless
    of input cardinality; sketches merge by cell-wise addition
    (:func:`merge_count_min_state`) — per-day sketches union across
    any date range without rescans.

    ONE scan: each row explodes to its depth (row, bucket) cells
    in-plan (array of structs), then one partial-agg shuffle. The grid
    carries its (depth, width) so downstream ops can verify hash-family
    compatibility instead of silently mixing grids.

    Returns (sketch_row, bucket, cnt, _depth, _width)."""
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("sketch_row"),
                _cm_bucket(F.col(key_col), d, width).alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return (
        df.select(F.explode(cells).alias("e"))
        .groupBy("e.sketch_row", "e.bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            "sketch_row",
            "bucket",
            "cnt",
            F.lit(depth).alias("_depth"),
            F.lit(width).alias("_width"),
        )
    )


def _cm_dims(state: DataFrame, what: str) -> tuple[int, int]:
    dims = state.select("_depth", "_width").distinct().collect()
    if len(dims) != 1:
        raise ValueError(
            f"{what}: mixed Count-Min dimensions {sorted(map(tuple, dims))} — "
            "grids from different (depth, width) hash families cannot combine"
        )
    return dims[0]["_depth"], dims[0]["_width"]


def merge_count_min_state(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise addition of two Count-Min grids. Refuses mismatched
    (depth, width) — summing cells of different hash families would
    silently break the never-undercount guarantee.

    The check is LAZY (ADVICE r3): instead of an eager distinct+collect
    job per merge call (which made a chained per-day merge pay one
    Spark job per link just for validation), the merged plan carries a
    broadcast 1-row count of distinct (depth, width) pairs and the
    ``cnt`` expression raises at action time if the inputs mixed hash
    families. Chained merges therefore build pure lazy plans — zero
    jobs until the caller acts on the result."""
    u = a.unionByName(b)
    guard = (
        u.select("_depth", "_width")
        .distinct()
        .agg(F.count(F.lit(1)).alias("_n_dims"))
    )
    return (
        u.groupBy("sketch_row", "bucket", "_depth", "_width")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(guard))
        .select(
            "sketch_row",
            "bucket",
            # the guard lives inside the kept cnt column so column
            # pruning cannot optimize the check away
            F.when(
                F.col("_n_dims") == 1, F.col("cnt")
            )
            .otherwise(
                F.expr(
                    "raise_error('merge_count_min_state: mixed Count-Min "
                    "dimensions — grids from different (depth, width) hash "
                    "families cannot combine')"
                ).cast("long")
            )
            .alias("cnt"),
            "_depth",
            "_width",
        )
    )


def count_min_estimate(probes: DataFrame, state: DataFrame, key_col: str) -> DataFrame:
    """Point-frequency estimates: min over the key's depth cells,
    using the (depth, width) RECORDED IN the grid — a probe can never
    silently hash with the wrong family. The tiny grid broadcasts and
    the depth lookups chain as left joins on the accumulating frame:
    probes never shuffle, duplicate probe keys pass through row for
    row (no self-join on the key), missing cells read as 0."""
    depth, width = _cm_dims(state, "count_min_estimate")
    est = probes
    for d in range(depth):
        cells_d = (
            state.filter(F.col("sketch_row") == d)
            .select(F.col("bucket").alias(f"_b{d}"), F.col("cnt").alias(f"_cnt{d}"))
        )
        est = (
            est.withColumn(f"_b{d}", _cm_bucket(F.col(key_col), d, width))
            .join(F.broadcast(cells_d), f"_b{d}", "left")
        )
    return est.select(
        *[F.col(c) for c in probes.columns],
        F.least(
            *[F.coalesce(F.col(f"_cnt{d}"), F.lit(0)) for d in range(depth)]
        ).alias("cm_estimate"),
    )


def count_min_join_size(a: DataFrame, b: DataFrame) -> int:
    """Equi-join output-size estimate from two Count-Min grids (same
    hash family — validated): per sketch row, the bucket-wise dot
    product Σ cntA·cntB over-approximates Σ_k fA(k)·fB(k); the min
    over ALL depth rows — including rows whose bucket sets do not
    intersect, which contribute a dot of 0 and correctly drive the
    estimate to 0 for disjoint inputs — is the classic CM join-size
    estimator: never an undercount, tightening with width. This is
    the pre-join cardinality probe a planner uses to pick broadcast
    vs shuffle vs salting WITHOUT scanning either side; both grids
    are depth×width integers, so the estimate costs a |grid|-row
    join — O(1) in the data. Returns the scalar estimate."""
    depth_a, width_a = _cm_dims(a, "count_min_join_size(left)")
    depth_b, width_b = _cm_dims(b, "count_min_join_size(right)")
    if (depth_a, width_a) != (depth_b, width_b):
        raise ValueError(
            f"count_min_join_size: grids disagree — left (depth={depth_a}, "
            f"width={width_a}) vs right (depth={depth_b}, width={width_b})"
        )
    spark = a.sparkSession
    rows = spark.range(depth_a).select(F.col("id").alias("sketch_row"))
    dots = (
        a.select("sketch_row", "bucket", F.col("cnt").alias("ca"))
        .join(
            b.select("sketch_row", "bucket", F.col("cnt").alias("cb")),
            ["sketch_row", "bucket"],
        )
        .groupBy("sketch_row")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    out = (
        rows.join(dots, "sketch_row", "left")
        .agg(F.min(F.coalesce(F.col("dot"), F.lit(0))).alias("est"))
        .first()
    )
    return int(out["est"]) if out and out["est"] is not None else 0
