"""Window operators (reference parity: W1-W3, SURVEY.md §2.5 + extensions).

W1 is the reference's keyed latest-wins dedup (SQL ``ROW_NUMBER()``,
``datatrack_spark_utils.py:51-95``); W2 is the *implicit* window its PDF
parsers run in driver Python — carrying section context down lines
(``bb_statement.py:132-198``) — re-expressed as the classic
``last(ignorenulls)`` running frame; W3 is per-group head sampling.

Scale note: a window partitioned by a key shuffles once on that key;
W2's global ``orderBy(line_no)`` variant must always be scoped by a
document/partition key (``partition_keys``) so no single-task global
sort appears at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .rowid import MID_LOCAL_BITS, check_mid_layout

#: grouped_global_rank: most (group, partition) offset rows collected to
#: the driver and shipped back as a broadcast relation (a few MiB);
#: above it the caller's group key is too fine for this operator.
_RANK_OFFSETS_MAX = 1 << 16


class RankOffsetsTooLarge(ValueError):
    """grouped_global_rank would collect too many offset rows."""


def dedup_latest(
    df: DataFrame,
    keys: list[str],
    order_col: str | None = None,
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """W1/D1 — keep the most recent row per key
    (``deduplicar_dados``, ``datatrack_spark_utils.py:51-95``).

    The reference gracefully degrades to unordered pick-one when the
    order column is missing — we mirror that. ``tie_breakers`` make
    the pick deterministic (oracle-stability, SURVEY §7).
    """
    order = []
    if order_col and order_col in df.columns:
        order.append(F.desc(order_col))
    for t in tie_breakers or []:
        order.append(F.asc(t))
    if not order:  # stable fallback: all non-key columns asc
        order = [F.asc(c) for c in df.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def forward_fill(
    df: DataFrame,
    cols: list[str],
    order_col: str,
    partition_keys: list[str],
) -> DataFrame:
    """W2 — last-non-null carry-down (section-context forward fill,
    ``bb_statement.py:132-198``): ``last(c, ignorenulls=True)`` over an
    unbounded-preceding running frame.
    """
    w = (
        Window.partitionBy(*partition_keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def per_group_head(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    n: int = 5,
) -> DataFrame:
    """W3 — first N rows per group (``inspect_bradesco_output.py:195-201``)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= n).drop("_rn")


# --- extensions (SURVEY §2.5 note) -----------------------------------------


def sessionize(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    gap_minutes: int = 30,
    alias: str = "session_id",
    tie_breakers: list[str] | None = None,
) -> DataFrame:
    """Extension — batch sessionization: lag(ts) + cumsum over
    gap-breaks (guide 'Common OLAP patterns'). Streaming analog is
    ``session_window`` in streaming/windows.py.

    Boundary semantics match Spark's native ``session_window``: a gap
    of EXACTLY ``gap_minutes`` starts a new session (the window is
    ``[start, start + gap)``, exclusive) — pinned by the hypothesis
    property test against a sequential reference fold, which caught
    the earlier strictly-greater variant on a gap == threshold
    example. The comparison is an exact microsecond difference, never
    floored seconds (a floor disagrees with the native operator for
    gaps in ``[1800s, 1801s)``). The intermediate ``timestamp_ltz``
    cast makes the epoch conversion total over BOTH timestamp kinds:
    parquet written with ``isAdjustedToUTC=false`` reads as
    ``TIMESTAMP_NTZ`` (Spark 4 infers NTZ by default), and a direct
    NTZ epoch extraction is an AnalysisException; NTZ→LTZ interprets
    the wall-clock in the session timezone (pinned UTC in session.py)
    and is an identity for LTZ.
    """
    order = [ts_col] + list(tie_breakers or [])
    w = Window.partitionBy(*keys).orderBy(*order)
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(
        gap.isNull() | (gap >= gap_minutes * 60 * 1_000_000), 1
    ).otherwise(0)
    run = Window.partitionBy(*keys).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(alias, F.sum(is_new).over(run))


def ewma(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float,
    alias: str = "ewma",
) -> DataFrame:
    """Exponentially-weighted moving average per key (the time-series
    smoothing primitive; pandas ``ewm(adjust=True)`` semantics:
    ``y_i = Σ_j (1-α)^(i-j)·x_j / Σ_j (1-α)^(i-j)``).

    The recurrence is inherently SEQUENTIAL per key — no associative
    window aggregate expresses it, and the closed-form weighted-sum
    trick (``Σ x_j·(1-α)^(-j)``) overflows doubles once a series
    exceeds a few thousand rows — so this is the documented case for
    the Arrow-batched fallback. It runs PARTITION-grained, not
    group-grained: ``repartition(keys)`` co-locates each series,
    ``mapInPandas`` concatenates the partition's Arrow batches once,
    and a single vectorized ``groupby(...).ewm`` computes every series
    in the partition in one C pass. (The obvious
    ``groupBy().applyInPandas`` is 2.3× slower here: with many small
    groups the per-group Python dispatch dominates — measured 1.24 s →
    0.55 s steady-state on 10 k rows / 500 keys, and the gap widens
    with group count.) One shuffle on the keys. NULL values propagate
    the previous smoothed value (pandas ``ignore_na=False`` default).

    Callers should pre-project to keys + order + value: mapInPandas is
    opaque to Catalyst, so every column of ``df`` rides the repartition
    exchange AND both Arrow crossings (guide §4.1).
    """
    import pandas as pd
    from pyspark.sql import types as T

    # fresh StructType — StructType.add mutates the receiver, and the
    # input DataFrame's schema object must stay untouched
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField(alias, T.DoubleType())])
    ordered = list(order_cols)
    key_cols = list(keys)

    def _ewm_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        pdf = pdf.sort_values(key_cols + ordered, kind="mergesort", ignore_index=True)
        res = pdf.groupby(key_cols, sort=False)[value_col].ewm(
            alpha=alpha, adjust=True
        ).mean()
        # drop the group-key index levels; what remains is the row
        # index of the sorted frame, so assignment aligns positionally
        res.index = res.index.droplevel(list(range(len(key_cols))))
        pdf[alias] = res
        yield pdf

    return df.repartition(*key_cols).mapInPandas(_ewm_partition, out_schema)


def scd2_from_changes(
    df: DataFrame,
    keys: list[str],
    order_cols: list[str],
    tracked: list[str],
) -> DataFrame:
    """Build a type-2 slowly-changing dimension from a change log:
    one output row per (key, state version) with ``valid_from`` /
    ``valid_to`` / ``is_current``.

    Two window passes over the SAME (keys × order) partitioning — one
    shuffle total, Spark reuses the sort for the second window:

    1. collapse: drop rows where no tracked column changed vs the
       previous row (``lag`` over a struct of the tracked columns, so
       multi-column states and NULL-vs-NULL compare are handled by
       struct equality — ``<=>`` semantics via ``eqNullSafe``);
    2. intervals: ``valid_to = lead(valid_from)``; the last version
       per key has ``valid_to`` NULL and ``is_current`` true.

    ``order_cols`` must be a total order within each key (pass a
    tiebreak column, e.g. an event id) or version attribution is
    nondeterministic. At 100 TB this is the standard dimension-build
    pattern: the shuffle is on the dimension key (high cardinality,
    no skew), and each partition streams in sort order.
    """
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    state = F.struct(*[F.col(c) for c in tracked])
    prev = F.lag(state).over(w)
    changed = df.withColumn("__prev", prev).where(
        F.col("__prev").isNull() | ~F.col("__prev").eqNullSafe(state)
    ).drop("__prev")
    valid_from = F.col(order_cols[0])
    valid_to = F.lead(order_cols[0]).over(w)
    return changed.select(
        *keys,
        *tracked,
        valid_from.alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def bitemporal_state(
    df: DataFrame,
    keys: list[str],
    valid_col: str,
    txn_col: str,
    order_cols: list[str],
    state_col: str,
    valid_at,
    txn_at,
) -> DataFrame:
    """Extension — bitemporal belief lookup: the state each key was
    believed to have at VALID time ``valid_at``, based only on rows
    whose TRANSACTION (ingest) time is <= ``txn_at``. Two cutoffs on
    independent axes — late-arriving rows (txn >> valid) are exactly
    the ones a later ``txn_at`` adds, which is what makes "what did
    we believe last Monday about last Sunday" answerable and
    auditable.

    One keyed window shuffle (WindowGroupLimit prunes to the top row
    per key map-side); ``order_cols`` must make the ordering total
    for a deterministic winner. Returns (keys..., state,
    state_since).
    """
    eligible = df.where(
        (F.col(valid_col) <= F.lit(valid_at)) & (F.col(txn_col) <= F.lit(txn_at))
    )
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        eligible.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            *keys,
            F.col(state_col).alias("state"),
            F.col(valid_col).alias("state_since"),
        )
    )


def grouped_global_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    rank_col: str = "pos",
    num_partitions: int | None = None,
) -> DataFrame:
    """``row_number() OVER (PARTITION BY group ORDER BY order)`` with a
    BOUNDED per-task sort — for LOW-CARDINALITY groups over data-sized
    rows, where the plain window puts an entire group (corpus/#groups
    rows) into one task's sorter (r9: x54's 16 trainer shards were the
    last instance of the class in the repo).

    Two-phase, the packing/suffix prefix-sum discipline: range-
    partition on (group, order) — a group spans a CONTIGUOUS run of
    partitions, and within a group the partition order IS the row
    order — rank locally per (partition, group), then add per-(group,
    partition) prefix counts collected as O(#groups · #partitions)
    metadata. r12 (guide §2.4, the x66 lesson): the local rank is
    derived from ``monotonically_increasing_id`` evaluated above an
    in-partition sort on (group, order) — groups are contiguous
    within the sorted partition, so ``_mid − min(_mid) per (pid,
    group)`` IS the local row_number, and the per-(pid, group) min
    rides the SAME offsets collect. This deletes the former explicit
    hash-on-``_pid`` re-exchange of every row plus the window
    machinery (the window could not consume the range partitioning
    directly — the r9 window-exchange lesson) while keeping the same
    per-task sort bound: one range partition, now with no pid
    hash-collision stacking at all. The id is
    nondeterministic-flagged, so the optimizer cannot move it below
    the Sort, and the localCheckpoint pins one materialization
    exactly as before. ``order_cols`` must be a total
    order within each group for deterministic output (callers append a
    unique id, as every oracle-gated query here does); entries may be
    column names (ascending) or Column sort expressions (e.g.
    ``F.col("score").desc()``) — range partitioning honours the same
    directions, so group contiguity and in-group partition order hold
    for any mix.

    NULL group keys form a group of their own, exactly like the plain
    window (and ``groupBy``) semantics this operator replaces
    (ADVICE r9): the offsets sort uses a null-first key (mixed
    None/str compares raised TypeError), the offsets frame carries the
    group columns under an EXPLICIT schema lifted from the input
    (inference fails on an all-NULL group), and the offsets join is
    null-SAFE — ``<=>`` is still extracted as a broadcast-hash-join
    key by Catalyst, whereas the former name-list equi-join silently
    DROPPED every null-group row.
    """
    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    order_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    group_exprs = [F.col(c) for c in group_cols]
    # lazy checkpoint: the counts collect below materializes the blocks
    # in the same pass AND pins the sampled range boundaries, so the
    # offsets and the final rows see the same partition layout
    local = (
        df.repartitionByRange(parts, *group_exprs, *order_exprs)
        .sortWithinPartitions(*group_exprs, *order_exprs)
        .withColumn("_mid", F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    pid = F.shiftright(F.col("_mid"), MID_LOCAL_BITS)
    counts = (
        local.groupBy(pid.alias("_pid"), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("_mid").alias("_m0"),
            F.max("_mid").alias("_m1"),
        )
        .limit(_RANK_OFFSETS_MAX + 1)
        .collect()
    )
    if len(counts) > _RANK_OFFSETS_MAX:
        raise RankOffsetsTooLarge(
            f"grouped_global_rank: over {_RANK_OFFSETS_MAX} (group, partition) "
            f"offset rows ({len(counts)} read) across {parts} partitions"
        )
    check_mid_layout(counts)
    if not counts:  # empty input: nothing to offset (and nothing to infer)
        return local.withColumn(rank_col, F.lit(1).cast("long")).drop(
            "_mid"
        )
    offsets: dict[tuple, int] = {}
    acc: dict[tuple, int] = {}
    # null-first sort key: NULL is a group like any other, and a bare
    # value key raised TypeError on mixed None/str (ADVICE r9)
    def _gkey(r):
        return tuple((r[g] is None, r[g]) for g in group_cols)

    for r in sorted(counts, key=lambda r: (_gkey(r), r["_pid"])):
        g = tuple(r[g2] for g2 in group_cols)
        # fold the (pid, group) min id into the prefix offset: local
        # row number = _mid - _m0 + 1 (group rows are contiguous in
        # the sorted partition), so joined value = offset - _m0 + 1
        offsets[(r["_pid"], *g)] = acc.get(g, 0) - r["_m0"] + 1
        acc[g] = acc.get(g, 0) + r["_n"]
    from pyspark.sql.types import LongType, StructField, StructType

    # explicit schema lifted from the checkpointed frame: inference
    # cannot type an all-NULL group column (ADVICE r9)
    off_schema = StructType(
        [StructField("_pid", LongType(), False)]
        + [local.schema[g] for g in group_cols]
        + [StructField("_offset", LongType(), False)]
    )
    off_df = spark.createDataFrame(
        [(pid_, *rest, off) for (pid_, *rest), off in offsets.items()], off_schema
    )
    with_pid = local.withColumn("_pid", pid)
    cond = with_pid["_pid"] == off_df["_pid"]
    for g in group_cols:  # null-safe: null-group rows must not drop
        cond = cond & with_pid[g].eqNullSafe(off_df[g])
    return (
        with_pid.join(F.broadcast(off_df), cond)
        .drop(off_df["_pid"], *[off_df[g] for g in group_cols])
        .withColumn(rank_col, (F.col("_mid") + F.col("_offset")).cast("long"))
        .drop("_pid", "_mid", "_offset")
    )
