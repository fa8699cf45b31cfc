"""Aggregations (reference parity: A1-A11, SURVEY.md §2.4 + extensions).

The reference runs these in pandas on the driver
(``monthly_summary.py``, ``compare_budget.py``) or as tiny PySpark aggs
(``datatrack_spark_utils.py:132-186``). Here they are distributed
group-bys — map-side partial aggregation and AQE partition coalescing
come free from Catalyst; at 100 TB the only shuffle is on the group
keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filtered_group_sum(
    df: DataFrame,
    predicate: Column,
    keys: list[str],
    value: Column | str,
    alias: str = "total",
) -> DataFrame:
    """A3 — conditional aggregation (``monthly_summary.py:51-60``).

    Expressed as ``sum(when(pred, v))`` so it stays one scan + one
    shuffle even when several conditions are aggregated together.
    """
    value = F.col(value) if isinstance(value, str) else value
    return (
        df.groupBy(*keys)
        .agg(F.sum(F.when(predicate, value)).alias(alias))
        .filter(F.col(alias).isNotNull())
        .orderBy(F.desc(alias), *[F.asc(k) for k in keys])
    )


def group_max(df: DataFrame, keys: list[str], value: str, alias: str | None = None) -> DataFrame:
    """A4 — watermark read: max per key (``datatrack_spark_utils.py:132-138``)."""
    return df.groupBy(*keys).agg(F.max(value).alias(alias or f"max_{value}"))


def value_counts(df: DataFrame, keys: list[str], alias: str = "n") -> DataFrame:
    """A7 — grouped counts desc (``inspect_bradesco_output.py:117,137``)."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(alias)).orderBy(
        F.desc(alias), *[F.asc(k) for k in keys]
    )


def mode_per_group(df: DataFrame, keys: list[str], value: str, alias: str | None = None) -> DataFrame:
    """A8 — most frequent value per group (``bradesco_bill.py:324-328``).

    count + row_number with a deterministic ``value asc`` tie-break
    (SURVEY §7 risk register) rather than ``F.mode`` whose tie choice
    is unspecified. Two shuffles on the same keys; Catalyst reuses the
    partitioning for the window.
    """
    from pyspark.sql.window import Window

    alias = alias or f"{value}_mode"
    counts = df.filter(F.col(value).isNotNull()).groupBy(*keys, value).count()
    w = Window.partitionBy(*keys).orderBy(F.desc("count"), F.asc(value))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, F.col(value).alias(alias))
    )


def describe_stats(df: DataFrame, value: str) -> DataFrame:
    """A9 — count/mean/std/min/max (``inspect_bradesco_output.py:188-192``).

    Explicit aggregates instead of ``df.describe()`` so the output
    schema is typed (doubles, not strings) and oracle-comparable.

    Assumes a 2-decimal money column (the reference's describe targets
    are all currency): every statistic is accumulated as EXACT integer
    cents — n, Σc, Σc² (decimal(38,0) — order-insensitive partials) —
    with ONE double conversion at the end. ``stddev_samp`` over raw
    doubles merges partial co-moments in partition order, so its last
    ulps are run-dependent; the integer path is bit-identical across
    engines and partitionings (the ``ext_correlation`` discipline).
    Mean and std are emitted floor-scaled to cents.
    """
    cents = F.expr(f"CAST(round({value} * 100) AS BIGINT)")
    d38 = "decimal(38,0)"
    s = df.filter(F.col(value).isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents.cast(d38) * cents.cast(d38)).alias("ss"),
        F.min(cents).alias("mn"),
        F.max(cents).alias("mx"),
    )
    # var_cents² = (n·Σc² − (Σc)²) / (n·(n−1)), exact integers until the
    # final double division; floor(√·) of identical doubles is engine-exact
    var_num = F.expr(
        "CAST(CAST(n AS decimal(38,0)) * ss"
        " - CAST(s AS decimal(38,0)) * CAST(s AS decimal(38,0)) AS DOUBLE)"
    )
    return s.select(
        "n",
        (F.floor(F.col("s").cast("double") / F.col("n")) / 100.0).alias("mean"),
        (
            F.floor(
                F.sqrt(var_num / (F.col("n").cast("double") * (F.col("n") - 1).cast("double")))
            )
            / 100.0
        ).alias("std"),
        (F.col("mn").cast("double") / 100.0).alias("min"),
        (F.col("mx").cast("double") / 100.0).alias("max"),
    )


# --- engine extensions (SURVEY §2.4 note): Spark built-ins exposed ----------


def approx_distinct(df: DataFrame, keys: list[str], value: str, alias: str = "approx_nd", rsd: float = 0.05) -> DataFrame:
    """Extension — HyperLogLog++ distinct estimate; the 100 TB-safe
    alternative to exact countDistinct's full shuffle."""
    return df.groupBy(*keys).agg(F.approx_count_distinct(value, rsd).alias(alias))


def pivot_sum(df: DataFrame, key: str, pivot_col: str, pivot_values: list[str], value: str) -> DataFrame:
    """Extension — pivot with explicit value list (no discovery scan)."""
    return df.groupBy(key).pivot(pivot_col, pivot_values).agg(F.sum(value))


def sorted_exact_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    percentages: list[float],
    extra_aggs: list[Column] | None = None,
    out_col: str = "pcts",
) -> DataFrame:
    """Exact interpolated percentiles per group, 8x faster than the
    built-in ``percentile`` aggregate on near-unique doubles.

    ``percentile()``'s ObjectHashAggregate pays a boxed
    ``OpenHashMap[Double, Long]`` insert per row (~2 µs/row measured);
    on money-like columns the values are near-unique (594k distinct of
    600k lineitem prices at sf0.1), so the count map dedups nothing and
    its memory is already O(group size). This form keeps the identical
    aggregation shape — one partial+final ObjectHashAggregate, one
    exchange on the group keys — but the per-row update is a plain
    ``collect_list`` append; the sort happens once per group in
    ``sort_array`` (codegen) instead of inside the aggregate's
    finalizer. Measured at sf0.1: 1.04 s → 0.13 s for the 4-point
    lineitem query.

    BIT-IDENTITY CONTRACT: reproduces
    ``Percentile.getPercentile`` exactly — ``pos = p * (n-1)``,
    ``(ceil(pos) - pos) * v[floor] + (pos - floor(pos)) * v[ceil]``
    with the ``v[floor] == v[ceil]`` short-circuit — verified
    bit-identical to the native aggregate on fixtures and edge shapes
    (``test_sorted_exact_percentiles_bit_identity``). Do not "simplify"
    the interpolation to ``lo + frac*(hi-lo)``: same real number,
    different doubles.

    100 TB: per-group state is O(group size) vs the native map's
    O(distinct); identical on near-unique data, worse under heavy
    duplication — use the native form (or a pre-aggregated histogram
    with the ``frequency`` argument) when values repeat, and
    ``approx_percentile`` when groups outgrow one task's memory; exact
    per-group order statistics need the group's values in one place in
    any engine.
    """
    n = F.count(value_col).alias("_n")
    vals = F.sort_array(F.collect_list(value_col)).alias("_v")
    base = df.groupBy(*group_cols).agg(vals, n, *(extra_aggs or []))
    qs = []
    for p in percentages:
        pos = F.lit(float(p)) * (F.col("_n") - F.lit(1)).cast("double")
        lo, hi = F.floor(pos), F.ceil(pos)
        el_lo = F.element_at("_v", (lo + 1).cast("int"))
        el_hi = F.element_at("_v", (hi + 1).cast("int"))
        # outer n>0 guard: an all-null group has an empty _v, and ANSI
        # element_at(_v, 0) would throw if evaluated (native percentile
        # returns NULL there); when() only evaluates the taken branch
        qs.append(
            F.when(
                F.col("_n") > 0,
                F.when(el_lo == el_hi, el_lo).otherwise(
                    (hi.cast("double") - pos) * el_lo
                    + (pos - lo.cast("double")) * el_hi
                ),
            )
        )
    keep = [c for c in base.columns if c not in ("_v", "_n")]
    # native percentile() returns NULL (not an array of NULLs) for an
    # all-null group — match it
    out = F.when(F.col("_n") > 0, F.array(*qs))
    return base.select(*keep, out.alias(out_col))


def time_bucket_agg(
    df: DataFrame,
    ts_col: str,
    bucket: str,
    keys: list[str],
    value: str,
) -> DataFrame:
    """Extension — hypertable-style time-bucket aggregate: tumbling
    ``F.window`` buckets (epoch-aligned, same origin as DuckDB/Timescale
    ``time_bucket``) with the standard continuous-aggregate measures.
    One shuffle on (bucket, keys); partial aggregation is map-side, so
    at 100 TB the shuffle carries one row per (bucket, key) per task."""
    return (
        df.groupBy(F.window(ts_col, bucket).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value).alias("total"),
            F.min(value).alias("vmin"),
            F.max(value).alias("vmax"),
        )
        .select(F.col("w.start").alias("bucket"), *keys, "n", "total", "vmin", "vmax")
    )


def rollup_time_buckets(
    fine: DataFrame,
    coarse_bucket: str,
    keys: list[str],
) -> DataFrame:
    """Extension — re-aggregate a fine time-bucket aggregate into a
    coarser one WITHOUT touching raw data (the continuous-aggregate
    rollup path: sum-of-sums, min-of-mins). Requires the coarse bucket
    to be a multiple of the fine one so fine buckets nest exactly."""
    return (
        fine.groupBy(F.window("bucket", coarse_bucket).alias("w"), *keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("total").alias("total"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
        )
        .select(F.col("w.start").alias("bucket"), *keys, "n", "total", "vmin", "vmax")
    )
