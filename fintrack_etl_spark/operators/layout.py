"""Multi-dimensional data layout — z-order clustered writes.

Engine extension (no reference counterpart — the reference partitions
only by ingestion date, ``etls_raw/main.py:338-341``). At 100 TB the
dominant cost of every ad-hoc query is the scan, and the only lever
after partition pruning is FILE skipping: parquet footers carry per-file
min/max for every column, and Spark prunes files whose stats can't
satisfy the predicate. A single-column sort gives tight min/max on that
one column and useless (full-range) stats on every other; interleaving
the bits of several columns' quantile ranks (a z-order / Morton curve)
gives *moderately* tight ranges on ALL of them, so a conjunctive
predicate over any subset of the clustered dimensions skips files.

Design for scale:

* Quantile cut points come from ``approxQuantile`` — one pass with a
  Greenwald-Khanna sketch, driver receives ``nbins-1`` doubles per
  column (bytes, not rows). Equal-POPULATION bins keep the curve
  balanced under skew, where equal-width binning would collapse most
  rows into one cell.
* Binning + bit interleaving are pure native Column arithmetic
  (comparisons, shifts, adds) — whole-stage-codegen'd, zero Python.
* The write is ``repartitionByRange(z)`` + ``sortWithinPartitions(z)``:
  one range shuffle sized to the target file count, each output file
  covering a contiguous z-range ⇒ tight per-file min/max on every
  clustered dimension.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rows import map_rows


def quantile_cuts(df: DataFrame, col: str, nbins: int, relative_error: float = 0.001) -> list[float]:
    """Equal-population bin edges (``nbins - 1`` interior cut points)
    via the GK sketch — a single pass, constant driver memory."""
    probs = [i / nbins for i in range(1, nbins)]
    return df.stat.approxQuantile(col, probs, relative_error)


def bin_by_cuts(col: Column | str, cuts: list[float]) -> Column:
    """Rank a value into ``len(cuts) + 1`` quantile bins as a native
    sum of comparisons (monotone, NULL-safe: NULL ranks into bin 0)."""
    c = F.col(col) if isinstance(col, str) else col
    terms = [F.when(c > F.lit(x), 1).otherwise(0) for x in cuts]
    return reduce(lambda a, b: a + b, terms, F.lit(0))


def zvalue(bin_cols: list[Column], bits_per_dim: int) -> Column:
    """Interleave the low ``bits_per_dim`` bits of each bin rank into
    one Morton key — dimension i contributes bit j to position
    ``j * ndims + i``, so all dimensions advance at the same rate along
    the curve."""
    d = len(bin_cols)
    out = F.lit(0)
    for i, b in enumerate(bin_cols):
        bl = b.cast("long")
        for j in range(bits_per_dim):
            out = out + F.shiftleft(F.shiftright(bl, j).bitwiseAND(F.lit(1)), j * d + i)
    return out


def with_zorder_key(
    df: DataFrame,
    cols: list[str],
    bits_per_dim: int = 4,
    alias: str = "__zkey",
    relative_error: float = 0.001,
) -> DataFrame:
    """Attach the z-order key for ``cols`` (each binned into
    ``2**bits_per_dim`` equal-population bins)."""
    nbins = 1 << bits_per_dim
    bins = [bin_by_cuts(c, quantile_cuts(df, c, nbins, relative_error)) for c in cols]
    return df.withColumn(alias, zvalue(bins, bits_per_dim))


def cluster_write(
    df: DataFrame,
    cols: list[str],
    path: str,
    n_files: int,
    bits_per_dim: int = 4,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Rewrite ``df`` as parquet clustered along the z-order curve of
    ``cols``. Row content is unchanged — only layout moves — so any
    query over the clustered copy is value-identical to the original;
    conjunctive predicates over the clustered dimensions now skip whole
    files on footer stats.

    The range shuffle is the only exchange. With ``partition_by`` the
    range key is (partition cols, zkey) and the write is a partitioned
    layout — clustering happens WITHIN each partition (the 100 TB mode:
    partition pruning first, z-order file skipping inside the surviving
    partitions; the sort never becomes global and ``n_files`` means
    files per run, spread across partitions).
    """
    keyed = with_zorder_key(df, cols, bits_per_dim)
    parts = list(partition_by or [])
    range_cols = parts + ["__zkey"]
    writer = (
        keyed.repartitionByRange(n_files, *range_cols)
        .sortWithinPartitions(*range_cols)
        .drop("__zkey")
        .write.mode(mode)
    )
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(path)


def parquet_footer_stats(
    spark: SparkSession, paths: list[str], column: str
) -> DataFrame:
    """Distributed parquet footer audit: per (file, row group) row
    counts and min/max statistics for ``column`` — the table a
    file-skipping planner consults, surfaced as a DataFrame (the
    operational check behind z-order/compaction: "are my files'
    ranges actually disjoint?").

    The file list parallelizes across the cluster and each task reads
    ONLY footers via Arrow (a few KB per file regardless of file
    size) — at 100 TB this audits a million files with zero data-page
    I/O. Python is unavoidable here (footer decoding is not a Spark
    expression), so it is an Arrow-batched ``mapInPandas`` over paths,
    never over data.

    ``column`` must be an INTEGER-typed column (the stats land in
    BIGINT min/max columns); non-integer statistics (timestamps,
    strings, decimals) would need a per-type schema, so they are
    rejected eagerly rather than failing inside the Arrow conversion.
    """
    schema = (
        T.StructType()
        .add("file", "string")
        .add("row_group_id", "integer")
        .add("n_rows", "long")
        .add("min_key", "long")
        .add("max_key", "long")
    )
    if not paths:
        return spark.createDataFrame([], schema)

    files_df = spark.createDataFrame(
        [(p,) for p in sorted(paths)], ["path"]
    ).repartition(min(len(paths), 64))

    def read_meta(p):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(p).metadata
        for i, name in enumerate(md.schema.names):
            if name == column and md.schema.column(i).physical_type not in (
                "INT32",
                "INT64",
            ):
                raise TypeError(
                    f"parquet_footer_stats: {column} is "
                    f"{md.schema.column(i).physical_type}; only "
                    "INT32/INT64 columns fit the BIGINT stats schema"
                )
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            stat_min = stat_max = None
            for i in range(g.num_columns):
                c = g.column(i)
                if c.path_in_schema == column and c.statistics is not None:
                    stat_min = c.statistics.min
                    stat_max = c.statistics.max
            yield os.path.basename(p), rg, g.num_rows, stat_min, stat_max

    return map_rows(files_df, read_meta, schema)
