"""The engine's one per-row Python pass: ``map_rows(df, fn, schema)``.

Every codec site (PDF text extraction, the image/audio/video container
codecs, parquet footer reads) is a row function: one input row in,
zero or more output rows out. ``map_rows`` runs one ``mapInPandas``
over ``df`` and owns the pandas import, the Arrow batch loop and the
frame assembly; each site keeps only its row function. An encode →
decode chain is a composed row function, so a payload built in Python
is parsed back inside the same crossing and never returns to the JVM.

Whole-partition kernels (``windows``' EWM, ``skyline``, the BLAS
passes in ``similarity``) stay on ``mapInPandas`` / ``applyInPandas``
directly: they vectorize over a batch, not a row.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _values(col) -> list:
    """One batch column as Python values, nulls as ``None``: pandas
    carries a null long or double as NaN and a null timestamp as NaT."""
    if col.dtype == object or not col.hasnans:
        return col.tolist()
    return col.astype(object).where(col.notna(), None).tolist()


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: T.StructType
) -> DataFrame:
    """One Python crossing over ``df``. ``fn(*row)`` is called on each
    input row, columns in ``df``'s order, nulls as ``None``; it returns
    an iterable of output tuples in ``schema`` order. An empty iterable
    drops the row and several tuples fan it out. Each Arrow batch
    becomes one pandas frame whose columns ``schema`` names; a batch
    whose rows yield nothing emits no frame."""
    names = schema.fieldNames()

    def run(batches):
        import pandas as pd

        for pdf in batches:
            cols = [_values(col) for _, col in pdf.items()]
            rows = [out for row in zip(*cols) for out in fn(*row)]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema)
