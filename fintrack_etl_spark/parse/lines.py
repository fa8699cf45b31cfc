"""Shared line-level plumbing for the document parsers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import normalize_space


#: Documents longer than this many raw lines are withheld from the
#: parsers: every parse window partitions by ``doc_id``, so one
#: pathological multi-GB document would serialize onto a single task
#: (the straggler that stalls a 1000-executor stage). Real statements
#: are thousands of lines; anything past this bound is quarantine
#: material, same policy as a corrupt file.
MAX_DOC_LINES = 1_000_000


def split_oversized(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    max_lines: int = MAX_DOC_LINES,
) -> tuple[DataFrame, DataFrame]:
    """(parseable, quarantined) split on raw line count — a narrow map
    (`size(split(...))`), no shuffle. The quarantine side carries
    (doc_id, n_lines, quarantine_reason) for the audit sink, mirroring
    the decode_error rows of the binary scan
    (``pdf_source.binary_docs_to_text``)."""
    flagged = docs.withColumn("__n_lines", F.size(F.split(F.col(text_col), "\n")))
    ok = flagged.filter(F.col("__n_lines") <= max_lines).drop("__n_lines")
    bad = flagged.filter(F.col("__n_lines") > max_lines).select(
        doc_id,
        F.col("__n_lines").alias("n_lines"),
        F.concat(
            F.lit("oversized document: "), F.col("__n_lines"), F.lit(f" lines > {max_lines}")
        ).alias("quarantine_reason"),
    )
    return ok, bad


def explode_lines(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    max_lines: int = MAX_DOC_LINES,
) -> DataFrame:
    """(doc_id, text) → one row per non-empty normalized line, keeping
    original order in ``line_no``. The explode is narrow (no shuffle);
    downstream windows shuffle once on the document id.

    Oversized documents (> ``max_lines`` raw lines) are withheld here —
    the per-doc windows downstream cannot bound their task skew; use
    :func:`split_oversized` first to capture them as quarantine rows
    instead of just omitting them."""
    return (
        docs.filter(F.size(F.split(F.col(text_col), "\n")) <= max_lines)
        .select(doc_id, F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "raw"))
        .withColumn("ln", normalize_space(F.col("raw")))
        .filter(F.col("ln") != "")
        .drop("raw")
    )


#: Group separator for single-pass regex extraction — a control char
#: that cannot survive ``normalize_space`` input text.
_SEP = "\x01"


def extract_all_groups(ln: Column, pattern: str, replacement: str) -> Column:
    """All capture groups of an anchored ``pattern`` in ONE regex
    execution: ``regexp_replace`` rewrites the line to a ``\\x01``-joined
    group template (e.g. ``"$1\\x01$2"``), then ``split``. Unmatched
    optional groups become ``''`` — same contract as ``regexp_extract``.
    ~N× cheaper than N per-group ``regexp_extract`` calls on the same
    pattern; callers must guard with the pattern's ``rlike``."""
    return F.split(F.regexp_replace(ln, pattern, replacement), _SEP, -1)


def group_template(*slots: int | None) -> str:
    """Build the ``extract_all_groups`` replacement: one ``$n`` per slot,
    ``None`` for a padding slot (aligns group positions across regex
    variants with different group counts)."""
    return _SEP.join("" if s is None else f"${s}" for s in slots)


def doc_window(doc_id: str = "doc_id"):
    return Window.partitionBy(doc_id).orderBy("line_no")


def running_last(col: Column, doc_id: str = "doc_id") -> Column:
    """W2 — last non-null of ``col`` down the document."""
    w = doc_window(doc_id).rowsBetween(Window.unboundedPreceding, 0)
    return F.last(col, ignorenulls=True).over(w)


def segment_id(is_boundary: Column, doc_id: str = "doc_id") -> Column:
    """Run-id trick: cumulative count of boundary lines — lines between
    two boundaries share the id of the boundary that opened them."""
    w = doc_window(doc_id).rowsBetween(Window.unboundedPreceding, 0)
    return F.sum(is_boundary.cast("int")).over(w)
