"""Reporting chain — the reference's end-user queries.

``scripts/jobs/monthly_summary.py`` (5 reports over the lançamentos
dataset) and ``scripts/jobs/compare_budget.py`` (budget vs actual),
re-expressed as composable DataFrame→DataFrame functions. The
reference runs these in driver pandas over a collected CSV — here each
is one distributed plan: a single scan feeding a map-side partial
aggregate, shuffling only on the (low-cardinality) category keys, so
the same code runs on 60k rows or 100 TB.

Every top-N carries an explicit unique tie-break key (SURVEY.md §7
risk register — the reference's ``sort_values().head(n)`` is
tie-ambiguous; we make it deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.joins import budget_vs_actual


def normalize_lancamentos(df: DataFrame) -> DataFrame:
    """``monthly_summary.py:27-29`` — coerce valor (NULL→0.0), default
    the suspicion flags to False."""
    return df.withColumns(
        {
            "valor": F.coalesce(F.col("valor").try_cast("double"), F.lit(0.0)),
            "parcelado_suspeito": F.coalesce("parcelado_suspeito", F.lit(False)),
            "recorrente_suspeita": F.coalesce("recorrente_suspeita", F.lit(False)),
        }
    )


def monthly_by_category(df: DataFrame) -> DataFrame:
    """Report 1 (``monthly_summary.py:32-38``) — totals per categoria,
    descending."""
    return (
        df.groupBy("categoria")
        .agg(F.round(F.sum("valor"), 2).alias("total"))
        .orderBy(F.desc("total"), "categoria")
    )


def by_category_parcelado(df: DataFrame) -> DataFrame:
    """Report 2 (``monthly_summary.py:42-48``) — totals per
    (categoria, parcelado_suspeito), categoria asc / flag desc."""
    return (
        df.groupBy("categoria", "parcelado_suspeito")
        .agg(F.round(F.sum("valor"), 2).alias("total"))
        .orderBy("categoria", F.desc("parcelado_suspeito"))
    )


def recorrentes_by_category(df: DataFrame) -> DataFrame:
    """Report 3 (``monthly_summary.py:51-60``) — recurring-suspect
    totals per categoria."""
    return (
        df.filter(F.col("recorrente_suspeita"))
        .groupBy("categoria")
        .agg(F.round(F.sum("valor"), 2).alias("total_recorrente_suspeito"))
        .orderBy(F.desc("total_recorrente_suspeito"), "categoria")
    )


_TOP_COLS = ["lanc_id", "data", "descricao", "categoria", "subcategoria", "valor"]


def top_gastos(df: DataFrame, n: int = 15) -> DataFrame:
    """Report 4 (``monthly_summary.py:62-67``) — top-N by ``abs(valor)``,
    ``lanc_id`` tie-break. TakeOrderedAndProject: no global sort
    materialization, each partition ships only its local top-N."""
    return (
        df.withColumn("valor_abs", F.abs("valor"))
        .orderBy(F.desc("valor_abs"), "lanc_id")
        .limit(n)
        .select(*_TOP_COLS)
    )


def top_parcelados(df: DataFrame, n: int = 15) -> DataFrame:
    """Report 5 (``monthly_summary.py:70-73``) — top-N installment
    suspects, same order as :func:`top_gastos`."""
    return top_gastos(df.filter(F.col("parcelado_suspeito")), n)


def compare_budget(
    actuals: DataFrame,
    budget: DataFrame,
    exclude_categories: tuple[str, ...] = ("Financeiro",),
) -> DataFrame:
    """``compare_budget.py:47-93`` end-to-end — aggregate actuals per
    categoria (excluding the exclusion list), full-outer join the
    budget (broadcast — budgets are tiny), derive
    diferenca/status/pct_esto/sem_orcamento, sort by overrun."""
    realizado = (
        actuals.filter(~F.col("categoria").isin(*exclude_categories))
        .groupBy("categoria")
        .agg(F.round(F.sum("valor"), 2).alias("realizado"))
    )
    out = budget_vs_actual(budget, realizado)
    return out.withColumn("esto_abs", F.greatest("diferenca", F.lit(0.0))).orderBy(
        F.desc("esto_abs"), F.desc("realizado"), "categoria"
    )
