"""Oracle-checked report queries — the reference's end-user outputs.

``monthly_summary.py`` reports 1-5 and ``compare_budget.py`` run over
a lançamentos dataset derived deterministically from ``orders``
(synthetic merchant descriptions → F12 categorize), so DuckDB can
compute every expected report from the same fixture rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import reports, rules
from .forms import normalize_forms
from .operators.memo import fixture_key, memoized
from .queries import ORACLES, QUERIES, T, register


# ---------------------------------------------------------------------------
# Shared lançamentos fixture (Spark + DuckDB twins)
# ---------------------------------------------------------------------------

_DESC_SQL = """
    CASE CAST(o_orderkey % 8 AS INT)
        WHEN 0 THEN 'POSTO IPIRANGA LTDA'
        WHEN 1 THEN 'SUPERMERCADO BOM PRECO'
        WHEN 2 THEN 'NETFLIX.COM MENSAL'
        WHEN 3 THEN 'LOJA DAS FABRICAS PARC 02/04'
        WHEN 4 THEN 'PAGTO DEBITO AUTOMATICO'
        WHEN 5 THEN 'BOUTIQUE CHIC FORTALEZA'
        WHEN 6 THEN 'UBER TRIP 123'
        ELSE 'XYZ DESCONHECIDO'
    END
"""


def _lancamentos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → lançamentos shape: data/descricao/valor + F12 fields +
    a unique ``lanc_id`` tie-break key.

    Categorization goes through :func:`rules.categorize_dictionary`:
    the ~25-rule regex chain runs on the DISTINCT descriptions only
    and broadcast-joins back, so no report's fact path carries a
    regex. The same dictionary shape is what a 100 TB pipeline needs
    anyway — regex once per merchant, zero shuffle on the fact side.

    Every report query shares one build per (session, orders fixture)
    in the "lanc" memo site: its plan is built and its
    lazy-localCheckpoint'ed RDD materializes once per session, not once
    per report. At sf0.1 (4 vCPUs, warm session) a miss costs
    r1_monthly_by_category 1.2-1.7 s of build + noop write against
    0.7-1.0 s on a hit.
    """

    def build() -> DataFrame:
        o = T(spark, sf_dir, "orders").repartition(spark.sparkContext.defaultParallelism)
        desc = F.expr(_DESC_SQL)
        signed = F.when(F.col("o_orderkey") % 2 == 0, F.col("o_totalprice")).otherwise(
            -F.col("o_totalprice")
        )
        base = o.select(
            F.col("o_orderkey").alias("lanc_id"),
            F.date_format("o_orderdate", "dd/MM/yyyy").alias("data"),
            desc.alias("descricao"),
            F.round(signed, 2).alias("valor"),
        )
        return rules.categorize_dictionary(base, "descricao").select(
            "lanc_id",
            "data",
            "descricao",
            "valor",
            "categoria",
            "subcategoria",
            "recorrente_suspeita",
            "parcelado_suspeito",
        )

    return memoized("lanc", fixture_key(spark, sf_dir, "orders"), build)


def _lanc_cte() -> str:
    cat = rules.categorize_sql_case(f"({_DESC_SQL})")
    return f"""
    lanc AS (
        SELECT o_orderkey                                   AS lanc_id,
               strftime(o_orderdate, '%d/%m/%Y')            AS data,
               ({_DESC_SQL})                                AS descricao,
               round(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice
                          ELSE -o_totalprice END, 2)        AS valor,
               {cat["categoria"]}                           AS categoria,
               {cat["subcategoria"]}                        AS subcategoria,
               {cat["recorrente_suspeita"]}                 AS recorrente_suspeita,
               {cat["parcelado_suspeito"]}                  AS parcelado_suspeito
        FROM orders
    )
    """


# ---------------------------------------------------------------------------
# Reports 1-5 (monthly_summary.py)
# ---------------------------------------------------------------------------


@register("r1_monthly_by_category", None)
def r1_monthly_by_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report 1 — totals per categoria (``monthly_summary.py:32-38``)."""
    return reports.monthly_by_category(reports.normalize_lancamentos(_lancamentos(spark, sf_dir)))


ORACLES["r1_monthly_by_category"] = f"""
    WITH {_lanc_cte()}
    SELECT categoria, round(sum(valor), 2) AS total
    FROM lanc GROUP BY categoria
    """


@register("r2_by_category_parcelado", None)
def r2_by_category_parcelado(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report 2 — totals per (categoria, parcelado_suspeito)."""
    return reports.by_category_parcelado(reports.normalize_lancamentos(_lancamentos(spark, sf_dir)))


ORACLES["r2_by_category_parcelado"] = f"""
    WITH {_lanc_cte()}
    SELECT categoria, parcelado_suspeito, round(sum(valor), 2) AS total
    FROM lanc GROUP BY 1, 2
    """


@register("r3_recorrentes", None)
def r3_recorrentes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report 3 — recurring-suspect totals per categoria."""
    return reports.recorrentes_by_category(
        reports.normalize_lancamentos(_lancamentos(spark, sf_dir))
    )


ORACLES["r3_recorrentes"] = f"""
    WITH {_lanc_cte()}
    SELECT categoria, round(sum(valor), 2) AS total_recorrente_suspeito
    FROM lanc WHERE recorrente_suspeita GROUP BY categoria
    """


@register("r4_top_gastos", None)
def r4_top_gastos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report 4 — top-15 by abs(valor), lanc_id tie-break."""
    return reports.top_gastos(reports.normalize_lancamentos(_lancamentos(spark, sf_dir)))


ORACLES["r4_top_gastos"] = f"""
    WITH {_lanc_cte()}
    SELECT lanc_id, data, descricao, categoria, subcategoria, valor
    FROM lanc ORDER BY abs(valor) DESC, lanc_id LIMIT 15
    """


@register("r5_top_parcelados", None)
def r5_top_parcelados(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Report 5 — top-15 installment suspects by abs(valor)."""
    return reports.top_parcelados(reports.normalize_lancamentos(_lancamentos(spark, sf_dir)))


ORACLES["r5_top_parcelados"] = f"""
    WITH {_lanc_cte()}
    SELECT lanc_id, data, descricao, categoria, subcategoria, valor
    FROM lanc WHERE parcelado_suspeito
    ORDER BY abs(valor) DESC, lanc_id LIMIT 15
    """


# ---------------------------------------------------------------------------
# compare_budget.py end-to-end
# ---------------------------------------------------------------------------

_BUDGET_ROWS = [
    ("Transporte", 250_000.0),
    ("Mercado", 3_000_000.0),
    ("Assinaturas", 150_000.0),
    ("Compras", 2_000_000.0),
    ("Viagem", 80_000.0),  # budget-only category → realizado 0
]


@register("r6_compare_budget", None)
def r6_compare_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``compare_budget.py:47-93`` — actuals per categoria (excluding
    'Financeiro'), broadcast full-outer vs budget, overrun analytics."""
    lanc = reports.normalize_lancamentos(_lancamentos(spark, sf_dir))
    from .io import local_rows

    budget = local_rows(spark, _BUDGET_ROWS, "categoria string, orcado double")
    return reports.compare_budget(lanc, budget)


def _budget_values_sql() -> str:
    rows = ", ".join(f"('{c}', {v})" for c, v in _BUDGET_ROWS)
    return f"(VALUES {rows}) AS b(categoria, orcado)"


ORACLES["r6_compare_budget"] = f"""
    WITH {_lanc_cte()},
    realizado AS (
        -- exact integer cents throughout (mirrors budget_vs_actual):
        -- round(sum) only recovers the cent grid, never decides a tie
        SELECT categoria,
               CAST(round(round(sum(valor), 2) * 100) AS BIGINT) AS rc
        FROM lanc WHERE categoria <> 'Financeiro' GROUP BY categoria
    ),
    joined AS (
        SELECT coalesce(b.categoria, r.categoria)             AS categoria,
               CAST(round(coalesce(b.orcado, 0.0) * 100) AS BIGINT) AS oc,
               coalesce(r.rc, 0)                              AS rc,
               b.orcado IS NULL                               AS sem_orcamento
        FROM {_budget_values_sql()}
        FULL OUTER JOIN realizado r ON b.categoria = r.categoria
    )
    SELECT categoria,
           CAST(oc AS DOUBLE) / 100.0       AS orcado,
           CAST(rc AS DOUBLE) / 100.0       AS realizado,
           sem_orcamento,
           CAST(rc - oc AS DOUBLE) / 100.0  AS diferenca,
           CASE WHEN rc - oc <= 0 THEN 'OK' ELSE 'ESTOURO' END AS status,
           CASE WHEN oc > 0
                THEN floor(CAST((rc - oc) * 10000 AS DOUBLE) / oc) / 100.0
           END AS pct_esto,
           greatest(CAST(rc - oc AS DOUBLE) / 100.0, 0.0) AS esto_abs
    FROM joined
    """


# ---------------------------------------------------------------------------
# Forms normalization (forms_main.py:207-276)
# ---------------------------------------------------------------------------


@register(
    "r7_forms_normalize",
    """
    SELECT CAST(NULL AS VARCHAR)  AS "carimbo de data/hora",
           c_name                 AS "lançamento feito por:",
           CAST(NULL AS VARCHAR)  AS "data do pagamento",
           CAST(NULL AS VARCHAR)  AS "vencimento",
           'DESP ' || CAST(c_custkey AS VARCHAR) AS "descricao",
           round(c_acctbal, 2)    AS "valor",
           CAST(NULL AS VARCHAR)  AS "tipo_de_custo",
           c_mktsegment           AS "categoria",
           'acme'                 AS "client_slug"
    FROM customer
    """,
)
def r7_forms_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forms header normalization round-trip: messy Google-Forms
    headers (embedded newlines) → canonical RAW layout with
    NULL-backfilled missing columns and BRL-parsed valor."""
    from .functions import brl_format

    c = T(spark, sf_dir, "customer")
    messy = c.select(
        F.col("c_name").alias("LANÇAMENTO FEITO POR:"),
        F.concat(F.lit("DESP "), F.col("c_custkey").cast("string")).alias("DESCRIÇÃO"),
        brl_format("c_acctbal").alias("Valor:\nExemplo: R$40,00"),
        F.col("c_mktsegment").alias("CATEGORIA"),
    )
    out = normalize_forms(messy, "acme")
    return out.withColumn("valor", F.round("valor", 2))


@register("r8_payments_report", None)
def r8_payments_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — ``check_bradesco_payments.py:7-13``: case-insensitive
    substring predicate ('PAGTO') + sort by valor. The filter is a
    native contains over upper() — pushable, codegen'd."""
    lanc = reports.normalize_lancamentos(_lancamentos(spark, sf_dir))
    return (
        lanc.filter(F.upper(F.col("descricao")).contains("PAGTO"))
        .select("lanc_id", "data", "descricao", "categoria", "valor")
        .orderBy("valor", "lanc_id")
    )


ORACLES["r8_payments_report"] = f"""
    WITH {_lanc_cte()}
    SELECT lanc_id, data, descricao, categoria, valor
    FROM lanc WHERE upper(descricao) LIKE '%PAGTO%'
    """
