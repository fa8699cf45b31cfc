"""Oracle-checked round-trips for the distributed document parsers.

Strategy: render synthetic bank-document text deterministically FROM a
fixture table (pt-BR money via ``format_number``+``translate``,
SURVEY.md F18), feed it through the distributed parser
(``fintrack_etl_spark.parse``), and give DuckDB an oracle that computes
the *expected parse output* directly from the same fixture rows — so
the whole line-classify → forward-fill → regex-extract pipeline is
value-checked by the driver, not just unit-tested.

Reference parity targets: ``extractors/bb_statement.py:84-202``,
``bb_bill.py:169-229``, ``bradesco_bill.py:108-312``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import rules
from .parse import (
    parse_bb_bill,
    parse_bb_bill_resumo,
    parse_bb_statement,
    parse_bb_statement_header,
    parse_bradesco_bill,
    parse_bradesco_resumo,
)
from .queries import ORACLES, QUERIES, T, register


def _brl(col) -> F.Column:
    """F18 — ``1234.56 → '1.234,56'`` (``compare_budget.py:108-111``)."""
    return F.translate(F.format_number(col, 2), ",.", ".,")


def _doc_text(lines: DataFrame, doc_id: str, order: str, line: str, header: str | None = None):
    """Assemble per-doc text: order-stable array_sort over (order, line)
    structs then newline-join — deterministic under any partitioning."""
    body = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col(order), F.col(line)))),
            lambda s: s[line],
        ),
        "\n",
    )
    text = F.concat(F.lit(header + "\n"), body) if header else body
    return lines.groupBy(doc_id).agg(text.alias("text"))


# ---------------------------------------------------------------------------
# P-BB-STATEMENT — launch + continuation + group forward-fill round-trip
# ---------------------------------------------------------------------------


@register(
    "p1_bb_statement_roundtrip",
    """
    SELECT o_custkey % 500                                    AS doc_id,
           strftime(o_orderdate, '%d/%m/%Y')                 AS data,
           lpad(CAST(o_orderkey AS VARCHAR), 6, '0')         AS lote,
           CAST(NULL AS VARCHAR)                             AS documento,
           'Pix - Enviado'                                   AS grupo,
           o_orderpriority                                   AS historico,
           'REF ' || lpad(CAST(o_orderkey AS VARCHAR), 6, '0') || ' OK' AS complemento,
           o_orderpriority || ' | REF ' || lpad(CAST(o_orderkey AS VARCHAR), 6, '0') || ' OK'
                                                             AS historico_full,
           round(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice ELSE -o_totalprice END, 2)
                                                             AS valor,
           CASE WHEN o_orderkey % 2 = 0 THEN '+' ELSE '-' END AS sinal
    FROM orders
    """,
)
def p1_bb_statement_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render each order as a BB-statement launch line + a continuation
    line, parse the assembled documents back, compare field-for-field.
    Exercises LAUNCH_RE capture, lote-vs-documento optional groups,
    group-context forward-fill (W2), and continuation merge."""
    o = T(spark, sf_dir, "orders")
    lote = F.lpad(F.col("o_orderkey").cast("string"), 6, "0")
    sinal = F.when(F.col("o_orderkey") % 2 == 0, "+").otherwise("-")
    launch = F.concat_ws(
        " ",
        F.date_format("o_orderdate", "dd/MM/yyyy"),
        lote,
        F.col("o_orderpriority"),
        _brl(F.col("o_totalprice")),
        F.concat(F.lit("("), sinal, F.lit(")")),
    )
    cont = F.concat(F.lit("REF "), lote, F.lit(" OK"))
    chunks = o.select(
        (F.col("o_custkey") % 500).alias("doc_id"),
        F.col("o_orderkey").alias("ord"),
        F.concat_ws("\n", launch, cont).alias("chunk"),
    )
    docs = _doc_text(chunks, "doc_id", "ord", "chunk", header="Pix - Enviado").repartition(
        spark.sparkContext.defaultParallelism
    )  # regex probes >> I/O: fan the ~500 docs out of the AQE-coalesced agg
    parsed = parse_bb_statement(docs)
    return parsed.select(
        "doc_id",
        "data",
        "lote",
        "documento",
        "grupo",
        "historico",
        "complemento",
        "historico_full",
        F.round("valor", 2).alias("valor"),
        "sinal",
    )


# ---------------------------------------------------------------------------
# P-BB-BILL — card-context blocks + country variant + categorize round-trip
# ---------------------------------------------------------------------------

_BILL_DESC_SQL = """
    CASE CAST(p_partkey % 8 AS INT)
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


def _p2_oracle() -> str:
    cat = rules.categorize_sql_case(f"({_BILL_DESC_SQL})")
    return f"""
    SELECT p_partkey % 199                                  AS doc_id,
           CASE WHEN p_partkey % 2 = 0 THEN 'TITULAR ALFA' ELSE 'TITULAR BETA' END
                                                            AS titular_cartao,
           CASE WHEN p_partkey % 2 = 0 THEN '1111' ELSE '2222' END
                                                            AS final_cartao,
           lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') || '/' ||
           lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0') AS data,
           CASE WHEN p_partkey % 3 = 0 THEN 'BR' END         AS pais,
           ({_BILL_DESC_SQL})                                AS descricao,
           round(CASE WHEN p_partkey % 7 = 0 THEN -p_retailprice ELSE p_retailprice END, 2)
                                                             AS valor,
           {cat["categoria"]}                                AS categoria,
           {cat["subcategoria"]}                             AS subcategoria,
           {cat["recorrente_suspeita"]}                      AS recorrente_suspeita,
           {cat["parcelado_suspeito"]}                       AS parcelado_suspeito
    FROM part
    """


@register("p2_bb_bill_roundtrip", None)  # oracle attached below (computed)
def p2_bb_bill_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render parts as BB-bill transactions under two card-context
    blocks per document, parse back. Exercises CARD_RE forward-fill,
    the country/no-country regex precedence, negative values, and the
    full F12 categorize chain on the parsed descriptions."""
    p = T(spark, sf_dir, "part")
    h = F.col("p_partkey") % 2
    desc = F.expr(_BILL_DESC_SQL)
    data = F.concat_ws(
        "/",
        F.lpad((F.col("p_partkey") % 28 + 1).cast("string"), 2, "0"),
        F.lpad((F.col("p_partkey") % 12 + 1).cast("string"), 2, "0"),
    )
    signed = F.when(F.col("p_partkey") % 7 == 0, F.concat(F.lit("-"), _brl("p_retailprice"))).otherwise(
        _brl("p_retailprice")
    )
    pais_tok = F.when(F.col("p_partkey") % 3 == 0, F.lit("BR"))
    line = F.concat_ws(" ", data, desc, pais_tok, F.lit("R$"), signed)

    txn = p.select(
        (F.col("p_partkey") % 199).alias("doc_id"),
        (h * F.lit(1_000_000_000) + F.col("p_partkey")).alias("ord"),
        line.alias("ln"),
    )
    ctx = (
        p.select((F.col("p_partkey") % 199).alias("doc_id"), h.alias("h"))
        .distinct()
        .select(
            "doc_id",
            (F.col("h") * F.lit(1_000_000_000) - 1).alias("ord"),
            F.concat(
                F.when(F.col("h") == 0, "TITULAR ALFA").otherwise("TITULAR BETA"),
                F.lit(" (Cartão "),
                F.when(F.col("h") == 0, "1111").otherwise("2222"),
                F.lit(")"),
            ).alias("ln"),
        )
    )
    docs = _doc_text(txn.unionByName(ctx), "doc_id", "ord", "ln").repartition(
        spark.sparkContext.defaultParallelism
    )  # regex probes >> I/O
    parsed = parse_bb_bill(docs)
    return parsed.select(
        "doc_id",
        "titular_cartao",
        "final_cartao",
        "data",
        "pais",
        "descricao",
        F.round("valor", 2).alias("valor"),
        "categoria",
        "subcategoria",
        "recorrente_suspeita",
        "parcelado_suspeito",
    )


ORACLES["p2_bb_bill_roundtrip"] = _p2_oracle()


# ---------------------------------------------------------------------------
# P-BRADESCO — payments vs transactions + city split round-trip
# ---------------------------------------------------------------------------


@register(
    "p3_bradesco_roundtrip",
    """
    SELECT c_custkey % 25                                    AS doc_id,
           'NOME DOIS'                                       AS titular_cartao,
           lpad(CAST(c_custkey % 25 AS VARCHAR), 4, '0')     AS cartao_final,
           lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') || '/' ||
           lpad(CAST(c_custkey % 12 + 1 AS VARCHAR), 2, '0') AS data,
           CASE WHEN c_custkey % 5 = 0 THEN 'PAGTO. POR DEB EM C C'
                ELSE 'STORE' || CAST(c_custkey AS VARCHAR) END AS descricao,
           CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE 'SAO PAULO' END AS cidade,
           round(CASE WHEN c_custkey % 5 = 0 THEN abs(c_acctbal) ELSE c_acctbal END, 2)
                                                             AS valor,
           CASE WHEN c_custkey % 5 = 0 THEN 'pagamento'
                WHEN c_acctbal >= 0 THEN 'compra'
                ELSE 'ajuste' END                            AS tipo
    FROM customer
    """,
)
def p3_bradesco_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render customers as Bradesco bill lines — PAGTO payment rows for
    every 5th customer, generic transactions (3-token rest → 2-token
    city split) otherwise — under one holder-context line per document.
    Exercises PAY_RE vs TXN_RE precedence, is_ignored/sanitize
    pass-through, the desc/city greedy split, and signed values."""
    c = T(spark, sf_dir, "customer")
    doc = (F.col("c_custkey") % 25).alias("doc_id")
    data = F.concat_ws(
        "/",
        F.lpad((F.col("c_custkey") % 28 + 1).cast("string"), 2, "0"),
        F.lpad((F.col("c_custkey") % 12 + 1).cast("string"), 2, "0"),
    )
    is_pay = F.col("c_custkey") % 5 == 0
    signed = F.when(F.col("c_acctbal") < 0, F.concat(F.lit("-"), _brl(F.abs("c_acctbal")))).otherwise(
        _brl(F.col("c_acctbal"))
    )
    pay_line = F.concat_ws(" ", data, F.lit("PAGTO. POR DEB EM C C"), _brl(F.abs("c_acctbal")))
    txn_line = F.concat_ws(
        " ",
        data,
        F.concat(F.lit("STORE"), F.col("c_custkey").cast("string")),
        F.lit("SAO PAULO"),
        signed,
    )
    txn = c.select(
        doc,
        F.col("c_custkey").alias("ord"),
        F.when(is_pay, pay_line).otherwise(txn_line).alias("ln"),
    )
    ctx = (
        txn.select("doc_id")
        .distinct()
        .select(
            "doc_id",
            F.lit(-1).cast("long").alias("ord"),
            F.concat(
                F.lit("NOME DOIS Cartão 4066 XXXX XXXX "),
                F.lpad(F.col("doc_id").cast("string"), 4, "0"),
            ).alias("ln"),
        )
    )
    docs = _doc_text(txn.unionByName(ctx), "doc_id", "ord", "ln").repartition(
        spark.sparkContext.defaultParallelism
    )  # regex probes >> I/O
    parsed = parse_bradesco_bill(docs)
    return parsed.select(
        "doc_id",
        "titular_cartao",
        "cartao_final",
        "data",
        "descricao",
        "cidade",
        F.round("valor", 2).alias("valor"),
        "tipo",
    )


# ---------------------------------------------------------------------------
# P-RESUMO — document-level header extraction round-trips (F5/F6)
# ---------------------------------------------------------------------------

_MONTHS_ARR = (
    "JANEIRO,FEVEREIRO,MARCO,ABRIL,MAIO,JUNHO,JULHO,AGOSTO,"
    "SETEMBRO,OUTUBRO,NOVEMBRO,DEZEMBRO"
).split(",")


@register(
    "p4_bb_bill_resumo_roundtrip",
    f"""
    SELECT s_suppkey AS doc_id,
           CASE WHEN s_suppkey % 2 = 0 THEN 'FORNECEDOR ALFA' ELSE 'FORNECEDOR BETA' END AS titular,
           'AV CENTRAL ' || CAST(s_nationkey AS VARCHAR) || ', FORTALEZA CE - ' ||
               lpad(CAST(s_suppkey AS VARCHAR), 8, '0')            AS endereco,
           list_extract({_MONTHS_ARR!r}, CAST(s_suppkey % 12 AS INT) + 1) AS mes_referencia,
           lpad(CAST(s_suppkey % 28 + 1 AS VARCHAR), 2, '0') || '/05/2024' AS vencimento,
           round(abs(s_acctbal), 2)       AS valor_total,
           round(abs(s_acctbal) + 1, 2)   AS limite_unico,
           round(abs(s_acctbal) + 2, 2)   AS limite_utilizado,
           round(abs(s_acctbal) + 3, 2)   AS limite_disponivel,
           round(abs(s_acctbal) + 4, 2)   AS saldo_anterior,
           round(-abs(s_acctbal) - 5, 2)  AS pagamentos_creditos,
           round(abs(s_acctbal) + 6, 2)   AS compras_nacionais,
           round(abs(s_acctbal) + 7, 2)   AS compras_internacionais,
           round(abs(s_acctbal) + 8, 2)   AS tarifas_encargos_multas,
           round(abs(s_acctbal) + 9, 2)   AS saldo_parcelado_futuro,
           round(abs(s_acctbal) + 10, 2)  AS pagamento_minimo,
           lpad(CAST(s_suppkey % 28 + 1 AS VARCHAR), 2, '0') || '/04/2024' AS fatura_fechada_em,
           lpad(CAST(s_suppkey % 28 + 1 AS VARCHAR), 2, '0') || '/06/2024' AS fechamento_proxima_fatura,
           lpad(CAST(s_suppkey % 28 + 1 AS VARCHAR), 2, '0') || '/07/2024' AS melhor_data_compra
    FROM supplier
    """,
)
def p4_bb_bill_resumo_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render one FaturaResumo-bearing document per supplier, extract
    the 18 header fields back (find_first probes, ``bb_bill.py:95-166``)."""
    s = T(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    bal = F.abs(F.col("s_acctbal"))
    months = F.array(*[F.lit(m) for m in _MONTHS_ARR])
    dd = F.lpad((k % 28 + 1).cast("string"), 2, "0")
    text = F.concat_ws(
        "\n",
        F.concat(
            F.when(k % 2 == 0, F.lit("FORNECEDOR ALFA")).otherwise(F.lit("FORNECEDOR BETA")),
            F.lit(" RUA DAS FLORES 100"),
        ),
        F.concat(
            F.lit("AV CENTRAL "),
            F.col("s_nationkey").cast("string"),
            F.lit(", FORTALEZA CE - "),
            F.lpad(k.cast("string"), 8, "0"),
        ),
        F.concat(F.lit("Cartao fatura de "), F.element_at(months, (k % 12).cast("int") + 1)),
        F.concat(F.lit("Vencimento "), dd, F.lit("/05/2024")),
        F.concat(F.lit("Valor R$ "), _brl(bal)),
        F.concat(F.lit("Limite único R$ "), _brl(bal + 1)),
        F.concat(F.lit("Limite único utilizado R$ "), _brl(bal + 2)),
        F.concat(F.lit("Limite único disponível R$ "), _brl(bal + 3)),
        F.concat(F.lit("Saldo fatura anterior R$ "), _brl(bal + 4)),
        F.concat(F.lit("Pagamentos/Créditos R$ -"), _brl(bal + 5)),
        F.concat(F.lit("Compras nacionais R$ "), _brl(bal + 6)),
        F.concat(F.lit("Compras internacionais R$ "), _brl(bal + 7)),
        F.concat(F.lit("Tarifas, encargos e multas R$ "), _brl(bal + 8)),
        F.concat(F.lit("Saldo parcelado em faturas futuras R$ "), _brl(bal + 9)),
        F.concat(F.lit("Pagamento mínimo R$ "), _brl(bal + 10)),
        F.concat(F.lit("Fatura fechada em "), dd, F.lit("/04/2024")),
        F.concat(F.lit("Fechamento da próxima fatura "), dd, F.lit("/06/2024")),
        F.concat(F.lit("Melhor data de compra "), dd, F.lit("/07/2024")),
    )
    docs = s.select(k.alias("doc_id"), text.alias("text")).repartition(spark.sparkContext.defaultParallelism)  # regex probes >> I/O
    out = parse_bb_bill_resumo(docs)
    money = [
        "valor_total", "limite_unico", "limite_utilizado", "limite_disponivel",
        "saldo_anterior", "pagamentos_creditos", "compras_nacionais",
        "compras_internacionais", "tarifas_encargos_multas",
        "saldo_parcelado_futuro", "pagamento_minimo",
    ]
    return out.withColumns({c: F.round(c, 2) for c in money})


@register(
    "p5_bb_statement_header_roundtrip",
    """
    SELECT c_custkey                                   AS doc_id,
           'CLIENTE EXEMPLO'                           AS cliente,
           '01/' || lpad(CAST(c_custkey % 12 + 1 AS VARCHAR), 2, '0') || '/2025' AS periodo_inicio,
           lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') || '/' ||
               lpad(CAST(c_custkey % 12 + 1 AS VARCHAR), 2, '0') || '/2025'      AS periodo_fim,
           lpad(CAST(c_custkey % 9999 AS VARCHAR), 4, '0') || '-X'               AS agencia,
           lpad(CAST(c_custkey AS VARCHAR), 5, '0') || '-7'                      AS conta,
           '2025-' || lpad(CAST(c_custkey % 12 + 1 AS VARCHAR), 2, '0')          AS competencia
    FROM customer
    """,
)
def p5_bb_statement_header_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render one ExtratoHeader-bearing statement per customer and
    decompose ``Período: dd a dd/mm/yyyy`` back into
    inicio/fim/competência (``bb_statement.py:44-82``)."""
    c = T(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dd = F.lpad((k % 28 + 1).cast("string"), 2, "0")
    mm = F.lpad((k % 12 + 1).cast("string"), 2, "0")
    text = F.concat_ws(
        "\n",
        F.lit("Extrato de Conta Corrente"),
        F.lit("Cliente CLIENTE EXEMPLO"),
        F.concat(F.lit("Período: 01 a "), dd, F.lit("/"), mm, F.lit("/2025")),
        F.concat(
            F.lit("Agência: "),
            F.lpad((k % 9999).cast("string"), 4, "0"),
            F.lit("-X Conta: "),
            F.lpad(k.cast("string"), 5, "0"),
            F.lit("-7"),
        ),
    )
    docs = c.select(k.alias("doc_id"), text.alias("text")).repartition(spark.sparkContext.defaultParallelism)  # regex probes >> I/O
    return parse_bb_statement_header(docs)


@register(
    "p6_bradesco_resumo_roundtrip",
    """
    SELECT p_partkey AS doc_id,
           CASE WHEN p_partkey % 2 = 0 THEN 'NOME DA PESSOA UM' ELSE 'NOME DA PESSOA DOIS' END AS titular,
           'VISA ' || CASE CAST(p_partkey % 3 AS INT) WHEN 0 THEN 'INFINITE' WHEN 1 THEN 'GOLD' ELSE 'PLATINUM' END AS produto,
           round(p_retailprice, 2)                          AS total_fatura,
           lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') || '/12/2025' AS vencimento,
           lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') || '/01/2026' AS fechamento_proxima,
           round(p_retailprice + 1, 2)                      AS limite_compras,
           round(p_retailprice + 2, 2)                      AS limite_saque,
           round(p_retailprice + 3, 2)                      AS pagamento_minimo,
           round(p_retailprice + 4, 2)                      AS saldo_anterior,
           round(p_retailprice + 5, 2)                      AS creditos_pagamentos,
           round(p_retailprice + 6, 2)                      AS compras_debitos,
           round(p_retailprice + 7, 2)                      AS total_resumo
    FROM part
    """,
)
def p6_bradesco_resumo_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render one BradescoResumo-bearing bill per part; even keys carry
    the CENTRO titular block, odd keys exercise the card-block titular
    fallback (``bradesco_bill.py:58-104``)."""
    p = T(spark, sf_dir, "part")
    k = F.col("p_partkey")
    price = F.col("p_retailprice")
    dd = F.lpad((k % 28 + 1).cast("string"), 2, "0")
    produto = F.concat(
        F.lit("VISA "),
        F.when(k % 3 == 0, "INFINITE").when(k % 3 == 1, "GOLD").otherwise("PLATINUM"),
    )
    titular_block = F.when(
        k % 2 == 0, F.lit("NOME DA PESSOA UM\nCENTRO")
    ).otherwise(F.lit("NOME DA PESSOA DOIS Cartão 4066 XXXX XXXX 1111"))
    text = F.concat_ws(
        "\n",
        produto,
        F.lit("bla"),
        titular_block,
        F.concat(F.lit("Total da fatura ..... R$ "), _brl(price), F.lit(" "), dd, F.lit("/12/2025")),
        F.concat(F.lit("Previsão de fechamento da próxima fatura: "), dd, F.lit("/01/2026")),
        F.concat(
            F.lit("Limite de compras Limite de saque R$ "),
            _brl(price + 1),
            F.lit(" R$ "),
            _brl(price + 2),
        ),
        F.concat(F.lit("Pagamento mínimo R$ "), _brl(price + 3)),
        F.concat(F.lit("Saldo anterior ..... R$ "), _brl(price + 4)),
        F.concat(F.lit("(-) Créditos/Pagamentos ..... R$ "), _brl(price + 5)),
        F.concat(F.lit("(+) Compras/Débitos ..... R$ "), _brl(price + 6)),
        F.concat(F.lit("(=) Total ..... R$ "), _brl(price + 7)),
    )
    docs = p.select(k.alias("doc_id"), text.alias("text")).repartition(spark.sparkContext.defaultParallelism)  # regex probes >> I/O
    out = parse_bradesco_resumo(docs)
    money = [
        "total_fatura", "limite_compras", "limite_saque", "pagamento_minimo",
        "saldo_anterior", "creditos_pagamentos", "compras_debitos", "total_resumo",
    ]
    return out.withColumns({c: F.round(c, 2) for c in money})


# ---------------------------------------------------------------------------
# S1 — binary document scan → decode → text (the step before every parser)
# ---------------------------------------------------------------------------


@register(
    "p7_binary_pdf_scan",
    """
    SELECT doc_id,
           md5(text)                   AS fp,
           CAST(length(text) AS INT)   AS n_chars
    FROM documents
    """,
)
def p7_binary_pdf_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 binary path (``extractors/bb_statement.py:28-31``): documents
    are wrapped in the deterministic ``%FAKEPDF`` binary envelope (the
    codec-free fixture format), pushed through the real Arrow-batched
    ``binary_docs_to_text`` decode (``parse/pdf_source.py`` — the same
    mapInPandas pipeline a ``binaryFile`` scan of real PDFs feeds), and
    value-checked as a byte-exact round-trip: md5 + length of every
    decoded text must match the source table. The filesystem
    ``binaryFile`` scan itself is covered in tests/test_pdf_source.py
    (parquet fixtures can't carry loose files)."""
    from .parse.pdf_source import binary_docs_to_text, encode_fake_pdf

    docs = T(spark, sf_dir, "documents")
    binary = docs.select(
        F.format_string("/docs/%d.pdf", F.col("doc_id")).alias("path"),
        encode_fake_pdf(F.col("text")).alias("content"),
    )
    decoded = binary_docs_to_text(binary)
    return decoded.filter(F.col("decode_error").isNull()).select(
        F.regexp_extract("doc_path", r"/docs/(\d+)\.pdf", 1).cast("bigint").alias("doc_id"),
        F.md5(F.encode("text", "utf-8")).alias("fp"),
        F.length("text").alias("n_chars"),
    )


def _pdf_roundtrip(spark: SparkSession, sf_dir: str, build) -> DataFrame:
    """Shared p8/p9/p10 body: build each document's PDF bytes and decode
    them back in ONE ``map_rows`` pass (``build`` composed with
    ``pdf_source._extract_row`` — guide §4.1). Only (doc_id, text)
    enters Python and (doc_path, text, decode_error) leaves; the PDF
    payload never crosses back to the JVM. Both real codec steps run
    unchanged."""
    from .operators.rows import map_rows
    from .parse.pdf_source import EXTRACT_SCHEMA, _extract_row

    docs = T(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.rtrim(F.col("text"), F.lit("\n")) != "")
    )
    decoded = map_rows(
        # codec CPU >> I/O: fan the single-file scan out over every core
        docs.select("doc_id", "text").repartition(spark.sparkContext.defaultParallelism),
        lambda doc_id, text: _extract_row(f"/docs/{doc_id}.pdf", build(text)),
        EXTRACT_SCHEMA,
    )
    return decoded.filter(F.col("decode_error").isNull()).select(
        F.regexp_extract("doc_path", r"/docs/(\d+)\.pdf", 1).cast("bigint").alias("doc_id"),
        F.md5(F.encode("text", "utf-8")).alias("fp"),
        F.length("text").alias("n_chars"),
    )


@register(
    "p8_real_pdf_roundtrip",
    """
    SELECT doc_id,
           md5(rtrim(text, chr(10)))                 AS fp,
           CAST(length(rtrim(text, chr(10))) AS INT) AS n_chars
    FROM documents
    WHERE text IS NOT NULL AND rtrim(text, chr(10)) <> ''
    """,
)
def p8_real_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 with the REAL codec: every document is written as a genuine
    %PDF (``minipdf.build_pdf`` — Flate-compressed content stream,
    Tj/T* operators, UTF-16BE strings where needed) and decoded back
    through the same ``binary_docs_to_text`` mapInPandas pipeline,
    exercising ``minipdf.extract_pdf_text`` end to end. The oracle is a
    byte-exact md5 round-trip modulo trailing newlines (text extraction
    has no trailing-newline concept — pdfplumber behaves the same;
    reference: ``extractors/bb_statement.py:28-31``). Empty docs are
    excluded on both sides: a PDF with no text shown yields no text.

    Scale: encode and decode compose into ONE Arrow-batched ``map_rows``
    pass over whatever partitioning the scan produced — no shuffle, no
    collect; the PDF bytes never leave the Python worker (r11,
    ``_pdf_roundtrip``)."""
    from .parse.minipdf import build_pdf

    return _pdf_roundtrip(spark, sf_dir, build_pdf)


@register(
    "p9_cid_pdf_roundtrip",
    """
    SELECT doc_id,
           md5(rtrim(text, chr(10)))                 AS fp,
           CAST(length(rtrim(text, chr(10))) AS INT) AS n_chars
    FROM documents
    WHERE text IS NOT NULL AND rtrim(text, chr(10)) <> ''
    """,
)
def p9_cid_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p8's round-trip discipline over MODERN PDF structures (VERDICT
    r3 next-round #3): every document is written by
    ``minipdf.build_pdf_cid`` — a Type0/Identity-H composite font whose
    content stream shows 2-byte CIDs assigned by order of first
    appearance (unreadable without the font's ToUnicode CMap), the
    page tree compressed into an /ObjStm, and an xref STREAM
    (FlateDecode + PNG Up predictor) as the only cross-reference — and
    decoded back through the same distributed ``binary_docs_to_text``
    pipeline. A byte-exact md5 match therefore proves the xref-stream
    parser, ObjStm expansion, font-table resolution, and CMap decode
    end to end (ref first-touch: ``extractors/bb_statement.py:28-31``;
    real bank PDFs ship exactly these structures).

    Scale: identical to p8 — one fused Arrow-batched ``map_rows`` pass,
    no shuffle, payload never leaves the worker (r11,
    ``_pdf_roundtrip``)."""
    from .parse.minipdf import build_pdf_cid

    return _pdf_roundtrip(spark, sf_dir, build_pdf_cid)


@register(
    "p10_encrypted_pdf_roundtrip",
    """
    SELECT doc_id,
           md5(rtrim(text, chr(10)))                 AS fp,
           CAST(length(rtrim(text, chr(10))) AS INT) AS n_chars
    FROM documents
    WHERE text IS NOT NULL AND rtrim(text, chr(10)) <> ''
    """,
)
def p10_encrypted_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p8's round-trip over RC4-ENCRYPTED PDFs (standard security
    handler, empty user password — how banks ship "protected"
    statements): every document is written by
    ``minipdf.build_pdf_encrypted`` (R3/128-bit: Algorithm 3 /O,
    Algorithm 5 /U, per-object Algorithm 1 stream encryption after
    deflate) and decoded back through the distributed pipeline, which
    must derive the file key from the EMPTY user password, verify /U,
    and decrypt before inflating. A byte-exact md5 match proves the
    whole §7.6.3 path; a key-derivation or RC4 bug yields zlib garbage
    and a decode_error, failing the row count.

    Scale: identical to p8/p9 — one fused Arrow-batched ``map_rows``
    pass, no shuffle, payload never leaves the worker (r11,
    ``_pdf_roundtrip``)."""
    from .parse.minipdf import build_pdf_encrypted

    return _pdf_roundtrip(spark, sf_dir, build_pdf_encrypted)


def _p11_oracle() -> str:
    cat = rules.categorize_sql_case(f"({_BILL_DESC_SQL})")
    return f"""
    WITH parsed AS (
        SELECT p_partkey % 199                              AS doc_id,
               ({_BILL_DESC_SQL})                           AS descricao,
               round(CASE WHEN p_partkey % 7 = 0 THEN -p_retailprice
                          ELSE p_retailprice END, 2)        AS valor,
               {cat["categoria"]}                           AS categoria,
               {cat["subcategoria"]}                        AS subcategoria,
               {cat["parcelado_suspeito"]}                  AS parcelado_suspeito
        FROM part
    )
    SELECT categoria, subcategoria,
           CAST(count(*) AS BIGINT)                                   AS n_txn,
           CAST(count(DISTINCT doc_id) AS BIGINT)                     AS n_docs,
           CAST(sum(CAST(round(valor * 100) AS BIGINT)) AS BIGINT)    AS total_cents,
           CAST(sum(CASE WHEN parcelado_suspeito THEN 1 ELSE 0 END) AS BIGINT)
                                                                      AS n_parcelado
    FROM parsed
    GROUP BY categoria, subcategoria
    """


@register("p11_bank_pipeline_e2e", None)  # oracle attached below (computed)
def p11_bank_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL document lifecycle in one plan — the
    ``bank_lnd_raw_finantial_files_load`` shape
    (``etls_raw/main.py:352-424``): binary file scan → RC4 decrypt +
    text extraction → dialect parse → rule categorization → the
    end-user category report.

    Concretely: each document's BB-bill text (p2's render) is sealed
    into a REAL encrypted PDF container (``minipdf.build_pdf_encrypted``
    — R3/128-bit standard security handler, the format banks ship), the
    distributed ``binary_docs_to_text`` pipeline derives the file key,
    decrypts, inflates and extracts the text, ``parse_bb_bill`` turns
    lines into transactions with card-context forward-fill, the F12
    when-chain categorizes, and the report aggregates per (categoria,
    subcategoria) in integer cents. The oracle computes the expected
    report STRAIGHT from the fixture table — any failure anywhere in
    the five-stage chain (key derivation, CMap, regex, forward-fill,
    rule order, money parse) lands in a wrong count or cent sum.

    Scale: the two codec passes are Arrow-batched ``map_rows`` with a
    repartition fan-out (payload dropped at decode); the decoded text
    crosses one exchange that the parser's branches share, so the codec
    runs once per document; parse and categorize are native column
    expressions; the report is a |categories|-row final groupBy."""
    from pyspark.sql import types as TT

    from .operators.rows import map_rows
    from .parse.minipdf import build_pdf_encrypted
    from .parse.pdf_source import binary_docs_to_text

    # --- stage 1: render the bill text per document (p2's fixtures)
    p = T(spark, sf_dir, "part")
    h = F.col("p_partkey") % 2
    desc = F.expr(_BILL_DESC_SQL)
    data = F.concat_ws(
        "/",
        F.lpad((F.col("p_partkey") % 28 + 1).cast("string"), 2, "0"),
        F.lpad((F.col("p_partkey") % 12 + 1).cast("string"), 2, "0"),
    )
    signed = F.when(
        F.col("p_partkey") % 7 == 0, F.concat(F.lit("-"), _brl("p_retailprice"))
    ).otherwise(_brl("p_retailprice"))
    pais_tok = F.when(F.col("p_partkey") % 3 == 0, F.lit("BR"))
    line = F.concat_ws(" ", data, desc, pais_tok, F.lit("R$"), signed)
    txn = p.select(
        (F.col("p_partkey") % 199).alias("doc_id"),
        (h * F.lit(1_000_000_000) + F.col("p_partkey")).alias("ord"),
        line.alias("ln"),
    )
    ctx = (
        p.select((F.col("p_partkey") % 199).alias("doc_id"), h.alias("h"))
        .distinct()
        .select(
            "doc_id",
            (F.col("h") * F.lit(1_000_000_000) - 1).alias("ord"),
            F.concat(
                F.when(F.col("h") == 0, "TITULAR ALFA").otherwise("TITULAR BETA"),
                F.lit(" (Cartão "),
                F.when(F.col("h") == 0, "1111").otherwise("2222"),
                F.lit(")"),
            ).alias("ln"),
        )
    )
    docs = _doc_text(txn.unionByName(ctx), "doc_id", "ord", "ln").repartition(
        spark.sparkContext.defaultParallelism
    )

    # --- stage 2: seal into encrypted PDF containers
    binary = map_rows(
        docs.select("doc_id", "text"),
        lambda doc_id, text: [(f"/bank/{doc_id}.pdf", build_pdf_encrypted(text))],
        TT.StructType(
            [
                TT.StructField("path", TT.StringType(), False),
                TT.StructField("content", TT.BinaryType(), False),
            ]
        ),
    )

    # --- stage 3: distributed decrypt + extract
    decoded = binary_docs_to_text(binary).filter(F.col("decode_error").isNull())
    redocs = decoded.select(
        F.regexp_extract("doc_path", r"/bank/(\d+)\.pdf", 1)
        .cast("bigint")
        .alias("doc_id"),
        "text",
    )

    # --- stages 4+5: parse, categorize (inside parse_bb_bill), report
    parsed = parse_bb_bill(redocs)
    return (
        parsed.groupBy("categoria", "subcategoria")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_txn"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.sum(F.expr("CAST(round(valor * 100) AS BIGINT)"))
            .cast("long")
            .alias("total_cents"),
            F.sum(F.when(F.col("parcelado_suspeito"), 1).otherwise(0))
            .cast("long")
            .alias("n_parcelado"),
        )
    )


ORACLES["p11_bank_pipeline_e2e"] = _p11_oracle()
