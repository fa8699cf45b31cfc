"""Document-level summary ("resumo"/header) extraction, distributed.

The reference builds one dataclass per document with ~30 ordered
``find_first`` regex probes over the full PDF text
(``bb_bill.py:95-166`` FaturaResumo, ``bb_statement.py:44-82``
ExtratoHeader, ``bradesco_bill.py:58-104`` BradescoResumo). Here each
probe is an F5/F6 ``regexp_extract`` Column over the raw ``text``
(``functions.find_first`` / ``find_date_after_keyword``) —
one narrow projection per document row, no explode, no shuffle, fully
codegen'd.

Reference ``find_first`` defaults to IGNORECASE|MULTILINE
(``bb_bill.py:43-45``), so probes embed ``(?im)`` unless the reference
overrides flags (DOTALL probes embed ``(?is)``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import brl_to_double, find_date_after_keyword, find_first, normalize_space

MONTHS = "JANEIRO|FEVEREIRO|MARÇO|MARCO|ABRIL|MAIO|JUNHO|JULHO|AGOSTO|SETEMBRO|OUTUBRO|NOVEMBRO|DEZEMBRO"


def _money(c: Column, pattern: str, flags: str = "im") -> Column:
    return brl_to_double(find_first(c, pattern, flags))


def parse_bb_bill_resumo(docs: DataFrame, doc_id: str = "doc_id", text_col: str = "text") -> DataFrame:
    """FaturaResumo (``bb_bill.py:95-166``) — one row per document."""
    t = F.col(text_col)
    mes = find_first(t, r"fatura de\s+([A-ZÀ-ÿa-z]+)")
    mes = F.when(F.upper(mes) == "OUROCARD", find_first(t, rf"\b({MONTHS})\b", "i")).otherwise(mes)
    vencimento = F.coalesce(
        find_first(t, r"Vencimento\s*(\d{2}/\d{2}/\d{4})"),
        find_first(t, r"Vencimento\s*\n\s*(\d{2}/\d{2}/\d{4})"),
        find_date_after_keyword(t, "Vencimento", window=250),
    )
    valor_total = F.coalesce(
        _money(t, r"\bValor\b\s*R\$\s*([\d\.\,]+)"),
        _money(t, r"\bValor\b\s*\n\s*R\$\s*([\d\.\,]+)"),
        _money(t, r"\bTotal\b\s*R\$\s*([\d\.\,]+)"),
        _money(t, r"\bTotal da Fatura\b\s*R\$\s*([\d\.\,]+)"),
    )
    pagamento_minimo = F.coalesce(
        _money(t, r"Pagamento mínimo\s*R\$\s*([\d\.\,]+)"),
        _money(t, r"Pagamento mínimo\s*\n\s*R\$\s*([\d\.\,]+)"),
        _money(t, r"\bvalor mínimo\b.*?R\$\s*([\d\.\,]+)", "is"),
    )
    return docs.select(
        doc_id,
        normalize_space(find_first(t, r"^([A-Za-zÀ-ÿ ]+)\s+RUA")).alias("titular"),
        normalize_space(find_first(t, r"^.*?\n([A-Z0-9À-ÿ ,\-]+CE\s*-\s*\d{8})")).alias("endereco"),
        mes.alias("mes_referencia"),
        vencimento.alias("vencimento"),
        valor_total.alias("valor_total"),
        _money(t, r"Limite único\s+R\$\s*([\d\.\,]+)").alias("limite_unico"),
        _money(t, r"Limite único utilizado\s+R\$\s*([\d\.\,]+)").alias("limite_utilizado"),
        _money(t, r"Limite único disponível\s+R\$\s*([\d\.\,]+)").alias("limite_disponivel"),
        _money(t, r"Saldo fatura anterior\s+R\$\s*([\d\.\,]+)").alias("saldo_anterior"),
        _money(t, r"Pagamentos/Créditos\s+R\$\s*([-\d\.\,]+)").alias("pagamentos_creditos"),
        _money(t, r"Compras nacionais\s+R\$\s*([\d\.\,]+)").alias("compras_nacionais"),
        _money(t, r"Compras internacionais\s+R\$\s*([\d\.\,]+)").alias("compras_internacionais"),
        _money(t, r"Tarifas, encargos e multas\s+R\$\s*([\d\.\,]+)").alias("tarifas_encargos_multas"),
        _money(t, r"Saldo parcelado em faturas\s+futuras\s+R\$\s*([\d\.\,]+)").alias(
            "saldo_parcelado_futuro"
        ),
        pagamento_minimo.alias("pagamento_minimo"),
        find_first(t, r"Fatura fechada em\s+(\d{2}/\d{2}/\d{4})").alias("fatura_fechada_em"),
        find_first(t, r"Fechamento da próxima fatura\s+(\d{2}/\d{2}/\d{4})").alias(
            "fechamento_proxima_fatura"
        ),
        find_first(t, r"Melhor data de compra\s+(\d{2}/\d{2}/\d{4})").alias("melhor_data_compra"),
    )


def parse_bb_statement_header(
    docs: DataFrame, doc_id: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """ExtratoHeader (``bb_statement.py:44-82``) — periodo decomposed
    into inicio/fim/competência from one ``Período: dd a dd/mm/yyyy``
    probe."""
    t = F.col(text_col)
    per = r"Período:\s*(\d{2})\s*a\s*(\d{2})/(\d{2})/(\d{4})"
    d_ini = find_first(t, per, "i", 1)
    d_fim = find_first(t, per, "i", 2)
    mm = find_first(t, per, "i", 3)
    yyyy = find_first(t, per, "i", 4)
    return docs.select(
        doc_id,
        normalize_space(find_first(t, r"Cliente\s+([A-ZÀ-ÿ ]+)", "i")).alias("cliente"),
        F.when(mm.isNotNull(), F.concat_ws("/", d_ini, mm, yyyy)).alias("periodo_inicio"),
        F.when(mm.isNotNull(), F.concat_ws("/", d_fim, mm, yyyy)).alias("periodo_fim"),
        normalize_space(find_first(t, r"Agência:\s*([0-9A-Z\-]+)", "i")).alias("agencia"),
        normalize_space(find_first(t, r"Conta:\s*([0-9A-Z\-]+)", "i")).alias("conta"),
        F.when(mm.isNotNull(), F.concat_ws("-", yyyy, mm)).alias("competencia"),
    )


def parse_bradesco_resumo(
    docs: DataFrame, doc_id: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """BradescoResumo (``bradesco_bill.py:58-104``) — one row per doc;
    titular falls back to the first card-block holder."""
    t = F.col(text_col)
    titular = F.coalesce(
        find_first(t, r"\n([A-ZÀ-Ÿ ]{8,})\n\s*CENTRO\b"),
        find_first(t, r"\n([A-ZÀ-Ÿ ]{8,})\s+Cart[aã]o\s+\d{4}\s+X{4}\s+X{4}\s+\d{4}\b"),
    )
    limites = r"Limite de compras\s+Limite de saque\s+R\$\s*([\d\.\,]+)\s+R\$\s*([\d\.\,]+)"
    return docs.select(
        doc_id,
        normalize_space(titular).alias("titular"),
        normalize_space(find_first(t, r"^\s*(VISA.*)$")).alias("produto"),
        _money(t, r"Total da fatura.*?R\$\s*([\d\.\,]+)", "is").alias("total_fatura"),
        find_first(t, r"Total da fatura.*?(\d{2}/\d{2}/\d{4})", "is").alias("vencimento"),
        find_first(t, r"Previsão de fechamento da próxima fatura:\s*(\d{2}/\d{2}/\d{4})").alias(
            "fechamento_proxima"
        ),
        brl_to_double(find_first(t, limites, "is", 1)).alias("limite_compras"),
        brl_to_double(find_first(t, limites, "is", 2)).alias("limite_saque"),
        _money(t, r"Pagamento mínimo\s*R\$\s*([\d\.\,]+)", "is").alias("pagamento_minimo"),
        _money(t, r"Saldo anterior.*?R\$\s*([\d\.\,]+)", "is").alias("saldo_anterior"),
        _money(t, r"\(\-\)\s*Créditos/Pagamentos.*?R\$\s*([\d\.\,]+)", "is").alias(
            "creditos_pagamentos"
        ),
        _money(t, r"\(\+\)\s*Compras/Débitos.*?R\$\s*([\d\.\,]+)", "is").alias("compras_debitos"),
        _money(t, r"\(=\)\s*Total.*?R\$\s*([\d\.\,]+)", "is").alias("total_resumo"),
    )
