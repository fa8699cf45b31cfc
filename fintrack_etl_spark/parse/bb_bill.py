"""BB credit-card bill parser, distributed.

Reference semantics (``extractors/bb_bill.py:169-229``):

* ``... (Cartão NNNN)`` lines set the (holder, card) context;
* transactions are ``dd/MM desc [XX] R$ [-]valor`` (optional 2-letter
  country);
* every parsed row is enriched by the category rule engine (F12).

Re-expression: one regex dispatch + two forward-fills + the compiled
``with_categories`` rule chain. No state, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import brl_to_double, normalize_space
from ..rules import DEFAULT_RULES, with_categories
from .lines import explode_lines, extract_all_groups, group_template, running_last

#: ``bb_bill.py:172`` (case-insensitive)
CARD_RE = r"(?i)^(.*)\s+\(Cartão\s+(\d{4})\)\s*$"
#: ``bb_bill.py:174-176``
TXN_COUNTRY_RE = r"^(\d{2}/\d{2})\s+(.+?)\s+([A-Z]{2})\s+R\$\s*(-?[\d\.\,]+)\s*$"
#: ``bb_bill.py:178-180``
TXN_RE = r"^(\d{2}/\d{2})\s+(.+?)\s+R\$\s*(-?[\d\.\,]+)\s*$"


def parse_bb_bill(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    rules=DEFAULT_RULES,
) -> DataFrame:
    """(doc_id, text) → categorized lançamentos (FIXTURES.md A2 schema)."""
    lines = explode_lines(docs, doc_id, text_col)
    ln = F.col("ln")

    # classify AND extract pre-shuffle: one rlike per pattern + one
    # single-pass group split per matched line; group positions aligned
    # across the two txn variants (data, desc, pais, valor) so the
    # downstream projection is branch-free array indexing.
    # country variant wins when both match (reference tries it first).
    is_card = ln.rlike(CARD_RE)
    is_txn_country = ln.rlike(TXN_COUNTRY_RE)
    is_txn = ln.rlike(TXN_RE)
    classified = lines.select(
        doc_id,
        "line_no",
        is_card.alias("is_card"),
        (is_txn_country | is_txn).alias("is_any_txn"),
        F.when(is_card, extract_all_groups(ln, CARD_RE, group_template(1, 2))).alias("c"),
        F.when(is_txn_country, extract_all_groups(ln, TXN_COUNTRY_RE, group_template(1, 2, 3, 4)))
        .when(is_txn, extract_all_groups(ln, TXN_RE, group_template(1, 2, None, 3)))
        .alias("g"),
    )

    c = F.col("c")
    with_ctx = classified.select(
        doc_id,
        "line_no",
        "is_card",
        "is_any_txn",
        "g",
        running_last(F.when(F.col("is_card"), normalize_space(c[0])), doc_id).alias(
            "titular_cartao"
        ),
        running_last(F.when(F.col("is_card"), c[1]), doc_id).alias("final_cartao"),
    )

    g = F.col("g")
    parsed = with_ctx.filter(~F.col("is_card") & F.col("is_any_txn")).select(
        doc_id,
        "line_no",
        "titular_cartao",
        "final_cartao",
        g[0].alias("data"),
        F.nullif(g[2], F.lit("")).alias("pais"),
        normalize_space(g[1]).alias("descricao"),
        brl_to_double(g[3]).alias("valor"),
    )

    return with_categories(parsed, "descricao", rules)
