"""Unit tests for the scalar library (F1-F24) with pt-BR edge cases
lifted from the reference's regexes (SURVEY.md §5)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from fintrack_etl_spark import functions as FX


def one(spark, expr, **cols):
    row = spark.createDataFrame([cols or {"x": 1}]).select(expr.alias("r")).first()
    return row["r"]


def test_brl_to_double(spark):
    cases = {
        "R$ 5.899,51": 5899.51,
        "-6.797,51": -6797.51,
        "R$40,00": 40.0,
        "28": 28.0,
        "1.234.567,89": 1234567.89,
        "garbage": None,
        "": None,
    }
    df = spark.createDataFrame([(s,) for s in cases], ["s"])
    got = {r["s"]: r["v"] for r in df.select("s", FX.brl_to_double("s").alias("v")).collect()}
    for s, want in cases.items():
        assert got[s] == want, (s, got[s], want)


def test_trailing_sign_money(spark):
    df = spark.createDataFrame([("123,45-",), ("123,45",), ("1.000,00-",)], ["s"])
    got = [r["v"] for r in df.select(FX.trailing_sign_money("s").alias("v")).collect()]
    assert got == [-123.45, 123.45, -1000.0]


def test_normalize_space(spark):
    assert one(spark, FX.normalize_space(F.lit("  a \t b   c  "))) == "a b c"


def test_slugify(spark):
    assert one(spark, FX.slugify(F.lit("  Café do João / 2024!  "))) == "caf_do_jo_o_2024"
    assert one(spark, FX.slugify(F.lit("simple-name_1.pdf"))) == "simple-name_1.pdf"


def test_normalize_cpf(spark):
    assert one(spark, FX.normalize_cpf(F.lit("123.456.789-01"))) == "12345678901"
    assert one(spark, FX.normalize_cpf(F.lit("1234567"))) == "00001234567"
    assert one(spark, FX.normalize_cpf(F.lit(" "))) is None
    assert one(spark, FX.normalize_cpf(F.lit(None).cast("string"))) is None


def test_to_date_multi(spark):
    cases = {
        "2024-05-13": datetime.date(2024, 5, 13),
        "13/05/2024": datetime.date(2024, 5, 13),
        "20240513": datetime.date(2024, 5, 13),
        "13052024": datetime.date(2024, 5, 13),
        "not a date": None,
    }
    df = spark.createDataFrame([(s,) for s in cases], ["s"])
    got = {r["s"]: r["d"] for r in df.select("s", FX.to_date_multi("s").alias("d")).collect()}
    assert got == cases


def test_find_first_and_date_after_keyword(spark):
    line = F.lit("Vencimento: 10/06/2024  Total R$ 1.234,56")
    assert one(spark, FX.find_first(line, r"Total R\$ ([\d.,]+)")) == "1.234,56"
    assert one(spark, FX.find_date_after_keyword(line, "Vencimento:")) == "10/06/2024"
    assert one(spark, FX.find_date_after_keyword(line, "Ausente:")) is None
    # (?im) by default, group trimmed, blank -> NULL
    assert one(spark, FX.find_first(F.lit("a\nTOTAL:  9,90 \n"), r"^total:(.*)$")) == "9,90"
    assert one(spark, FX.find_first(F.lit("Total:   "), r"Total:(.*)")) is None
    assert one(spark, FX.find_first(F.lit("TOTAL: 1"), r"total: (\d)", "s")) is None


def test_null_if_blank(spark):
    assert one(spark, FX.null_if_blank(F.lit("   "))) is None
    assert one(spark, FX.null_if_blank(F.lit(" x "))) == " x "


def test_assemble_partial_date(spark):
    got = one(spark, FX.assemble_partial_date(F.lit("05/03"), F.lit(2024)))
    assert got == datetime.date(2024, 3, 5)


def test_split_desc_city(spark):
    s = FX.split_desc_city(F.lit("PADARIA DO ZE FORTALEZA"))
    row = spark.range(1).select(s.alias("r")).first()["r"]
    assert row["cidade"] == "FORTALEZA"
    assert row["descricao"].startswith("PADARIA")
    # no city when tail has digits or slash
    s2 = FX.split_desc_city(F.lit("PARC 02/04 LOJA 123"))
    row2 = spark.range(1).select(s2.alias("r")).first()["r"]
    assert row2["cidade"] is None


def test_money_token_count(spark):
    assert one(spark, FX.money_token_count(F.lit("1.234,56 saldo 78,90"))) == 2
    assert one(spark, FX.money_token_count(F.lit("compra 78,90"))) == 1
    assert one(spark, FX.money_token_count(F.lit("sem valores"))) == 0


def test_brl_format(spark):
    assert one(spark, FX.brl_format(F.lit(1234.56))) == "R$ 1.234,56"


def test_categorize(spark):
    from fintrack_etl_spark.rules import categorize

    cases = {
        # reference rule table hits (categories_bb.py:16-215)
        "UDEMY COURSE 123": ("Educação", None, False, False),
        "WELLHUB BR": ("Saúde", "Academia/Bem-estar", True, False),
        "OPENAI CHATGPT SUBSCR": ("Assinaturas", "Software/IA", True, False),
        "MERCADOLIVRE*VENDA PARC 02/04": ("Compras", "E-commerce", False, True),
        "SUPERMERCADO BOM PRECO": ("Mercado", None, False, False),
        "UBER TRIP 123": ("Transporte", "Apps/Taxi", False, False),
        "TOKIO MARINE SEGUROS": ("Seguros", "Auto", True, False),
        "IFD*RESTAURANTE TOP": ("Alimentação", "Delivery", False, False),
        "TARIFA ANUIDADE DIF": ("Financeiro", "Tarifas/Juros/IOF", False, False),
        # fallbacks (categorize_bb :242-274)
        "LOJA X PARC 02/04": ("Compras", "Parcelado (loja física)", False, True),
        "BOUTIQUE CHIC FORTALEZA": ("Compras", "Loja física", False, False),
        "PAGTO DEBITO": ("Financeiro", "Pagamentos/Créditos/Estornos", False, False),
        "NETFLIX.COM MENSAL": ("Outros", None, True, False),  # rec hint only
        "XYZ DESCONHECIDO": ("Outros", None, False, False),
        # no text: Outros, and the detectors answer NULL / no match
        None: ("Outros", None, None, None),
        "": ("Outros", None, False, False),
    }
    df = spark.createDataFrame([(s,) for s in cases], "desc string")
    rows = df.select("desc", categorize("desc").alias("c")).collect()
    assert len(rows) == len(cases)
    for r in rows:
        c = r["c"]
        want = cases[r["desc"]]
        got = (c["categoria"], c["subcategoria"], c["recorrente_suspeita"], c["parcelado_suspeito"])
        assert got == want, (r["desc"], got, want)


def test_categorize_faces_agree(spark):
    """The struct Column (read field by field, or expanded with
    ``c.*``) and ``with_categories`` give the same four outputs row for
    row, on a seeded corpus that reaches every rule position, all three
    fallbacks and Outros, and both NULL detector states."""
    import random

    from fintrack_etl_spark import rules as R

    fields = ("categoria", "subcategoria", "recorrente_suspeita", "parcelado_suspeito")
    rng = random.Random(11)
    words = [p.replace(r"\b", "").replace("\\", "") for r in R.DEFAULT_RULES for p in r.patterns]
    words += ["PARC 02/04", "BOUTIQUE", "LOJA", "FORTALEZA", "PAGTO", "ESTORNO", "MENSAL",
              "SUBSCR", "XYZ", "ltda", "  "]
    descs = [None, "", "   ", "LOJA X PARC 02/04", "BOUTIQUE CHIC FORTALEZA", "PAGTO DEBITO"]
    descs += [" ".join(rng.choice(words) for _ in range(rng.randint(1, 3))) for _ in range(400)]
    df = spark.createDataFrame(list(enumerate(descs)), "i int, d string")

    index = R._rule_index(F.col("d"), R.DEFAULT_RULES)
    seen = df.select(index["pos"].alias("pos"), index["rec"].alias("rec"), index["par"].alias("par"))
    seen = seen.agg(
        F.collect_set("pos").alias("pos"),
        F.max(F.col("rec").isNull()).alias("rec_null"),
        F.max(F.col("par").isNull()).alias("par_null"),
    ).first()
    assert sorted(seen["pos"]) == list(range(1, len(R.DEFAULT_RULES) + 5))
    assert seen["rec_null"] and seen["par_null"]

    c = R.categorize("d")
    faces = (
        df.select("i", *[c[f].alias(f) for f in fields]),
        df.select("i", c.alias("c")).select("i", "c.*"),
        R.with_categories(df, "d").select("i", *fields),
    )
    got = [sorted(tuple(r) for r in face.collect()) for face in faces]
    assert len(got[0]) == len(descs)
    assert got[1] == got[0]
    assert got[2] == got[0]
