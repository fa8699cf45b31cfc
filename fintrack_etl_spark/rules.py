"""Category rule engine (reference parity: F12, SURVEY.md §2.8).

The reference categorizes card-bill descriptions with a first-match
scan over an ordered rule table of regex patterns plus installment /
recurrence detectors and three fallbacks
(``rules/categories_bb.py:16-274``, entry ``categorize_bb`` at
``:223-274``). There it is a per-row Python function on the driver;
here the same rule table **compiles to native Column expressions** —
codegen-friendly, zero Python in the hot path, and identical
first-match semantics — in two steps: an index step (one
``F.when``-chain giving the winning rule's position, plus the
recurrence and installment detectors) and a decode step (the four
outputs, each one array lookup on that position).

Two faces share those steps:

* :func:`with_categories` (a DataFrame in, four columns appended) —
  use it whenever a DataFrame is at hand. The index gets its own
  projection, so the plan carries the when-chain once.
* :func:`categorize` (a struct Column) — for expression contexts with
  no frame to project into. Each output field it is read through
  carries its own copy of the chain in the optimized plan.

Patterns must stay in the regex subset shared by Java (Spark) and RE2
(DuckDB oracles): no backrefs, no lookaround.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import upper_squeeze


@dataclass(frozen=True)
class CategoryRule:
    """One ordered rule: first pattern hit wins (``categories_bb.py:9-14``)."""

    categoria: str
    subcategoria: str | None
    patterns: tuple[str, ...]
    force_recorrente: bool = False


# The reference's exact ordered rule table (``categories_bb.py:16-215``)
# carried as DATA — the patterns/taxonomy are the behavior contract to
# match; only the compilation machinery is engine-specific. The engine
# stays data-driven: callers pass their own table.
DEFAULT_RULES: tuple[CategoryRule, ...] = (
    CategoryRule("Educação", None, (r"\bFIAP\b", r"\bUDEMY\b", r"\bCOURSERA\b", r"\bCURSO\b")),
    CategoryRule("Saúde", "Telemedicina/Serviços", (r"\bRDSAUDE\b", r"\bRDSAUDE ONLINE\b"), True),
    CategoryRule("Saúde", "Academia/Bem-estar", (r"\bWELLHUB\b", r"\bGYMPASS\b"), True),
    CategoryRule("Assinaturas", "Software/IA", (r"\bOPENAI\b", r"\bCHATGPT\b"), True),
    CategoryRule(
        "Assinaturas", "Google/Amazon (digital)", (r"\bDL\*GOOGLE\b", r"\bGOOGLE\b", r"\bAMAZON\b"), True
    ),
    CategoryRule("Compras", "E-commerce", (r"\bMERCADOLIVRE\b", r"\bMERCADO LIVRE\b")),
    CategoryRule(
        "Financeiro",
        "Pagamentos/Carteira digital",
        (r"\bMERCADOPAGO\b", r"\bMERCADO PAGO\b", r"\bPAYGO\b"),
    ),
    CategoryRule("Mercado", "Supermercado", (r"\bANCORA DISTRIBUIDORA\b",)),
    CategoryRule(
        "Mercado",
        None,
        (
            r"\bPINHEIRO\b",
            r"\bMERCADINHO SAO LUIZ\b",
            r"\bMERCADO 901\b",
            r"\bMERCADINHO\b",
            r"\bSUPERMERCADO\b",
        ),
    ),
    CategoryRule("Transporte", "Apps/Taxi", (r"\bUBER\b", r"HELP\.UBER", r"WWW\.UBER\.COM")),
    CategoryRule(
        "Transporte",
        "Estacionamento",
        (
            r"\bPARKING\b",
            r"\bITC PARKING\b",
            r"\bESTACIONA\b",
            r"\bTEIXEIRA ESTACIONA\b",
            r"\bTEIXEIRA ESTACIONAME\b",
        ),
    ),
    CategoryRule("Transporte", "Combustível", (r"\bSOBRAL E PALACIO\b",)),
    CategoryRule("Lazer", "Esporte / Beach Tennis", (r"\bHABACUC\b", r"\bHABACUCBANDEIRA\b")),
    CategoryRule("Lazer", "Shopping", (r"\bRIOMAR\b",)),
    CategoryRule("Lazer", "Clube/Atividades", (r"\bSESC\b",)),
    CategoryRule(
        "Lazer", "Eventos", (r"\bPINK FESTAS\b", r"\bZP\*PLAY NAS FRIAS\b", r"\bPLAY NAS FRIAS\b")
    ),
    CategoryRule("Lazer", "Esporte", (r"\bPODIUM BT\b", r"\bPODIUM\b")),
    CategoryRule(
        "Casa",
        "Varejo/Variedades",
        (r"\bM V VARIEDADES\b", r"\bMUNDO E CIA\b", r"\bVARIEDADES\b", r"\bMUNDO\b"),
    ),
    CategoryRule(
        "Seguros", "Auto", (r"\bBRADESCO AUT\*", r"\bTOKIO MARINE\*AUTO\b", r"\bTOKIO MARINE\b"), True
    ),
    CategoryRule("Compras", "Loja física", (r"\bDPSSA\b", r"\bCASA BLANCA\b")),
    CategoryRule(
        "Alimentação", "Delivery", (r"\bIFD\*", r"\bIFOOD\b", r"\bRAPPI\b", r"\bUBER EATS\b")
    ),
    CategoryRule(
        "Alimentação",
        "Restaurante/Lanchonete",
        (r"\bRESTAURANT\b", r"\bGASTRONOMIA\b", r"\bDELI\b", r"\bALIMENTACAO\b"),
    ),
    CategoryRule(
        "Financeiro",
        "Tarifas/Juros/IOF",
        (r"\bIOF\b", r"\bJUROS\b", r"\bENCARG\b", r"\bMULTA\b", r"\bTARIFA\b", r"\bANUIDADE\b"),
    ),
)

#: Recurrence hints (``categories_bb.py:216``).
RECURRENCE_HINTS: tuple[str, ...] = (r"\bSUBSCR\b", r"\bASSINAT\b", r"\bMENSAL\b", r"\bMONTHLY\b")

#: Installment detector (``categories_bb.py:226``).
INSTALLMENT_PATTERN = r"\bPARC\s+\d{2}/\d{2}\b"

#: City-suffix + commerce-word fallback (``categories_bb.py:252-254``).
CITY_SUFFIX_PATTERN = r"\b(FORTALEZA|SAO PAULO|EUSEBIO|SALVADOR)\b$"
COMMERCE_WORD_PATTERN = r"\b(COMERCIO|COMÉRCIO|VAREJO|BOUTIQUE|LOJA|DISTRIBUIDORA)\b"

#: Payment/credit fallback (``categories_bb.py:263``).
PAYMENT_PATTERN = r"\b(PAGAMENTO|PGTO|PAGTO|CREDITO|CR[ÉE]DITO|ESTORNO|CANCELAMENTO)\b"


def _any_match(d: Column, patterns: tuple[str, ...]) -> Column:
    return d.rlike(_union_regex(patterns))


def _union_regex(patterns: tuple[str, ...]) -> str:
    """One alternation regex per rule: a single automaton run instead
    of k separate rlike calls (identical match semantics — rlike is an
    unanchored search and ``(?:a)|(?:b)`` ≡ ``a OR b``)."""
    if len(patterns) == 1:
        return patterns[0]
    return "|".join(f"(?:{p})" for p in patterns)


def _sql_array(values: list) -> Column:
    """One decode table as a single SQL array literal: one parse on the
    JVM instead of one py4j ``lit`` call per element."""

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    return F.expr(f"array({', '.join(map(lit, values))})")


def _rule_index(desc: Column | str, rules: tuple[CategoryRule, ...]) -> dict[str, Column]:
    """Index step: the normalized text → ``pos``, the 1-based position
    of the winning rule (``n+1..n+4`` are the three fallbacks and
    Outros), plus the recurrence-hint (``rec``) and installment
    (``par``) detectors that the decode step falls back on.

    ``pos`` is ONE when-chain: each rule is one combined regex, and the
    chain short-circuits at the first hit."""
    d = upper_squeeze(desc)
    par = d.rlike(INSTALLMENT_PATTERN)
    n = len(rules)
    pos: Column | None = None
    for i, rule in enumerate(rules, 1):
        hit = _any_match(d, rule.patterns)
        pos = F.when(hit, i) if pos is None else pos.when(hit, i)
    fb3 = d.rlike(CITY_SUFFIX_PATTERN) & d.rlike(COMMERCE_WORD_PATTERN)
    pos = pos.when(par, n + 1).when(fb3, n + 2).when(d.rlike(PAYMENT_PATTERN), n + 3).otherwise(n + 4)
    return {"pos": pos, "rec": _any_match(d, RECURRENCE_HINTS), "par": par}


def _decode(
    pos: Column, rec: Column, par: Column, rules: tuple[CategoryRule, ...]
) -> dict[str, Column]:
    """Decode step: the four outputs, each reading ``pos`` exactly once.

    The two flags are fixed true/false per position, or NULL where the
    detector decides: recorrente is forced true by ``force_recorrente``,
    false for the three fallbacks, else the hint; parcelado is true for
    the installment fallback, false for the city fallback, else the
    installment detector."""
    cats = [r.categoria for r in rules] + ["Compras", "Compras", "Financeiro", "Outros"]
    subs = [r.subcategoria for r in rules] + [
        "Parcelado (loja física)",
        "Loja física",
        "Pagamentos/Créditos/Estornos",
        None,
    ]
    recs = [True if r.force_recorrente else None for r in rules] + [False, False, False, None]
    pars = [None] * len(rules) + [True, False, None, None]
    return {
        "categoria": F.element_at(_sql_array(cats), pos),
        "subcategoria": F.element_at(_sql_array(subs), pos),
        "recorrente_suspeita": F.coalesce(F.element_at(_sql_array(recs), pos), rec),
        "parcelado_suspeito": F.coalesce(F.element_at(_sql_array(pars), pos), par),
    }


def categorize(
    desc: Column | str,
    rules: tuple[CategoryRule, ...] = DEFAULT_RULES,
) -> Column:
    """Compile the rule table into one struct-valued Column.

    Returns ``struct(categoria, subcategoria, recorrente_suspeita,
    parcelado_suspeito)`` with the reference's exact decision order
    (``categorize_bb``, ``categories_bb.py:223-274``):

    1. first matching rule (force_recorrente OR global hints),
    2. unmatched + installment → Compras/Parcelado,
    3. city-suffix + commerce word → Compras/Loja física,
    4. payment words → Financeiro,
    5. else Outros.

    This is the Column face, for an expression context with no frame
    to project into (a ``select`` list built before the DataFrame is
    known, a filter or join condition). Each of
    the four fields reads the rule index once, but as one Column the
    index cannot be shared: once Catalyst extracts the fields, a plan
    that reads all four carries four copies of the when-chain, each
    analysed, optimized and code-generated on the driver. When you
    have the DataFrame, use :func:`with_categories`, whose plan holds
    the chain once.
    """
    fields = _decode(**_rule_index(desc, rules), rules=rules)
    return F.struct(*[c.alias(f) for f, c in fields.items()])


def with_categories(
    df: DataFrame,
    desc: Column | str,
    rules: tuple[CategoryRule, ...] = DEFAULT_RULES,
) -> DataFrame:
    """``df`` plus the four :func:`categorize` columns (same values,
    appended in the same order).

    The rule index is evaluated in its own projection and decoded in
    the next one. Catalyst's ``CollapseProject`` does not inline a
    non-cheap alias that its consumer reads more than once, and the
    decode reads the index four times, so the optimized plan holds ONE
    when-chain: it is analysed, optimized and code-generated once, and
    runs once per row. Use this face whenever a DataFrame is at hand.
    """
    tmp = {f: f"__cat_{f}" for f in ("pos", "rec", "par")}
    indexed = df.withColumns({tmp[f]: c for f, c in _rule_index(desc, rules).items()})
    decoded = _decode(**{f: F.col(t) for f, t in tmp.items()}, rules=rules)
    return indexed.withColumns(decoded).drop(*tmp.values())


def categorize_dictionary(
    df,
    desc_col: str = "descricao",
    rules: tuple[CategoryRule, ...] = DEFAULT_RULES,
    fields: tuple[str, ...] = (
        "categoria",
        "subcategoria",
        "recorrente_suspeita",
        "parcelado_suspeito",
    ),
):
    """Categorize by dictionary-encoding the regex work.

    Merchant descriptions repeat heavily (|distinct| ≪ |rows|), so
    instead of evaluating the ~25-rule regex chain on every fact row,
    run :func:`with_categories` on the DISTINCT descriptions only and
    broadcast-join the derived fields back onto the facts.

    At 100 TB this is the only shape that works: the distinct() is a
    map-side-partial shuffle of one string column, the dictionary is
    tiny (merchant cardinality), and the join is broadcast — zero
    shuffle on the fact table, and the regex chain runs once per
    distinct merchant instead of once per row.

    NULL descriptions get the chain's fallback ('Outros') exactly like
    the row-at-a-time path (``categorize_bb``, reference
    ``rules/categories_bb.py:223-274``).
    """
    key = F.coalesce(F.col(desc_col), F.lit(""))
    # The lazy localCheckpoint pins the finished dictionary: while the
    # categorize expressions stay visible in the logical plan, a
    # downstream filter on a derived field (e.g. categoria <>
    # 'Financeiro') is a pure function of the join key, so predicate
    # pushdown + join-constraint propagation substitute the whole
    # regex chain back onto the per-row fact scan — exactly the plan
    # this operator exists to avoid. Behind the RDD barrier the four
    # fields are opaque attributes and the chain can only ever run on
    # |distinct keys| rows.
    dictionary = (
        with_categories(df.select(key.alias("__cat_key")).distinct(), "__cat_key", rules)
        .select("__cat_key", *fields)
        .localCheckpoint(eager=False)
    )
    return (
        df.withColumn("__cat_key", key)
        .join(F.broadcast(dictionary), "__cat_key", "left")
        .drop("__cat_key")
    )


def categorize_sql_case(
    desc_expr: str,
    rules: tuple[CategoryRule, ...] = DEFAULT_RULES,
) -> dict[str, str]:
    """Emit the same decision chain as ANSI-SQL CASE expressions (for
    DuckDB oracle twins). Returns ``{column_name: sql_expr}``.
    """
    d = f"regexp_replace(upper(trim({desc_expr})), '[ \t]+', ' ', 'g')"
    parcelado = rf"regexp_matches({d}, '{INSTALLMENT_PATTERN}')"
    rec_hint = " OR ".join(rf"regexp_matches({d}, '{p}')" for p in RECURRENCE_HINTS)

    def any_match(patterns: tuple[str, ...]) -> str:
        return "(" + " OR ".join(rf"regexp_matches({d}, '{p}')" for p in patterns) + ")"

    cat_cases, sub_cases, rec_cases, par_cases = [], [], [], []
    for r in rules:
        hit = any_match(r.patterns)
        cat_cases.append(f"WHEN {hit} THEN '{r.categoria}'")
        sub_val = "NULL" if r.subcategoria is None else f"'{r.subcategoria}'"
        sub_cases.append(f"WHEN {hit} THEN {sub_val}")
        rec_cases.append(f"WHEN {hit} THEN {'TRUE' if r.force_recorrente else '(' + rec_hint + ')'}")
        par_cases.append(f"WHEN {hit} THEN {parcelado}")

    fb2 = parcelado
    fb3 = rf"(regexp_matches({d}, '{CITY_SUFFIX_PATTERN}') AND regexp_matches({d}, '{COMMERCE_WORD_PATTERN}'))"
    fb4 = rf"regexp_matches({d}, '{PAYMENT_PATTERN}')"

    cat_cases += [f"WHEN {fb2} THEN 'Compras'", f"WHEN {fb3} THEN 'Compras'", f"WHEN {fb4} THEN 'Financeiro'"]
    sub_cases += [
        f"WHEN {fb2} THEN 'Parcelado (loja física)'",
        f"WHEN {fb3} THEN 'Loja física'",
        f"WHEN {fb4} THEN 'Pagamentos/Créditos/Estornos'",
    ]
    rec_cases += [f"WHEN {fb2} THEN FALSE", f"WHEN {fb3} THEN FALSE", f"WHEN {fb4} THEN FALSE"]
    par_cases += [f"WHEN {fb2} THEN TRUE", f"WHEN {fb3} THEN FALSE", f"WHEN {fb4} THEN {parcelado}"]

    return {
        "categoria": "CASE " + " ".join(cat_cases) + " ELSE 'Outros' END",
        "subcategoria": "CASE " + " ".join(sub_cases) + " ELSE NULL END",
        "recorrente_suspeita": "CASE " + " ".join(rec_cases) + f" ELSE ({rec_hint}) END",
        "parcelado_suspeito": "CASE " + " ".join(par_cases) + f" ELSE {parcelado} END",
    }
