"""Scalar function library (reference parity: F1-F24, SURVEY.md §2.8).

Every function here is a native Column expression — no Python UDFs —
so the whole library stays inside whole-stage codegen and scales
linearly on a cluster. Reference provenance is cited per function.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Money / numbers
# ---------------------------------------------------------------------------


def brl_to_double(c: Column | str) -> Column:
    """F1 — parse pt-BR money strings to double.

    ``'R$ 5.899,51'`` → 5899.51, ``'-6.797,51'`` → -6797.51; NULL on
    garbage (cast semantics). Reference: ``bb_statement.py:16-25``,
    ``bb_bill.py:28-40``, ``forms_main.py:182-204``.
    """
    c = F.col(c) if isinstance(c, str) else c
    cleaned = F.regexp_replace(F.trim(c), r"R\$\s*", "")
    cleaned = F.regexp_replace(cleaned, r"\.", "")
    cleaned = F.regexp_replace(cleaned, ",", ".")
    # try_cast: NULL on garbage (ANSI-safe), matching the reference's
    # None-on-failure semantics.
    return cleaned.try_cast("double")


def trailing_sign_money(c: Column | str) -> Column:
    """F3 — ``'123,45-'`` → -123.45 (Bradesco payment rows,
    ``bradesco_bill.py:262-266``)."""
    c = F.col(c) if isinstance(c, str) else c
    trimmed = F.trim(c)
    is_neg = trimmed.endswith("-")
    body = F.regexp_replace(trimmed, r"-$", "")
    val = brl_to_double(body)
    return F.when(is_neg, -val).otherwise(val)


def brl_format(c: Column | str) -> Column:
    """F18 — ``1234.56 → 'R$ 1.234,56'`` (``compare_budget.py:108-111``).

    ``format_number`` gives ``1,234.56``; translate swaps separators.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.concat(F.lit("R$ "), F.translate(F.format_number(c, 2), ",.", ".,"))


# ---------------------------------------------------------------------------
# Strings
# ---------------------------------------------------------------------------


def normalize_space(c: Column | str) -> Column:
    """F2 — collapse runs of spaces/tabs, trim (``bb_statement.py:12-13``)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(c, r"[ \t]+", " "))


def slugify(c: Column | str) -> Column:
    """F4 — lower, non-``[a-z0-9-_.]`` → ``_``, squeeze ``_``, strip
    (``etls_raw/main.py:134-139``)."""
    c = F.col(c) if isinstance(c, str) else c
    s = F.lower(F.trim(c))
    s = F.regexp_replace(s, r"[^a-z0-9\-_.]", "_")
    s = F.regexp_replace(s, r"_+", "_")
    return F.regexp_replace(s, r"^_|_$", "")


def null_if_blank(c: Column | str) -> Column:
    """P8 — ``''``/whitespace → NULL (``helpers.py:26-34``)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.when(F.trim(c) == "", None).otherwise(c)


def find_first(c: Column | str, pattern: str, flags: str = "im", group: int = 1) -> Column:
    """F5 — first regex group match, trimmed, or NULL
    (``bb_bill.py:43-45``). The reference defaults to
    IGNORECASE|MULTILINE; ``flags`` is embedded as ``(?flags)``."""
    c = F.col(c) if isinstance(c, str) else c
    return F.nullif(F.trim(F.regexp_extract(c, f"(?{flags}){pattern}", group)), F.lit(""))


def find_date_after_keyword(c: Column | str, keyword: str, window: int = 160) -> Column:
    """F6 — first ``dd/mm/aaaa`` within ``window`` chars after the
    keyword (``bb_bill.py:48-58``) — for labels split from values by a
    page break."""
    c = F.col(c) if isinstance(c, str) else c
    after = F.substring(c, F.locate(keyword, c) + len(keyword), window)
    return F.when(
        F.locate(keyword, c) > 0,
        F.nullif(F.regexp_extract(after, r"(\d{2}/\d{2}/\d{4})", 1), F.lit("")),
    )


def normalize_cpf(c: Column | str) -> Column:
    """F11 — strip ``[.\\-\\s]``, lpad to 11 with '0', NULL-preserving
    (``helpers.py:84-98``)."""
    c = F.col(c) if isinstance(c, str) else c
    stripped = F.regexp_replace(c, r"[.\-\s]", "")
    return F.when(c.isNull() | (F.trim(c) == ""), None).otherwise(F.lpad(stripped, 11, "0"))


def upper_squeeze(c: Column | str) -> Column:
    """F13 — upper + whitespace squeeze, the categorizer's input
    normalization (``categories_bb.py:219-220``)."""
    return F.upper(normalize_space(c))


# ---------------------------------------------------------------------------
# Dates / timestamps
# ---------------------------------------------------------------------------

DATE_PATTERNS = ("yyyy-MM-dd", "dd/MM/yyyy", "yyyyMMdd", "ddMMyyyy")


def to_date_multi(c: Column | str, patterns: tuple[str, ...] = DATE_PATTERNS) -> Column:
    """F7 — try date formats in order (``helpers.py:39-70``)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(p)).cast("date") for p in patterns])


def assemble_partial_date(day_month: Column | str, competencia_year: Column) -> Column:
    """Partial ``dd/MM`` card-bill dates + bill-competência year →
    full date (``bb_bill.py:174-179`` capture; SURVEY §1.2)."""
    dm = F.col(day_month) if isinstance(day_month, str) else day_month
    day = F.split(dm, "/").getItem(0).cast("int")
    month = F.split(dm, "/").getItem(1).cast("int")
    return F.make_date(competencia_year, month, day)


# ---------------------------------------------------------------------------
# Misc
# ---------------------------------------------------------------------------


def split_desc_city(desc: Column | str, max_tokens: int = 3) -> Column:
    """F21 — Bradesco: trailing 1-3 alphabetic tokens are the city when
    the head keeps >=1 token and no ``/``/``*``/digit appears in the
    tail (``bradesco_bill.py:225-238``).

    Returns ``struct(descricao, cidade)``.
    """
    c = F.col(desc) if isinstance(desc, str) else desc
    norm = normalize_space(c)
    # city = trailing run of 1-3 purely-alphabetic words
    pat = r"^(.*\S)\s+((?:[A-Za-zÀ-ÿ]+ ?){1,3})$"
    head = F.regexp_extract(norm, pat, 1)
    tail = F.trim(F.regexp_extract(norm, pat, 2))
    ok = (
        (head != "")
        & (tail != "")
        & (F.size(F.split(tail, " ")) <= max_tokens)
        & ~tail.rlike(r"[/*0-9]")
    )
    return F.struct(
        F.when(ok, head).otherwise(norm).alias("descricao"),
        F.when(ok, tail).alias("cidade"),
    )


def money_token_count(c: Column | str) -> Column:
    """P9 — count pt-BR money tokens on a line; >=2 means a
    contaminated (multi-column) line to drop
    (``bradesco_bill.py:198``)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.size(F.regexp_extract_all(c, F.lit(r"\d{1,3}(?:\.\d{3})*,\d{2}"), F.lit(0)))
