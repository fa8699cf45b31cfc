"""Code fingerprints behind the gate window's changed-entries head.

Stdlib only (no Spark): ``__spark_entry__._fingerprints`` over small
in-memory packages, and the committed ``GATE_STAMP.json`` against
``tools/gate_stamp.py``.
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

import __spark_entry__ as entrymod

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

import gate_stamp  # noqa: E402

PKG = {
    "pkg/queries.py": '''
from . import reports
from .lines import explode_lines
from .text import fingerprint as _fp

ORACLES = {}
LIMIT = 10


def register(name, oracle=None):
    def deco(fn):
        return fn
    return deco


@register("a", "SELECT 1 AS n")
def a(spark, sf):
    return explode_lines(spark.range(LIMIT))


@register("b")
def b(spark, sf):
    return _fp(spark)


@register("c")
def c(spark, sf):
    return reports.top(spark)


ORACLES["c"] = "SELECT 3 AS n"
''',
    "pkg/lines.py": '''
def explode_lines(df):
    """Split text into lines."""
    return df
''',
    "pkg/reports.py": '''
def top(df):
    return df.limit(15)
''',
    "pkg/text.py": '''
def fingerprint(df):
    return df
''',
}


def _changed_by(path: str, old: str, new: str) -> set[str]:
    edited = {**PKG, path: PKG[path].replace(old, new)}
    assert edited != PKG
    base, now = entrymod._fingerprints(PKG), entrymod._fingerprints(edited)
    assert set(base) == set(now) == {"a", "b", "c"}
    return {n for n in base if base[n] != now[n]}


def test_helper_edit_changes_exactly_its_dependents():
    assert _changed_by("pkg/lines.py", "return df", "return df.limit(1)") == {"a"}
    assert _changed_by("pkg/queries.py", "LIMIT = 10", "LIMIT = 20") == {"a"}
    assert _changed_by("pkg/reports.py", "limit(15)", "limit(10)") == {"c"}


def test_aliased_import_is_followed():
    assert _changed_by("pkg/text.py", "return df", "return df.distinct()") == {"b"}


def test_oracle_sql_counts_in_decorator_and_keyed_assignment():
    assert _changed_by("pkg/queries.py", "SELECT 1 AS n", "SELECT 2 AS n") == {"a"}
    assert _changed_by("pkg/queries.py", "SELECT 3 AS n", "SELECT 4 AS n") == {"c"}


LOCAL = {
    **PKG,
    "pkg/local.py": '''
from .reports import top as best

register = None


@register("d")
def d(spark, sf, top=None):
    fingerprint = [explode_lines for explode_lines in range(3)]
    for top in fingerprint:
        spark = (lambda explode_lines: explode_lines)(top)

    def explode_lines(df):
        return df

    return explode_lines(spark)


@register("e")
def e(spark, sf):
    global LIMIT
    LIMIT = LIMIT + 1
    from .text import fingerprint

    return best(fingerprint(spark))
''',
}


def test_local_names_do_not_reach_top_level_defs():
    """A name bound in a definition's own scopes (an argument, an
    assignment or loop target, a comprehension or lambda variable, a
    nested def) means no top-level def of that name; a ``global`` name
    and a function-level import still do."""
    base = entrymod._fingerprints(LOCAL)

    def changed(path, old, new):
        edited = {**LOCAL, path: LOCAL[path].replace(old, new)}
        assert edited != LOCAL
        now = entrymod._fingerprints(edited)
        return {n for n in base if base[n] != now[n]}

    assert changed("pkg/lines.py", "return df", "return df.limit(1)") == {"a"}
    assert changed("pkg/reports.py", "limit(15)", "limit(10)") == {"c", "e"}
    assert changed("pkg/text.py", "return df", "return df.distinct()") == {"b", "e"}
    assert changed("pkg/queries.py", "LIMIT = 10", "LIMIT = 20") == {"a", "e"}


def test_package_edit_reaches_its_entries_only():
    sources = entrymod._package_sources()
    base = entrymod._fingerprints(sources)
    assert set(base) == set(entrymod._registry("QUERIES"))
    path = "fintrack_etl_spark/parse/lines.py"
    edited = {**sources, path: sources[path].replace(".drop(\"raw\")", ".drop(\"raw\", \"x\")")}
    assert edited != sources
    now = entrymod._fingerprints(edited)
    changed = {n for n in base if base[n] != now[n]}
    assert {"p1_bb_statement_roundtrip", "p2_bb_bill_roundtrip", "p3_bradesco_roundtrip"} <= changed
    assert all(n.startswith("p") for n in changed)


def test_stamp_is_current():
    stamp = json.loads((ROOT / "GATE_STAMP.json").read_text())
    rounds = [
        int(m.group(1))
        for p in ROOT.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)", p.stem))
    ]
    assert stamp["round"] == max(rounds)


def test_stamp_reproduces_from_git():
    try:
        text = gate_stamp.stamp_text()
    except (OSError, subprocess.CalledProcessError, LookupError) as exc:
        pytest.skip(f"graded commit not readable: {exc}")
    assert text == (ROOT / "GATE_STAMP.json").read_text()
