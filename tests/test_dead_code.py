"""Dead-code tripwire: every top-level package name is referenced.

Stdlib only (no Spark). A top-level ``def``/``class`` in
``fintrack_etl_spark`` passes when its name appears as a whole word
anywhere in the repository's Python sources other than its own
definition: the package itself, ``tools/``, ``bench.py``,
``__spark_entry__.py``, ``perfbench/`` or ``tests/``.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "fintrack_etl_spark"


def _sources() -> dict[Path, str]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (PACKAGE, ROOT / "tools", ROOT / "perfbench", ROOT / "tests"):
        files.extend(sorted(d.rglob("*.py")))
    return {p: p.read_text() for p in files}


def test_every_top_level_name_is_referenced():
    sources = _sources()
    defs = [
        (path.relative_to(ROOT), node.name)
        for path, text in sources.items()
        if PACKAGE in path.parents
        for node in ast.parse(text).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]
    # Whole-word mentions; a name defined in k modules needs more than k.
    words = Counter(w for text in sources.values() for w in re.findall(r"\w+", text))
    defined = Counter(name for _, name in defs)
    unreferenced = [f"{path}:{name}" for path, name in defs if words[name] <= defined[name]]
    assert unreferenced == []
