"""Write GATE_STAMP.json: each registry entry's code fingerprint at the
commit the newest driver round graded.

Each driver round lands as a commit titled ``round N:
verdict/advice/correctness/bench`` that adds ``CORRECTNESS_rN.json``;
the code it graded is that commit's parent. This tool reads the
package there with ``git show`` and fingerprints it with
``__spark_entry__._fingerprints``. ``__spark_entry__._gate_order``
compares the working tree's fingerprints against the stamp, so entries
whose code changed since that round lead the gate window; the driver's
runtime needs no git.

Run it only when a new ``CORRECTNESS_r*.json`` lands, and commit the
result; never edit the stamp by hand:

    python tools/gate_stamp.py
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from __spark_entry__ import _PACKAGE, _fingerprints  # noqa: E402

ROUND_SUBJECT = re.compile(r"round (\d+): verdict/advice/correctness/bench")


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(ROOT), *args], check=True, capture_output=True, encoding="utf-8"
    ).stdout


def graded_commit() -> tuple[int, str]:
    """(round, commit) of the newest driver round's graded code."""
    for line in _git("log", "--format=%H %s").splitlines():
        sha, _, subject = line.partition(" ")
        m = ROUND_SUBJECT.fullmatch(subject)
        if m:
            return int(m.group(1)), _git("rev-parse", f"{sha}^").strip()
    raise LookupError("no 'round N: verdict/advice/correctness/bench' commit in history")


def stamp_text() -> str:
    rnd, commit = graded_commit()
    paths = _git("ls-tree", "-r", "--name-only", commit, "--", _PACKAGE).splitlines()
    sources = {p: _git("show", f"{commit}:{p}") for p in paths if p.endswith(".py")}
    stamp = {"round": rnd, "commit": commit, "fingerprints": _fingerprints(sources)}
    return json.dumps(stamp, indent=1, sort_keys=True) + "\n"


if __name__ == "__main__":
    (ROOT / "GATE_STAMP.json").write_text(stamp_text())
