"""Bit layout of ``monotonically_increasing_id`` and its tripwire.

The id puts the partition index in the upper 31 bits and the record
number within the partition in the lower 33. Spark documents this
layout only as "the current implementation", yet the rank operators
(``joins.sorted_neighborhood_pairs``, ``windows.grouped_global_rank``)
derive partition ids and local row numbers from it. The width is
defined once here, and ``check_mid_layout`` runs on the per-partition
totals both operators already collect, so a layout change fails
loudly instead of silently corrupting ranks.
"""

from __future__ import annotations

#: Width of the per-partition record number in the low bits of the id.
MID_LOCAL_BITS = 33
MID_LOCAL_MASK = (1 << MID_LOCAL_BITS) - 1


class MidLayoutError(RuntimeError):
    """``monotonically_increasing_id`` no longer has the assumed layout."""


def check_mid_layout(rows) -> None:
    """Assert the layout on collected totals. Each row holds ``_pid``
    (id >> MID_LOCAL_BITS), ``_n`` (row count), ``_m0`` and ``_m1``
    (min and max id) for one slice of a partition; a partition may
    span several rows (one per group). For every pid the local record
    numbers must run exactly 0 .. n-1."""
    lo: dict[int, int] = {}
    hi: dict[int, int] = {}
    n: dict[int, int] = {}
    for r in rows:
        p = r["_pid"]
        lo[p] = min(lo.get(p, MID_LOCAL_MASK), r["_m0"] & MID_LOCAL_MASK)
        hi[p] = max(hi.get(p, -1), r["_m1"] & MID_LOCAL_MASK)
        n[p] = n.get(p, 0) + r["_n"]
    for p in n:
        if lo[p] != 0 or hi[p] + 1 != n[p]:
            raise MidLayoutError(
                f"partition {p}: local ids {lo[p]}..{hi[p]} for {n[p]} rows — "
                f"monotonically_increasing_id is no longer pid << "
                f"{MID_LOCAL_BITS} | record number"
            )
