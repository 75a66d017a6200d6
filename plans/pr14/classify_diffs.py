"""Check that every plan diff between two dumps is the rate boundary's removal.

Usage: python plans/pr14/classify_diffs.py <before_dump> <after_dump>

For each plan whose text differs, the before plan must hold a join
whose build side holds a ``Window`` (the per-(series, segment) boundary
table: a second scan, its dedupe, the ``max``/``max_by`` aggregate and
the ``lag`` window).  With that join and its build side cut out, and
``Project`` nodes dropped, the node sequences must be equal; the
after plan must have one ``Window``, partitioned by ``series_id``
alone.  Such a plan prints as ``rate_boundary_removed`` with the node
counts that went, or as ``rate_boundary_removed_exchange_reused`` when
the sequences are equal only with ``Exchange`` nodes dropped too (the
window's ``series_id`` partitioning then serves a per-series aggregate
above it, whose own exchange goes).  Any other diff prints as
``OTHER``.  The last line
counts the plans, the diffs and the diffs of no expected kind; the
exit status is 1 when there is one.
"""

from __future__ import annotations

import collections
import os
import re
import sys

JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")


def tree(plan: str) -> list[tuple[int, str]]:
    lines = plan.split("\n\n")[0].splitlines()[1:]
    out = []
    for line in lines:
        name = re.sub(r"\s*\(\d+\)$", "", line.lstrip(" :+-")).strip()
        out.append((len(line) - len(line.lstrip(" :+-")), name))
    return out


def subtree_end(t: list[tuple[int, str]], i: int) -> int:
    """Index past the subtree rooted at ``t[i]``."""
    j = i + 1
    while j < len(t) and t[j][0] > t[i][0]:
        j += 1
    return j


def cut_boundary(t: list[tuple[int, str]]) -> list[tuple[int, str]] | None:
    for i, (depth, name) in enumerate(t):
        if not name.startswith(JOINS):
            continue
        first = i + 1
        second = subtree_end(t, first)
        end = subtree_end(t, i)
        if any(n == "Window" for _, n in t[second:end]):
            return t[:i] + t[first:second] + t[end:]
    return None


def windows(plan: str) -> list[str]:
    return re.findall(r"\(\d+\) Window\n.*\nArguments: \[.*\], \[(.*?)\], \[", plan)


def _names(t: list[tuple[int, str]], drop: set[str]) -> list[str]:
    return [n for _, n in t if n not in drop]


def classify(pa: str, pb: str) -> str | None:
    cut = cut_boundary(tree(pa))
    if cut is None or windows(pb) != ["series_id#NL"]:
        return None
    if _names(cut, {"Project"}) == _names(tree(pb), {"Project"}):
        return "rate_boundary_removed"
    # the window's series_id partitioning now satisfies a per-series
    # aggregate above it, so that aggregate's exchange goes too
    if _names(cut, {"Project", "Exchange"}) == _names(tree(pb), {"Project", "Exchange"}):
        return "rate_boundary_removed_exchange_reused"
    return None


def main() -> int:
    before, after = sys.argv[1:3]
    names = sorted(set(os.listdir(before)) & set(os.listdir(after)))
    bad = n_diff = 0
    for name in names:
        pa, pb = (open(os.path.join(d, name)).read() for d in (before, after))
        if pa == pb:
            continue
        n_diff += 1
        kind = classify(pa, pb)
        bad += kind is None
        gone = collections.Counter(n for _, n in tree(pa)) - collections.Counter(n for _, n in tree(pb))
        print(f"{name[:-4]}: {kind or 'OTHER'} {dict(sorted(gone.items()))}")
    print(f"plans: {len(names)}; differ: {n_diff}; of no expected kind: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
