"""Check that every plan diff between two dumps is of one expected kind.

Usage: python classify_diffs.py gate|dedupe <before_dump> <after_dump>

``gate`` (the one-partition rule off → on): the after plan holds
``Coalesce`` nodes of one partition where the before plan has none, and
the node sequences are equal once ``Exchange``, ``Coalesce`` and
``Project`` nodes are dropped (column pruning adds a ``Project`` above
and below a coalesce).  The class says whether any shuffle ``Exchange``
is left: ``coalesce_no_exchange`` or ``coalesce_exchanges_kept``.

``dedupe`` (the parent → the change, both distributed): the group keys
are dedupe keys, so a ``SortAggregate`` over its ``Sort`` becomes a
``HashAggregate``; the node sequences are equal once ``Sort`` and
``Project`` are dropped and ``SortAggregate`` reads ``HashAggregate``.
Plans whose node sequence is unchanged differ only in where a
``tag_*`` column is projected (``projection``).  Where a filter on a
group key sat above the old dedupe (a semi-join's inferred
``isnotnull``), it now passes the dedupe into the scan's filter
(``hash_dedupe_key_filter_pushed``).

For each plan whose text differs it prints the name, the class and
the node counts that moved.  The last line counts the plans, the diffs
and the diffs of no expected kind; the exit status is 1 when there is
one.
"""

from __future__ import annotations

import collections
import os
import re
import sys


def nodes(plan: str) -> list[str]:
    tree = plan.split("\n\n")[0].splitlines()[1:]
    return [re.sub(r"\s*\(\d+\)$", "", line.lstrip(" :+-")).strip() for line in tree]


def _drop(seq: list[str], names: set[str]) -> list[str]:
    return [n for n in seq if n not in names]


def classify(kind: str, pa: str, pb: str) -> str | None:
    na, nb = nodes(pa), nodes(pb)
    if kind == "gate":
        coalesces = re.findall(r"\) Coalesce\n.*\n(Arguments: .*)", pb)
        one = coalesces and all(a == "Arguments: 1" for a in coalesces) and "Coalesce" not in na
        same = _drop(na, {"Exchange", "Project"}) == _drop(nb, {"Exchange", "Coalesce", "Project"})
        if not (one and same):
            return None
        return "coalesce_no_exchange" if "Exchange" not in nb else "coalesce_exchanges_kept"
    if na == nb:
        return "projection"
    if "SortAggregate" not in na:
        return None
    relabel = [("HashAggregate" if n == "SortAggregate" else n) for n in _drop(na, {"Sort", "Project"})]
    if relabel == _drop(nb, {"Sort", "Project"}):
        return "hash_dedupe"
    # a filter on a group key (a semi-join's inferred isnotnull) now
    # passes the dedupe, whose keys hold it, and joins the scan's filter
    drop = {"Sort", "Project", "Filter"}
    pushed = re.search(r"isnotnull\(tags#N\[", pb) and not re.search(r"isnotnull\(tags#N\[", pa)
    relabel = [("HashAggregate" if n == "SortAggregate" else n) for n in _drop(na, drop)]
    return "hash_dedupe_key_filter_pushed" if pushed and relabel == _drop(nb, drop) else None


def main() -> int:
    kind, a, b = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sorted(set(os.listdir(a)) & set(os.listdir(b)))
    classes: collections.Counter = collections.Counter()
    for n in names:
        pa, pb = open(os.path.join(a, n)).read(), open(os.path.join(b, n)).read()
        if pa == pb:
            continue
        cls = classify(kind, pa, pb)
        classes[cls or "OTHER"] += 1
        ca, cb = collections.Counter(nodes(pa)), collections.Counter(nodes(pb))
        moved = {k: cb[k] - ca[k] for k in sorted(ca.keys() | cb.keys()) if cb[k] != ca[k]}
        print(f"{n[:-4]}: {cls or 'OTHER'} {moved}")
    print(f"plans {len(names)}, differ {sum(classes.values())}, by class {dict(sorted(classes.items()))}")
    return 1 if classes["OTHER"] else 0


if __name__ == "__main__":
    sys.exit(main())
