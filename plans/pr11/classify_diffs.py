"""Classify the plans that differ between two ``tools/plan_diff.py dump``
directories: for each, the points-table scans on each side and whether
the change side builds the one-pass spine.

Usage: python plans/pr11/classify_diffs.py <before_dir> <after_dir>
"""

from __future__ import annotations

import os
import re
import sys

_SCAN = re.compile(r"^\(\d+\) Scan parquet.*?^Location: \w+ \[(?:file:)?([^\],]*)", re.M | re.S)


def scans(plan: str) -> list[str]:
    """The last path component of every parquet scan node's location in
    a formatted plan (``metrics`` for the points table)."""
    return [loc.rstrip("/").rsplit("/", 1)[-1] for loc in _SCAN.findall(plan)]


def main() -> None:
    before, after = sys.argv[1], sys.argv[2]
    names = sorted(set(os.listdir(before)) & set(os.listdir(after)))
    differ = 0
    for n in names:
        a, b = (open(os.path.join(d, n)).read() for d in (before, after))
        if a == b:
            continue
        differ += 1
        spine = "map_from_entries" in b and "map_from_entries" not in a
        rate = "lag(" in a
        pa, pb = scans(a).count("metrics"), scans(b).count("metrics")
        print(f"{n[:-4]}\tpoints scans {pa}->{pb}\tall scans {len(scans(a))}->{len(scans(b))}"
              f"\tspine_rewrite={spine}\trate={rate}")
    print(f"{len(names)} plans, {differ} differ")


if __name__ == "__main__":
    main()
