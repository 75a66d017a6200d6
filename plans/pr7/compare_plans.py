"""Compare two normalised formatted plans node by node, ignoring the
plan's node numbering (a removed node renumbers every node after it).

Usage: python plans/pr7/compare_plans.py <before.txt[.gz]> <after.txt[.gz]>

Prints the tree nodes and the node-detail blocks that only one side
has (as multisets); every other node and detail block is identical.
"""

from __future__ import annotations

import collections
import gzip
import re
import sys


def _read(path: str) -> str:
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as fh:
        return re.sub(r"\(\d+\)", "(n)", fh.read())


def main() -> None:
    before, after = (_read(p) for p in sys.argv[1:3])
    for label, part in (("tree nodes", 0), ("detail blocks", 1)):
        sides = []
        for plan in (before, after):
            head, _, body = plan.partition("\n\n\n")
            items = (
                [re.sub(r"^[\s:+\-|]*", "", ln).strip() for ln in head.splitlines()[1:]]
                if part == 0
                else body.split("\n\n")
            )
            sides.append(collections.Counter(items))
        for sign, diff in (("-", sides[0] - sides[1]), ("+", sides[1] - sides[0])):
            for item, n in sorted(diff.items()):
                print(f"{sign} {label} x{n}: " + item.replace("\n", " | "))


if __name__ == "__main__":
    main()
