"""Count duplicated lines: lines covered by a 6-line window whose text
occurs more than once in the scanned set.

Usage: python plans/pr10/dup_windows.py <package_dir>

Lines are the non-blank, non-comment lines of each ``.py`` file with
whitespace runs collapsed to one space.  Every 6-line window is keyed
by its text; a line counts as duplicated when some window holding it
occurs at two or more places anywhere in the package.  Prints the
count per ``queries/`` module, the ``queries/`` total and the total
over all other modules.
"""

from __future__ import annotations

import collections
import pathlib
import re
import sys

W = 6


def lines_of(path: pathlib.Path) -> list[str]:
    out = []
    for raw in path.read_text().splitlines():
        s = re.sub(r"\s+", " ", raw.strip())
        if s and not s.startswith("#"):
            out.append(s)
    return out


def main() -> None:
    root = pathlib.Path(sys.argv[1])
    files = {p: lines_of(p) for p in sorted(root.rglob("*.py"))}
    seen = collections.Counter()
    for ls in files.values():
        for i in range(len(ls) - W + 1):
            seen["\n".join(ls[i : i + W])] += 1
    per_file = {}
    for p, ls in files.items():
        dup = set()
        for i in range(len(ls) - W + 1):
            if seen["\n".join(ls[i : i + W])] > 1:
                dup.update(range(i, i + W))
        per_file[p] = (len(dup), len(p.read_text().splitlines()))
    q_total = q_lines = other = 0
    for p, (n, total) in per_file.items():
        rel = p.relative_to(root)
        if rel.parts[0] == "queries":
            print(f"{str(rel):32s} {n:5d} duplicated / {total:5d} lines")
            q_total += n
            q_lines += total
        else:
            other += n
    print(f"{'queries/ total':32s} {q_total:5d} duplicated / {q_lines:5d} lines")
    print(f"{'all other modules':32s} {other:5d} duplicated")


if __name__ == "__main__":
    main()
