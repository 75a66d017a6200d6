"""Check that every plan diff between two dumps is the merged rate Window.

Usage: python plans/pr12/classify_diffs.py <parent_dump> <change_dump>

For each plan whose text differs it prints the name, the ``Window``
node count on each side, and whether the change side's node tree is the
parent's with every ``Window`` → ``Project`` → ``Window`` chain folded
into one ``Window`` that computes both previous-point ``last`` columns
(``_prev_ts`` and ``_prev_v``).
The last line counts the plans, the diffs and the diffs that are not
that fold; the exit status is 1 when there is one.
"""

from __future__ import annotations

import os
import re
import sys

_CHAIN = ["Window", "Project", "Window"]


def nodes(plan: str) -> list[str]:
    tree = plan.split("\n\n")[0].splitlines()[1:]
    return [re.sub(r"\s*\(\d+\)$", "", line.lstrip(" :+-")).strip() for line in tree]


def folded(names: list[str]) -> list[str]:
    out, i = [], 0
    while i < len(names):
        if names[i : i + 3] == _CHAIN:
            out.append("Window")
            i += 3
        else:
            out.append(names[i])
            i += 1
    return out


def merged_window(plan: str) -> bool:
    """A Window node computing both previous-point ``last`` columns."""
    return any(a.count("last(") == 2 for a in re.findall(r"\) Window\n.*\n(Arguments: .*)", plan))


def main() -> int:
    a, b = sys.argv[1], sys.argv[2]
    names = sorted(set(os.listdir(a)) & set(os.listdir(b)))
    other = 0
    n_diff = 0
    for n in names:
        pa, pb = open(os.path.join(a, n)).read(), open(os.path.join(b, n)).read()
        if pa == pb:
            continue
        n_diff += 1
        na, nb = nodes(pa), nodes(pb)
        ok = folded(na) == nb and na != nb and merged_window(pb)
        other += not ok
        print(f"{n[:-4]}: Window {na.count('Window')} -> {nb.count('Window')}, merged_window_only={ok}")
    print(f"plans {len(names)}, differ {n_diff}, not the merged Window {other}")
    return 1 if other else 0


if __name__ == "__main__":
    sys.exit(main())
