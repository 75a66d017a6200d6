"""Compare two plan dumps written by ``dump_plans.py``.

Usage: python plans/pr9/compare_dumps.py <before_dir> <after_dir>

Prints a summary (plans in both dumps, plans holding ``MapInPandas`` or
``FlatMapGroupsInPandas``, and how many of each are byte-identical),
then the unified diff of every plan that differs.
"""

from __future__ import annotations

import difflib
import os
import sys

PY_NODES = ("MapInPandas", "FlatMapGroupsInPandas")


def main() -> None:
    before, after = sys.argv[1:3]
    names = sorted(set(os.listdir(before)) & set(os.listdir(after)))
    only = sorted(set(os.listdir(before)) ^ set(os.listdir(after)))
    differ, py_total, py_same = [], 0, 0
    for name in names:
        a = open(os.path.join(before, name)).read()
        b = open(os.path.join(after, name)).read()
        has_py = any(n in a or n in b for n in PY_NODES)
        py_total += has_py
        if a == b:
            py_same += has_py
        else:
            differ.append((name, a, b))
    print(f"plans in both dumps: {len(names)}; in one only: {only}")
    print(f"plans holding {'/'.join(PY_NODES)}: {py_total}, byte-identical: {py_same}")
    print(f"plans that differ: {len(differ)}")
    for name, _, _ in differ:
        print(f"  {name}")
    for name, a, b in differ:
        print()
        sys.stdout.writelines(
            difflib.unified_diff(
                a.splitlines(True), b.splitlines(True), f"before/{name}", f"after/{name}", n=0
            )
        )


if __name__ == "__main__":
    main()
