"""Compare the verdicts of ``tools/check_oracle.py`` logs query by query.

Usage: python plans/pr13/compare_oracle.py <first.log> <other.log> ...

Reads each log's ``pass`` / ``weak`` / ``FAIL`` lines (a later line for
the same query replaces an earlier one, as in a log that holds a rerun)
and prints, per log, the verdict counts and the queries whose verdict
or row count differs from the first log's.  The exit status is 1 when
one does.
"""

from __future__ import annotations

import collections
import re
import sys

VERDICT = re.compile(r"(?:^|\s)(pass|weak|FAIL) ([A-Za-z0-9_]+):?(?: rows-only)? ?(?:\((\d+) rows\))?")


def verdicts(path: str) -> dict[str, tuple[str, str | None]]:
    out = {}
    for line in open(path, errors="replace"):
        m = VERDICT.search(line)
        if m:
            out[m.group(2)] = (m.group(1), m.group(3))
    return out


def main() -> int:
    first = verdicts(sys.argv[1])
    status = 0
    for path in sys.argv[1:]:
        got = verdicts(path)
        differ = sorted(k for k in first.keys() | got.keys() if first.get(k) != got.get(k))
        counts = dict(collections.Counter(v for v, _ in got.values()))
        print(f"{path}: {len(got)} queries {counts}, differ from the first: {len(differ)} {differ[:10]}")
        status |= bool(differ)
    return status


if __name__ == "__main__":
    sys.exit(main())
