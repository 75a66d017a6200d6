"""Summarise alternating parent/change perfbench runs.

Usage: python plans/pr11/ab_summary.py <runs.jsonl>

Each input line is ``{"side": "parent"|"change", "seed": n, "pair": i,
"r": <perfbench/run.py's last stdout line>}``.  Prints, per end-to-end
metric, both medians, the parent's interquartile range, and how many
pairs the change won.
"""

from __future__ import annotations

import json
import statistics
import sys

LOWER_IS_BETTER = {"setup_s": True, "latency_p50_ms": True, "throughput_per_s": False}


def main() -> None:
    runs = [json.loads(line) for line in open(sys.argv[1]) if line.strip()]
    pairs: dict[int, dict[str, dict]] = {}
    for r in runs:
        pairs.setdefault(r["pair"], {})[r["side"]] = r["r"]
    pairs = {i: p for i, p in pairs.items() if len(p) == 2}
    for side in ("parent", "change"):
        failed = sum(p[side]["failed"] for p in pairs.values())
        correct = all(p[side]["correct"] for p in pairs.values())
        print(f"{side}: {len(pairs)} runs, failed operations {failed}, all answers correct {correct}")
    for m, lower in LOWER_IS_BETTER.items():
        a = [pairs[i]["parent"]["metrics"][m]["value"] for i in sorted(pairs)]
        b = [pairs[i]["change"]["metrics"][m]["value"] for i in sorted(pairs)]
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        q = statistics.quantiles(a, n=4)
        ma, mb = statistics.median(a), statistics.median(b)
        print(f"{m}: parent median {ma:.4g} (IQR {q[2] - q[0]:.4g}, range {min(a):.4g}-{max(a):.4g}), "
              f"change median {mb:.4g} (range {min(b):.4g}-{max(b):.4g}), {100 * (mb - ma) / ma:+.1f}%, "
              f"change wins {wins}/{len(a)}")
        print("  pairs (parent, change): " + ", ".join(f"({x:.4g}, {y:.4g})" for x, y in zip(a, b)))


if __name__ == "__main__":
    main()
