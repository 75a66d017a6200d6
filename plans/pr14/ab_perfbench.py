"""Alternating parent/change perfbench runs.

Usage:

    python plans/pr14/ab_perfbench.py <parent_checkout> <change_checkout> \\
        <workload> <first_seed> <pairs> <out.jsonl>

Pair ``i`` runs ``perfbench/run.py --workload <workload> --seed
<first_seed + i> --seconds 10`` in each checkout, the parent first in
even pairs and the change first in odd ones, and appends one line per
run: ``{"side", "seed", "pair", "r": <the last stdout line>,
"template_ms": <the detail line's per-template medians, if any>}``.
``plans/pr11/ab_summary.py <out.jsonl>`` summarises the file.
"""

from __future__ import annotations

import json
import subprocess
import sys


def main() -> None:
    parent, change, workload, seed0, pairs, out = sys.argv[1:7]
    sides = {"parent": parent, "change": change}
    for i in range(int(pairs)):
        seed = int(seed0) + i
        for side in ("parent", "change") if i % 2 == 0 else ("change", "parent"):
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed), "--seconds", "10"],
                cwd=sides[side], capture_output=True, text=True,
            )
            lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
            detail = json.loads(lines[-2]) if len(lines) > 1 else {}
            rec = {"side": side, "seed": seed, "pair": i, "r": json.loads(lines[-1])}
            templates = detail.get("info", {}).get("template_ms")
            if templates:
                rec["template_ms"] = templates
            with open(out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            print(side, seed, rec["r"].get("metrics"), flush=True)


if __name__ == "__main__":
    main()
