"""Run a Python script with the one-partition rule off, so every
metric, pre-aggregate and meta read plans distributed (the parity
sweeps: ``tools/check_oracle.py``, ``tools/plan_diff.py dump``).

Usage, from the checkout root:

    python plans/pr13/gate_off.py <script> [args ...]

It sets ``sources.batch._SINGLE_PARTITION_MAX_ROWS`` to -1 and runs
``<script>`` as ``__main__`` in the same process.
"""

from __future__ import annotations

import os
import runpy
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from opentsdb_aura_spark.sources import batch  # noqa: E402

batch._SINGLE_PARTITION_MAX_ROWS = -1
sys.argv = sys.argv[1:]
runpy.run_path(sys.argv[0], run_name="__main__")
