"""Backward as-of join — a time-series operator Spark lacks natively
(SURVEY.md §2.6 notes the reference has no relational joins either;
this is an engine extension in the spirit of its meta→data hash-fusion,
TimeSeriesShard.java:677-758, where each query row is matched to the
latest state at-or-before its timestamp).

Each left row is paired with the most recent right row whose timestamp
is ≤ the left row's, within the same key — "what was the latest config/
deploy/alert state when this point was measured".

Implementation is the union + running-last trick, NOT a range join:

  1. tag both sides, union them on (keys…, ts, side, right-attrs);
  2. one window per key ordered by (ts, side) with
     ``last(attr, ignorenulls=True)`` over the unbounded-preceding
     frame — right attrs propagate forward to every later left row;
  3. keep the left rows.

Scale shape: ONE shuffle on the join keys (the window partitioning),
no per-row range probe, no interval explosion; skew is bounded by the
hottest key exactly as any per-key window.
The carry is WHOLE-ROW (the right attrs travel as one struct and the
matched row's own NULLs are returned as-is — pandas ``merge_asof``
semantics): a right row with a NULL attribute genuinely sets that
attribute to NULL at its timestamp rather than letting the previous
row's value bleed through per column.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    tolerance: int | None = None,
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join (inclusive: a right row AT the left
    timestamp matches).

    ``right_cols`` — right attributes to carry (default: everything
    except the keys and timestamp); each appears in the output as
    ``<col><suffix>`` plus ``<right_ts><suffix>`` with the matched
    timestamp.  ``tolerance`` — optional max age in timestamp units; a
    match older than this yields NULLs (pandas ``merge_asof``
    semantics).  Right rows must be unique per (keys…, right_ts) for
    deterministic results — pre-aggregate if not.
    """
    on = list(on)
    rcols = list(right_cols) if right_cols is not None else [
        c for c in right.columns if c not in on and c != right_ts
    ]
    carried = [right_ts, *rcols]
    l_struct = StructType([left.schema[c] for c in left.columns])

    r_struct = StructType([right.schema[c] for c in carried])

    l_side = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(r_struct).alias("_rrow"),
    )
    r_side = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l_struct).alias("_lrow"),
        F.struct(*[F.col(c) for c in carried]).alias("_rrow"),
    )
    u = l_side.unionByName(r_side)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_ts"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # carry the matched right row as ONE struct: per-column
    # last(ignorenulls) would fill a NULL attribute of the matched row
    # from an OLDER row, reporting attributes staler than the tolerance
    # (pandas merge_asof returns the matched row's own values, NULLs
    # included)
    filled = u.select(
        "_side",
        "_lrow",
        "_ts",
        F.last("_rrow", ignorenulls=True).over(w).alias("_frow"),
    ).where(F.col("_side") == 1)

    matched = F.col("_frow").isNotNull()
    if tolerance is not None:
        matched = matched & ((F.col("_ts") - F.col("_frow")[right_ts]) <= F.lit(int(tolerance)))
    out_cols = [F.col("_lrow")[c].alias(c) for c in left.columns]
    out_cols += [
        F.when(matched, F.col("_frow")[c]).alias(f"{c}{suffix}") for c in carried
    ]
    return filled.select(*out_cols)
