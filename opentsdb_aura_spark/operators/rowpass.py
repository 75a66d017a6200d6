"""One Arrow row pass for every Python codec stage.

The decoders, parsers, encoders and fixture generators of the
containers, htmltext, robots, av and multimodal modules are per-row
Python functions.  Spark's construct for them is an Arrow-batched
``mapInPandas`` (1→0..n rows per input row), or, for the file writers,
one ``groupBy(key).applyInPandas`` per output file.  This module writes
that construct once and hides the pandas/Arrow batch format from the
stages:

- :func:`map_rows` is the batch loop, the exact frame build and the
  crawl-grade error-row contract;
- :func:`pack_groups` is the file pack: one spread shuffle on the file
  key, each group sorted and encoded once.

The inner functions are named ``op`` and ``build`` because the
physical plan prints them (``MapInPandas op(...)``,
``FlatMapGroupsInPandas [...], build(...)``).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: chained-Python depth the fixture pipelines reach (build → parse →
#: http → html): a task running k chained mapInPandas/applyInPandas
#: nodes holds k Python workers AT ONCE, so spreading the build to a
#: full ``defaultParallelism`` partitions put k×cores workers on the
#: box — 4× oversubscription that made every downstream decode stage
#: SLOWER at 32 cores than at 8 (VERDICT r14's regression cluster:
#: corpus_warc_typed_records 0.98→5.02 s, c8/c32 ratios 0.10–0.27).
#: Dividing the spread by the chain depth keeps concurrent workers ≈
#: cores at ANY core count (measured same-session min-of-3 at sf0.1:
#: gzip_html_text 1.93→1.02 s, link_density 1.67→1.01 s, ccnet_curate
#: 5.83→3.64 s, typed_records 0.86→0.58 s vs the full spread — and
#: spread=1, the pre-r14 AQE collapse, is 2× worse again).
_CHAIN_DEPTH = 4


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Pin the fixture-build shuffle to ``defaultParallelism /
    _CHAIN_DEPTH`` partitions hashed on ``key``.  The
    groupBy→applyInPandas build that follows requires exactly this
    hash distribution, so no extra exchange is added — but the
    EXPLICIT partition count opts the one exchange out of AQE
    partition coalescing.  That matters because the synthetic
    container files are kilobytes: AQE's byte-based targets collapse
    them to a single post-shuffle partition, and since every
    downstream decode pass (mapInPandas / mapInArrow) is narrow, the
    whole encode→parse→extract chain then runs on ONE task regardless
    of cores (observed: 8-9 s single-task stages in
    pipeline_ccnet_curate).  Each row here costs a full Python
    encode + parse chain — orders of magnitude more per byte than
    AQE's heuristic assumes (guide §2.5: input skew is fixed at the
    source).  A real .warc.gz scan gets its parallelism from
    maxPartitionBytes file splits instead; the divided spread is the
    worker-per-core parallelism such a scan's chained decode would
    want (see _CHAIN_DEPTH)."""
    sc = df.sparkSession.sparkContext
    n = max(1, sc.defaultParallelism // _CHAIN_DEPTH)
    return df.repartition(n, F.col(key))


def _frame(rows: list) -> pd.DataFrame:
    """Output tuples → one pandas frame of ``object``-dtype columns
    labelled by position (Spark assigns unlabelled columns to the
    schema's fields in order).  Object dtype hands Arrow each value as
    the Python object the stage made: ``pd.DataFrame(rows)`` turns a
    bigint column holding one NULL into float64, and 2**62 + 1 comes
    back as 2**62.  No rows give a column-less frame, which Spark reads
    as an empty batch of the declared schema."""
    return pd.DataFrame(
        {i: pd.Series(col, dtype=object) for i, col in enumerate(zip(*rows, strict=True))}
    )


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema,
    *,
    cols: Iterable[str] | None = None,
    skip_errors: bool = False,
    on_error: Callable[[tuple, Exception], tuple | None] | None = None,
    catch: type[Exception] | tuple[type[Exception], ...] = Exception,
) -> DataFrame:
    """``df.mapInPandas`` over a per-row ``fn``: ``fn(*row)`` gets one
    input row's values of ``cols`` (default ``df.columns``, in that
    order) and returns an iterable of output tuples in ``schema``
    order — 1→0..n rows.

    The error-row contract: an exception of type ``catch`` raised while
    ``fn`` runs or while its rows are drawn fails the task unless
    ``skip_errors``; then the rows ``fn`` already yielded for that
    input stay (a truncated WARC keeps its parsed prefix) and
    ``on_error(row, exc)`` adds one error row after them (``None``
    drops the input row; raising keeps the error fatal)."""
    names = list(df.columns if cols is None else cols)

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list = []
            for row in zip(*(pdf[c] for c in names)):
                try:
                    out.extend(fn(*row))
                except catch as exc:
                    if not skip_errors:
                        raise
                    err = on_error(row, exc)
                    if err is not None:
                        out.append(err)
            yield _frame(out)

    return df.mapInPandas(op, schema=schema)


def pack_groups(
    rows: DataFrame,
    key: str,
    order: str | list[str],
    encode: Callable[[object, list[tuple]], Iterable[tuple]],
    schema,
) -> DataFrame:
    """The one file pack: ``rows`` shuffle once on ``key`` (the
    :func:`_spread` width), and each group, sorted on ``order``, is
    encoded once.  ``encode(gid, group)`` gets the group's key as
    pandas holds it (NaN for a NULL key) and the group's other columns
    as row tuples in ``rows.columns`` order, and returns the output
    tuples in ``schema`` order."""
    names = [c for c in rows.columns if c != key]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        group = list(zip(*(pdf[c] for c in names)))
        return _frame(list(encode(pdf[key].iloc[0], group)))

    return _spread(rows, key).groupBy(key).applyInPandas(build, schema)
