"""The one Arrow row pass (operators/rowpass.py): the exact frame
build, the error-row contract, and the page passes' shared prelude."""

from __future__ import annotations

import pytest

from opentsdb_aura_spark.operators import htmltext as H
from opentsdb_aura_spark.operators.rowpass import map_rows

BIG = 2**62 + 1  # not representable as float64


def _row_fns():
    """(fn, on_error) — built per test: workers unpickle nested
    functions by value, module-level ones by an import of this file."""

    def fn(i, s):
        yield (i, BIG, s)
        if s.startswith("bad"):
            raise ValueError(f"boom {i}")
        yield (i, -BIG, s + "!")

    def error_row(row, exc):
        return (row[0], None, str(exc))

    return fn, error_row


def test_map_rows_error_row_beside_bigint_round_trips_exactly(spark):
    _fn, _error_row = _row_fns()
    df = spark.createDataFrame([(1, "ok"), (2, "bad"), (3, "ok")], "id long, s string").coalesce(1)
    got = map_rows(
        df, _fn, "id long, big long, s string", skip_errors=True, on_error=_error_row
    ).collect()
    # one batch holds a NULL bigint (the error row) beside 2**62 + 1:
    # both come back exactly, and the bad row's partial output stays
    assert [tuple(r) for r in got] == [
        (1, BIG, "ok"),
        (1, -BIG, "ok!"),
        (2, BIG, "bad"),
        (2, None, "boom 2"),
        (3, BIG, "ok"),
        (3, -BIG, "ok!"),
    ]
    # fail-fast without skip_errors
    with pytest.raises(Exception, match="boom 2"):
        map_rows(df, _fn, "id long, big long, s string", on_error=_error_row).collect()


def test_map_rows_all_error_and_empty_batches(spark):
    _fn, _error_row = _row_fns()
    bad = spark.createDataFrame([(7, "bad a"), (8, "bad b")], "id long, s string").coalesce(1)
    got = map_rows(
        bad, _fn, "id long, big long, s string", skip_errors=True, on_error=_error_row
    ).collect()
    assert [tuple(r) for r in got] == [
        (7, BIG, "bad a"),
        (7, None, "boom 7"),
        (8, BIG, "bad b"),
        (8, None, "boom 8"),
    ]
    # a bigint column that is NULL in every row of its batch keeps its type
    all_null = map_rows(bad, lambda i, s: [(i, None, s)], "id long, big long, s string")
    assert [tuple(r) for r in all_null.collect()] == [(7, None, "bad a"), (8, None, "bad b")]
    # a batch with no output rows and an empty input both give no rows
    assert map_rows(bad, lambda i, s: (), "id long, big long, s string").collect() == []
    empty = bad.where("id < 0")
    assert map_rows(empty, _fn, "id long, big long, s string").collect() == []


PAGE_PASSES = [
    H.html_to_text,
    H.html_page_directives,
    H.html_feed_links,
    H.html_links,
    H.html_to_blocks,
]


@pytest.mark.parametrize("page_pass", PAGE_PASSES, ids=lambda f: f.__name__)
def test_page_pass_validates_columns_at_the_api(spark, page_pass):
    pages = spark.createDataFrame([(1, "<p>x</p>", "utf-8")], "doc_id long, html string, cs string")
    with pytest.raises(ValueError, match="keep_cols not in input"):
        page_pass(pages, keep_cols=("doc_id", "nope"))
    if page_pass is H.html_to_blocks:
        return  # no charset seam
    with pytest.raises(ValueError, match="charset_col not in input"):
        page_pass(pages, charset_col="nope")
    assert page_pass(pages, charset_col="cs").columns[0] == "doc_id"
