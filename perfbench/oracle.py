"""Reference answers computed with DuckDB on the same generated points.

Semantics mirror the catalog's ``ORACLE_PTS`` oracles: last write wins
per (series, ts); rate is per point over the scanned window with the
first point undefined; per-series downsample then group merge, both
skipping undefined values; the result-derived NaN spine, which a 3.x
response renders as ``null``.
"""

from __future__ import annotations

import math

import duckdb
import pyarrow as pa

from gen import HOUR, QuerySpec, n_buckets

#: relative accuracy of the histogram rollup the planner may serve
#: percentiles from (``operators.rollup.HIST_EPS``)
HIST_EPS = 0.01
REL_TOL = 1e-7


class Oracle:
    def __init__(self, *tables: pa.Table):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.register("raw", pa.concat_tables(tables))
        self.con.execute(
            """CREATE TABLE dpts AS
               SELECT metric, host, dc, ts, value FROM (
                 SELECT *, row_number() OVER (PARTITION BY metric, host, ts
                                              ORDER BY ingest_seq DESC) AS rn
                 FROM raw WHERE ts IS NOT NULL) WHERE rn = 1"""
        )

    def stored_points(self) -> int:
        return self.con.execute("SELECT count(*) FROM dpts").fetchone()[0]

    def last_values(self) -> dict[tuple[str, str], float]:
        rows = self.con.execute(
            "SELECT metric, host, arg_max(value, ts) FROM dpts GROUP BY 1, 2"
        ).fetchall()
        return {(m, h): v for m, h, v in rows}

    # -------------------------------------------------------------- metric queries

    def expected(self, spec: QuerySpec, end: int, hist_served: bool) -> dict:
        """{group key: [value or None per bucket]} for a graph query;
        the key is ``(dc,)`` for grouped templates and the host for
        per-series results."""
        start = end - spec.window
        shift = HOUR if spec.template == "shift" else 0
        iv = spec.interval
        where = [f"metric = '{spec.metric}'", f"ts >= {start - shift}", f"ts < {end - shift}"]
        if spec.dcs:
            where.append("dc IN (" + ",".join(f"'{d}'" for d in spec.dcs) + ")")
        if spec.hosts:
            where.append("host IN (" + ",".join(f"'{h}'" for h in spec.hosts) + ")")
        scan = f"SELECT host, dc, ts + {shift} AS ts, value FROM dpts WHERE {' AND '.join(where)}"
        if spec.template == "rate_ds_gb":
            scan = f"""SELECT host, dc, ts,
                  (value - lag(value) OVER w) / (ts - lag(ts) OVER w) AS value
                FROM ({scan}) WINDOW w AS (PARTITION BY host ORDER BY ts)"""
        bucket = f"{start} + ((ts - {start}) // {iv}) * {iv}"
        ds = {"ds_sum": "sum", "gb_avg_avg": "avg", "rate_ds_gb": "avg", "per_series": "avg",
              "shift": "sum", "rollup_hourly": "sum"}.get(spec.template)
        if spec.template == "p90_hist":
            # the histogram path answers the nearest-rank quantile within
            # HIST_EPS; the raw path interpolates like percentile()
            ds = (
                "list_sort(list(value))[CAST(ceil(0.9 * count(*)) AS BIGINT)]"
                if hist_served
                else "quantile_cont(value, 0.9)"
            )
            ds = f"({ds})"
        else:
            ds = f"{ds}(value)"
        gb = {"ds_sum": "sum", "gb_avg_avg": "avg", "rate_ds_gb": "sum", "shift": "sum",
              "rollup_hourly": "sum", "p90_hist": "max"}.get(spec.template)
        per_series = f"SELECT host, dc, {bucket} AS b, {ds} AS v FROM ({scan}) GROUP BY 1, 2, 3"
        if gb is None:
            rows = self.con.execute(f"SELECT host, b, v FROM ({per_series})").fetchall()
            keys = self.con.execute(f"SELECT DISTINCT host FROM ({scan})").fetchall()
        else:
            rows = self.con.execute(
                f"SELECT dc, b, {gb}(v) FROM ({per_series}) GROUP BY 1, 2"
            ).fetchall()
            keys = self.con.execute(f"SELECT DISTINCT dc FROM ({scan})").fetchall()
        nb = n_buckets(start, end, iv)
        out = {(k,): [None] * nb for (k,) in keys}
        for k, b, v in rows:
            if v is not None and not (isinstance(v, float) and math.isnan(v)):
                out[(k,)][(b - start) // iv] = v
        return out

    def meta(self, spec: QuerySpec) -> list[tuple]:
        where = f"metric = '{spec.metric}'"
        if spec.dcs:
            where += " AND dc IN (" + ",".join(f"'{d}'" for d in spec.dcs) + ")"
        if spec.template == "meta_tag_values":
            return sorted(
                self.con.execute(
                    f"SELECT host, count(*) FROM (SELECT DISTINCT metric, host, dc FROM dpts "
                    f"WHERE {where}) GROUP BY 1"
                ).fetchall()
            )
        return self.con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT metric, host, dc FROM dpts WHERE {where})"
        ).fetchall()


def close(a, b, tol: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= tol * max(abs(a), abs(b)) + 1e-9


def response_matches(resp: dict, expected: dict, key_of, tol: float = REL_TOL) -> bool:
    """Compare a rendered 3.x response with the oracle's arrays."""
    data = resp["results"][0]["data"]
    got = {key_of(d["tags"]): d["NumericArrayType"] for d in data}
    if got.keys() != expected.keys():
        return False
    return all(
        len(got[k]) == len(expected[k]) and all(close(a, b, tol) for a, b in zip(got[k], expected[k]))
        for k in expected
    )


# ------------------------------------------------------------------ corpus


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
    return repr(v)


def norm_rows(cols, rows):
    """Order-insensitive, column-order-insensitive normal form (the
    catalog's oracle gate compares results the same way)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in idx], sorted(tuple(_norm_cell(r[i]) for i in idx) for r in rows)


def corpus_answers(documents_path: str, sqls: dict[str, str]) -> dict[str, tuple]:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{documents_path}'")
    out = {}
    for name, sql in sqls.items():
        res = con.sql(sql)
        rows = res.fetchall()
        out[name] = norm_rows([d[0] for d in res.description], rows)
    return out
