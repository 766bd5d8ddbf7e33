"""DuckDB checks of the program's outputs against the generated inputs.

Query results are compared the way the project's oracle gate compares them:
sorted column names, then the sorted multiset of rows with every value
normalised through repr(). The ETL check recomputes the dimensional fact's
monthly summary from the extracts.
"""
import math

import duckdb

from gen import TABLES

# Monthly summary of the sales fact after the full load: every line priced
# at its part's active (highest staged) price.
ETL_LOAD_SQL = """
WITH price AS (
  SELECT p_partkey, max(CAST(p_retailprice AS DECIMAL(9,2))) AS unit_price
  FROM part GROUP BY 1)
SELECT strftime(CAST(o_orderdate AS DATE), '%Y%m') AS order_month,
       count(*) AS n_sales,
       CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * unit_price
            AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN price ON l_partkey = p_partkey
GROUP BY 1"""

# After the delta: loaded lines keep the price they were loaded at, and the
# new lines take the active price over the base and delta part extracts.
ETL_DELTA_SQL = """
WITH p0 AS (
  SELECT p_partkey, max(CAST(p_retailprice AS DECIMAL(9,2))) AS unit_price
  FROM part GROUP BY 1),
p1 AS (
  SELECT p_partkey, max(CAST(p_retailprice AS DECIMAL(9,2))) AS unit_price
  FROM (SELECT p_partkey, p_retailprice FROM part
        UNION ALL SELECT p_partkey, p_retailprice FROM d_part) GROUP BY 1),
s AS (
  SELECT o_orderdate, l_quantity, unit_price
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN p0 ON l_partkey = p_partkey
  UNION ALL
  SELECT o_orderdate, l_quantity, unit_price
  FROM d_lineitem JOIN d_orders ON l_orderkey = o_orderkey
  JOIN p1 ON l_partkey = p_partkey)
SELECT strftime(CAST(o_orderdate AS DATE), '%Y%m') AS order_month,
       count(*) AS n_sales,
       CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * unit_price
            AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
FROM s GROUP BY 1"""

DELTA_TABLES = ["orders", "lineitem", "part"]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def rows_of(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(norm(r[i]) for i in order) for r in rel.fetchall())
    return sorted(cols), rows


def compare(got, exp):
    """None when equal, else a one-line reason."""
    (gc, gr), (ec, er) = got, exp
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows, expected {len(er)}"
    bad = sum(1 for g, e in zip(gr, er) if g != e)
    return f"{bad}/{len(gr)} rows differ" if bad else None


class Oracle:
    def __init__(self, base_dir, delta_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{base_dir}/{t}.parquet'")
        for t in DELTA_TABLES:
            self.con.execute(
                f"CREATE VIEW d_{t} AS SELECT * FROM '{delta_dir}/{t}.parquet'")

    def query(self, sql, result_dir):
        """(expected row count, mismatch reason or None)."""
        exp = rows_of(self.con.sql(sql))
        got = rows_of(self.con.sql(f"SELECT * FROM '{result_dir}/*.parquet'"))
        return len(exp[1]), compare(got, exp)

    def etl_expected(self):
        """Expected summary rows per step, normalised like `etl_rows`."""
        load = self.con.sql(ETL_LOAD_SQL).fetchall()
        delta = self.con.sql(ETL_DELTA_SQL).fetchall()
        return {"load": etl_rows(load), "delta": etl_rows(delta),
                "noop": etl_rows(delta)}


def etl_rows(rows):
    return sorted((str(m), int(n), norm(float(s))) for m, n, s in rows)
