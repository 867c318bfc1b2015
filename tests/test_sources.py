"""Shared-source kernels (queries/sources.py) vs the DuckDB CTEs the
oracles build the same sources with: exact row-multiset equality, column
names included. This pins each kernel directly, independent of whatever
downstream aggregate an entry computes from it, and every CTE below is
checked to still appear verbatim (whitespace aside) in the oracles named
beside it, so the reference cannot drift from the oracles either.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from large_csv_etl_spark.queries import all_oracles
from large_csv_etl_spark.queries import sources
from large_csv_etl_spark.queries.windows import _DAILY_CENTS_SQL
from large_csv_etl_spark.schemas import TEST_TABLES

from .conftest import SF_DIR

_LI_EDGES = """li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem{where}
), edges AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)"""

_CUST_PART = """SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey"""

# name -> (kernel, CTE chain as the oracles spell it, what to select from
# it — a CTE name, or a parenthesised SELECT that is itself oracle text —
# and oracled entries that carry that text)
CASES = {
    "daily_cents": (
        sources.daily_cents,
        f"daily AS ({_DAILY_CENTS_SQL})",
        "daily",
        ["window_williams_r", "window_hull_ma"],
    ),
    "daily_cents_div_100": (
        lambda spark, sf_dir: sources.daily_cents(spark, sf_dir).select(
            "day", F.expr("cents div 100").alias("y")
        ),
        """daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           // 100 AS y
  FROM orders GROUP BY 1
)""",
        "daily",
        ["agg_durbin_watson", "agg_runs_test"],
    ),
    "daily_revenue_cents": (
        sources.daily_revenue_cents,
        """o AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(o_totalprice AS DECIMAL(30,4)) AS price
  FROM orders
), daily AS (
  SELECT day, CAST(SUM(price) * 100 AS BIGINT) AS revenue_cents
  FROM o GROUP BY day
)""",
        "daily",
        ["window_kaufman_efficiency", "window_connors_rsi"],
    ),
    "copurchase_edges": (
        sources.copurchase_edges,
        _LI_EDGES.format(where=""),
        "edges",
        ["graph_common_neighbors", "graph_two_hop_reach"],
    ),
    "copurchase_edges_stratum_4": (
        lambda spark, sf_dir: sources.copurchase_edges(
            spark, sf_dir, stratum=4
        ),
        _LI_EDGES.format(where="\n  WHERE l_orderkey % 4 = 0"),
        "edges",
        ["graph_local_clustering"],
    ),
    "customer_part_edges": (
        sources.customer_part_edges,
        f"li AS (\n  {_CUST_PART}\n)",
        "li",
        ["graph_hits_bipartite"],
    ),
    "shared_customer_projection": (
        sources.shared_customer_projection,
        f"""cp AS (
  {_CUST_PART}
), capped AS (
  SELECT cust, part,
         ROW_NUMBER() OVER (PARTITION BY cust ORDER BY part) AS rn
  FROM cp
), kept AS (
  SELECT cust, part FROM capped WHERE rn <= 16
)""",
        """(SELECT a.part AS part_a, b.part AS part_b,
       CAST(COUNT(*) AS BIGINT) AS shared_customers
FROM kept a JOIN kept b
  ON a.cust = b.cust AND a.part < b.part
GROUP BY a.part, b.part
HAVING COUNT(*) >= 2)""",
        ["graph_bipartite_projection"],
    ),
    "token_edges": (
        sources.token_edges,
        r"""d AS (
  SELECT doc_id, LOWER(TRIM(text)) AS t FROM documents
  WHERE TRIM(text) <> ''
), tok AS (
  SELECT DISTINCT doc_id,
         UNNEST(regexp_split_to_array(t, '\s+')) AS token
  FROM d
), edges AS (
  SELECT a.token AS u, b.token AS v
  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
)""",
        "edges",
        ["graph_triangle_count", "graph_ktruss_edges"],
    ),
}


def _norm(sql: str) -> str:
    """Whitespace-insensitive form; '( SELECT' and '(SELECT' agree."""
    return " ".join(sql.replace("(", "( ").replace(")", " )").split())


@pytest.mark.parametrize("name", sorted(CASES))
def test_cte_appears_in_its_oracles(name):
    _, ctes, table, entries = CASES[name]
    oracles = all_oracles()
    fragments = [ctes] + ([table[1:-1]] if table.startswith("(") else [])
    for entry in entries:
        for fragment in fragments:
            assert _norm(fragment) in _norm(oracles[entry]), (
                f"{name}: reference text no longer in {entry}'s oracle"
            )


@pytest.mark.parametrize("name", sorted(CASES))
def test_kernel_matches_oracle_cte(spark, name):
    kernel, ctes, table, _ = CASES[name]
    df = kernel(spark, SF_DIR)
    con = duckdb.connect()
    for t in TEST_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    rel = con.sql(f"WITH {ctes} SELECT * FROM {table}")
    assert df.columns == rel.columns, (df.columns, rel.columns)
    spark_rows = sorted(tuple(r) for r in df.collect())
    duck_rows = sorted(rel.fetchall())
    assert spark_rows, f"{name}: empty source at {SF_DIR}"
    assert spark_rows == duck_rows
