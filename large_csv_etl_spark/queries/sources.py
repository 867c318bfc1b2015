"""Shared sources: the one module that knows how each multi-entry source
is built.

Dozens of registry entries read the same derived table — the exact-cents
daily revenue series, the part co-purchase graph, the customer-part
bipartite graph and its capped projection, the document token
co-occurrence graph. Each is built here once, so every consumer plans the
identical subtree and a change to a source (a narrower scan, a different
barrier) lands in one place. The oracles keep their own CTE text on
purpose: they are the reference the kernels are checked against
(tests/test_sources.py pins every kernel to its CTE, row for row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_table
from .helpers import DEC, materialize_reduced


def daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue in exact BIGINT cents — (day, cents), each order
    rounded to cents before the sum: the window and trend families'
    spine. |days|-bounded after one map-side-combinable aggregate."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )


def daily_revenue_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue as the exact DECIMAL sum scaled to cents —
    (day, revenue_cents). The momentum entries (Kaufman ER, RSI, turning
    points, Connors RSI) share this decimal form."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.col("o_totalprice").cast(DEC).alias("price"),
    )
    return o.groupBy("day").agg(
        (F.sum("price") * 100).cast("bigint").alias("revenue_cents")
    )


def copurchase_edges(
    spark: SparkSession, sf_dir: str, stratum: int | None = None
) -> DataFrame:
    """Part co-purchase graph: one undirected edge (u, v), u < v, per pair
    of distinct parts bought in the same order. Materialized: every
    consumer reads the edge list several times (both adjacency
    orientations, degrees, edge counts). ``stratum=k`` keeps only the
    orders with ``l_orderkey % k == 0`` — the deterministic sample
    graph_local_clustering runs on."""
    li = load_table(spark, sf_dir, "lineitem")
    if stratum is not None:
        li = li.filter(F.col("l_orderkey") % stratum == 0)
    li = li.select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    return materialize_reduced(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )


def customer_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-part bipartite graph: the distinct (cust, part) purchase
    pairs of lineitem x orders. Lazy; consumers that read it more than
    once materialize it themselves."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
    )


def shared_customer_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-part projection of the customer-part graph —
    (part_a, part_b, shared_customers), part_a < part_b, for pairs bought
    by at least 2 common customers. Each customer's wedge is capped at its
    16 lowest-numbered parts (the graph family's O(|V|*cap^2) bound — an
    unbounded whale customer would emit quadratically many pairs)."""
    capped = customer_part_edges(spark, sf_dir).select(
        "cust",
        "part",
        F.row_number()
        .over(Window.partitionBy("cust").orderBy("part"))
        .alias("rn"),
    ).filter(F.col("rn") <= 16)
    # Materialized on measurement: the upstream the self-join would
    # otherwise recompute per side — the lineitem x orders join +
    # distinct + rank window — is expensive enough that recomputing it
    # DOUBLES busy CPU (paired A/B: 1093 -> 2141 jiffies) at equal wall.
    capped = materialize_reduced(capped.select("cust", "part"))
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(F.count("*").cast("bigint").alias("shared_customers"))
        .filter(F.col("shared_customers") >= 2)
    )


def token_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence graph: one undirected edge (u, v), u < v, per
    pair of distinct lower-cased tokens that share a non-blank document.
    Lazy, like customer_part_edges."""
    from .text import _SPARK_TOKENS

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tok = docs.select(
        "doc_id",
        F.explode(_SPARK_TOKENS(F.lower(F.col("text")))).alias("token"),
    ).distinct()
    a, b = tok.alias("a"), tok.alias("b")
    return (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.token") < F.col("b.token")),
        )
        .select(F.col("a.token").alias("u"), F.col("b.token").alias("v"))
        .distinct()
    )
