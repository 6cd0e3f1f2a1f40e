"""Deeper TPC-H-shaped coverage (SURVEY.md §2B.3/4 continued).

The driver's star schema has no partsupp table, so the part-supplier
"supply" relation is derived from observed lineitem (l_partkey,
l_suppkey) pairs; each query keeps the *operator shape* of its TPC-H
counterpart. The shapes whose SQL runs unchanged on Spark and DuckDB
(Q2, Q7-Q9, Q11-Q13, Q16, Q20) are SQL entries in
``parquet_export_spark.queries``; the two kept here as DataFrame plans
are the top-supplier scalar subquery (Q15, fewer broadcasts than its
SQL) and the double-correlated exists / not-exists (Q21, a benchmark
workload entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from parquet_export_spark.functions.scalar import davg, dsum


def q15_top_supplier(t: dict[str, DataFrame]) -> DataFrame:
    """Q15 shape: per-supplier revenue vs the MAX over all suppliers
    (scalar subquery on an aggregate)."""
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    )
    supp = t["supplier"]
    rev = li.groupBy(F.col("l_suppkey").alias("sk")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias(
            "total_revenue"
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("mr"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == F.col("mr"))
        .join(supp, F.col("sk") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q21_exclusive_return_suppliers(t: dict[str, DataFrame]) -> DataFrame:
    """Q21 shape: double-correlated EXISTS / NOT EXISTS, composed as
    window counts over one shuffle — orders where exactly one supplier
    had returned lines and others shipped clean."""
    li = t["lineitem"]
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
    )
    w = Window.partitionBy("l_orderkey")
    marked = per_os.withColumn(
        "n_suppliers", F.count(F.lit(1)).over(w)
    ).withColumn("n_with_r", F.sum("has_r").over(w))
    culprits = marked.filter(
        (F.col("n_suppliers") >= 2) & (F.col("n_with_r") == 1) & (F.col("has_r") == 1)
    )
    supp = t["supplier"]
    return (
        culprits.join(supp, culprits.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_suppkey")
    )


