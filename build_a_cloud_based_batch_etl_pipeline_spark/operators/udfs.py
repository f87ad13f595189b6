"""UDF surface (SURVEY.md §2.2 "UDF surface"): Arrow-vectorized pandas
UDFs and grouped-map applyInPandas, each oracled against the equivalent
built-in-SQL formulation — proving the UDF path computes exactly what the
declarative path would, while demonstrating the escape hatch for logic
Spark can't express.

Hot-path rule (SCALE.md): built-ins first; when Python is unavoidable it
is always Arrow-batched (scalar pandas_udf / applyInPandas), never
row-at-a-time F.udf.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..queries import query
from .util import rbin, t


@F.pandas_udf(T.DoubleType())
def _charge_udf(price: pd.Series, discount: pd.Series, tax: pd.Series) -> pd.Series:
    """Vectorized charge computation: whole Arrow batches, numpy ops.
    No rounding here: pandas .round() is half-even while SQL round is
    half-up — ties would flip. The caller rounds JVM-side."""
    return price * (1.0 - discount) * (1.0 + tax)


@query(
    "udf_pandas_charge",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5)
               / 100 AS charge
    FROM lineitem
    WHERE l_orderkey < 400
    """,
)
def udf_pandas_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Arrow-batched) vs the built-in expression the
    oracle uses — identical results, demonstrating the vectorized Python
    escape hatch. Per-row money rounding uses rbin (binary-faithful
    half-up) — Spark's round() re-reads the double through its decimal
    string and diverges from DuckDB at half boundaries (caught by the
    r8 sf0.1 gate)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 400)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rbin(_charge_udf("l_extendedprice", "l_discount", "l_tax")).alias("charge"),
    )


@query(
    "udf_grouped_zscore",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round((c_acctbal - avg(c_acctbal) OVER w)
                 / stddev_samp(c_acctbal) OVER w, 4) AS z
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment)
    """,
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-segment z-score of account balance.
    Oracle: the window-function formulation — the two must agree exactly
    (pandas ddof=1 == stddev_samp)."""
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf["c_acctbal"].mean()
        std = pdf["c_acctbal"].std(ddof=1)
        out = pdf[["c_custkey", "c_mktsegment"]].copy()
        out["z"] = ((pdf["c_acctbal"] - mean) / std).round(4)
        return out

    return cust.groupBy("c_mktsegment").applyInPandas(
        per_group, schema="c_custkey long, c_mktsegment string, z double"
    )


@F.pandas_udf(T.DoubleType())
def _weighted_avg_udf(value: pd.Series, weight: pd.Series) -> float:
    """GROUPED_AGG pandas UDF (series -> scalar per group): Arrow ships
    each group's columns once, numpy reduces them. The third UDF flavor
    next to scalar (_charge_udf) and grouped-map (udf_grouped_zscore)."""
    return float((value * weight).sum() / weight.sum())


@query(
    "udf_grouped_agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
               AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def udf_grouped_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-AGGREGATE pandas UDF: quantity-weighted mean price per
    return flag, checked against the pure-SQL ratio-of-sums. The UDF
    computes sum(v*w)/sum(w) per group in one numpy pass; rounding
    happens JVM-side (pandas half-even vs SQL half-up would flip ties).

    Scale note: a grouped-agg UDF ships every group member row to
    Python — fine for genuinely custom reductions, but anything
    expressible as built-in aggregates (like this reference formulation)
    should stay JVM-side in production; the query exists to prove the
    escape hatch computes exactly what the declarative path does."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            _weighted_avg_udf(F.col("l_extendedprice"), F.col("l_quantity")), 4
        ).alias("wavg_price")
    )
