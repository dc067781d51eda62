"""Dashboard-layer operators as reusable DataFrame functions.

The reference's Streamlit pages post-process mart reads with pandas
(SURVEY.md §2.10-2.11); each idiom here is the distributed equivalent so the
serving layer never materializes more than the final small frame:

  * ``pivot_with_margins``  — pivot_table(..., margins=True)
    (pages/1_Linear_Issues.py:209-240)
  * ``melt``                — wide→long unpivot (pages/3_Oura_Wellness.py:412)
  * ``normalize_to_first``  — index=100 rebasing (pages/10_Stock_Prices.py:266-279)
  * ``weighted_mean``       — count-weighted mean (pages/5_HN_Sentiment.py:51-61)
  * ``autocorrelation``     — shift+corr ACF with the 1.96/sqrt(n) band
    (pages/Oura_Investigation.py:309-340)
  * ``value_counts``        — groupBy().count() ordered (R3)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def pivot_with_margins(
    df: DataFrame,
    row_key: str,
    col_key: str,
    value: str,
    col_values: list[str],
    total_label: str = "Total",
) -> DataFrame:
    """Pivot with explicit column domain, zero-fill, a per-row total column,
    and an appended grand-total row (the hand-built margins of R1)."""
    piv = (
        df.groupBy(row_key)
        .pivot(col_key, col_values)
        .sum(value)
        .select(
            row_key, *[F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in col_values]
        )
        .withColumn("row_total", sum(F.col(c) for c in col_values))
    )
    totals = piv.agg(
        F.lit(total_label).alias(row_key),
        *[F.sum(c).alias(c) for c in col_values],
        F.sum("row_total").alias("row_total"),
    ).select(row_key, *col_values, "row_total")
    return piv.orderBy(row_key).unionByName(totals)


def melt(df: DataFrame, ids: list[str], values: list[str], var_name="metric", value_name="value"):
    return df.unpivot(ids, values, var_name, value_name)


def normalize_to_first(df: DataFrame, partition_key: str, order_key: str, value: str) -> DataFrame:
    """index = 100 * value / first value in the partition's order (R5)."""
    w = W.partitionBy(partition_key).orderBy(order_key)
    first = F.first(value).over(w)
    return df.withColumn("indexed", F.round(F.lit(100.0) * F.col(value) / first, 4))


def weighted_mean(df: DataFrame, keys: list[str], value: str, weight: str) -> DataFrame:
    return df.groupBy(*keys).agg(
        F.round(
            F.sum(F.col(value) * F.col(weight)) / F.nullif(F.sum(weight), F.lit(0)), 4
        ).alias(f"weighted_{value}"),
        F.sum(weight).alias("total_weight"),
    )


def autocorrelation(
    df: DataFrame, order_key: str, value: str, max_lag: int = 7
) -> DataFrame:
    """ACF over an ordered series: one window pass builds all lag columns,
    one aggregate computes every corr — returns (lag, autocorr, n_pairs,
    significant) with the 1.96/sqrt(n) significance band, one row per lag."""
    w = W.orderBy(order_key)
    lags = range(1, max_lag + 1)
    lagged = df.select(value, *[F.lag(value, k).over(w).alias(f"_lag_{k}") for k in lags])
    acf = lagged.agg(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("lag"),
                    F.round(F.corr(value, f"_lag_{k}"), 4).alias("autocorr"),
                    F.count(f"_lag_{k}").alias("n_pairs"),
                )
                for k in lags
            ]
        ).alias("acf")
    )
    return (
        acf.select(F.explode("acf").alias("a"))
        .select("a.*")
        .withColumn("significant", F.abs(F.col("autocorr")) > 1.96 / F.sqrt(F.col("n_pairs")))
        .orderBy("lag")
    )


def value_counts(df: DataFrame, col: str) -> DataFrame:
    return df.groupBy(col).count().orderBy(F.col("count").desc(), F.col(col))
