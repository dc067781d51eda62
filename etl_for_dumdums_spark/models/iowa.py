"""Iowa liquor marts re-expressed: monthly rollup + top-1-per-group picks.

  * ``fct_sales_monthly`` — month rollup with ratio-of-aggregates avg
    transaction (fct_sales_monthly.sql:19-28).
  * ``fct_sales_by_county`` — per-county totals joined with the county's
    top category by revenue via rank=1 window (fct_sales_by_county.sql:21-50).
  * ``fct_top_vendors`` — same shape per vendor with top product
    (fct_top_vendors.sql:35-50).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import month_start


def fct_sales_monthly(sales: DataFrame) -> DataFrame:
    return (
        sales.groupBy(month_start(F.col("date")).alias("sale_month"))
        .agg(
            F.count("*").alias("n_transactions"),
            F.round(F.sum("sale_dollars"), 4).alias("total_sales"),
            F.round(F.sum("volume_sold_liters"), 4).alias("total_liters"),
            F.sum("bottles_sold").alias("total_bottles"),
            F.round(
                F.sum("sale_dollars") / F.nullif(F.count("*"), F.lit(0)), 4
            ).alias("avg_transaction"),
        )
    )


def _top_one(df: DataFrame, group_col: str, pick_col: str, metric):
    """rank=1 pick of `pick_col` per `group_col` by metric desc (W3)."""
    per = df.groupBy(group_col, pick_col).agg(metric.alias("m"))
    w = W.partitionBy(group_col).orderBy(F.col("m").desc(), F.col(pick_col))
    return (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(group_col, F.col(pick_col).alias(f"top_{pick_col}"), F.round("m", 4).alias("top_m"))
    )


def fct_sales_by_county(sales: DataFrame) -> DataFrame:
    base = sales.filter(F.col("county").isNotNull())
    totals = base.groupBy("county").agg(
        F.count("*").alias("n_transactions"),
        F.round(F.sum("sale_dollars"), 4).alias("total_sales"),
        F.count_distinct("store_number").alias("n_stores"),
    )
    top_cat = _top_one(base, "county", "category_name", F.sum("sale_dollars")).select(
        "county",
        F.col("top_category_name").alias("top_category"),
        F.col("top_m").alias("top_category_sales"),
    )
    return totals.join(top_cat, "county")


def fct_top_vendors(sales: DataFrame) -> DataFrame:
    totals = sales.groupBy("vendor_name").agg(
        F.round(F.sum("sale_dollars"), 4).alias("total_sales"),
        F.sum("bottles_sold").alias("total_bottles"),
    )
    top_item = _top_one(sales, "vendor_name", "item_description", F.sum("sale_dollars")).select(
        "vendor_name",
        F.col("top_item_description").alias("top_product"),
        F.col("top_m").alias("top_product_sales"),
    )
    return totals.join(top_item, "vendor_name")
