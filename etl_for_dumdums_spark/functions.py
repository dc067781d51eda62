"""Scalar helper library.

Spark-native equivalents of the reference's SQL idioms (all JVM-side,
codegen-friendly — no Python UDFs):
  * ``safe_divide``  — BigQuery SAFE_DIVIDE (reference fct_stock_prices.sql:26)
  * ``count_if``     — BigQuery COUNTIF  (reference fct_pull_requests.sql:22)
  * ``clean_html``   — 3-pass regex HTML strip (reference sources/hacker_news.py:118-128)
  * ``week_start`` / ``month_start`` — Monday-week / month truncation used for
    all period columns (reference sources/hacker_news.py:76, iowa_liquor.py:95)
  * ``ts_diff_hours`` — TIMESTAMP_DIFF(..., HOUR), truncating toward zero
    (reference fct_pull_requests.sql:76)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def safe_divide(num: Column, den: Column) -> Column:
    """NULL on division by zero, like BigQuery SAFE_DIVIDE / DuckDB x/nullif(y,0)."""
    return F.try_divide(num, den)


def count_if(cond: Column) -> Column:
    """COUNTIF(cond): number of rows where cond is true."""
    return F.count_if(cond)


def count_distinct_if(cond: Column, key: Column) -> Column:
    """count(distinct case when cond then key end) — conditional distinct count."""
    return F.count_distinct(F.when(cond, key))


def clean_html(col: Column) -> Column:
    """Strip tags, decode the common entities, collapse whitespace.

    Mirrors the reference's clean_html (sources/hacker_news.py:118-128) as a
    chain of native regexp_replace calls — no UDF needed.
    """
    c = F.regexp_replace(col, r"<[^>]+>", " ")
    for ent, rep in (
        ("&amp;", "&"),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#x27;", "'"),
        ("&#39;", "'"),
        ("&nbsp;", " "),
    ):
        c = F.regexp_replace(c, ent, rep)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def week_start(col: Column) -> Column:
    """Monday-start week as DATE (BigQuery date_trunc(x, week(monday)))."""
    return F.date_trunc("week", col).cast("date")


def month_start(col: Column) -> Column:
    """First day of month as DATE."""
    return F.date_trunc("month", col).cast("date")


def ts_diff_hours(end: Column, start: Column) -> Column:
    """Whole hours between two timestamps, truncated toward zero.

    Casts through TIMESTAMP first: parquet NTZ timestamps (TIMESTAMP_NTZ)
    don't cast to BIGINT directly; with the session pinned to UTC the
    NTZ→TZ cast is the identity.
    """
    secs = end.cast("timestamp").cast("long") - start.cast("timestamp").cast("long")
    return (secs / 3600).cast("long")


def rounded(col: Column, dp: int) -> Column:
    return F.round(col, dp)


def scrub_nan(col: Column) -> Column:
    """NaN → NULL for float columns (reference sources/stocks.py:149-169
    clean_float/clean_int ingestion scrubbing)."""
    return F.when(F.isnan(col), F.lit(None)).otherwise(col)

