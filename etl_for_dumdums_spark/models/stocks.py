"""fct_stock_prices — the reference's densest window-function mart,
re-expressed (dbt/models/marts/stocks/fct_stock_prices.sql).

Per (ticker, date): previous close + daily change (sql:31-34, 96-99),
7/30-day moving averages (sql:37-54), 7-day volume average (sql:57-64),
52-week high/low over 252 trading rows (sql:66-78), recency rank (sql:81-84),
and the derived signals (sql:96-129): MA-crossover trend, volume spike flag,
position in the 52-week range, overnight gap.

Scale: one shuffle on ticker; every frame is bounded (≤252 rows of state
per partition member); ticker count bounds parallelism exactly like the
reference's 32-ticker universe — at larger universes the same plan scales
linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import safe_divide


def fct_stock_prices(prices: DataFrame) -> DataFrame:
    """prices: stg-shaped (ticker, sector, trade_date, open/high/low/close, volume)."""
    w = W.partitionBy("ticker").orderBy("trade_date")
    w7 = w.rowsBetween(-6, 0)
    w30 = w.rowsBetween(-29, 0)
    w252 = w.rowsBetween(-251, 0)
    wrec = W.partitionBy("ticker").orderBy(F.col("trade_date").desc())

    prev_close = F.lag("close_price").over(w)
    close_7d = F.avg("close_price").over(w7)
    close_30d = F.avg("close_price").over(w30)
    vol_7d = F.avg("volume").over(w7)
    high_52w = F.max("high_price").over(w252)
    low_52w = F.min("low_price").over(w252)

    df = prices.select(
        "ticker",
        "sector",
        "trade_date",
        "open_price",
        "high_price",
        "low_price",
        "close_price",
        "volume",
        prev_close.alias("prev_close"),
        F.round(close_7d, 4).alias("close_7d_ma"),
        F.round(close_30d, 4).alias("close_30d_ma"),
        F.round(vol_7d, 4).alias("volume_7d_avg"),
        F.round(high_52w, 4).alias("high_52w"),
        F.round(low_52w, 4).alias("low_52w"),
        F.row_number().over(wrec).alias("recency_rank"),
        F.when(close_7d > close_30d, "uptrend").otherwise("downtrend").alias("ma_trend"),
    )
    return df.select(
        "*",
        F.round(safe_divide(F.col("close_price") - F.col("prev_close"), F.col("prev_close")) * 100, 4).alias(
            "daily_change_pct"
        ),
        F.when(F.col("volume") > 1.5 * F.col("volume_7d_avg"), "high")
        .otherwise("normal")
        .alias("volume_trend"),
        F.round(
            safe_divide(F.col("close_price") - F.col("low_52w"), F.col("high_52w") - F.col("low_52w")) * 100,
            4,
        ).alias("pct_of_52w_range"),
        F.round(
            safe_divide(F.col("open_price") - F.col("prev_close"), F.col("prev_close")) * 100, 4
        ).alias("overnight_gap_pct"),
    )


def fct_sector_performance(fct_prices: DataFrame) -> DataFrame:
    """Sector rollup over the latest 30 trading days per ticker
    (fct_sector_performance.sql:2-35): per sector — ticker count, pct of
    tickers up, avg daily change, best performer via window argmax."""
    recent = fct_prices.filter(F.col("recency_rank") <= 30)
    per_ticker = recent.groupBy("sector", "ticker").agg(
        F.round(F.sum("daily_change_pct"), 4).alias("period_change_pct")
    )
    wbest = W.partitionBy("sector").orderBy(
        F.col("period_change_pct").desc(), F.col("ticker")
    )
    ranked = per_ticker.withColumn("rn", F.row_number().over(wbest))
    best = ranked.filter(F.col("rn") == 1).select(
        "sector",
        F.col("ticker").alias("best_performer"),
        F.col("period_change_pct").alias("best_performer_pct"),
    )
    agg = per_ticker.groupBy("sector").agg(
        F.count("*").alias("n_tickers"),
        F.count_if(F.col("period_change_pct") > 0).alias("n_up"),
        F.round(F.avg("period_change_pct"), 4).alias("avg_change_pct"),
    )
    return agg.join(best, "sector")
