"""Window-function operators (SURVEY.md §2.6 W1-W11, §2.7, F8, R5/R6).

Every window carries a deterministic total ordering (unique tie-break key)
so rank-based picks are stable across engines. At scale these are single
shuffles on the partition key; the daily-series windows first reduce to one
row per (key, day) — the window then runs over a tiny aggregate, never the
raw fact table.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731


# ---------------------------------------------------------------------------
# W1/W2/W5 — the three row_number pick patterns in ONE query, as columns from
# three window specs over the same scan: latest-per-(user,type) dedup (W1,
# reference stg_hn__comments.sql:6-11), best-record with CASE order (W2,
# stg_fda__food_events.sql:18-29), latest-per-user recency pick (W5,
# fct_stock_prices.sql:81-84).
# Value sums go through integer cents so summation order can't flip the hash.
# ---------------------------------------------------------------------------
@register(
    "win_pick_per_group",
    sql=f"""
    WITH ranked AS (
      SELECT user_id, event_type, value,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_user,
             row_number() OVER (PARTITION BY user_id
               ORDER BY CASE WHEN event_type = 'purchase' THEN 0
                             WHEN event_type = 'signup'   THEN 1
                             ELSE 2 END, ts DESC, event_id DESC) AS rn_best
      FROM events)
    SELECT user_id,
           max(CASE WHEN rn_user = 1 THEN event_type END) AS last_event_type,
           round(max(CASE WHEN rn_user = 1 THEN value END), {DP}) AS last_value,
           max(CASE WHEN rn_best = 1 THEN event_type END) AS best_event_type,
           CAST(count_if(rn_type = 1) AS BIGINT) AS n_event_types,
           round(sum(CASE WHEN rn_type = 1
                          THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) / 100.0, {DP})
             AS sum_latest_value
    FROM ranked GROUP BY user_id ORDER BY user_id
    """,
)
def win_pick_per_group(spark, sf_dir):
    t = Tables(spark, sf_dir)
    pref = (
        F.when(F.col("event_type") == "purchase", 0)
        .when(F.col("event_type") == "signup", 1)
        .otherwise(2)
    )
    recency = [F.col("ts").desc(), F.col("event_id").desc()]
    ranked = t.events.select(
        "user_id",
        "event_type",
        "value",
        F.row_number().over(W.partitionBy("user_id", "event_type").orderBy(*recency)).alias("rn_type"),
        F.row_number().over(W.partitionBy("user_id").orderBy(*recency)).alias("rn_user"),
        F.row_number().over(W.partitionBy("user_id").orderBy(pref, *recency)).alias("rn_best"),
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ranked.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("rn_user") == 1, F.col("event_type"))).alias("last_event_type"),
            R(F.max(F.when(F.col("rn_user") == 1, F.col("value")))).alias("last_value"),
            F.max(F.when(F.col("rn_best") == 1, F.col("event_type"))).alias("best_event_type"),
            F.count_if(F.col("rn_type") == 1).alias("n_event_types"),
            R(
                F.sum(F.when(F.col("rn_type") == 1, cents).otherwise(F.lit(0))) / 100.0
            ).alias("sum_latest_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# W3/W4/F8 — top-N-per-group via rank filter (QUALIFY idiom)
# (reference fct_sales_by_county.sql:35-50, sources/hacker_news.py:306-325)
# + A13 group-total transform: each row's share of its partition total
# (reference pages/9_FDA_Food_Events.py:346). Totals are summed in integer
# cents so summation
# order can't flip the hash. The oracle SQL is the simple one-window QUALIFY
# form; the Spark plan is the scalable salted two-stage equivalent (see the
# function body) because the partition key has only 5 distinct values.
# ---------------------------------------------------------------------------
@register(
    "win_top_n_per_group",
    sql=f"""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank_in_priority,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))
               OVER (PARTITION BY o_orderpriority) AS priority_cents
      FROM orders)
    SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS total_price, rank_in_priority,
           round(100.0 * CAST(round(o_totalprice * 100) AS BIGINT) / priority_cents, {DP})
             AS share_of_priority_pct
    FROM ranked WHERE rank_in_priority <= 3
    ORDER BY o_orderpriority, rank_in_priority
    """,
)
def win_top_n_per_group(spark, sf_dir):
    # Scalable top-N, engine-native: Spark's RankLimit rule compiles a
    # row_number rank filter into WindowGroupLimit(Partial) BEFORE the
    # exchange — every map task locally prunes to <= N rows per group, so
    # the shuffle carries <= tasks*groups*N rows and the final per-group
    # sort sees <= tasks*N rows, never |orders|/5. Plan-pinned in
    # tests/test_plans.py. (r1-r3 hand-built the same bound with a salted
    # two-stage window; the optimizer's rewrite measured equal-or-faster at
    # 600M rows — 19.6 s vs 22.1 s — so the hand-scheduling is retired.)
    # The share column's partition totals come from a map-side-combined
    # aggregation (5 rows) broadcast back — never from an unbounded
    # partition window over the fact table.
    t = Tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    orders = t.orders.withColumn("cents", cents)
    totals = orders.groupBy("o_orderpriority").agg(F.sum("cents").alias("priority_cents"))
    order_cols = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    global_w = W.partitionBy("o_orderpriority").orderBy(*order_cols)
    return (
        orders.withColumn("rank_in_priority", F.row_number().over(global_w))
        .filter(F.col("rank_in_priority") <= 3)
        .join(F.broadcast(totals), "o_orderpriority")
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "rank_in_priority",
            R(F.lit(100.0) * F.col("cents") / F.col("priority_cents")).alias(
                "share_of_priority_pct"
            ),
        )
        .orderBy("o_orderpriority", "rank_in_priority")
    )


def _daily_revenue(t):
    """One row per (priority, day): the pre-aggregation that keeps all
    following window ops on a tiny series regardless of fact-table SF."""
    return t.orders.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("order_date")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))


_DAILY_SQL = """
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS order_date,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# W6/W7 — lag-1 and lag-k deltas (day-over-day / week-over-week)
# (reference fct_stock_prices.sql:31-34, fct_keyword_trends.sql:37-46).
# ---------------------------------------------------------------------------
@register(
    "win_lag_deltas",
    sql=f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT o_orderpriority, order_date, revenue,
           round(revenue - lag(revenue, 1) OVER w, {DP}) AS dod_change,
           round(revenue - lag(revenue, 7) OVER w, {DP}) AS wow_change
    FROM daily
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY order_date)
    ORDER BY o_orderpriority, order_date
    """,
)
def win_lag_deltas(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy("order_date")
    daily = _daily_revenue(t)
    rev = F.col("revenue")
    return daily.select(
        "o_orderpriority",
        "order_date",
        "revenue",
        R(rev - F.lag(rev, 1).over(w)).alias("dod_change"),
        R(rev - F.lag(rev, 7).over(w)).alias("wow_change"),
    ).orderBy("o_orderpriority", "order_date")


# ---------------------------------------------------------------------------
# W8/W9/W11 — trailing rolling mean/max/min frames + derived signals
# (reference fct_stock_prices.sql:37-78,96-129: 7d/30d MA, 52-week range)
# + W10 centered ±3-row peak flag (reference fct_keyword_trends.sql:49-57).
# All frames are columns of one window spec over the same pre-aggregated
# daily series.
# ---------------------------------------------------------------------------
@register(
    "win_rolling_frames",
    sql=f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT o_orderpriority, order_date, revenue,
           round(avg(revenue) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), {DP})  AS ma_7,
           round(avg(revenue) OVER (w ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), {DP}) AS ma_30,
           round(max(revenue) OVER (w ROWS BETWEEN 251 PRECEDING AND CURRENT ROW), {DP}) AS high_252,
           round(min(revenue) OVER (w ROWS BETWEEN 251 PRECEDING AND CURRENT ROW), {DP}) AS low_252,
           CASE WHEN avg(revenue) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                     > avg(revenue) OVER (w ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
                THEN 'uptrend' ELSE 'downtrend' END AS ma_trend,
           CASE WHEN revenue >= max(revenue) OVER (w ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                THEN 1 ELSE 0 END AS is_peak
    FROM daily
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY order_date)
    ORDER BY o_orderpriority, order_date
    """,
)
def win_rolling_frames(spark, sf_dir):
    t = Tables(spark, sf_dir)
    base = W.partitionBy("o_orderpriority").orderBy("order_date")
    rev = F.col("revenue")
    ma7 = F.avg(rev).over(base.rowsBetween(-6, 0))
    ma30 = F.avg(rev).over(base.rowsBetween(-29, 0))
    return _daily_revenue(t).select(
        "o_orderpriority",
        "order_date",
        "revenue",
        R(ma7).alias("ma_7"),
        R(ma30).alias("ma_30"),
        R(F.max(rev).over(base.rowsBetween(-251, 0))).alias("high_252"),
        R(F.min(rev).over(base.rowsBetween(-251, 0))).alias("low_252"),
        F.when(ma7 > ma30, "uptrend").otherwise("downtrend").alias("ma_trend"),
        F.when(rev >= F.max(rev).over(base.rowsBetween(-3, 3)), 1).otherwise(0).alias("is_peak"),
    ).orderBy("o_orderpriority", "order_date")


# ---------------------------------------------------------------------------
# R5/R6 — first/last per group + normalize-to-baseline (index = 100)
# (reference pages/10_Stock_Prices.py:176-189,266-279).
# ---------------------------------------------------------------------------
@register(
    "win_first_last_normalize",
    sql=f"""
    WITH daily AS ({_DAILY_SQL}),
    indexed AS (
      SELECT o_orderpriority, order_date, revenue,
             first_value(revenue) OVER w AS first_rev,
             last_value(revenue)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS last_rev
      FROM daily
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY order_date))
    SELECT o_orderpriority,
           round(min(100.0 * revenue / nullif(first_rev, 0)), {DP}) AS min_index,
           round(max(100.0 * revenue / nullif(first_rev, 0)), {DP}) AS max_index,
           round(max(last_rev), {DP})  AS final_revenue,
           round(max(100.0 * (last_rev - first_rev) / nullif(first_rev, 0)), {DP}) AS period_change_pct
    FROM indexed GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def win_first_last_normalize(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w = W.partitionBy("o_orderpriority").orderBy("order_date")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    rev = F.col("revenue")
    indexed = _daily_revenue(t).select(
        "o_orderpriority",
        rev.alias("revenue"),
        F.first(rev).over(w).alias("first_rev"),
        F.last(rev).over(wfull).alias("last_rev"),
    )
    idx = F.lit(100.0) * F.col("revenue") / F.nullif(F.col("first_rev"), F.lit(0.0))
    return (
        indexed.groupBy("o_orderpriority")
        .agg(
            R(F.min(idx)).alias("min_index"),
            R(F.max(idx)).alias("max_index"),
            R(F.max("last_rev")).alias("final_revenue"),
            R(
                F.max(
                    F.lit(100.0)
                    * (F.col("last_rev") - F.col("first_rev"))
                    / F.nullif(F.col("first_rev"), F.lit(0.0))
                )
            ).alias("period_change_pct"),
        )
        .orderBy("o_orderpriority")
    )
