"""Aggregation operators (SURVEY.md §2.5 A1-A14).

Each query mirrors an aggregation shape from the reference's dbt marts /
pandas layer, re-expressed over the testdata star schema. All are single
shuffle groupBy → partial (map-side) aggregation first, so they scale
linearly with input; group keys are low-cardinality so the reduce side is
tiny at any SF.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import count_distinct_if, safe_divide, week_start
from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731


# ---------------------------------------------------------------------------
# A1/A5 spine — the flagship pricing-summary query (TPC-H Q1 shape; the
# reference's fct_hn_weekly_stats.sql:8-12 / fct_sales_monthly.sql:19-28 use
# the same scan→filter→groupBy→multi-agg→sort spine).
# ---------------------------------------------------------------------------
@register(
    "agg_pricing_summary",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), {DP})                                  AS sum_qty,
           round(sum(l_extendedprice), {DP})                             AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), {DP})          AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), {DP}) AS sum_charge,
           round(avg(l_quantity), {DP})                                  AS avg_qty,
           round(avg(l_extendedprice), {DP})                             AS avg_price,
           round(avg(l_discount), {DP})                                  AS avg_disc,
           count(*)                                                      AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark, sf_dir):
    t = Tables(spark, sf_dir)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t.lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            R(F.sum("l_quantity")).alias("sum_qty"),
            R(F.sum("l_extendedprice")).alias("sum_base_price"),
            R(F.sum(disc_price)).alias("sum_disc_price"),
            R(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            R(F.avg("l_quantity")).alias("avg_qty"),
            R(F.avg("l_extendedprice")).alias("avg_price"),
            R(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# A1/A2/A5 + Monday-week truncation — fct_hn_weekly_stats shape
# (reference dbt/models/marts/hacker_news/fct_hn_weekly_stats.sql:5-14).
# ---------------------------------------------------------------------------
@register(
    "agg_weekly_event_stats",
    extra=True,
    sql=f"""
    SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
           count(*)                    AS n_events,
           count(DISTINCT user_id)     AS n_users,
           round(sum(value), {DP})     AS sum_value,
           round(avg(value), {DP})     AS avg_value,
           round(max(value), {DP})     AS max_value,
           round(min(value), {DP})     AS min_value
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def agg_weekly_event_stats(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(week_start(F.col("ts")).alias("event_week"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            R(F.sum("value")).alias("sum_value"),
            R(F.avg("value")).alias("avg_value"),
            R(F.max("value")).alias("max_value"),
            R(F.min("value")).alias("min_value"),
        )
        .orderBy("event_week")
    )


# ---------------------------------------------------------------------------
# A3/A7 — conditional counts + ratio-of-aggregates
# (reference fct_pull_requests.sql:22-23, fct_hn_keyword_sentiment.sql:29-31).
# ---------------------------------------------------------------------------
@register(
    "agg_conditional_counts",
    sql=f"""
    SELECT o_orderpriority,
           count(*)                                        AS n_orders,
           CAST(count_if(o_orderstatus = 'O') AS BIGINT)   AS n_open,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT)   AS n_finished,
           round(100.0 * count_if(o_orderstatus = 'O') / count(*), {DP}) AS pct_open,
           round(sum(o_totalprice) / nullif(count_if(o_orderstatus = 'F'), 0), {DP}) AS price_per_finished
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def agg_conditional_counts(spark, sf_dir):
    t = Tables(spark, sf_dir)
    n_open = F.count_if(F.col("o_orderstatus") == "O")
    n_fin = F.count_if(F.col("o_orderstatus") == "F")
    return (
        t.orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            n_open.alias("n_open"),
            n_fin.alias("n_finished"),
            R(F.lit(100.0) * n_open / F.count("*")).alias("pct_open"),
            R(safe_divide(F.sum("o_totalprice"), F.nullif(n_fin, F.lit(0)))).alias(
                "price_per_finished"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# A2/A4 — distinct and conditional-distinct counts
# (reference fct_fda_events_by_gender.sql:33,45-46; data.py:334).
# ---------------------------------------------------------------------------
@register(
    "agg_conditional_distinct",
    sql="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT CASE WHEN value > 50 THEN user_id END) AS n_high_value_users,
           count(DISTINCT CASE WHEN props LIKE '%"k"%' THEN user_id END) AS n_prop_users
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def agg_conditional_distinct(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            count_distinct_if(F.col("value") > 50, F.col("user_id")).alias("n_high_value_users"),
            count_distinct_if(F.col("props").like('%"k"%'), F.col("user_id")).alias("n_prop_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# A6/A10 — stddev and weighted average
# (reference fct_hn_keyword_sentiment.sql:25; pages/5_HN_Sentiment.py:51-61).
# ---------------------------------------------------------------------------
@register(
    "agg_stddev_weighted",
    sql=f"""
    SELECT l_returnflag,
           round(stddev(l_quantity), {DP})       AS qty_stddev,
           round(stddev_pop(l_quantity), {DP})   AS qty_stddev_pop,
           round(sum(l_discount * l_quantity) / nullif(sum(l_quantity), 0), {DP}) AS weighted_avg_disc
    FROM lineitem
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_stddev_weighted(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            R(F.stddev_samp("l_quantity")).alias("qty_stddev"),
            R(F.stddev_pop("l_quantity")).alias("qty_stddev_pop"),
            R(
                safe_divide(
                    F.sum(F.col("l_discount") * F.col("l_quantity")),
                    F.nullif(F.sum("l_quantity"), F.lit(0)),
                )
            ).alias("weighted_avg_disc"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# A9 — conditional max as pivot-style extraction
# (reference fct_oura_daily.sql:28-31: max(case when sleep_type=... then ...)).
# ---------------------------------------------------------------------------
@register(
    "agg_conditional_max_pivot",
    sql=f"""
    SELECT user_id,
           round(max(CASE WHEN event_type = 'click'    THEN value END), {DP}) AS max_click_value,
           round(max(CASE WHEN event_type = 'purchase' THEN value END), {DP}) AS max_purchase_value,
           ((2 * sum(CAST(round((CASE WHEN event_type = 'view' THEN value END) * 1000000)
                          AS BIGINT))
             + 100 * count(CASE WHEN event_type = 'view' THEN value END))
            // nullif(200 * count(CASE WHEN event_type = 'view' THEN value END), 0))
           / 10000.0 AS avg_view_value
    FROM events
    GROUP BY user_id ORDER BY user_id
    """,
)
def agg_conditional_max_pivot(spark, sf_dir):
    t = Tables(spark, sf_dir)
    e = F.col("event_type")
    v = F.col("value")
    # avg computed ENTIRELY in integer domain: micro-cells (1e-6) summed
    # exactly, then rounded to 4 dp by the half-up floor-division identity
    # floor(s/(100n) + 1/2) = (2s + 100n) // (200n)  [values are >= 0].
    # Both a raw double avg AND round(double, 4) at the edge diverge between
    # engines by half an ulp on boundary quotients (seen at sf0.1); the one
    # double op left is the final /10000.0 presentation, which is exact.
    view_cell = F.when(e == "view", F.round(v * 1000000).cast("long"))
    agged = t.events.groupBy("user_id").agg(
        R(F.max(F.when(e == "click", v))).alias("max_click_value"),
        R(F.max(F.when(e == "purchase", v))).alias("max_purchase_value"),
        F.sum(view_cell).alias("_sc"),
        F.count(F.when(e == "view", v)).alias("_nv"),
    )
    return agged.select(
        "user_id",
        "max_click_value",
        "max_purchase_value",
        (F.expr("(2 * _sc + 100 * _nv) div nullif(200 * _nv, 0)") / 10000.0).alias(
            "avg_view_value"
        ),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# A12 — row-wise "avg of non-null scores" then aggregated
# (reference fct_oura_daily.sql:126-135 combined wellness score).
# ---------------------------------------------------------------------------
@register(
    "agg_rowwise_presence_score",
    sql=f"""
    WITH scored AS (
      SELECT l_returnflag,
             (coalesce(l_quantity, 0) + coalesce(nullif(l_discount, 0) * 100, 0)
              + coalesce(nullif(l_tax, 0) * 100, 0))
             / nullif((CASE WHEN l_quantity IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN nullif(l_discount, 0) IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN nullif(l_tax, 0) IS NOT NULL THEN 1 ELSE 0 END), 0) AS combined
      FROM lineitem)
    SELECT l_returnflag, round(avg(combined), {DP}) AS avg_combined_score, count(*) AS n
    FROM scored GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_rowwise_presence_score(spark, sf_dir):
    t = Tables(spark, sf_dir)
    qty = F.col("l_quantity")
    disc = F.nullif(F.col("l_discount"), F.lit(0.0)) * 100
    tax = F.nullif(F.col("l_tax"), F.lit(0.0)) * 100
    total = F.coalesce(qty, F.lit(0.0)) + F.coalesce(disc, F.lit(0.0)) + F.coalesce(tax, F.lit(0.0))
    present = sum(F.when(c.isNotNull(), 1).otherwise(0) for c in (qty, disc, tax))
    combined = total / F.nullif(present, F.lit(0))
    return (
        t.lineitem.select("l_returnflag", combined.alias("combined"))
        .groupBy("l_returnflag")
        .agg(R(F.avg("combined")).alias("avg_combined_score"), F.count("*").alias("n"))
        .orderBy("l_returnflag")
    )


def _orderstat_percentiles(frame, col, specs):
    """Exact interpolated percentiles of a 2-decimal DOUBLE column as a
    1-row frame, via a cents histogram + cumulative order statistics —
    the scale-safe replacement for Spark's exact `percentile` aggregate.

    `percentile` keeps a value->count OpenHashMap of boxed doubles per
    partial buffer and merges every map on ONE reducer, then sorts the
    merged map per evaluation: ~2.4 s per percentile at sf0.1 (583k
    distinct prices), 671 s at the 1000x replica. Here the heavy input
    collapses to a `(cents, freq)` histogram with map-side partial
    aggregation (one narrow shuffle, codegen all the way), a cumulative
    window over the histogram locates the two order statistics per
    percentile, and the interpolation REPLICATES Percentile.getPercentile
    bit-for-bit: pos = p * (n-1) in double, lower==higher -> lowerKey,
    else lowerKey*(higher-pos) + higherKey*(pos-lower) — NOT the
    algebraically equal but IEEE-different lo+(hi-lo)*frac form. The
    cents->double reconstruction (c/100.0) is bit-exact for 2-decimal
    data (same identity the winsorized-stats oracle relies on). The
    cumulative is range-partitioned (operators/ranked.ranged_prefix), so
    no single task ever sorts the whole histogram; the histogram itself
    is bounded by the DOMAIN of the column (distinct cent values), not
    the row count — at 100 TB it is a few million rows while the old
    map-merge reducer saw every partial's full map.

    specs: [(percentage, out_alias), ...]. Returns 1-row DataFrame with
    one rounded column per spec.
    """
    import math as _math

    from ..operators.ranked import ranged_prefix

    cents = F.round(F.col(col) * 100).cast("long")
    hist = frame.groupBy(cents.alias("c")).agg(F.count("*").alias("f"))
    # r9 follow-up: the cumulative runs range-partitioned (per-partition
    # sums + literal offsets) instead of a single-partition window —
    # domain-bounded is still one task at the ~10M-value cents bound.
    # ranged_prefix's exact grand total also IS n, so the old second
    # histogram evaluation (meta) collapses to Python-literal positions:
    # double(n-1) * p / floor / ceil are the identical IEEE ops the
    # in-plan expressions performed (Catalyst constant-folded them too).
    pref, _tot = ranged_prefix(hist, ["c"], ["f"])
    cum = pref.select("c", "f", F.col("cum_f").alias("cum"))
    n = _tot["f"]
    tags = [tag for _, tag in specs]
    pos_ = {tag: float(n - 1) * p for p, tag in specs}
    lo_ = {tag: int(_math.floor(pos_[tag])) for tag in tags}
    hi_ = {tag: int(_math.ceil(pos_[tag])) for tag in tags}
    # histogram row covers 0-based sorted positions [cum-f, cum-1]
    covers = lambda idx: (F.col("cum") - F.col("f") <= F.lit(idx)) & (F.lit(idx) < F.col("cum"))  # noqa: E731
    keep = None
    for tag in tags:
        cond = covers(lo_[tag]) | covers(hi_[tag])
        keep = cond if keep is None else (keep | cond)
    sel = cum.filter(keep).agg(
        *[
            e
            for tag in tags
            for e in (
                (F.max(F.when(covers(lo_[tag]), F.col("c"))) / 100.0).alias(f"_vlo_{tag}"),
                (F.max(F.when(covers(hi_[tag]), F.col("c"))) / 100.0).alias(f"_vhi_{tag}"),
            )
        ]
    )
    return sel.select(
        *[
            R(
                F.col(f"_vlo_{tag}")
                if lo_[tag] == hi_[tag]
                else (
                    F.col(f"_vlo_{tag}") * F.lit(float(hi_[tag]) - pos_[tag])
                    + F.col(f"_vhi_{tag}") * F.lit(pos_[tag] - float(lo_[tag]))
                )
            ).alias(tag)
            for tag in tags
        ]
    )


# ---------------------------------------------------------------------------
# A14 — global summary stats (no grouping)
# (reference Summary.py:44-193, pages/4_Hacker_News.py:80-83).
# ---------------------------------------------------------------------------
@register(
    "agg_global_summary",
    sql=f"""
    SELECT count(*)                         AS n_rows,
           count(DISTINCT l_orderkey)       AS n_orders,
           count(DISTINCT l_partkey)        AS n_parts,
           round(sum(l_extendedprice), {DP}) AS total_price,
           round(avg(l_quantity), {DP})     AS mean_qty,
           round(max(l_extendedprice), {DP}) AS max_price,
           round(quantile_cont(l_extendedprice, 0.5), {DP})  AS p50_price,
           round(quantile_cont(l_extendedprice, 0.9), {DP})  AS p90_price,
           round(quantile_cont(l_extendedprice, 0.99), {DP}) AS p99_price
    FROM lineitem
    """,
)
def agg_global_summary(spark, sf_dir):
    """A11/A14 multi-stat global summary + interpolated percentiles.

    Decomposed into four independent passes crossJoined as 1-row frames
    (AQE runs independent stages concurrently): plain stats, the two
    DISTINCT counts, and the percentiles via _orderstat_percentiles.
    The original single agg made Catalyst plan an Expand(x3) (the two
    count_distincts) whose partial ObjectHashAggregate keyed the THREE
    exact-Percentile value->count buffers by (l_partkey, l_orderkey,
    gid) — ~1.2M mostly-empty percentile maps built and shuffled at
    sf0.1 (11-16 s measured; 671 s at the 1000x replica). Split, the
    stats pass is one clean partial-aggregated scan, each distinct count
    is a plain 2-stage hash aggregate (no Expand anywhere), and the
    percentiles run as the histogram order-statistics pass (guide §2.3
    "aggregate before you shuffle"; value-equivalence to the Percentile
    aggregate pinned in tests/test_optimization_r09.py, plan pinned in
    tests/test_plans.py)."""
    t = Tables(spark, sf_dir)
    stats = t.lineitem.agg(
        F.count("*").alias("n_rows"),
        R(F.sum("l_extendedprice")).alias("total_price"),
        R(F.avg("l_quantity")).alias("mean_qty"),
        R(F.max("l_extendedprice")).alias("max_price"),
    )
    pcts = _orderstat_percentiles(
        t.lineitem, "l_extendedprice", [(0.5, "p50_price"), (0.9, "p90_price"), (0.99, "p99_price")]
    )
    n_orders = t.lineitem.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    n_parts = t.lineitem.agg(F.count_distinct("l_partkey").alias("n_parts"))
    return (
        stats.crossJoin(F.broadcast(n_orders))
        .crossJoin(F.broadcast(n_parts))
        .crossJoin(F.broadcast(pcts))
        .select(
            "n_rows",
            "n_orders",
            "n_parts",
            "total_price",
            "mean_qty",
            "max_price",
            "p50_price",
            "p90_price",
            "p99_price",
        )
    )


# ---------------------------------------------------------------------------
# Winsorized statistics: clip l_extendedprice to its per-group [p05, p95]
# and report the clipped mean EXACTLY. Prices are 2-decimal, so inlier sums
# run in integer cents; the two clip boundaries contribute n_below*p05 and
# n_above*p95 as single IEEE multiplications in a fixed addition order —
# no order-dependent double summation anywhere, so the cross-engine hash
# cannot drift even at the 100x replica. Two passes over the group (exact
# percentile, then conditional agg) joined on the tiny group key. The
# exact `percentile` aggregate buffers each group's values in one task —
# at true 100 TB scale swap in operators/quantile.py's counting-selection
# exact quantile (constant memory, bit-identical on cent-valued data).
# ---------------------------------------------------------------------------
@register(
    "agg_winsorized_stats",
    extra=True,
    # The oracle computes the exact per-group p05/p95 from a cents HISTOGRAM
    # (group by flag+cents -> cumulative counts -> the two order statistics
    # -> quantile_cont's own interpolation h=(n-1)q, v_lo+(v_hi-v_lo)*frac
    # restated on cents/100.0, which is bit-exact the stored double).
    # DuckDB's native GROUPED quantile_cont buffers every value per group —
    # 600M doubles at the 1000x replica ground for 45+ minutes without
    # finishing (r8 sweep); the histogram form is one scan + a ~31M-row
    # window and returns in seconds. Pin-tested equal to the quantile_cont
    # form at sf0.001/sf0.01 (tests/test_advice_r8.py).
    sql=f"""
    WITH hist AS MATERIALIZED (
      SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2),
    cum AS MATERIALIZED (
      SELECT l_returnflag, cents, cnt,
             sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cum,
             sum(cnt) OVER (PARTITION BY l_returnflag) AS n
      FROM hist),
    qpos AS (
      SELECT l_returnflag, n,
             CAST(floor((n - 1) * 0.05) AS BIGINT) AS lo05,
             CAST(ceil((n - 1) * 0.05)  AS BIGINT) AS hi05,
             (n - 1) * 0.05 - floor((n - 1) * 0.05) AS fr05,
             CAST(floor((n - 1) * 0.95) AS BIGINT) AS lo95,
             CAST(ceil((n - 1) * 0.95)  AS BIGINT) AS hi95,
             (n - 1) * 0.95 - floor((n - 1) * 0.95) AS fr95
      FROM (SELECT DISTINCT l_returnflag, n FROM cum)),
    ostat AS (
      SELECT c.l_returnflag,
             min(CASE WHEN c.cum >= q.lo05 + 1 THEN c.cents END) AS v_lo05,
             min(CASE WHEN c.cum >= q.hi05 + 1 THEN c.cents END) AS v_hi05,
             min(CASE WHEN c.cum >= q.lo95 + 1 THEN c.cents END) AS v_lo95,
             min(CASE WHEN c.cum >= q.hi95 + 1 THEN c.cents END) AS v_hi95
      FROM cum c JOIN qpos q USING (l_returnflag)
      GROUP BY c.l_returnflag),
    pct AS (
      SELECT o.l_returnflag,
             (v_lo05 / 100.0) + ((v_hi05 / 100.0) - (v_lo05 / 100.0)) * q.fr05 AS p05,
             (v_lo95 / 100.0) + ((v_hi95 / 100.0) - (v_lo95 / 100.0)) * q.fr95 AS p95
      FROM ostat o JOIN qpos q USING (l_returnflag)),
    agg AS (
      SELECT h.l_returnflag,
             sum(h.cnt) AS n_rows,
             sum(CASE WHEN h.cents / 100.0 < p.p05 THEN h.cnt ELSE 0 END) AS n_below,
             sum(CASE WHEN h.cents / 100.0 > p.p95 THEN h.cnt ELSE 0 END) AS n_above,
             sum(CASE WHEN h.cents / 100.0 >= p.p05 AND h.cents / 100.0 <= p.p95
                      THEN h.cents * h.cnt ELSE 0 END) AS inlier_cents,
             any_value(p.p05) AS p05, any_value(p.p95) AS p95
      FROM hist h JOIN pct p USING (l_returnflag)
      GROUP BY h.l_returnflag)
    SELECT l_returnflag,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_below AS BIGINT) AS n_clipped_low,
           CAST(n_above AS BIGINT) AS n_clipped_high,
           round(p05, {DP}) AS p05,
           round(p95, {DP}) AS p95,
           round(((CAST(inlier_cents AS DOUBLE) + n_below * (p05 * 100))
                  + n_above * (p95 * 100))
                 / (n_rows * 100.0), {DP}) AS avg_winsorized
    FROM agg ORDER BY l_returnflag
    """,
)
def agg_winsorized_stats(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # one percentile(col, array(...)) per group instead of two scalar
    # Percentile aggregates: each scalar form keeps its OWN value->count
    # map per group and sorts it separately at evaluation; the array form
    # shares one buffer and one sort (values identical — same buffer, same
    # interpolation, two percentage points).
    pct = (
        t.lineitem.groupBy("l_returnflag")
        .agg(
            F.percentile(
                "l_extendedprice", F.array(F.lit(0.05), F.lit(0.95))
            ).alias("_ps")
        )
        .select(
            "l_returnflag",
            F.col("_ps")[0].alias("p05"),
            F.col("_ps")[1].alias("p95"),
        )
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    classified = t.lineitem.join(F.broadcast(pct), "l_returnflag").select(
        "l_returnflag",
        cents.alias("cents"),
        "p05",
        "p95",
        F.when(F.col("l_extendedprice") < F.col("p05"), "below")
        .when(F.col("l_extendedprice") > F.col("p95"), "above")
        .otherwise("inlier")
        .alias("cls"),
    )
    inlier_cents = F.sum(F.when(F.col("cls") == "inlier", F.col("cents")).otherwise(0))
    n_low = F.count_if(F.col("cls") == "below")
    n_high = F.count_if(F.col("cls") == "above")
    return (
        classified.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            n_low.cast("long").alias("n_clipped_low"),
            n_high.cast("long").alias("n_clipped_high"),
            R(F.any_value("p05")).alias("p05"),
            R(F.any_value("p95")).alias("p95"),
            R(
                (
                    (
                        inlier_cents.cast("double")
                        + n_low * (F.any_value("p05") * 100)
                    )
                    + n_high * (F.any_value("p95") * 100)
                )
                / (F.count("*") * 100.0)
            ).alias("avg_winsorized"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Pairwise Pearson correlation matrix across the lineitem measures — the
# EDA step before any modeling (the reference's notebook pages chart these
# from collected pandas frames; here the 6 pairwise correlations are ONE
# distributed aggregate over ONE scan). Output is long-form (measure_x,
# measure_y, corr, n) for the upper triangle — the melt-shaped result
# reshape_melt consumers expect.
#
# Scale design (100 TB): a single hash-free global aggregate (partial
# merge per task → one reduce); corr's accumulator is O(1) per pair. The
# stack() reshape runs on the single result row.
# ---------------------------------------------------------------------------
_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1:]
]


@register(
    "agg_corr_matrix",
    extra=True,
    sql=f"""
    WITH c AS (
      SELECT {', '.join(f'''round(corr({a}, {b}), {DP}) AS c_{i}'''
                        for i, (a, b) in enumerate(_CORR_PAIRS))},
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem)
    {' UNION ALL '.join(
        f"SELECT '{a}' AS measure_x, '{b}' AS measure_y, c_{i} AS corr, n FROM c"
        for i, (a, b) in enumerate(_CORR_PAIRS))}
    ORDER BY measure_x, measure_y
    """,
)
def agg_corr_matrix(spark, sf_dir):
    t = Tables(spark, sf_dir)
    wide = t.lineitem.agg(
        *[
            R(F.corr(a, b)).alias(f"c_{i}")
            for i, (a, b) in enumerate(_CORR_PAIRS)
        ],
        F.count("*").cast("bigint").alias("n"),
    )
    stack = ", ".join(
        f"'{a}', '{b}', c_{i}" for i, (a, b) in enumerate(_CORR_PAIRS)
    )
    return (
        wide.select(
            F.expr(
                f"stack({len(_CORR_PAIRS)}, {stack}) AS (measure_x, measure_y, corr)"
            ),
            "n",
        )
        .orderBy("measure_x", "measure_y")
    )


# ---------------------------------------------------------------------------
# Gini impurity of categorical columns (beyond-reference — the split-quality
# / class-balance diagnostic): 1 - sum(p_i^2), kept exact by
# cross-multiplication — impurity_ppm = (n^2 - sum(c^2)) * 1e6 // n^2 in
# DECIMAL(38,0)/HUGEINT (n^2 * 1e6 exceeds int64 beyond ~3M rows). This is
# the log-free twin of Shannon entropy: same ordering, no libm call to
# diverge cross-engine.
#
# Scale design (100 TB): each column is one hash aggregate to its category
# frame (map-side partials; key domains are tiny) and a single-row fold —
# four scans total, no joins, no windows.
# ---------------------------------------------------------------------------
_GINI_COLS = [
    ("documents.lang", "documents", "lang"),
    ("events.event_type", "events", "event_type"),
    ("orders.o_orderpriority", "orders", "o_orderpriority"),
    ("orders.o_orderstatus", "orders", "o_orderstatus"),
]


def _gini_sql(name: str, table: str, col: str) -> str:
    return f"""
    SELECT '{name}' AS column_name,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_categories,
           CAST(max(c) AS BIGINT) AS modal_n,
           CAST((CAST(sum(c) AS HUGEINT) * sum(c) - sum(CAST(c AS HUGEINT) * c))
                * 1000000 // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT)
             AS gini_impurity_ppm
    FROM (SELECT count(*) AS c FROM {table} GROUP BY {col})
    """


@register(
    "agg_gini_impurity",
    extra=True,
    sql=" UNION ALL ".join(_gini_sql(*g) for g in _GINI_COLS) + " ORDER BY column_name",
)
def agg_gini_impurity(spark, sf_dir):
    t = Tables(spark, sf_dir)
    outs = []
    for name, table, col in _GINI_COLS:
        cats = getattr(t, table).groupBy(col).agg(F.count("*").alias("c"))
        outs.append(
            cats.agg(
                F.lit(name).alias("column_name"),
                F.sum("c").cast("long").alias("n_rows"),
                F.count("*").cast("long").alias("n_categories"),
                F.max("c").cast("long").alias("modal_n"),
                F.expr(
                    "CAST((CAST(sum(c) AS DECIMAL(38,0)) * sum(c)"
                    " - sum(CAST(c AS DECIMAL(38,0)) * c)) * 1000000"
                    " div (CAST(sum(c) AS DECIMAL(38,0)) * sum(c)) AS BIGINT)"
                ).alias("gini_impurity_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# Time-decayed popularity with EXACT integer weights: half-life-7d decayed
# event counts as of a fixed cutoff, where the decay is a pure bit shift —
# weight = 1e6 >> (age_days // 7) — so there is no pow()/exp() call to
# diverge cross-engine (the same log-free philosophy as ts_ewma_truncated's
# ppm weight table, here with zero table). The shift count is clamped to 62:
# Java's >> masks the count mod 64, so an unclamped shift of 64+ would
# silently return the UNDECAYED weight on Spark while DuckDB returns 0.
#
# Scale design (100 TB): one scan, one 5-key hash aggregate — map-side
# partials collapse everything; the age arithmetic is per-row integer math.
# ---------------------------------------------------------------------------
_DECAY_CUTOFF = "2024-01-31"


@register(
    "agg_decayed_popularity",
    extra=True,
    sql=f"""
    WITH e AS (
      SELECT event_type,
             date_diff('day', CAST(ts AS DATE), DATE '{_DECAY_CUTOFF}') AS age
      FROM events),
    w AS (
      SELECT event_type, age,
             1000000 >> CAST(least(greatest(age, 0) // 7, 62) AS INT) AS wt
      FROM e)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count_if(age < 7) AS BIGINT) AS n_last_7d,
           CAST(sum(wt) AS BIGINT) AS decayed_millionths,
           CAST(sum(wt) // count(*) AS BIGINT) AS avg_weight_millionths
    FROM w GROUP BY event_type ORDER BY event_type
    """,
)
def agg_decayed_popularity(spark, sf_dir):
    t = Tables(spark, sf_dir)
    e = t.events.select(
        "event_type",
        F.datediff(F.lit(_DECAY_CUTOFF).cast("date"), F.col("ts").cast("date")).alias(
            "age"
        ),
    )
    w = e.select(
        "event_type",
        "age",
        F.expr(
            "shiftright(1000000, CAST(least(greatest(age, 0) div 7, 62) AS INT))"
        ).alias("wt"),
    )
    return (
        w.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.count_if(F.col("age") < 7).cast("long").alias("n_last_7d"),
            F.sum("wt").cast("long").alias("decayed_millionths"),
            F.expr("CAST(sum(wt) div count(*) AS BIGINT)").alias(
                "avg_weight_millionths"
            ),
        )
        .orderBy("event_type")
    )
