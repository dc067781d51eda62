"""Time-series gap-fill and interpolation (beyond-reference).

The reference's dashboards plot daily series straight from marts and
simply show holes (e.g. pages/3_Oura_Wellness.py rolling means with
min_periods=1); a real analytics engine needs an explicit densify +
interpolate operator. This one builds a calendar spine per group with
`sequence`/`explode` (generated distributed, no driver loop), left-joins
the observed points, and fills gaps by linear interpolation between the
nearest observed neighbors (LOCF/NOCB at the edges) using
ignore-nulls window frames.

Determinism: daily revenue is summed in exact integer cents (the repo's
standard exact-rounding trick, tests/test_exact_rounding.py), so the only
float steps are the final interpolation ratio and /100 rescale — both
single IEEE ops on identical operands in both engines.

Scale design (100 TB): the spine is |groups| × |days| rows generated
map-side; the interpolation windows partition by group and are bounded by
the calendar (365 rows per partition regardless of data volume — the same
"calendar-bounded window" class as stats_timeseries, docs/PLANS.md). The
observed-points join shuffles on (group, day) — the natural key. No
driver-side loops, no unbounded windows over data-sized partitions.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731

_Y0, _Y1 = "1995-01-01", "1995-12-31"


@register(
    "ts_gapfill_interpolate",
    sql=f"""
    WITH daily AS (
      SELECT r.r_name AS region, CAST(o_orderdate AS DATE) AS day,
             count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '{_Y0}' AND DATE '{_Y1}'
      GROUP BY r.r_name, CAST(o_orderdate AS DATE)),
    spine AS (
      SELECT r.r_name AS region, CAST(gs.d AS DATE) AS day
      FROM region r
      CROSS JOIN (SELECT unnest(generate_series(DATE '{_Y0}', DATE '{_Y1}', INTERVAL 1 DAY)) AS d) gs),
    joined AS (
      SELECT s.region, s.day, d.n_orders, d.rev_cents
      FROM spine s LEFT JOIN daily d ON s.region = d.region AND s.day = d.day),
    anchored AS (
      SELECT region, day, n_orders, rev_cents,
             last_value(rev_cents IGNORE NULLS) OVER (
               PARTITION BY region ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
             last_value(CASE WHEN rev_cents IS NOT NULL THEN day END IGNORE NULLS) OVER (
               PARTITION BY region ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
             first_value(rev_cents IGNORE NULLS) OVER (
               PARTITION BY region ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
             first_value(CASE WHEN rev_cents IS NOT NULL THEN day END IGNORE NULLS) OVER (
               PARTITION BY region ORDER BY day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
      FROM joined)
    SELECT region, day,
           coalesce(n_orders, 0) AS n_orders,
           CASE WHEN rev_cents IS NOT NULL THEN 0 ELSE 1 END AS is_gap,
           CASE
             WHEN rev_cents IS NOT NULL THEN round(rev_cents / 100.0, {DP})
             WHEN prev_v IS NULL THEN round(next_v / 100.0, {DP})
             WHEN next_v IS NULL THEN round(prev_v / 100.0, {DP})
             -- exact half-away rounding of the rational lerp to 1e-4
             -- dollars: T = floor((2N + dn) / (2 dn)) with integer
             -- N = 100*(prev*dn + (next-prev)*dd); no float ties possible
             ELSE (2 * 100 * (prev_v * date_diff('day', prev_d, next_d)
                              + (next_v - prev_v) * date_diff('day', prev_d, day))
                   + date_diff('day', prev_d, next_d))
                  // (2 * date_diff('day', prev_d, next_d)) / 10000.0
           END AS revenue_filled
    FROM anchored
    ORDER BY region, day
    """,
    extra=True,
)
def ts_gapfill_interpolate(spark, sf_dir):
    """Densify 1995 per-region daily revenue and linearly interpolate gaps."""
    t = Tables(spark, sf_dir)
    daily = (
        t.orders.select(
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("day"),
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        )
        .filter(F.col("day").between(_Y0, _Y1))
        .join(t.customer.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t.nation.select("n_nationkey", "n_regionkey")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t.region.select("r_regionkey", F.col("r_name").alias("region"))), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("region", "day")
        .agg(F.count("*").alias("n_orders"), F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    spine = t.region.select(F.col("r_name").alias("region")).crossJoin(
        F.broadcast(
            t.region.sparkSession.range(1).select(
                F.explode(
                    F.expr(f"sequence(to_date('{_Y0}'), to_date('{_Y1}'), interval 1 day)")
                ).alias("day")
            )
        )
    )
    joined = spine.join(daily, ["region", "day"], "left")
    asc = W.partitionBy("region").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    desc = W.partitionBy("region").orderBy("day").rowsBetween(0, W.unboundedFollowing)
    obs_day = F.when(F.col("rev_cents").isNotNull(), F.col("day"))
    anchored = joined.select(
        "region",
        "day",
        "n_orders",
        "rev_cents",
        F.last("rev_cents", ignorenulls=True).over(asc).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(asc).alias("prev_d"),
        F.first("rev_cents", ignorenulls=True).over(desc).alias("next_v"),
        F.first(obs_day, ignorenulls=True).over(desc).alias("next_d"),
    )
    # exact half-away rounding of the rational lerp to 1e-4 dollars via the
    # floor-division identity (see tests/test_exact_rounding.py): no float
    # ties, so both engines agree bit-for-bit
    lerp_exact = F.expr(
        "(2 * 100 * (prev_v * CAST(datediff(next_d, prev_d) AS BIGINT)"
        "            + (next_v - prev_v) * CAST(datediff(day, prev_d) AS BIGINT))"
        " + CAST(datediff(next_d, prev_d) AS BIGINT))"
        " DIV (2 * CAST(datediff(next_d, prev_d) AS BIGINT)) / 10000.0"
    )
    return anchored.select(
        "region",
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.when(F.col("rev_cents").isNotNull(), 0).otherwise(1).alias("is_gap"),
        F.when(F.col("rev_cents").isNotNull(), F.round(F.col("rev_cents") / 100.0, DP))
        .when(F.col("prev_v").isNull(), F.round(F.col("next_v") / 100.0, DP))
        .when(F.col("next_v").isNull(), F.round(F.col("prev_v") / 100.0, DP))
        .otherwise(lerp_exact)
        .alias("revenue_filled"),
    ).orderBy("region", "day")


# ---------------------------------------------------------------------------
# OHLC downsampling: the stocks-page resample (reference pages/2_Stock_
# Market.py charts daily closes; sources/stocks.py ships raw OHLC rows)
# generalized to any (series, time-bucket) grid — open/high/low/close of
# `value` per (event_type, week) plus the week-over-week close delta.
#
# Determinism: open/close are exact row picks via lexicographic struct
# min/max on (ts, value) — ties on ts resolve to the smaller value in BOTH
# engines, no arg_min tie ambiguity. high/low/close-delta are exact; only
# avg is rounded. Scale design (100 TB): one shuffle (groupBy the composite
# key, map-side partial min/max structs); the close-delta window partitions
# by event_type over calendar-bounded weekly rows — the same
# "calendar-bounded window" class as stats_timeseries (docs/PLANS.md).
# ---------------------------------------------------------------------------
@register(
    "ts_resample_ohlc",
    extra=True,
    sql=f"""
    WITH ohlc AS (
      SELECT event_type,
             CAST(date_trunc('week', ts) AS DATE) AS week,
             count(*) AS n_events,
             (min({{'ts': ts, 'v': value}}))['v'] AS open,
             max(value) AS high,
             min(value) AS low,
             (max({{'ts': ts, 'v': value}}))['v'] AS close,
             (CASE WHEN sum(CAST(round(value * 100) AS BIGINT)) >= 0 THEN 1 ELSE -1 END
              * ((200 * abs(sum(CAST(round(value * 100) AS BIGINT))) + count(*))
                 // (2 * count(*)))) / 10000.0 AS avg_value
      FROM events GROUP BY 1, 2)
    SELECT event_type, week, n_events, open, high, low, close, avg_value,
           close - lag(close) OVER (PARTITION BY event_type ORDER BY week)
             AS close_delta_wow
    FROM ohlc ORDER BY event_type, week
    """,
)
def ts_resample_ohlc(spark, sf_dir):
    """Weekly OHLC bars per event_type with week-over-week close delta;
    open/close picked by exact (ts, value) struct extremes."""
    from ..functions import week_start

    t = Tables(spark, sf_dir)
    ohlc = (
        t.events.groupBy(
            "event_type", week_start(F.col("ts")).alias("week")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.struct("ts", "value"))["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "value"))["value"].alias("close"),
            # exact integer-cents mean via the signed half-away floor-division
            # identity (tests/test_exact_rounding.py): no double round() near
            # a representability boundary, both engines agree bit-for-bit
            (
                F.when(F.sum(F.round(F.col("value") * 100).cast("long")) >= 0, 1)
                .otherwise(-1)
                .cast("long")
                * F.expr(
                    "(200 * abs(sum(CAST(round(value * 100) AS BIGINT))) + count(*))"
                    " DIV (2 * count(*))"
                )
                / F.lit(10000.0)
            ).alias("avg_value"),
        )
    )
    w = W.partitionBy("event_type").orderBy("week")
    return ohlc.select(
        "event_type",
        "week",
        "n_events",
        "open",
        "high",
        "low",
        "close",
        "avg_value",
        (F.col("close") - F.lag("close").over(w)).alias("close_delta_wow"),
    ).orderBy("event_type", "week")


# ---------------------------------------------------------------------------
# Rolling z-score anomaly detection over daily event counts per event_type.
# The trailing-14-day window EXCLUDES the current day (rows -14..-1) so a
# spike can't suppress its own baseline. The anomaly flag is decided in
# EXACT integer arithmetic: with n window days, S = Σc, Q = Σc², the test
# |z| > 3 is equivalent to (c·n − S)²·(n−1) > 9·n·(n·Q − S²) — pure BIGINT
# cross-multiplication, no float threshold to diverge cross-engine. The
# reported z itself is the usual rounded double (identical expression tree
# in both engines: one divide inside one sqrt, then one divide).
#
# Scale design (100 TB): the windows partition by event_type over ONE ROW
# PER (type, day) — calendar-bounded partitions (docs/PLANS.md class), so
# the sort inside each window task is data-volume-independent; the only
# data-sized work is the first daily-count hash aggregate. Overflow bound:
# with daily counts up to ~2^31, (c·n−S)² stays under 2^63 for n ≤ 14 only
# if c ≲ 3·10^8 per (type, day) — beyond that, pre-scale counts to
# thousands before the window (the flag is scale-invariant in c).
# ---------------------------------------------------------------------------
@register(
    "ts_anomaly_zscore",
    extra=True,
    sql=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    win AS (
      SELECT event_type, day, c,
             count(c) OVER w AS n,
             sum(c)   OVER w AS s,
             sum(c * c) OVER w AS q
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING))
    SELECT event_type, day, c AS n_events,
           CASE WHEN n >= 7 AND n * q - s * s > 0
                THEN round((c * n - s) / sqrt(n * 1.0 * (n * q - s * s) / (n - 1)), {DP})
           END AS z,
           CASE WHEN n >= 7 AND n * q - s * s > 0
                     AND (c * n - s) * (c * n - s) * (n - 1) > 9 * n * (n * q - s * s)
                THEN CASE WHEN c * n - s > 0 THEN 1 ELSE -1 END
                ELSE 0 END AS anomaly_sign
    FROM win ORDER BY event_type, day
    """,
)
def ts_anomaly_zscore(spark, sf_dir):
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select("event_type", F.col("ts").cast("date").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("c"))
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-14, -1)
    win = daily.select(
        "event_type",
        "day",
        "c",
        F.count("c").over(w).alias("n"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("q"),
    )
    n, s, q, c = F.col("n"), F.col("s"), F.col("q"), F.col("c")
    varnum = n * q - s * s  # n(n-1) × sample variance, exact BIGINT
    dev = c * n - s  # n × (c − mean), exact BIGINT
    ok = (n >= 7) & (varnum > 0)
    return win.select(
        "event_type",
        "day",
        c.alias("n_events"),
        F.when(ok, F.round(dev / F.sqrt(n * 1.0 * varnum / (n - 1)), DP)).alias("z"),
        F.when(
            ok & (dev * dev * (n - 1) > 9 * n * varnum),
            F.when(dev > 0, 1).otherwise(-1),
        )
        .otherwise(0)
        .alias("anomaly_sign"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) of event values per event_type: each value is
# weighted by the MICROSECONDS until the same user's next event of that type
# (the classic sensor/price integration rule; the last observation per
# (type, user) has no forward interval and drops out). All accumulation is
# exact BIGINT — value in rounded cents × interval in WHOLE SECONDS
# (micros floor-divided by 10^6, identical in both engines) — divided once
# at the rounded edge, so partitioning cannot drift the hash. Overflow
# bound: intervals tile the observation span per (type, user) series, so
# Σ(v·w) ≤ v_max_cents × seconds-per-month × n_users ≈ 10^5 × 2.6×10^6 ×
# n_users — safe past 10^7 users (micros-weighted sums overflowed at sf0.1
# already; sub-second intervals flooring to weight 0 is part of the spec).
#
# Scale design (100 TB): the lead() window partitions by (event_type,
# user_id) — per-partition size is one user's activity in one type, which
# is bounded by user behavior, not corpus size. One shuffle, one tiny agg.
# ---------------------------------------------------------------------------
@register(
    "ts_time_weighted_avg",
    extra=True,
    sql=f"""
    WITH seq AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS v_cents,
             (epoch_us(lead(ts) OVER (PARTITION BY event_type, user_id
                                      ORDER BY ts, event_id))
               - epoch_us(ts)) // 1000000 AS w_s
      FROM events),
    agg AS (
      SELECT event_type,
             CAST(count(w_s) AS BIGINT) AS n_intervals,
             CAST(sum(v_cents * w_s) AS BIGINT) AS vw_sum,
             CAST(sum(w_s) AS BIGINT) AS w_sum,
             CAST(sum(v_cents) FILTER (WHERE w_s IS NOT NULL) AS BIGINT)
               AS v_sum
      FROM seq GROUP BY event_type)
    SELECT event_type, n_intervals,
           round(vw_sum * 1.0 / w_sum / 100.0, {DP}) AS twap,
           round(v_sum * 1.0 / n_intervals / 100.0, {DP}) AS plain_avg
    FROM agg ORDER BY event_type
    """,
)
def ts_time_weighted_avg(spark, sf_dir):
    t = Tables(spark, sf_dir)
    seq = t.events.select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_cents"),
        # integer `div`, not float `/`: a double quotient can truncate one
        # off from the exact floor at micro boundaries
        F.expr(
            "(unix_micros(CAST(lead(ts) OVER (PARTITION BY event_type, user_id "
            "ORDER BY ts, event_id) AS TIMESTAMP)) "
            "- unix_micros(CAST(ts AS TIMESTAMP))) div 1000000"
        ).alias("w_s"),
    )
    agg = seq.groupBy("event_type").agg(
        F.count("w_s").cast("bigint").alias("n_intervals"),
        F.sum(F.col("v_cents") * F.col("w_s")).cast("bigint").alias("vw_sum"),
        F.sum("w_s").cast("bigint").alias("w_sum"),
        F.sum(F.when(F.col("w_s").isNotNull(), F.col("v_cents")))
        .cast("bigint")
        .alias("v_sum"),
    )
    return agg.select(
        "event_type",
        "n_intervals",
        R(F.col("vw_sum") * 1.0 / F.col("w_sum") / 100.0).alias("twap"),
        R(F.col("v_sum") * 1.0 / F.col("n_intervals") / 100.0).alias("plain_avg"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Rolling 14-day Pearson correlation between daily revenue and daily order
# count — the co-movement diagnostic behind "are big days driven by volume
# or by ticket size?". The correlation is recomputed PER ROW from six
# exact-integer trailing window sums (n, Σx, Σy, Σxy, Σx², Σy²) in one
# closed-form double expression — never from a float accumulator — so both
# engines evaluate the identical IEEE tree on identical BIGINTs. Revenue is
# pre-rounded to integer THOUSANDS of dollars (corr is scale-invariant;
# thousands keep Σx² ≤ ~10^14·14 per window, far from BIGINT overflow even
# at a 100× scale-up).
#
# Scale design (100 TB): both windows run over ONE ROW PER CALENDAR DAY —
# the data-volume-independent "calendar-bounded window" class
# (docs/PLANS.md); the only data-sized work is the first daily aggregate.
# ---------------------------------------------------------------------------
_ROLL_CORR_DAYS = 14


@register(
    "ts_rolling_corr",
    extra=True,
    sql=f"""
    WITH daily AS (
      -- rev_k from an EXACT integer-cent sum + half-up integer division:
      -- the earlier round(sum(double)/1000) flipped by one unit at the
      -- 1000x replica (73k orders/day put the float sum's half-boundary
      -- inside the engines' summation-order noise — one day in ~2400
      -- diverged; r8 sweep, ts_rolling_corr).
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST((sum(CAST(round(o_totalprice * 100) AS BIGINT)) + 50000)
                  // 100000 AS BIGINT) AS rev_k,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1),
    win AS (
      SELECT day, rev_k, n_orders,
             count(*)              OVER w AS n,
             sum(rev_k)            OVER w AS sx,
             sum(n_orders)         OVER w AS sy,
             sum(rev_k * n_orders) OVER w AS sxy,
             sum(rev_k * rev_k)    OVER w AS sxx,
             sum(n_orders * n_orders) OVER w AS syy
      FROM daily
      WINDOW w AS (ORDER BY day
                   ROWS BETWEEN {_ROLL_CORR_DAYS - 1} PRECEDING AND CURRENT ROW))
    SELECT day, rev_k, n_orders,
           CASE WHEN n >= {_ROLL_CORR_DAYS}
                 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN round((n * sxy - sx * sy)
                           / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)),
                           {DP})
           END AS roll_corr
    FROM win ORDER BY day
    """,
)
def ts_rolling_corr(spark, sf_dir):
    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        # exact integer cents, half-up integer division — see the oracle
        # comment: float-sum rounding flipped rev_k by 1 at the 1000x replica
        F.expr(
            "(sum(CAST(round(o_totalprice * 100) AS BIGINT)) + 50000) DIV 100000"
        ).alias("rev_k"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w = W.orderBy("day").rowsBetween(-(_ROLL_CORR_DAYS - 1), 0)
    win = daily.select(
        "day",
        "rev_k",
        "n_orders",
        F.count("*").over(w).alias("n"),
        F.sum("rev_k").over(w).alias("sx"),
        F.sum("n_orders").over(w).alias("sy"),
        F.sum(F.col("rev_k") * F.col("n_orders")).over(w).alias("sxy"),
        F.sum(F.col("rev_k") * F.col("rev_k")).over(w).alias("sxx"),
        F.sum(F.col("n_orders") * F.col("n_orders")).over(w).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    ok = (n >= _ROLL_CORR_DAYS) & (vx > 0) & (vy > 0)
    return win.select(
        "day",
        "rev_k",
        "n_orders",
        F.when(ok, R((n * sxy - sx * sy) / F.sqrt(vx * 1.0 * vy))).alias(
            "roll_corr"
        ),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Truncated EWMA technical indicator: exponentially-weighted moving average
# of the daily mean event value per event_type, α = 3/4 decay, truncated at
# K=8 trailing days. True EWMA is recursive (not frame-decomposable); the
# truncated form IS — and it is made cross-engine-exact by using INTEGER
# weights w_i = round((3/4)^i · 10^6) as hardcoded constants over K lag
# columns: the smoothed value is an exact BIGINT dot product (lag value in
# cents × constant weight) divided once at the rounded edge. The α^K tail
# that truncation drops is ≤ 10% of the mass — stated, not hidden.
# The reference charts SMA bands over stock closes (fct_stock_analysis,
# SURVEY.md W8/W11); EWMA is the standard companion indicator.
#
# Scale design (100 TB): daily means reduce the events table first (hash
# agg with map-side combine); the lag windows then run over one row per
# (type, day) — calendar-bounded partitions. Weights are literals inside
# whole-stage codegen.
# ---------------------------------------------------------------------------
_EWMA_K = 8
_EWMA_W = [round((3 / 4) ** i * 1_000_000) for i in range(_EWMA_K)]  # ppm


@register(
    "ts_ewma_truncated",
    extra=True,
    sql=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    means AS (
      SELECT event_type, day, cents // n AS mean_c
      FROM daily),
    lagged AS (
      SELECT event_type, day, mean_c,
             {', '.join(f'lag(mean_c, {i}) OVER w AS l{i}' for i in range(1, _EWMA_K))}
      FROM means
      WINDOW w AS (PARTITION BY event_type ORDER BY day))
    SELECT event_type, day,
           round(mean_c / 100.0, 2) AS mean_value,
           CASE WHEN l{_EWMA_K - 1} IS NOT NULL THEN
             round((mean_c * {_EWMA_W[0]}
                    + {' + '.join(f'l{i} * {_EWMA_W[i]}' for i in range(1, _EWMA_K))})
                   * 1.0 / {sum(_EWMA_W)} / 100.0, {DP})
           END AS ewma
    FROM lagged ORDER BY event_type, day
    """,
)
def ts_ewma_truncated(spark, sf_dir):
    t = Tables(spark, sf_dir)
    daily = (
        t.events.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("bigint").alias("cents"), F.count("*").alias("n"))
    )
    # integer floor-division daily mean: exact in both engines
    means = daily.select(
        "event_type", "day", F.expr("cents div n").alias("mean_c")
    )
    w = W.partitionBy("event_type").orderBy("day")
    lagged = means.select(
        "event_type",
        "day",
        "mean_c",
        *[F.lag("mean_c", i).over(w).alias(f"l{i}") for i in range(1, _EWMA_K)],
    )
    dot = F.col("mean_c") * _EWMA_W[0]
    for i in range(1, _EWMA_K):
        dot = dot + F.col(f"l{i}") * _EWMA_W[i]
    return lagged.select(
        "event_type",
        "day",
        F.round(F.col("mean_c") / 100.0, 2).alias("mean_value"),
        F.when(
            F.col(f"l{_EWMA_K - 1}").isNotNull(),
            R(dot * 1.0 / sum(_EWMA_W) / 100.0),
        ).alias("ewma"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over daily revenue (beyond-reference — the
# drift monitor a pipeline puts on ingest volume / quality metrics). S_k =
# sum_{i<=k} (x_i - mean) has its extremum at the most likely single change
# point; everything here stays in exact integers by cross-multiplying the
# mean away: n*S_k = n*cum_k - k*T where cum_k is the running daily-cents
# total, k the day rank, T the grand total. Overflow bound: n*cum <= n*T
# (~5e17 at the 100x dataset, int64-safe; documented).
#
# Scale design (100 TB): orders collapse to ONE row per day first (hash
# aggregate with map-side partials), so the running window is over the
# calendar-bounded daily frame — the documented single-partition-window
# class whose size is data-volume-independent (docs/PLANS.md). Argmax is a
# two-pass max + min-date filter, both tiny.
# ---------------------------------------------------------------------------
@register(
    "ts_changepoint_cusum",
    extra=True,
    sql=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS t
            FROM daily),
    cum AS (SELECT day,
                   CAST(sum(cents) OVER (ORDER BY day) AS BIGINT) AS cumc,
                   CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k
            FROM daily),
    s AS (SELECT day, CAST(tot.n * cumc - k * tot.t AS BIGINT) AS ns
          FROM cum CROSS JOIN tot),
    mx AS (SELECT CAST(max(abs(ns)) AS BIGINT) AS m FROM s),
    at AS (SELECT min(day) AS cp_day FROM s WHERE abs(ns) = (SELECT m FROM mx)),
    side AS (SELECT CASE WHEN min(ns) = -(SELECT m FROM mx) THEN 'below_mean'
                         ELSE 'above_mean' END AS regime
             FROM s WHERE day = (SELECT cp_day FROM at))
    SELECT tot.n AS n_days, tot.t AS total_cents,
           mx.m AS max_abs_ns,
           round(mx.m / (CAST(tot.n AS DOUBLE) * CAST(tot.t AS DOUBLE)), {DP})
             AS cusum_ratio,
           at.cp_day AS changepoint_day,
           side.regime AS regime
    FROM tot CROSS JOIN mx CROSS JOIN at CROSS JOIN side
    """,
)
def ts_changepoint_cusum(spark, sf_dir):
    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    ).cache()  # ~|calendar| rows; read by the totals pass and the CUSUM pass
    tot = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("t")
    )
    w = W.orderBy("day")
    cum = daily.select(
        "day",
        F.sum("cents").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long").alias("cumc"),
        F.row_number().over(w).cast("long").alias("k"),
    )
    s = cum.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        "t",
        (F.col("n") * F.col("cumc") - F.col("k") * F.col("t")).cast("long").alias("ns"),
    )
    # ONE aggregate pass over s: max |ns| plus a lexicographic-max struct
    # that picks the earliest day attaining it (days are unique, so maxing
    # (|ns|, -epoch_day) is exactly "min day among max |ns|") and carries
    # that day's ns for the regime test. Replaces the old mx/at/side
    # chain, which re-derived the whole orders->daily->window subtree per
    # consumer (88-Exchange unrolled plan; guide §2.4 / §1.2 "don't
    # recompute what one pass can carry").
    best = s.agg(
        F.max(F.abs("ns")).cast("long").alias("m"),
        F.max(
            F.struct(
                F.abs("ns").alias("a"),
                (-F.unix_date(F.col("day"))).alias("negd"),
                F.col("ns").alias("ns"),
            )
        ).alias("b"),
        # zero days (empty orders): max is NULL, the day count is 0
        F.coalesce(F.max("n"), F.lit(0).cast("long")).alias("n"),
        F.max("t").alias("t"),
    )
    return best.select(
        F.col("n").alias("n_days"),
        F.col("t").alias("total_cents"),
        F.col("m").alias("max_abs_ns"),
        F.round(
            F.col("m") / (F.col("n").cast("double") * F.col("t").cast("double")),
            DP,
        ).alias("cusum_ratio"),
        F.date_from_unix_date(-F.col("b.negd")).alias("changepoint_day"),
        F.when(F.col("b.ns") == -F.col("m"), F.lit("below_mean"))
        .otherwise(F.lit("above_mean"))
        .alias("regime"),
    )


# ---------------------------------------------------------------------------
# Simple STL-style decomposition of daily revenue into trend + day-of-week
# seasonal + residual, entirely in exact integers: trend = centered 7-day
# moving average (truncating div 7, defined only where the window is full),
# seasonal = per-DOW truncating mean of the detrended series (negative sums
# truncate toward zero identically in both engines), residual = the rest.
# The output is the per-DOW seasonal profile with residual magnitudes and
# the residual-energy share (sum(resid^2)/sum(detrended^2) in ppm,
# DECIMAL(38,0)/HUGEINT — squares pass int64 at the 100x scale). DOW is
# engine-neutral epoch-day arithmetic from a pre-data Monday anchor
# (1990-01-01), never locale dayofweek.
#
# Scale design (100 TB): orders collapse to the calendar-bounded daily frame
# first; the centered window and the two rollups run over that frame, whose
# size is data-volume-independent (the documented window class).
# ---------------------------------------------------------------------------
_STL_ANCHOR = "1990-01-01"  # a Monday, before all order dates


@register(
    "ts_stl_decompose",
    extra=True,
    sql=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    win AS (
      SELECT day, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS s7,
             CAST(count(*) OVER w AS BIGINT) AS c7
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT CAST(date_diff('day', DATE '{_STL_ANCHOR}', day) % 7 AS BIGINT) AS dow,
             CAST(cents - s7 // 7 AS BIGINT) AS d
      FROM win WHERE c7 = 7),
    seas AS (
      SELECT dow, CAST(sum(d) // count(*) AS BIGINT) AS seasonal_cents,
             CAST(count(*) AS BIGINT) AS n_days
      FROM det GROUP BY dow),
    resid AS (
      SELECT det.dow, det.d, CAST(det.d - seas.seasonal_cents AS BIGINT) AS r
      FROM det JOIN seas USING (dow))
    SELECT seas.dow, seas.n_days, seas.seasonal_cents,
           CAST(sum(abs(resid.r)) // seas.n_days AS BIGINT) AS mean_abs_resid,
           CAST(max(abs(resid.r)) AS BIGINT) AS max_abs_resid,
           CAST(sum(CAST(resid.r AS HUGEINT) * resid.r) * 1000000
                // sum(CAST(resid.d AS HUGEINT) * resid.d) AS BIGINT)
             AS resid_energy_ppm
    FROM resid JOIN seas USING (dow)
    GROUP BY seas.dow, seas.n_days, seas.seasonal_cents
    ORDER BY seas.dow
    """,
)
def ts_stl_decompose(spark, sf_dir):
    t = Tables(spark, sf_dir)
    daily = t.orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = W.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "cents",
        F.sum("cents").over(w).cast("long").alias("s7"),
        F.count("*").over(w).cast("long").alias("c7"),
    )
    det = win.filter(F.col("c7") == 7).select(
        (
            F.datediff(F.col("day"), F.lit(_STL_ANCHOR).cast("date")) % 7
        ).cast("long").alias("dow"),
        F.expr("CAST(cents - s7 div 7 AS BIGINT)").alias("d"),
    )
    seas = det.groupBy("dow").agg(
        F.expr("CAST(sum(d) div count(*) AS BIGINT)").alias("seasonal_cents"),
        F.count("*").cast("long").alias("n_days"),
    )
    resid = det.join(F.broadcast(seas), "dow").select(
        "dow",
        "d",
        "n_days",
        "seasonal_cents",
        (F.col("d") - F.col("seasonal_cents")).cast("long").alias("r"),
    )
    return (
        resid.groupBy("dow", "n_days", "seasonal_cents")
        .agg(
            F.expr("CAST(sum(abs(r)) div first(n_days) AS BIGINT)").alias(
                "mean_abs_resid"
            ),
            F.max(F.abs("r")).cast("long").alias("max_abs_resid"),
            F.expr(
                "CAST(sum(CAST(r AS DECIMAL(38,0)) * r) * 1000000"
                " div sum(CAST(d AS DECIMAL(38,0)) * d) AS BIGINT)"
            ).alias("resid_energy_ppm"),
        )
        .orderBy("dow")
    )
