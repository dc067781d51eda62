"""Statistics / time-series analytics (SURVEY.md §2.11 T1-T5).

The reference computes these with scipy over collected pandas frames; here
they are fully distributed: every statistic reduces to sums/means/variances
per group, combined with closed-form expressions — no data ever leaves the
executors, so they run at any SF. Results match the scipy definitions
(verified in tests against scipy on collected data).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731

_DAILY_SQL = """
      SELECT CAST(o_orderdate AS DATE) AS order_date,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
"""


def _daily(t):
    return t.orders.groupBy(F.col("o_orderdate").cast("date").alias("order_date")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )


_ACF_LAGS = list(range(1, 8))


# ---------------------------------------------------------------------------
# T1+T2 — one-way ANOVA F across order priorities AND Welch's t-test weekend
# vs weekday, both from group aggregates only (no collect), joined into one
# single-row result (reference pages/Oura_Investigation.py:90-93,253-259).
# Merged from r01 stats_anova_f + stats_ttest_welch (kept below as extras).
# ---------------------------------------------------------------------------
@register(
    "stats_group_tests",
    sql=f"""
    WITH g AS (
      SELECT o_orderpriority, count(*) AS n, avg(o_totalprice) AS mean,
             var_pop(o_totalprice) * count(*) AS ss_within
      FROM orders GROUP BY o_orderpriority),
    tot AS (
      SELECT sum(n * mean) / sum(n) AS grand_mean, sum(n) AS n_total,
             count(*) AS k FROM g),
    anova AS (
      SELECT CAST(tot.k - 1 AS BIGINT) AS df_between,
             CAST(tot.n_total - tot.k AS BIGINT) AS df_within,
             round((sum(g.n * (g.mean - tot.grand_mean) ^ 2) / (tot.k - 1))
                   / (sum(g.ss_within) / (tot.n_total - tot.k)), {DP}) AS f_stat
      FROM g CROSS JOIN tot
      GROUP BY tot.k, tot.n_total),
    wgrouped AS (
      SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend' ELSE 'weekday' END AS grp,
             count(*) AS n, avg(value) AS mean, var_samp(value) AS var
      FROM events GROUP BY 1),
    welch AS (
      SELECT round((max(CASE WHEN grp = 'weekend' THEN mean END)
                    - max(CASE WHEN grp = 'weekday' THEN mean END))
                   / sqrt(max(CASE WHEN grp = 'weekend' THEN var / n END)
                          + max(CASE WHEN grp = 'weekday' THEN var / n END)), {DP}) AS t_stat,
             max(CASE WHEN grp = 'weekend' THEN n END) AS n_weekend,
             max(CASE WHEN grp = 'weekday' THEN n END) AS n_weekday
      FROM wgrouped)
    SELECT anova.df_between, anova.df_within, anova.f_stat,
           welch.t_stat, welch.n_weekend, welch.n_weekday
    FROM anova CROSS JOIN welch
    """,
)
def stats_group_tests(spark, sf_dir):
    anova = stats_anova_f(spark, sf_dir)
    welch = stats_ttest_welch(spark, sf_dir)
    return anova.crossJoin(F.broadcast(welch))


# ---------------------------------------------------------------------------
# T3+T4 — time-series panel: linear trend over yearly aggregates AND the
# lag-1..7 autocorrelation function, as ONE single-row wide result. The ACF
# is a single aggregation over one lagged projection (one window, one
# Exchange) — not 7 unioned re-aggregations (the r01 stats_autocorr shape).
# (reference pages/Oura_Investigation.py:220-221,309-323.)
# Merged from r01 stats_linregress + stats_autocorr (kept below as extras).
# ---------------------------------------------------------------------------
@register(
    "stats_timeseries",
    sql=f"""
    WITH daily AS ({_DAILY_SQL}),
    lagged AS (
      SELECT revenue,
             {', '.join(f'lag(revenue, {k}) OVER (ORDER BY order_date) AS lag_{k}' for k in _ACF_LAGS)}
      FROM daily),
    acf AS (
      SELECT {', '.join(f'round(corr(revenue, lag_{k}), {DP}) AS acf_{k}' for k in _ACF_LAGS)},
             count(lag_1) AS n_pairs_1
      FROM lagged),
    yearly AS (
      SELECT CAST(extract(year FROM o_orderdate) AS DOUBLE) AS yr,
             avg(o_totalprice) AS avg_revenue
      FROM orders GROUP BY 1),
    trend AS (
      SELECT round(regr_slope(avg_revenue, yr), {DP})     AS slope,
             round(regr_intercept(avg_revenue, yr), {DP}) AS intercept,
             round(corr(avg_revenue, yr), {DP})           AS r_value,
             count(*) AS n_years
      FROM yearly)
    SELECT trend.slope, trend.intercept, trend.r_value, trend.n_years,
           {', '.join(f'acf.acf_{k}' for k in _ACF_LAGS)}, acf.n_pairs_1
    FROM trend CROSS JOIN acf
    """,
)
def stats_timeseries(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w = W.orderBy("order_date")
    lagged = _daily(t).select(
        "revenue", *[F.lag("revenue", k).over(w).alias(f"lag_{k}") for k in _ACF_LAGS]
    )
    acf = lagged.agg(
        *[R(F.corr("revenue", f"lag_{k}")).alias(f"acf_{k}") for k in _ACF_LAGS],
        F.count("lag_1").alias("n_pairs_1"),
    )
    trend = stats_linregress(spark, sf_dir)
    return trend.crossJoin(F.broadcast(acf)).select(
        "slope",
        "intercept",
        "r_value",
        "n_years",
        *[f"acf_{k}" for k in _ACF_LAGS],
        "n_pairs_1",
    )


# ---------------------------------------------------------------------------
# T4 — autocorrelation at lags 1..7 via shift+corr
# (reference pages/Oura_Investigation.py:309-323; significance band
# 1.96/sqrt(n) at :340).
# ---------------------------------------------------------------------------


@register(
    "stats_autocorr",
    extra=True,
    sql=f"""
    WITH daily AS ({_DAILY_SQL}),
    lagged AS (
      SELECT revenue,
             {', '.join(f'lag(revenue, {k}) OVER (ORDER BY order_date) AS lag_{k}' for k in _ACF_LAGS)}
      FROM daily)
    {' UNION ALL '.join(
        f'''SELECT {k} AS lag, round(corr(revenue, lag_{k}), {DP}) AS autocorr,
            count(lag_{k}) AS n_pairs FROM lagged'''
        for k in _ACF_LAGS)}
    ORDER BY lag
    """,
)
def stats_autocorr(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w = W.orderBy("order_date")
    lagged = _daily(t).select(
        "revenue", *[F.lag("revenue", k).over(w).alias(f"lag_{k}") for k in _ACF_LAGS]
    )
    # one agg computes every lag's corr/count, then explodes to rows — the
    # union-of-single-row-aggs shape re-executed the daily pipeline + window
    # once PER lag
    acf = lagged.agg(
        *[R(F.corr("revenue", f"lag_{k}")).alias(f"a_{k}") for k in _ACF_LAGS],
        *[F.count(f"lag_{k}").alias(f"n_{k}") for k in _ACF_LAGS],
    )
    return (
        acf.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("lag"),
                            F.col(f"a_{k}").alias("autocorr"),
                            F.col(f"n_{k}").alias("n_pairs"),
                        )
                        for k in _ACF_LAGS
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# T1 — one-way ANOVA F statistic across groups, from group aggregates
# (reference pages/Oura_Investigation.py:90-93 stats.f_oneway by group).
# F = (SSB/(k-1)) / (SSW/(N-k)); both terms are sums over per-group stats,
# so the whole test is two aggregations — no collect.
# ---------------------------------------------------------------------------
@register(
    "stats_anova_f",
    extra=True,
    sql=f"""
    WITH g AS (
      SELECT o_orderpriority, count(*) AS n, avg(o_totalprice) AS mean,
             var_pop(o_totalprice) * count(*) AS ss_within
      FROM orders GROUP BY o_orderpriority),
    tot AS (
      SELECT sum(n * mean) / sum(n) AS grand_mean, sum(n) AS n_total,
             count(*) AS k FROM g)
    SELECT CAST(tot.k - 1 AS BIGINT) AS df_between,
           CAST(tot.n_total - tot.k AS BIGINT) AS df_within,
           round((sum(g.n * (g.mean - tot.grand_mean) ^ 2) / (tot.k - 1))
                 / (sum(g.ss_within) / (tot.n_total - tot.k)), {DP}) AS f_stat
    FROM g CROSS JOIN tot
    GROUP BY tot.k, tot.n_total
    """,
)
def stats_anova_f(spark, sf_dir):
    t = Tables(spark, sf_dir)
    g = t.orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.avg("o_totalprice").alias("mean"),
        (F.var_pop("o_totalprice") * F.count("*")).alias("ss_within"),
    )
    tot = g.agg(
        (F.sum(F.col("n") * F.col("mean")) / F.sum("n")).alias("grand_mean"),
        F.sum("n").alias("n_total"),
        F.count("*").alias("k"),
    )
    joined = g.crossJoin(F.broadcast(tot))
    sums = joined.groupBy("k", "n_total").agg(
        F.sum(F.col("n") * F.pow(F.col("mean") - F.col("grand_mean"), 2)).alias("ssb"),
        F.sum("ss_within").alias("ssw"),
    )
    return sums.select(
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("n_total") - F.col("k")).cast("long").alias("df_within"),
        R(
            (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n_total") - F.col("k")))
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# T2 — Welch's t-test weekend vs weekday, from group aggregates
# (reference pages/Oura_Investigation.py:253-259).
# ---------------------------------------------------------------------------
@register(
    "stats_ttest_welch",
    extra=True,
    sql=f"""
    WITH grouped AS (
      SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend' ELSE 'weekday' END AS grp,
             count(*) AS n, avg(value) AS mean, var_samp(value) AS var
      FROM events GROUP BY 1)
    SELECT round((max(CASE WHEN grp = 'weekend' THEN mean END)
                  - max(CASE WHEN grp = 'weekday' THEN mean END))
                 / sqrt(max(CASE WHEN grp = 'weekend' THEN var / n END)
                        + max(CASE WHEN grp = 'weekday' THEN var / n END)), {DP}) AS t_stat,
           max(CASE WHEN grp = 'weekend' THEN n END) AS n_weekend,
           max(CASE WHEN grp = 'weekday' THEN n END) AS n_weekday
    FROM grouped
    """,
)
def stats_ttest_welch(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # Spark dayofweek: 1=Sunday..7=Saturday; DuckDB dayofweek: 0=Sunday..6=Saturday
    grp = F.when(F.dayofweek("ts").isin(1, 7), "weekend").otherwise("weekday")
    grouped = t.events.groupBy(grp.alias("grp")).agg(
        F.count("*").alias("n"), F.avg("value").alias("mean"), F.var_samp("value").alias("var")
    )
    we = lambda c: F.max(F.when(F.col("grp") == "weekend", c))  # noqa: E731
    wd = lambda c: F.max(F.when(F.col("grp") == "weekday", c))  # noqa: E731
    return grouped.agg(
        R(
            (we(F.col("mean")) - wd(F.col("mean")))
            / F.sqrt(we(F.col("var") / F.col("n")) + wd(F.col("var") / F.col("n")))
        ).alias("t_stat"),
        we(F.col("n")).alias("n_weekend"),
        wd(F.col("n")).alias("n_weekday"),
    )


# ---------------------------------------------------------------------------
# T3 — linear regression (slope/intercept/r) over yearly aggregates
# (reference pages/Oura_Investigation.py:220-221 stats.linregress).
# ---------------------------------------------------------------------------
@register(
    "stats_linregress",
    extra=True,
    sql=f"""
    WITH yearly AS (
      SELECT CAST(extract(year FROM o_orderdate) AS DOUBLE) AS yr,
             avg(o_totalprice) AS avg_revenue
      FROM orders GROUP BY 1)
    SELECT round(regr_slope(avg_revenue, yr), {DP})     AS slope,
           round(regr_intercept(avg_revenue, yr), {DP}) AS intercept,
           round(corr(avg_revenue, yr), {DP})           AS r_value,
           count(*) AS n_years
    FROM yearly
    """,
)
def stats_linregress(spark, sf_dir):
    t = Tables(spark, sf_dir)
    yearly = t.orders.groupBy(
        F.year("o_orderdate").cast("double").alias("yr")
    ).agg(F.avg("o_totalprice").alias("avg_revenue"))
    return yearly.agg(
        R(F.regr_slope("avg_revenue", "yr")).alias("slope"),
        R(F.regr_intercept("avg_revenue", "yr")).alias("intercept"),
        R(F.corr("avg_revenue", "yr")).alias("r_value"),
        F.count("*").alias("n_years"),
    )


# ---------------------------------------------------------------------------
# T5 — period-over-period change on a smoothed series (rolling mean then
# lag-k delta; reference pages/3_Oura_Wellness.py:232-290).
# ---------------------------------------------------------------------------
@register(
    "stats_period_over_period",
    sql=f"""
    WITH daily AS ({_DAILY_SQL}),
    smoothed AS (
      SELECT order_date,
             avg(revenue) OVER (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS smooth_rev
      FROM daily)
    SELECT CAST(date_trunc('month', order_date) AS DATE) AS month,
           round(avg(smooth_rev - prev_rev), {DP}) AS avg_pop_change
    FROM (SELECT order_date, smooth_rev,
                 lag(smooth_rev, 7) OVER (ORDER BY order_date) AS prev_rev
          FROM smoothed)
    WHERE prev_rev IS NOT NULL
    GROUP BY 1 ORDER BY month
    """,
)
def stats_period_over_period(spark, sf_dir):
    t = Tables(spark, sf_dir)
    w = W.orderBy("order_date")
    smoothed = _daily(t).select(
        "order_date", F.avg("revenue").over(w.rowsBetween(-6, 0)).alias("smooth_rev")
    )
    delta = smoothed.select(
        "order_date",
        "smooth_rev",
        F.lag("smooth_rev", 7).over(w).alias("prev_rev"),
    ).filter(F.col("prev_rev").isNotNull())
    return (
        delta.groupBy(F.date_trunc("month", "order_date").cast("date").alias("month"))
        .agg(R(F.avg(F.col("smooth_rev") - F.col("prev_rev"))).alias("avg_pop_change"))
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (event_type × props.k band) + Cramér's V —
# the categorical companion to stats_group_tests' ANOVA/Welch (the reference
# runs scipy tests over collected frames, SURVEY.md §2.11; chi-square is the
# standard next test in that family). Wholly distributed: one hash aggregate
# builds the contingency cells, everything after runs on the ≤(types×bands)
# row frame.
#
# Cross-engine float discipline: the per-cell term (O−E)²/E is one identical
# IEEE expression tree in both engines, then ROUNDED TO INTEGER MILLIONTHS
# per cell BEFORE the sum — so the cross-cell addition is exact BIGINT and
# summation order cannot drift the hash (the same rounded-then-summed trick
# as ts_resample_ohlc's mean). Cramér's V is recomputed from the summed
# integer, so it is identical by construction.
#
# Scale design (100 TB): the only data-sized work is the first
# groupBy(type, band) count — map-side partial aggregation makes the shuffle
# ≤ |types×bands| rows per mapper. Row/column totals are window sums over
# the tiny cell frame (bounded by the category-domain product, not the data).
# ---------------------------------------------------------------------------
_BAND_WIDTH = 25  # props.k ∈ [0,99] → 4 bands


@register(
    "stats_chisq_cramers",
    extra=True,
    sql=f"""
    WITH cells AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) // {_BAND_WIDTH} AS band,
             count(*) AS o
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL
      GROUP BY 1, 2),
    tot AS (
      SELECT sum(o) AS n,
             count(DISTINCT event_type) AS n_types,
             count(DISTINCT band) AS n_bands
      FROM cells),
    terms AS (
      SELECT CAST(round(
               (c.o - (r.r * 1.0 * b.c / tot.n)) * (c.o - (r.r * 1.0 * b.c / tot.n))
                 / (r.r * 1.0 * b.c / tot.n) * 1000000) AS BIGINT) AS term_e6
      FROM cells c
      JOIN (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1) r
        ON c.event_type = r.event_type
      JOIN (SELECT band, sum(o) AS c FROM cells GROUP BY 1) b
        ON c.band = b.band
      CROSS JOIN tot),
    chi AS (SELECT CAST(sum(term_e6) AS BIGINT) AS chi2_e6 FROM terms)
    SELECT CAST(tot.n AS BIGINT) AS n_events,
           CAST(tot.n_types AS BIGINT) AS n_types,
           CAST(tot.n_bands AS BIGINT) AS n_bands,
           CAST((tot.n_types - 1) * (tot.n_bands - 1) AS BIGINT) AS df,
           round(chi.chi2_e6 / 1000000.0, {DP}) AS chi2,
           round(sqrt(chi.chi2_e6 / 1000000.0
                      / (tot.n * least(tot.n_types - 1, tot.n_bands - 1))), {DP})
             AS cramers_v
    FROM tot CROSS JOIN chi
    """,
)
def stats_chisq_cramers(spark, sf_dir):
    t = Tables(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    cells = (
        t.events.select("event_type", (k / _BAND_WIDTH).cast("long").alias("band"))
        .filter(F.col("band").isNotNull())
        .groupBy("event_type", "band")
        .agg(F.count("*").alias("o"))
        .cache()  # ≤ types×bands rows, read by tot, chi AND the final select —
        # without this every branch re-scans + re-parses the events JSON
        # (measured 213 s → 5 s at the 100× dataset)
    )
    # totals as window sums over the tiny cell frame (≤ types×bands rows)
    cells = cells.select(
        "event_type",
        "band",
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("r"),
        F.sum("o").over(W.partitionBy("band")).alias("c"),
    )
    e = F.col("r") * 1.0 * F.col("c") / F.col("n")
    term_e6 = F.round(
        (F.col("o") - e) * (F.col("o") - e) / e * 1000000
    ).cast("bigint")
    tot = cells.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.countDistinct("band").cast("bigint").alias("n_bands"),
    )
    chi = (
        cells.crossJoin(F.broadcast(tot.select("n")))
        .agg(F.sum(term_e6).cast("bigint").alias("chi2_e6"))
    )
    return tot.crossJoin(F.broadcast(chi)).select(
        F.col("n").alias("n_events"),
        "n_types",
        "n_bands",
        ((F.col("n_types") - 1) * (F.col("n_bands") - 1)).cast("bigint").alias("df"),
        R(F.col("chi2_e6") / 1000000.0).alias("chi2"),
        R(
            F.sqrt(
                F.col("chi2_e6")
                / 1000000.0
                / (F.col("n") * F.least(F.col("n_types") - 1, F.col("n_bands") - 1))
            )
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit over order totals — the classic anomaly screen
# for monetary columns (fabricated/synthetic numbers rarely follow Benford's
# law). The first significant digit is taken from the DECIMAL STRING of
# floor(o_totalprice) (prices are ≥ 1), so no engine computes a log10 at
# runtime; the expected Benford shares are the published log10(1+1/d)
# constants, hardcoded in ppm in BOTH engines (a constant table is the
# semantics here, like models/fda.py's CASE tables). All output arithmetic
# is integer: observed share in ppm by floor division, deviation in ppm by
# subtraction.
#
# Scale design (100 TB): one scan → hash aggregate with a 9-value key
# domain — map-side partials collapse to ≤ 9 rows per task; the expected
# table is a 9-row broadcast. Nothing else touches data.
# ---------------------------------------------------------------------------
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_CASE = "CASE d " + " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items()
) + " END"


@register(
    "stats_benford_digits",
    extra=True,
    sql=f"""
    WITH digits AS (
      SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS BIGINT) AS d
      FROM orders WHERE o_totalprice >= 1),
    counts AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY d),
    tot AS (SELECT sum(n) AS total FROM counts)
    SELECT d AS digit, n,
           CAST(n * 1000000 // tot.total AS BIGINT) AS share_ppm,
           CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm,
           CAST(n * 1000000 // tot.total - ({_BENFORD_CASE}) AS BIGINT) AS dev_ppm
    FROM counts CROSS JOIN tot ORDER BY d
    """,
)
def stats_benford_digits(spark, sf_dir):
    t = Tables(spark, sf_dir)
    d = F.expr(
        "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"
    )
    counts = (
        t.orders.filter(F.col("o_totalprice") >= 1)
        .select(d.alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    benford = F.expr(_BENFORD_CASE).cast("bigint")
    share = F.expr("CAST(n * 1000000 div total AS BIGINT)")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("digit"),
            "n",
            share.alias("share_ppm"),
            benford.alias("benford_ppm"),
            (share - benford).cast("bigint").alias("dev_ppm"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Two-sample distribution tests with EXACT integer machinery: Kolmogorov-
# Smirnov D and Mann-Whitney U between '1-URGENT' and '5-LOW' order totals
# (beyond-reference — the reference's scipy page stops at ANOVA/t-test; these
# are the nonparametric siblings a data-quality pipeline reaches for when
# normality fails).
#
# Exactness: prices quantized to integer cents; the empirical-CDF gap is kept
# as the integer cross-product |cum1*n2 - cum2*n1| (never a float CDF), the
# rank-sum uses doubled midranks (2*midrank = 2*below + tie + 1 is always an
# integer), and the tie-correction term sum(t^3 - t) is integer. Only the
# final MWU z divides/sqrt-s identical integer operands (one IEEE tree both
# engines). Integer bounds: |D_num| <= n1*n2 and ks_ppm multiplies by 1e6, so
# int64 holds to ~3e6 rows per sample (2.25e18 at the 100x dataset) —
# documented, not silent.
#
# Scale design (100 TB): one scan -> distinct-cents hash aggregate; the
# cumulative counts use operators/ranked.py's range-partition prefix-sum
# trick (NO single-task global sort window — the oracle's serial window is
# the semantic statement only). Final stats are two tiny aggregates over the
# cached distinct-value frame.
# ---------------------------------------------------------------------------
_KS_P1, _KS_P2 = "1-URGENT", "5-LOW"


@register(
    "stats_ks_mannwhitney",
    extra=True,
    sql=f"""
    WITH s AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority = '{_KS_P1}' THEN 1 ELSE 0 END AS f1
      FROM orders WHERE o_orderpriority IN ('{_KS_P1}', '{_KS_P2}')),
    v AS (SELECT cents, CAST(sum(f1) AS BIGINT) AS c1,
                 CAST(count(*) - sum(f1) AS BIGINT) AS c2
          FROM s GROUP BY cents),
    tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM v),
    cum AS (SELECT cents, c1, c2, c1 + c2 AS cnt,
                   CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS cum1,
                   CAST(sum(c2) OVER (ORDER BY cents) AS BIGINT) AS cum2,
                   CAST(sum(c1 + c2) OVER (ORDER BY cents) AS BIGINT) AS cumn
            FROM v),
    d AS (SELECT cents, abs(cum1 * tot.n2 - cum2 * tot.n1) AS dnum
          FROM cum CROSS JOIN tot),
    ks AS (SELECT CAST(max(dnum) AS BIGINT) AS m FROM d),
    at AS (SELECT CAST(min(cents) AS BIGINT) AS atc FROM d
           WHERE dnum = (SELECT m FROM ks)),
    mwu AS (SELECT CAST(sum(c1 * (2 * (cumn - cnt) + cnt + 1)) AS BIGINT) AS r1x2,
                   CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_cubes
            FROM cum)
    SELECT tot.n1 AS n1, tot.n2 AS n2,
           ks.m AS ks_d_num,
           CAST(ks.m * 1000000 // (tot.n1 * tot.n2) AS BIGINT) AS ks_ppm,
           round(at.atc / 100.0, 2) AS ks_at_price,
           mwu.r1x2 AS r1_x2,
           CAST(mwu.r1x2 - tot.n1 * (tot.n1 + 1) AS BIGINT) AS u1_x2,
           CAST(2 * tot.n1 * tot.n2 - (mwu.r1x2 - tot.n1 * (tot.n1 + 1)) AS BIGINT)
             AS u2_x2,
           mwu.tie_cubes AS tie_cubes,
           round(((mwu.r1x2 - tot.n1 * (tot.n1 + 1)) - tot.n1 * tot.n2)
                 / (2 * sqrt((tot.n1 * tot.n2 / 12.0)
                     * ((tot.n1 + tot.n2 + 1)
                        - mwu.tie_cubes
                          / ((tot.n1 + tot.n2) * (tot.n1 + tot.n2 - 1.0))))), {DP})
             AS z_mwu
    FROM tot CROSS JOIN ks CROSS JOIN at CROSS JOIN mwu
    """,
)
def stats_ks_mannwhitney(spark, sf_dir):
    from ..operators.ranked import ranged_prefix

    t = Tables(spark, sf_dir)
    s = t.orders.filter(F.col("o_orderpriority").isin(_KS_P1, _KS_P2)).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == _KS_P1, 1).otherwise(0).alias("f1"),
    )
    v = (
        s.groupBy("cents")
        .agg(
            F.sum("f1").cast("long").alias("c1"),
            (F.count("*") - F.sum("f1")).cast("long").alias("c2"),
        )
        .withColumn("cnt", (F.col("c1") + F.col("c2")).cast("long"))
    )
    pref, totals = ranged_prefix(v, ["cents"], ["c1", "c2", "cnt"])
    n1, n2 = totals["c1"], totals["c2"]
    # ONE aggregate pass: the KS max, the MWU sums, AND the argmax location
    # — a lexicographic-max struct over (dnum, -cents) picks min(cents)
    # among the rows attaining max(dnum) (cents is unique after the groupBy),
    # replacing the old second pref pass + filter + crossJoin assembly
    # (guide §2.4: the re-read re-ran the whole prefix pipeline).
    dnum = F.abs(F.col("cum_c1") * F.lit(n2) - F.col("cum_c2") * F.lit(n1))
    stats1 = pref.agg(
        F.max(dnum).cast("long").alias("m"),
        F.max(F.struct(dnum.alias("d"), (-F.col("cents")).alias("negc"))).alias("b"),
        F.sum(
            F.col("c1") * (2 * (F.col("cum_cnt") - F.col("cnt")) + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("r1x2"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("tie_cubes"),
    ).withColumn("atc", (-F.col("b.negc")).cast("long"))
    # precompute the big literal products in Python: {n1} * {n2} would parse
    # as 32-bit INT literals and overflow under ANSI at the 100x dataset —
    # large single literals parse as BIGINT
    n1n2, n1sq = n1 * n2, n1 * (n1 + 1)
    z_expr = (
        f"round(((r1x2 - {n1sq}) - {n1n2})"
        f" / (2 * sqrt(({n1n2} / 12.0)"
        f" * (({n1} + {n2} + 1)"
        f" - tie_cubes / (({n1} + {n2}) * ({n1} + {n2} - 1.0))))), {DP})"
    )
    return stats1.select(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        F.col("m").alias("ks_d_num"),
        F.expr(f"CAST(m * 1000000 div {n1n2} AS BIGINT)").alias("ks_ppm"),
        F.round(F.col("atc") / 100.0, 2).alias("ks_at_price"),
        F.col("r1x2").alias("r1_x2"),
        F.expr(f"CAST(r1x2 - {n1sq} AS BIGINT)").alias("u1_x2"),
        F.expr(
            f"CAST({2 * n1 * n2} - (r1x2 - {n1sq}) AS BIGINT)"
        ).alias("u2_x2"),
        "tie_cubes",
        F.expr(z_expr).alias("z_mwu"),
    )


# ---------------------------------------------------------------------------
# Gini concentration of customer revenue (beyond-reference — the inequality
# audit a mixing pipeline runs on source/domain contribution before capping).
# Gini = sum((2r - n - 1) * x_r) / (n * sum(x)) over revenue ranked ascending
# with (cents, custkey) as the deterministic total order. The rank-weighted
# numerator is summed in DECIMAL(38,0)/HUGEINT (rank * cents overflows int64
# at ~100x); the three final ratios divide identical exact integers, rounded
# once. Top-decile/percentile shares use the same global rank.
#
# Scale design (100 TB): per-customer revenue is one hash aggregate; the
# global rank comes from operators/ranked.py (range partition + offsets — no
# single-task sort); everything after is one aggregate over the ranked frame.
# ---------------------------------------------------------------------------
@register(
    "agg_gini_concentration",
    extra=True,
    sql=f"""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cents) AS BIGINT) AS t
            FROM rev),
    ranked AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS r
      FROM rev),
    g AS (SELECT sum(CAST(2 * r - tot.n - 1 AS HUGEINT) * cents) AS gnum
          FROM ranked CROSS JOIN tot),
    shares AS (
      SELECT CAST(sum(CASE WHEN r > tot.n - tot.n // 10 THEN cents ELSE 0 END)
               AS BIGINT) AS s10,
             CAST(sum(CASE WHEN r > tot.n - tot.n // 100 THEN cents ELSE 0 END)
               AS BIGINT) AS s1
      FROM ranked CROSS JOIN tot)
    SELECT tot.n AS n_customers, tot.t AS total_cents,
           round(CAST(g.gnum AS DOUBLE)
                 / (CAST(tot.n AS DOUBLE) * CAST(tot.t AS DOUBLE)), {DP}) AS gini,
           round(shares.s10 / (1.0 * tot.t), {DP}) AS top10_share,
           round(shares.s1 / (1.0 * tot.t), {DP}) AS top1_share
    FROM tot CROSS JOIN g CROSS JOIN shares
    """,
)
def agg_gini_concentration(spark, sf_dir):
    from ..operators.ranked import ranged_prefix

    t = Tables(spark, sf_dir)
    rev = t.orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    pref, totals = ranged_prefix(rev, ["cents", "o_custkey"], ["cents"])
    n, tt = totals["_n"], totals["cents"]
    thr10, thr1 = n - n // 10, n - n // 100
    out = pref.agg(
        F.sum(
            F.expr(f"CAST(2 * _r - {n} - 1 AS DECIMAL(38,0)) * cents")
        ).alias("gnum"),
        F.sum(F.when(F.col("_r") > thr10, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s10"),
        F.sum(F.when(F.col("_r") > thr1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s1"),
    )
    return out.select(
        F.lit(n).cast("long").alias("n_customers"),
        F.lit(tt).cast("long").alias("total_cents"),
        F.round(
            F.col("gnum").cast("double")
            / (F.lit(n).cast("double") * F.lit(tt).cast("double")),
            DP,
        ).alias("gini"),
        F.round(F.col("s10") / (1.0 * F.lit(tt)), DP).alias("top10_share"),
        F.round(F.col("s1") / (1.0 * F.lit(tt)), DP).alias("top1_share"),
    )


# ---------------------------------------------------------------------------
# Exact WEIGHTED quantiles: lineitem price quartiles weighted by quantity —
# "the price at which half the shipped units are cheaper". The lower
# weighted quantile at q is the smallest value whose cumulative weight
# reaches q of the total; membership tests stay integer by cross-multiplying
# (k*cum >= m*W instead of cum/W >= m/k). Weights and values quantize to
# exact integers; the only float op is the final /100 display rescale.
#
# Scale design (100 TB): one scan -> distinct-cents hash aggregate with
# summed weights, then operators/ranked.py's range-partition prefix sums (no
# single-task sort window); the three quantiles are one-row mins over the
# prefix-sum frame. The counting-selection operator (operators/quantile.py) remains the
# constant-memory alternative when even the distinct-value frame is huge.
# ---------------------------------------------------------------------------
@register(
    "agg_weighted_median",
    extra=True,
    # v/tot are MATERIALIZED and the three picks are conditional mins in
    # ONE pass over cum: the correlated-subquery form re-inlined the full
    # 600M-row aggregate per reference and spilled ~60 GB at the 1000x
    # sweep (observed IO failure); this shape aggregates lineitem once
    sql=f"""
    WITH v AS MATERIALIZED (
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1),
    tot AS MATERIALIZED (SELECT CAST(sum(w) AS BIGINT) AS tw FROM v),
    cum AS (SELECT cents, CAST(sum(w) OVER (ORDER BY cents) AS BIGINT) AS cw FROM v)
    SELECT tot.tw AS total_weight,
           round(min(CASE WHEN 4 * cum.cw >= tot.tw THEN cum.cents END) / 100.0, 2)
             AS p25_weighted,
           round(min(CASE WHEN 2 * cum.cw >= tot.tw THEN cum.cents END) / 100.0, 2)
             AS median_weighted,
           round(min(CASE WHEN 4 * cum.cw >= 3 * tot.tw THEN cum.cents END) / 100.0, 2)
             AS p75_weighted
    FROM cum, tot
    GROUP BY tot.tw
    """,
)
def agg_weighted_median(spark, sf_dir):
    from ..operators.ranked import ranged_prefix

    t = Tables(spark, sf_dir)
    v = t.lineitem.groupBy(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    ).agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("w"))
    pref, totals = ranged_prefix(v, ["cents"], ["w"])
    tw = totals["w"]

    # all three quantile picks in ONE aggregation pass over the prefix-sum
    # frame (min of a conditional projection == min over the filtered rows,
    # nulls ignored): the old per-pick filter+agg branches scanned the
    # range-partitioned frame three times and crossJoined the
    # 1-row results (r9 opt; identical values — same cross-multiplied
    # integer membership tests, same mins)
    def pick(num: int, den: int, alias: str):
        return F.round(
            F.min(F.when(F.col("cum_w") * den >= num * tw, F.col("cents"))) / 100.0, 2
        ).alias(alias)

    return (
        pref.agg(
            pick(1, 4, "p25_weighted"),
            pick(1, 2, "median_weighted"),
            pick(3, 4, "p75_weighted"),
        )
        .select(
            F.lit(tw).cast("long").alias("total_weight"),
            "p25_weighted",
            "median_weighted",
            "p75_weighted",
        )
    )
