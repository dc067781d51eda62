"""Scalar-function operators (SURVEY.md §2.9).

String / regex / date-time / math-conditional / array expression coverage,
all JVM-side built-ins (whole-stage codegen) — the reference's only scalar
UDF (clean_html) is re-expressed as a native regexp_replace chain (X1).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import clean_html, month_start, ts_diff_hours, week_start
from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731


# ---------------------------------------------------------------------------
# String ops: lower/upper/trim/concat/substring + regexp_extract
# (reference dim_users.sql:14, sources/hacker_news.py:69) + array scalars
# over the same part row: conditional-tag array build, filter-out-nulls,
# size, join-to-string (reference row-wise list lambdas,
# pages/1_Linear_Issues.py:118-133).
# ---------------------------------------------------------------------------
@register(
    "scalar_string_ops",
    sql="""
    WITH flags AS (
      SELECT p_partkey,
             list_filter([CASE WHEN p_size > 10 THEN 'large' END,
                          CASE WHEN p_retailprice > 1200 THEN 'premium' END,
                          CASE WHEN p_type = 'ECONOMY' THEN 'economy' END],
                         x -> x IS NOT NULL) AS tags
      FROM part)
    SELECT p.p_partkey,
           lower(p.p_brand)                       AS brand_lower,
           upper(p.p_type)                        AS type_upper,
           p.p_brand || ':' || p.p_type           AS brand_type,
           trim('  ' || p.p_name || ' ')          AS name_trimmed,
           substring(p.p_name, 1, 5)              AS name_prefix,
           regexp_extract(p.p_name, '^([a-z]+)', 1) AS first_word,
           length(p.p_name)                       AS name_len,
           CAST(len(f.tags) AS INT)               AS n_tags,
           array_to_string(CASE WHEN len(f.tags) = 0 THEN ['untagged'] ELSE f.tags END, ',')
             AS tag_list
    FROM part p JOIN flags f ON p.p_partkey = f.p_partkey
    ORDER BY p.p_partkey
    """,
)
def scalar_string_ops(spark, sf_dir):
    t = Tables(spark, sf_dir)
    tags = F.array_compact(
        F.array(
            F.when(F.col("p_size") > 10, "large"),
            F.when(F.col("p_retailprice") > 1200, "premium"),
            F.when(F.col("p_type") == "ECONOMY", "economy"),
        )
    )
    return (
        t.part.withColumn("tags", tags)
        .select(
            "p_partkey",
            F.lower("p_brand").alias("brand_lower"),
            F.upper("p_type").alias("type_upper"),
            F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
            F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("name_trimmed"),
            F.substring("p_name", 1, 5).alias("name_prefix"),
            F.regexp_extract("p_name", r"^([a-z]+)", 1).alias("first_word"),
            F.length("p_name").alias("name_len"),
            F.size("tags").alias("n_tags"),
            F.array_join(
                F.when(F.size("tags") == 0, F.array(F.lit("untagged"))).otherwise(F.col("tags")),
                ",",
            ).alias("tag_list"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Date/time ops: truncations, extracts, diffs
# (reference sources/iowa_liquor.py:95, fct_pull_requests.sql:76,
#  fct_issues.sql:66).
# ---------------------------------------------------------------------------
@register(
    "scalar_date_ops",
    sql="""
    SELECT o_orderkey,
           CAST(date_trunc('week', o_orderdate)  AS DATE) AS order_week,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(extract(year  FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(extract(month FROM o_orderdate) AS BIGINT) AS order_mon,
           CAST(o_orderdate AS DATE)                       AS order_date,
           date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
           CAST(floor(date_diff('second', o_orderdate, TIMESTAMP '2000-01-01 12:00:00') / 3600)
                AS BIGINT) AS hours_to_y2k_noon
    FROM orders
    WHERE o_orderkey <= 1000
    ORDER BY o_orderkey
    """,
)
def scalar_date_ops(spark, sf_dir):
    t = Tables(spark, sf_dir)
    d = F.col("o_orderdate")
    return (
        t.orders.filter(F.col("o_orderkey") <= 1000)
        .select(
            "o_orderkey",
            week_start(d).alias("order_week"),
            month_start(d).alias("order_month"),
            F.year(d).cast("long").alias("order_year"),
            F.month(d).cast("long").alias("order_mon"),
            d.cast("date").alias("order_date"),
            F.datediff(F.lit("2000-01-01").cast("date"), d.cast("date")).alias("days_to_y2k"),
            ts_diff_hours(F.lit("2000-01-01 12:00:00").cast("timestamp"), d).alias(
                "hours_to_y2k_noon"
            ),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# JSON extraction from a string column (the events.props payload). The
# reference flattens JSON in Python pre-load; engine-side extraction is the
# Spark-native path (get_json_object stays in codegen).
# ---------------------------------------------------------------------------
@register(
    "scalar_json_extract",
    sql=f"""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), {DP}) AS avg_k,
           CAST(count_if(json_extract_string(props, '$.k') IS NULL) AS BIGINT) AS n_missing_k
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def scalar_json_extract(spark, sf_dir):
    t = Tables(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    # pre-project the extraction ONCE: as an inline aggregate input the JSON
    # parse runs per referencing aggregate (3x per row — subexpression
    # elimination does not reach aggregate inputs); measured 9.3s -> 3.7s on
    # the 100x replica
    pre = t.events.select("event_type", k.alias("k"))
    return (
        pre.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            R(F.avg("k")).alias("avg_k"),
            F.count_if(F.col("k").isNull()).alias("n_missing_k"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Math/conditional: round/abs/least/greatest/coalesce/nullif/safe_divide +
# multi-branch CASE scoring (reference fct_oura_daily.sql:96-123,
# fct_stock_prices.sql:26, fct_reviewer_activity.sql:98-101).
# ---------------------------------------------------------------------------
@register(
    "scalar_math_conditional",
    sql=f"""
    SELECT c_custkey,
           round(abs(c_acctbal), 2)                        AS abs_bal,
           least(c_acctbal, 5000.0)                        AS capped_bal,
           greatest(c_acctbal, 0.0)                        AS floored_bal,
           coalesce(nullif(c_mktsegment, 'MACHINERY'), 'OTHER') AS segment_recode,
           -- integer-exact ratio: rescale to cents, round-half-away in BIGINT
           -- arithmetic, divide once at the edge (half-ulp-proof cross-engine)
           (CASE WHEN c_nationkey = 0 THEN NULL
                 ELSE (CASE WHEN c_acctbal < 0 THEN -1 ELSE 1 END)
                      * ((abs(CAST(round(c_acctbal * 100) AS BIGINT)) * 200 + c_nationkey)
                         // (2 * c_nationkey)) END) / 10000.0 AS bal_per_nation,
           CASE WHEN c_acctbal >= 7500 THEN 'platinum'
                WHEN c_acctbal >= 5000 THEN 'gold'
                WHEN c_acctbal >= 1000 THEN 'silver'
                WHEN c_acctbal >= 0    THEN 'bronze'
                ELSE 'delinquent' END                      AS tier
    FROM customer
    ORDER BY c_custkey
    """,
)
def scalar_math_conditional(spark, sf_dir):
    t = Tables(spark, sf_dir)
    bal = F.col("c_acctbal")
    return t.customer.select(
        "c_custkey",
        F.round(F.abs(bal), 2).alias("abs_bal"),
        F.least(bal, F.lit(5000.0)).alias("capped_bal"),
        F.greatest(bal, F.lit(0.0)).alias("floored_bal"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")).alias(
            "segment_recode"
        ),
        # integer-exact twin of the oracle: cents BIGINT, half-away rounding in
        # integer space, one division at the output edge
        (
            F.when(F.col("c_nationkey") == 0, F.lit(None).cast("long")).otherwise(
                F.when(bal < 0, -1)
                .otherwise(1)
                .cast("long")
                * F.expr(
                    "(abs(CAST(round(c_acctbal * 100) AS BIGINT)) * 200 + c_nationkey)"
                    " DIV (2 * c_nationkey)"
                )
            )
            / F.lit(10000.0)
        ).alias("bal_per_nation"),
        F.when(bal >= 7500, "platinum")
        .when(bal >= 5000, "gold")
        .when(bal >= 1000, "silver")
        .when(bal >= 0, "bronze")
        .otherwise("delinquent")
        .alias("tier"),
    ).orderBy("c_custkey")
