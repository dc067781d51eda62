"""Filter / predicate operators (SURVEY.md §2.3 F1-F9).

All predicates are expressed as Catalyst filter expressions so they push
down into the parquet scan (verified via .explain → PushedFilters). The
IN-list-via-subquery becomes a broadcast semi-join, the reference's
QUALIFY-style rank filters live in windows.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731


# ---------------------------------------------------------------------------
# F1/F2/F5/F6 — null/empty guards, boolean NOT-TRUE, categorical equality,
# and regex predicates (positive via count_if, negative in the WHERE clause;
# reference sources/hacker_news.py:78-83, stg_hn__stories.sql:3,
# fct_hn_keyword_trends.sql:69 rlike). Regexes stay in the dialect-portable
# subset (\b, \s).
# ---------------------------------------------------------------------------
@register(
    "filter_guards",
    sql="""
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count_if(regexp_matches(lower(text), '\\bspark\\b')) AS BIGINT) AS n_spark_docs
    FROM documents
    WHERE text IS NOT NULL AND text != ''
      AND coalesce(n_chars > 2000, FALSE) IS NOT TRUE   -- "deleted IS NOT TRUE" idiom
      AND lang = 'en'
      AND NOT regexp_matches(lower(text), '\\bslow\\b')
    GROUP BY source ORDER BY source
    """,
)
def filter_guards(spark, sf_dir):
    t = Tables(spark, sf_dir)
    not_true = ~F.coalesce(F.col("n_chars") > 2000, F.lit(False))
    low = F.lower(F.col("text"))
    return (
        t.documents.filter(
            F.col("text").isNotNull()
            & (F.col("text") != "")
            & not_true
            & (F.col("lang") == "en")
            & ~low.rlike(r"\bslow\b")
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_if(low.rlike(r"\bspark\b")).alias("n_spark_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# F4 — IN-list via dim subquery → broadcast left-semi join
# (reference stg_fda__recalls.sql:14-23,57 state-code filter).
# ---------------------------------------------------------------------------
@register(
    "filter_in_subquery",
    sql=f"""
    SELECT c_mktsegment, count(*) AS n_customers, round(sum(c_acctbal), {DP}) AS total_balance
    FROM customer
    WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey <= 1)
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def filter_in_subquery(spark, sf_dir):
    t = Tables(spark, sf_dir)
    dim = t.nation.filter(F.col("n_regionkey") <= 1).select("n_nationkey")
    return (
        t.customer.join(
            F.broadcast(dim), t.customer.c_nationkey == dim.n_nationkey, "left_semi"
        )
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"), R(F.sum("c_acctbal")).alias("total_balance"))
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# F3/F7 — date-range lookback with a fixed cutoff (parameterized "now";
# reference sources/fda_food_events.py:96, data.py:106) feeding a
# post-aggregation HAVING filter (fct_hn_domain_stats.sql:20-25). The
# lookback predicate pushes down to the parquet scan before the group-by.
# ---------------------------------------------------------------------------
@register(
    "filter_having",
    sql=f"""
    SELECT user_id, count(*) AS n_events, round(sum(value), {DP}) AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
      AND ts <  TIMESTAMP '2024-01-31 00:00:00'
    GROUP BY user_id
    HAVING count(*) >= 15
    ORDER BY user_id
    """,
)
def filter_having(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.events.filter(
            (F.col("ts") >= F.lit("2024-01-24 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-31 00:00:00").cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), R(F.sum("value")).alias("total_value"))
        .filter(F.col("n_events") >= 15)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# F9 — interactive-style multi-dimension filter composition (OR of masks +
# isin + range; reference pages/2_GitHub_PRs.py:72-94).
# ---------------------------------------------------------------------------
@register(
    "filter_multi_dim",
    sql=f"""
    SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), {DP}) AS avg_price
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND (o_totalprice > 150000 OR o_orderstatus = 'O')
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def filter_multi_dim(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.orders.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & ((F.col("o_totalprice") > 150000) | (F.col("o_orderstatus") == "O"))
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), R(F.avg("o_totalprice")).alias("avg_price"))
        .orderBy("o_orderstatus")
    )
