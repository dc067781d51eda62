"""Reshape operators (SURVEY.md §2.10 R1-R4).

The pandas pivot/melt/value_counts/dense-matrix idioms from the reference's
dashboard layer, as native DataFrame ops: ``pivot`` with an explicit value
list (keeps the plan static — no extra distinct-values job), ``unpivot``
(SQL stack), groupBy-count, and a broadcast cross-join domain completion.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


# ---------------------------------------------------------------------------
# R1+R4 — pivot_table with fill 0 (reference pages/1_Linear_Issues.py:209-240:
# assignee × cycle sum-of-estimate) over the COMPLETED key domain: the scan
# starts from the nation dim LEFT JOIN customer, so nations with no customers
# still appear as all-zero rows — the dense-matrix completion idiom
# (pages/2_GitHub_PRs.py:337-351 heatmap grid). Explicit pivot values avoid
# the extra distinct-values job and keep the plan static; per-segment counts
# ride along with the balance sums.
# ---------------------------------------------------------------------------
@register(
    "reshape_pivot",
    sql=f"""
    SELECT n.n_name AS nation_name,
           {', '.join(f'''round(coalesce(sum(CASE WHEN c.c_mktsegment = '{s}' THEN c.c_acctbal END), 0), {DP}) AS {s}''' for s in SEGMENTS)},
           {', '.join(f'''CAST(count_if(c.c_mktsegment = '{s}') AS BIGINT) AS n_{s}''' for s in SEGMENTS)}
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY nation_name
    """,
)
def reshape_pivot(spark, sf_dir):
    # Aggregate the fact side FIRST (one shuffle down to |nations|×|segments|
    # rows), then left-join the tiny pivoted result onto the nation dim — the
    # dim-preserving outer join runs over two small inputs, never the fact.
    t = Tables(spark, sf_dir)
    piv = (
        t.customer.groupBy("c_nationkey")
        .pivot("c_mktsegment", SEGMENTS)
        .agg(
            F.sum("c_acctbal").alias("bal"),
            F.count("c_custkey").alias("cnt"),
        )
    )
    return (
        t.nation.join(F.broadcast(piv), t.nation.n_nationkey == piv.c_nationkey, "left")
        .select(
            F.col("n_name").alias("nation_name"),
            *[R(F.coalesce(F.col(f"{s}_bal"), F.lit(0.0))).alias(s) for s in SEGMENTS],
            *[
                F.coalesce(F.col(f"{s}_cnt"), F.lit(0)).cast("long").alias(f"n_{s}")
                for s in SEGMENTS
            ],
        )
        .orderBy("nation_name")
    )


# ---------------------------------------------------------------------------
# R2 — melt wide→long (reference pages/3_Oura_Wellness.py:412 multi-series).
# ---------------------------------------------------------------------------
@register(
    "reshape_melt",
    sql=f"""
    WITH wide AS (
      SELECT o_orderpriority,
             sum(CASE WHEN o_orderstatus = 'O'
                 THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) / 100.0
               AS open_revenue,
             sum(CASE WHEN o_orderstatus = 'F'
                 THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) / 100.0
               AS finished_revenue,
             sum(CASE WHEN o_orderstatus = 'P'
                 THEN CAST(round(o_totalprice * 100) AS BIGINT) ELSE 0 END) / 100.0
               AS pending_revenue
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, metric, value FROM (
      SELECT o_orderpriority, 'open_revenue' AS metric, open_revenue AS value FROM wide
      UNION ALL
      SELECT o_orderpriority, 'finished_revenue', finished_revenue FROM wide
      UNION ALL
      SELECT o_orderpriority, 'pending_revenue', pending_revenue FROM wide)
    ORDER BY o_orderpriority, metric
    """,
)
def reshape_melt(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # currency sums in exact integer cents (summation-order-proof; the raw
    # double sum drifts into visible noise by 60M rows), one division out
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    wide = t.orders.groupBy("o_orderpriority").agg(
        (F.sum(F.when(F.col("o_orderstatus") == "O", cents).otherwise(F.lit(0))) / 100.0).alias(
            "open_revenue"
        ),
        (F.sum(F.when(F.col("o_orderstatus") == "F", cents).otherwise(F.lit(0))) / 100.0).alias(
            "finished_revenue"
        ),
        (F.sum(F.when(F.col("o_orderstatus") == "P", cents).otherwise(F.lit(0))) / 100.0).alias(
            "pending_revenue"
        ),
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["open_revenue", "finished_revenue", "pending_revenue"],
        "metric",
        "value",
    ).orderBy("o_orderpriority", "metric")


# ---------------------------------------------------------------------------
# R3 — value_counts (reference pages/7_FDA_Food_Recalls.py:337).
# ---------------------------------------------------------------------------
@register(
    "reshape_value_counts",
    extra=True,
    sql="""
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type
    ORDER BY n DESC, event_type
    """,
)
def reshape_value_counts(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "event_type")
    )
