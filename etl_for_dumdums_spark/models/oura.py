"""fct_oura_daily re-expressed (dbt/models/marts/oura/fct_oura_daily.sql).

The union-distinct date spine over the four source tables (sql:38-46), a
4-way left join back to each, the sleep-type conditional-max pivot
(sql:28-31), the row-wise combined wellness score — sum of coalesced
present scores over the count present (sql:126-135) — and the score→label
CASE (sql:96-123)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def stg_daily_activity(raw: DataFrame) -> DataFrame:
    """Per-day best record = max steps (stg_oura__daily_activity.sql:7-11)."""
    w = W.partitionBy("day").orderBy(F.col("steps").desc(), F.col("id"))
    return raw.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


def fct_oura_daily(
    sleep: DataFrame,
    readiness: DataFrame,
    activity: DataFrame,
    sessions: DataFrame,
) -> DataFrame:
    spine = (
        sleep.select("day")
        .union(readiness.select("day"))
        .union(activity.select("day"))
        .union(sessions.select("day"))
        .distinct()
    )
    s = sleep.select("day", F.col("score").alias("sleep_score"))
    r = readiness.select("day", F.col("score").alias("readiness_score"), "temperature_deviation")
    a = activity.select("day", F.col("score").alias("activity_score"), "steps")
    # conditional-max pivot over session types (A9)
    sess = sessions.groupBy("day").agg(
        F.max(
            F.when(F.col("sleep_type") == "long_sleep", F.col("average_heart_rate"))
        ).alias("long_sleep_hr"),
        F.max(F.when(F.col("sleep_type") == "nap", F.col("average_heart_rate"))).alias("nap_hr"),
        F.round(F.sum(F.col("total_sleep_duration_seconds") / 3600.0), 4).alias(
            "total_sleep_hours"
        ),
        F.count("*").alias("n_sessions"),
    )
    joined = (
        spine.join(s, "day", "left")
        .join(r, "day", "left")
        .join(a, "day", "left")
        .join(sess, "day", "left")
    )
    scores = [F.col("sleep_score"), F.col("readiness_score"), F.col("activity_score")]
    present = sum(F.when(c.isNotNull(), 1).otherwise(0) for c in scores)
    total = sum(F.coalesce(c, F.lit(0)).cast("double") for c in scores)
    combined = F.round(total / F.nullif(present, F.lit(0)), 4)
    return joined.select(
        "*",
        combined.alias("combined_wellness_score"),
        F.when(combined >= 85, "excellent")
        .when(combined >= 70, "good")
        .when(combined >= 55, "fair")
        .when(combined.isNotNull(), "poor")
        .otherwise("unknown")
        .alias("wellness_category"),
    )
