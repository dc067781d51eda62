"""Hacker News model chain re-expressed (staging dedup → weekly stats →
keyword trends), the reference's stg_hn__comments.sql / fct_hn_weekly_stats.sql
/ fct_hn_keyword_trends.sql.

stg_hn_comments: W1 dedup (latest row per id) + X1 HTML cleaning.
fct_hn_weekly_stats: Monday-week aggregates over stories.
fct_hn_keyword_trends: literal keyword regexes × stories (J7 re-expressed
with plan-time patterns — compile once, stay in codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import clean_html, week_start

# tracked keywords with \b-anchored patterns (fct_hn_keyword_trends.sql:8-56)
KEYWORDS = [
    ("python", r"\bpython\b"),
    ("rust", r"\brust\b"),
    ("ai", r"\bai\b"),
    ("gpt", r"\bgpt-?4?\b"),
    ("database", r"\bdatabases?\b"),
]


def stg_hn_comments(raw_comments: DataFrame) -> DataFrame:
    """Dedup by id keeping the latest posted_at (stg_hn__comments.sql:6-11),
    then strip HTML from text (sql:21-24)."""
    w = W.partitionBy("id").orderBy(F.col("posted_at").desc())
    return (
        raw_comments.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("clean_text", clean_html(F.col("text")))
    )


def fct_hn_weekly_stats(raw_stories: DataFrame) -> DataFrame:
    """Weekly story stats (fct_hn_weekly_stats.sql:5-14)."""
    return (
        raw_stories.groupBy(week_start(F.col("posted_at")).alias("week"))
        .agg(
            F.count("*").alias("story_count"),
            F.count_distinct("author").alias("unique_authors"),
            F.round(F.avg("score"), 4).alias("avg_score"),
            F.max("score").alias("max_score"),
            F.round(F.avg("descendants"), 4).alias("avg_comments"),
        )
    )


def fct_hn_keyword_trends(raw_stories: DataFrame) -> DataFrame:
    """Keyword × week match counts (fct_hn_keyword_trends.sql:59-77):
    the pattern table is plan-time-known, so each regex is a literal
    predicate in one scan."""
    low = F.lower(F.col("title"))
    matches = F.array(
        *[
            F.struct(F.lit(k).alias("keyword"), low.rlike(p).alias("matched"))
            for k, p in KEYWORDS
        ]
    )
    return (
        raw_stories.select(
            week_start(F.col("posted_at")).alias("week"), F.explode(matches).alias("m")
        )
        .filter(F.col("m.matched"))
        .groupBy("week", F.col("m.keyword").alias("keyword"))
        .agg(F.count("*").alias("mention_count"))
    )


def int_hn_comment_keywords(stg_comments: DataFrame) -> DataFrame:
    """Keyword hits in cleaned comment text (int_hn__comment_keywords.sql:93-96
    re-expressed with plan-time literal patterns)."""
    low = F.lower(F.col("clean_text"))
    matches = F.array(
        *[
            F.struct(F.lit(k).alias("keyword"), low.rlike(p).alias("matched"))
            for k, p in KEYWORDS
        ]
    )
    return (
        stg_comments.select(
            F.col("id").alias("comment_id"), "story_id", "posted_day", F.explode(matches).alias("m")
        )
        .filter(F.col("m.matched"))
        .select("comment_id", "story_id", "posted_day", F.col("m.keyword").alias("keyword"))
    )


def int_hn_comment_sentiment(
    int_keywords: DataFrame, stg_comments: DataFrame
) -> DataFrame:
    """Attach sentiment to keyword hits (int_hn__comment_sentiment.sql:19-31);
    magnitude = |score|."""
    scored = stg_comments.select(
        F.col("id").alias("comment_id"),
        "sentiment_score",
        "sentiment_category",
    ).filter(F.col("sentiment_score").isNotNull())
    return int_keywords.join(scored, "comment_id").select(
        "comment_id",
        "story_id",
        "posted_day",
        "keyword",
        "sentiment_score",
        F.abs(F.col("sentiment_score")).alias("sentiment_magnitude"),
        "sentiment_category",
    )


def fct_hn_keyword_sentiment(int_sentiment: DataFrame) -> DataFrame:
    """Daily per-keyword sentiment aggregates + day-over-day deltas
    (fct_hn_keyword_sentiment.sql)."""
    cat = F.col("sentiment_category")
    daily = (
        int_sentiment.filter(F.col("posted_day").isNotNull())
        .groupBy("keyword", F.col("posted_day").alias("day"))
        .agg(
            F.count("*").alias("comment_count"),
            F.count_distinct("story_id").alias("story_count"),
            F.round(F.avg("sentiment_score"), 3).alias("avg_sentiment"),
            F.round(F.stddev_samp("sentiment_score"), 3).alias("sentiment_stddev"),
            F.round(F.avg("sentiment_magnitude"), 3).alias("avg_magnitude"),
            F.round(F.lit(100.0) * F.count_if(cat == "positive") / F.count("*"), 1).alias(
                "positive_pct"
            ),
            F.round(F.lit(100.0) * F.count_if(cat == "negative") / F.count("*"), 1).alias(
                "negative_pct"
            ),
            F.round(F.lit(100.0) * F.count_if(cat == "neutral") / F.count("*"), 1).alias(
                "neutral_pct"
            ),
            F.min("sentiment_score").alias("min_sentiment"),
            F.max("sentiment_score").alias("max_sentiment"),
        )
    )
    w = W.partitionBy("keyword").orderBy("day")
    return daily.select(
        "*",
        (F.col("avg_sentiment") - F.lag("avg_sentiment").over(w)).alias("sentiment_dod_change"),
        (F.col("positive_pct") - F.lag("positive_pct").over(w)).alias("positive_pct_dod_change"),
    )


def fct_hn_domain_stats(raw_stories: DataFrame, min_stories: int = 3) -> DataFrame:
    """Weekly domain stats with the ≥N noise filter (fct_hn_domain_stats.sql:5-25)."""
    return (
        raw_stories.filter(F.col("domain").isNotNull() & (F.col("domain") != ""))
        .groupBy(week_start(F.col("posted_at")).alias("week"), "domain")
        .agg(
            F.count("*").alias("story_count"),
            F.round(F.avg("score"), 4).alias("avg_score"),
        )
        .filter(F.col("story_count") >= min_stories)
    )
