"""The complete model DAG on the runner — the engine's `dbt build`.

Given parquet paths for the raw tables, registers every staging/intermediate/
mart model across all source families (linear+github, oura, hacker_news,
stocks, trends, iowa, fda) with their dependencies; `registry.build(spark)`
executes the whole graph on the runner's thread pool, each model once its
dependencies are built, mirroring the reference's raw → staging →
intermediate → marts flow.

Materialization follows dbt_project.yml:19-26. Raw and staging models are
views. With ``mart_dir``, every intermediate and mart model (``int_*``,
``fct_*``, ``dim_*``) is a parquet table at ``mart_dir/<name>``, so the
reads that follow a build scan the stored result instead of recomputing its
joins and windows; without it, every model is a view. As in a warehouse,
a table does not keep the order its builder sorted in (the re-read orders
its scan splits by file size), so a consumer that needs an order sorts on
read.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from ..runner import ModelRegistry
from . import fda, hacker_news, iowa, linear_github, oura, stocks, trends


def build_full_dag(
    raw_paths: dict[str, str],
    now: dt.datetime,
    mart_dir: str | None = None,
) -> ModelRegistry:
    reg = ModelRegistry()

    def model(name, deps=None):
        # dbt_project.yml:23-26: intermediate and mart models are tables,
        # staging (and the raw loaders) stay views
        if mart_dir and name.startswith(("int_", "fct_", "dim_")):
            return reg.model(name, deps, materialization="table", path=f"{mart_dir}/{name}")
        return reg.model(name, deps)

    def raw(name):
        @model(f"raw_{name}")
        def _loader(spark, _name=name):
            return spark.read.parquet(raw_paths[_name])

        return f"raw_{name}"

    available = set(raw_paths)

    # ---- linear + github ----
    if {"linear_users", "github_users"} <= available:
        raw("linear_users")
        raw("github_users")

        @model("dim_users", deps=["raw_linear_users", "raw_github_users"])
        def dim_users(spark, raw_linear_users, raw_github_users):
            return linear_github.dim_users(raw_linear_users, raw_github_users)

    if {"linear_issues", "linear_users", "linear_cycles"} <= available:
        raw("linear_issues")
        raw("linear_cycles")

        @model("fct_issues", deps=["raw_linear_issues", "raw_linear_users", "raw_linear_cycles"])
        def fct_issues(spark, raw_linear_issues, raw_linear_users, raw_linear_cycles):
            return linear_github.fct_issues(
                raw_linear_issues, raw_linear_users, raw_linear_cycles, now
            )

    if {"github_prs", "github_reviews", "github_comments"} <= available:
        raw("github_prs")
        raw("github_reviews")
        raw("github_comments")

        @model(
            "fct_pull_requests",
            deps=["raw_github_prs", "raw_github_reviews", "raw_github_comments"],
        )
        def fct_pull_requests(spark, raw_github_prs, raw_github_reviews, raw_github_comments):
            return linear_github.fct_pull_requests(
                raw_github_prs, raw_github_reviews, raw_github_comments
            )

        @model(
            "fct_reviewer_activity",
            deps=["raw_github_prs", "raw_github_reviews", "raw_github_comments"],
        )
        def fct_reviewer_activity(spark, raw_github_prs, raw_github_reviews, raw_github_comments):
            return linear_github.fct_reviewer_activity(
                raw_github_prs, raw_github_reviews, raw_github_comments
            )

    # ---- oura ----
    if {"oura_sleep", "oura_readiness", "oura_activity", "oura_sessions"} <= available:
        for n in ("oura_sleep", "oura_readiness", "oura_activity", "oura_sessions"):
            raw(n)

        @model("stg_daily_activity", deps=["raw_oura_activity"])
        def stg_daily_activity(spark, raw_oura_activity):
            return oura.stg_daily_activity(raw_oura_activity)

        @model(
            "fct_oura_daily",
            deps=["raw_oura_sleep", "raw_oura_readiness", "stg_daily_activity", "raw_oura_sessions"],
        )
        def fct_oura_daily(spark, raw_oura_sleep, raw_oura_readiness, stg_daily_activity, raw_oura_sessions):
            return oura.fct_oura_daily(
                raw_oura_sleep, raw_oura_readiness, stg_daily_activity, raw_oura_sessions
            )

    # ---- hacker news ----
    if {"hn_stories", "hn_comments"} <= available:
        raw("hn_stories")
        raw("hn_comments")

        @model("stg_hn_comments", deps=["raw_hn_comments"])
        def stg_hn_comments(spark, raw_hn_comments):
            return hacker_news.stg_hn_comments(raw_hn_comments)

        @model("fct_hn_weekly_stats", deps=["raw_hn_stories"])
        def fct_hn_weekly_stats(spark, raw_hn_stories):
            return hacker_news.fct_hn_weekly_stats(raw_hn_stories)

        @model("fct_hn_keyword_trends", deps=["raw_hn_stories"])
        def fct_hn_keyword_trends(spark, raw_hn_stories):
            return hacker_news.fct_hn_keyword_trends(raw_hn_stories)

        @model("fct_hn_domain_stats", deps=["raw_hn_stories"])
        def fct_hn_domain_stats(spark, raw_hn_stories):
            return hacker_news.fct_hn_domain_stats(raw_hn_stories)

        @model("int_hn_comment_keywords", deps=["stg_hn_comments"])
        def int_hn_comment_keywords(spark, stg_hn_comments):
            return hacker_news.int_hn_comment_keywords(stg_hn_comments)

        @model(
            "int_hn_comment_sentiment", deps=["int_hn_comment_keywords", "stg_hn_comments"]
        )
        def int_hn_comment_sentiment(spark, int_hn_comment_keywords, stg_hn_comments):
            return hacker_news.int_hn_comment_sentiment(int_hn_comment_keywords, stg_hn_comments)

        @model("fct_hn_keyword_sentiment", deps=["int_hn_comment_sentiment"])
        def fct_hn_keyword_sentiment(spark, int_hn_comment_sentiment):
            return hacker_news.fct_hn_keyword_sentiment(int_hn_comment_sentiment)

    # ---- stocks ----
    if "stock_prices" in available:
        raw("stock_prices")

        @model("stg_prices", deps=["raw_stock_prices"])
        def stg_prices(spark, raw_stock_prices):
            return raw_stock_prices.select(
                "ticker",
                "sector",
                F.col("date").alias("trade_date"),
                F.col("open").alias("open_price"),
                F.col("high").alias("high_price"),
                F.col("low").alias("low_price"),
                F.col("close").alias("close_price"),
                "volume",
            )

        @model("fct_stock_prices", deps=["stg_prices"])
        def fct_stock_prices(spark, stg_prices):
            return stocks.fct_stock_prices(stg_prices)

        @model("fct_sector_performance", deps=["fct_stock_prices"])
        def fct_sector_performance(spark, fct_stock_prices):
            return stocks.fct_sector_performance(fct_stock_prices)

    # ---- trends ----
    if "trends_interest" in available:
        raw("trends_interest")

        @model("fct_keyword_trends", deps=["raw_trends_interest"])
        def fct_keyword_trends(spark, raw_trends_interest):
            return trends.fct_keyword_trends(raw_trends_interest)

    # ---- iowa ----
    if "iowa_sales" in available:
        raw("iowa_sales")

        @model("fct_sales_monthly", deps=["raw_iowa_sales"])
        def fct_sales_monthly(spark, raw_iowa_sales):
            return iowa.fct_sales_monthly(raw_iowa_sales)

        @model("fct_sales_by_county", deps=["raw_iowa_sales"])
        def fct_sales_by_county(spark, raw_iowa_sales):
            return iowa.fct_sales_by_county(raw_iowa_sales)

        @model("fct_top_vendors", deps=["raw_iowa_sales"])
        def fct_top_vendors(spark, raw_iowa_sales):
            return iowa.fct_top_vendors(raw_iowa_sales)

    # ---- fda ----
    if {"fda_events", "fda_recalls"} <= available:
        raw("fda_events")
        raw("fda_recalls")

        @model("stg_food_events", deps=["raw_fda_events"])
        def stg_food_events(spark, raw_fda_events):
            return fda.stg_food_events(raw_fda_events)

        @model("int_food_event_reactions", deps=["stg_food_events"])
        def int_food_event_reactions(spark, stg_food_events):
            return fda.int_food_event_reactions(stg_food_events)

        @model("fct_events_by_reaction", deps=["int_food_event_reactions"])
        def fct_events_by_reaction(spark, int_food_event_reactions):
            return fda.fct_events_by_reaction(int_food_event_reactions)

        @model("fct_events_by_gender", deps=["stg_food_events"])
        def fct_events_by_gender(spark, stg_food_events):
            return fda.fct_events_by_gender(stg_food_events)

        @model("fct_events_monthly", deps=["int_food_event_reactions"])
        def fct_events_monthly(spark, int_food_event_reactions):
            return fda.fct_events_monthly(int_food_event_reactions)

        @model(
            "fct_events_by_product", deps=["stg_food_events", "int_food_event_reactions"]
        )
        def fct_events_by_product(spark, stg_food_events, int_food_event_reactions):
            return fda.fct_events_by_product(stg_food_events, int_food_event_reactions)

        @model("fct_recalls_by_state", deps=["raw_fda_recalls"])
        def fct_recalls_by_state(spark, raw_fda_recalls):
            return fda.fct_recalls_by_state(raw_fda_recalls, spark)

        @model("int_recall_topics", deps=["raw_fda_recalls"])
        def int_recall_topics(spark, raw_fda_recalls):
            return fda.int_recall_topics(raw_fda_recalls)

        @model("fct_recalls_by_topic", deps=["int_recall_topics"])
        def fct_recalls_by_topic(spark, int_recall_topics):
            return fda.fct_recalls_by_topic(int_recall_topics)

    # ---- staging layer (reference dbt/models/staging/**, dbt_project.yml:21-22)
    # Every rename-only staging view as a named, independently-buildable model:
    # reg.build(spark, targets=["stg_linear_issues"]) works like `dbt build -s`.
    from .staging import STAGING_MODELS

    for stg_name, (raw_key, builder) in STAGING_MODELS.items():
        if raw_key not in available:
            continue
        raw_model = f"raw_{raw_key}"
        if raw_model not in reg._models:
            raw(raw_key)

        @model(stg_name, deps=[raw_model])
        def _stg(spark, _builder=builder, _dep=raw_model, **deps):
            return _builder(deps[_dep])

    return reg
