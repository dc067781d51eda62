"""Linear + GitHub marts re-expressed: the reference's join-dense models.

  * ``dim_users`` — full-outer entity resolution on lower(email) with a
    display-name coalesce chain (dim_users.sql:14-42).
  * ``fct_issues`` — 4-way left enrichment: assignee, cycle, parent
    (self-join), child counts (agg-then-join); days_open and
    is_in_active_cycle against a parameterized "now" (fct_issues.sql:59-72 —
    current_timestamp() made injectable for determinism, SURVEY §7.4).
  * ``fct_pull_requests`` — review/comment stats CTEs left-joined to PRs
    with countif-style conditional counts (fct_pull_requests.sql:18-97).
  * ``fct_reviewer_activity`` — reviewers ∪ commenters full outer on the
    (person, PR) composite key, excluding self-reviews, least() capped
    (fct_reviewer_activity.sql:51-120).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dim_users(linear_users: DataFrame, github_users: DataFrame) -> DataFrame:
    lu = linear_users.select(
        F.col("id").alias("linear_user_id"),
        F.lower(F.col("email")).alias("email"),
        F.col("display_name"),
        F.col("name").alias("linear_name"),
    ).filter(F.col("email").isNotNull())
    gu = github_users.select(
        F.col("id").alias("github_user_id"),
        F.lower(F.col("email")).alias("email"),
        F.col("login"),
        F.col("name").alias("github_name"),
    ).filter(F.col("email").isNotNull())
    l, g = lu.alias("l"), gu.alias("g")
    return (
        l.join(g, F.col("l.email") == F.col("g.email"), "full_outer")
        .select(
            F.coalesce(F.col("l.email"), F.col("g.email")).alias("email"),
            "linear_user_id",
            "github_user_id",
            F.coalesce(
                F.col("display_name"), F.col("linear_name"), F.col("github_name"), F.col("login")
            ).alias("display_name"),
            F.when(
                F.col("linear_user_id").isNotNull() & F.col("github_user_id").isNotNull(), "both"
            )
            .when(F.col("linear_user_id").isNotNull(), "linear_only")
            .otherwise("github_only")
            .alias("presence"),
        )
    )


def fct_issues(
    issues: DataFrame,
    users: DataFrame,
    cycles: DataFrame,
    now: dt.datetime,
) -> DataFrame:
    child_counts = issues.filter(F.col("parent_id").isNotNull()).groupBy(
        F.col("parent_id").alias("issue_id")
    ).agg(F.count("*").alias("child_count"))

    i = issues.alias("i")
    u = users.select(F.col("id").alias("uid"), F.col("display_name").alias("assignee_name"))
    c = cycles.select(
        F.col("id").alias("cid"),
        F.col("name").alias("cycle_name"),
        "starts_at",
        "ends_at",
    )
    parent = issues.select(
        F.col("id").alias("pid"), F.col("identifier").alias("parent_ident")
    )
    now_lit = F.lit(now.strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")
    return (
        i.join(F.broadcast(u), F.col("i.assignee_id") == F.col("uid"), "left")
        .join(F.broadcast(c), F.col("i.cycle_id") == F.col("cid"), "left")
        .join(parent, F.col("i.parent_id") == F.col("pid"), "left")
        .join(child_counts, F.col("i.id") == child_counts.issue_id, "left")
        .select(
            F.col("i.id").alias("issue_id"),
            F.col("i.identifier").alias("identifier"),
            F.col("i.state").alias("state"),
            F.col("assignee_name"),
            F.col("cycle_name"),
            F.col("parent_ident").alias("parent_identifier"),
            F.coalesce(F.col("child_count"), F.lit(0)).alias("child_count"),
            F.datediff(now_lit.cast("date"), F.col("i.created_at").cast("date")).alias(
                "days_open"
            ),
            (
                F.col("starts_at").isNotNull()
                & now_lit.between(F.col("starts_at"), F.col("ends_at"))
            ).alias("is_in_active_cycle"),
        )
    )


def fct_pull_requests(prs: DataFrame, reviews: DataFrame, comments: DataFrame) -> DataFrame:
    review_stats = reviews.groupBy(F.col("pull_request_id").alias("pr_id")).agg(
        F.count("*").alias("review_count"),
        F.count_if(F.col("state") == "APPROVED").alias("approval_count"),
        F.min("submitted_at").alias("first_review_at"),
    )
    comment_stats = comments.groupBy(F.col("pull_request_id").alias("pr_id")).agg(
        F.count("*").alias("comment_count")
    )
    p = prs.alias("p")
    return (
        p.join(review_stats, F.col("p.id") == review_stats.pr_id, "left")
        .join(comment_stats, F.col("p.id") == comment_stats.pr_id, "left")
        .select(
            F.col("p.id").alias("pr_id"),
            F.col("p.repo").alias("repo"),
            F.col("p.state").alias("state"),
            F.col("p.merged").alias("merged"),
            F.coalesce(F.col("review_count"), F.lit(0)).alias("review_count"),
            F.coalesce(F.col("approval_count"), F.lit(0)).alias("approval_count"),
            F.coalesce(F.col("comment_count"), F.lit(0)).alias("comment_count"),
            F.coalesce(F.col("p.ready_for_review_at"), F.col("p.created_at")).alias(
                "ready_at"
            ),
            F.round(
                (
                    F.col("first_review_at").cast("timestamp").cast("long")
                    - F.coalesce(F.col("p.ready_for_review_at"), F.col("p.created_at"))
                    .cast("timestamp")
                    .cast("long")
                )
                / 3600.0,
                4,
            ).alias("hours_to_first_review"),
        )
    )


def fct_reviewer_activity(prs: DataFrame, reviews: DataFrame, comments: DataFrame) -> DataFrame:
    """Union of review/comment participation per (person, PR), self-reviews
    excluded, with least()-capped engagement score."""
    r = reviews.groupBy(
        F.col("author_id").alias("participant_id"), F.col("pull_request_id").alias("pr_id")
    ).agg(F.count("*").alias("n_reviews"))
    c = comments.groupBy(
        F.col("author_id").alias("participant_id"), F.col("pull_request_id").alias("pr_id")
    ).agg(F.count("*").alias("n_comments"))
    ra, ca = r.alias("r"), c.alias("c")
    participation = ra.join(
        ca,
        (F.col("r.participant_id") == F.col("c.participant_id"))
        & (F.col("r.pr_id") == F.col("c.pr_id")),
        "full_outer",
    ).select(
        F.coalesce(F.col("r.participant_id"), F.col("c.participant_id")).alias("participant_id"),
        F.coalesce(F.col("r.pr_id"), F.col("c.pr_id")).alias("pr_id"),
        F.coalesce(F.col("n_reviews"), F.lit(0)).alias("n_reviews"),
        F.coalesce(F.col("n_comments"), F.lit(0)).alias("n_comments"),
    )
    pr_authors = prs.select(F.col("id").alias("pr_id"), F.col("author_id").alias("pr_author_id"))
    return (
        participation.join(pr_authors, "pr_id")
        .filter(F.col("participant_id") != F.col("pr_author_id"))
        .groupBy("participant_id")
        .agg(
            F.count_distinct("pr_id").alias("prs_touched"),
            F.sum("n_reviews").alias("total_reviews"),
            F.sum("n_comments").alias("total_comments"),
            F.sum(F.least(F.col("n_reviews") + F.col("n_comments"), F.lit(5))).alias(
                "capped_engagement"
            ),
        )
    )
