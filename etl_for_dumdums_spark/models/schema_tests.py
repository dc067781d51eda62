"""The reference's declared dbt schema tests, runnable over a built DAG.

Mirrors the `tests:` blocks of dbt/models/staging/*/_*__models.yml
(_github__models.yml:12-79, _linear__models.yml, _oura__models.yml:14-73,
_stocks__models.yml:47-176, _trends__models.yml, _iowa_liquor__models.yml,
_hacker_news__models.yml, _fda_food__models.yml) as a declarative suite over
the models registered in full_dag. Expression tests are phrased null-safely
(dbt's `where:` configs become `IS NULL OR`) so they match the reference's
filtered semantics.

Usage::

    built = build_full_dag(raw_paths, now).build(spark)
    results = run_schema_tests(built)
    assert all(r.passed for r in results)
"""

from __future__ import annotations

from ..checks import (
    CheckResult,
    CheckSuite,
    accepted_range,
    accepted_values,
    expression_is_true,
    not_null,
    relationships,
    unique,
)

_STOCK_TICKERS = [
    "AAPL", "MSFT", "NVDA", "GOOGL", "META", "AMD", "CRM",
    "JNJ", "UNH", "PFE", "ABBV", "MRK", "LLY",
    "XOM", "CVX", "COP", "SLB", "OXY", "NEE",
    "CAT", "HON", "BA", "UPS", "GE", "DE",
    "AMZN", "WMT", "COST", "HD", "NKE", "SBUX", "TGT",
]
_SECTORS = ["Technology", "Healthcare", "Energy", "Industrial", "Consumer Retail"]
_REVIEW_STATES = ["APPROVED", "CHANGES_REQUESTED", "COMMENTED", "DISMISSED", "PENDING"]

_SLEEP_CONTRIBUTORS = (
    "deep_sleep", "efficiency", "latency", "rem_sleep",
    "restfulness", "timing", "total_sleep",
)


def _null_safe(*guards_then_expr: str) -> str:
    *guards, expr = guards_then_expr
    clauses = [f"{g} IS NULL" for g in guards]
    return " OR ".join(clauses + [f"({expr})"])


def declared_tests():
    """(model, check_fn, args, kwargs) tuples; `parent:NAME` in args is
    resolved against the built DAG at run time (dbt `relationships`)."""
    tests: list[tuple] = []

    def t(model, fn, *args, **kwargs):
        tests.append((model, fn, args, kwargs))

    # ---- linear (_linear__models.yml) ----
    t("stg_linear_issues", unique, "issue_id")
    t("stg_linear_issues", not_null, "issue_id")
    t("stg_linear_issues", not_null, "identifier")
    t("stg_linear_issues", accepted_values, "priority", [0, 1, 2, 3, 4])
    t("stg_linear_users", unique, "user_id")
    t("stg_linear_users", not_null, "user_id")
    t("stg_linear_users", unique, "email")
    t("stg_linear_users", not_null, "email")
    t("stg_linear_cycles", unique, "cycle_id")
    t("stg_linear_cycles", not_null, "cycle_id")
    t("stg_linear_cycles", not_null, "starts_at")
    t("stg_linear_cycles", not_null, "ends_at")

    # ---- github (_github__models.yml:12-79) ----
    t("stg_github_users", unique, "user_id")
    t("stg_github_users", not_null, "user_id")
    t("stg_github_pull_requests", unique, "pull_request_id")
    t("stg_github_pull_requests", not_null, "pull_request_id")
    t("stg_github_pull_requests", accepted_values, "state", ["open", "closed"])
    t("stg_github_pull_requests", relationships, "author_id", "parent:stg_github_users", "user_id")
    t("stg_github_pull_requests", not_null, "created_at")
    t("stg_github_pr_reviews", unique, "review_id")
    t("stg_github_pr_reviews", not_null, "review_id")
    t("stg_github_pr_reviews", accepted_values, "review_state", _REVIEW_STATES)
    t(
        "stg_github_pr_reviews",
        relationships,
        "pull_request_id",
        "parent:stg_github_pull_requests",
        "pull_request_id",
    )
    t("stg_github_pr_reviews", relationships, "reviewer_id", "parent:stg_github_users", "user_id")
    t("stg_github_pr_comments", unique, "comment_id")
    t("stg_github_pr_comments", not_null, "comment_id")
    t(
        "stg_github_pr_comments",
        relationships,
        "pull_request_id",
        "parent:stg_github_pull_requests",
        "pull_request_id",
    )
    t("stg_github_pr_comments", relationships, "author_id", "parent:stg_github_users", "user_id")

    # ---- oura (_oura__models.yml:14-73) ----
    t("stg_oura_sleep", unique, "sleep_id")
    t("stg_oura_sleep", not_null, "sleep_id")
    t("stg_oura_sleep", not_null, "day")
    t("stg_oura_sleep", accepted_range, "sleep_score", min_value=0, max_value=100)
    for c in _SLEEP_CONTRIBUTORS:
        t("stg_oura_sleep", accepted_range, f"contributor_{c}", min_value=0, max_value=100)
    t("stg_oura_daily_readiness", unique, "readiness_id")
    t("stg_oura_daily_readiness", not_null, "readiness_id")
    t("stg_oura_daily_readiness", accepted_range, "score", min_value=0, max_value=100)
    t("stg_oura_daily_activity", unique, "activity_id")
    t("stg_oura_daily_activity", not_null, "activity_id")
    t("stg_oura_daily_activity", unique, "day")  # the W1 dedup guarantee
    t("stg_oura_daily_activity", expression_is_true, _null_safe("steps", "steps >= 0"))
    t("stg_oura_sleep_sessions", unique, "sleep_session_id")
    t("stg_oura_sleep_sessions", not_null, "sleep_session_id")
    t(
        "stg_oura_sleep_sessions",
        accepted_range,
        "sleep_efficiency",
        min_value=0,
        max_value=100,
    )

    # ---- stocks (_stocks__models.yml:47-176) ----
    t("stg_stocks_prices", unique, "price_id")
    t("stg_stocks_prices", not_null, "price_id")
    t("stg_stocks_prices", not_null, "ticker")
    t("stg_stocks_prices", accepted_values, "ticker", _STOCK_TICKERS)
    t("stg_stocks_prices", accepted_values, "sector", _SECTORS)
    t("stg_stocks_prices", not_null, "trade_date")
    t("stg_stocks_prices", not_null, "close_price")
    t("stg_stocks_prices", expression_is_true, _null_safe("open_price", "open_price > 0"))
    t("stg_stocks_prices", expression_is_true, _null_safe("close_price", "close_price > 0"))
    t(
        "stg_stocks_prices",
        expression_is_true,
        _null_safe("high_price", "low_price", "high_price >= low_price"),
    )
    t(
        "stg_stocks_prices",
        expression_is_true,
        _null_safe("high_price", "close_price", "high_price >= close_price"),
    )
    t(
        "stg_stocks_prices",
        expression_is_true,
        _null_safe("low_price", "close_price", "low_price <= close_price"),
    )
    t("stg_stocks_prices", expression_is_true, _null_safe("volume", "volume >= 0"))

    # ---- trends (_trends__models.yml) ----
    t("stg_trends_interest_over_time", unique, "trend_id")
    t("stg_trends_interest_over_time", not_null, "trend_id")
    t("stg_trends_interest_over_time", not_null, "keyword")
    t("stg_trends_interest_over_time", not_null, "date")

    # ---- iowa (_iowa_liquor__models.yml) ----
    t("stg_iowa_liquor_sales", unique, "sale_id")
    t("stg_iowa_liquor_sales", not_null, "sale_id")

    # ---- fda (_fda_food__models.yml) ----
    t("stg_food_events", unique, "report_number")
    t("stg_food_events", not_null, "report_number")

    # ---- hacker news (_hacker_news__models.yml) ----
    t("stg_hn_comments", unique, "id")
    t("stg_hn_comments", not_null, "id")
    t("stg_hn_comments", not_null, "posted_at")

    return tests


def run_schema_tests(built: dict) -> list[CheckResult]:
    """Run every declared test whose model exists in `built`. Each model's
    tests run as one `CheckSuite`, so its row-filter tests share one
    aggregate; `unique` and `relationships` run one query each. Results
    come model by model, which is declared order: `declared_tests` lists
    each model's tests together."""
    suites: dict[str, CheckSuite] = {}
    for model, fn, args, kwargs in declared_tests():
        if model not in built:
            continue
        parents = [
            a.split(":", 1)[1] for a in args if isinstance(a, str) and a.startswith("parent:")
        ]
        if any(p not in built for p in parents):
            continue  # relationship target not in this (partial) build
        resolved = [
            built[a.split(":", 1)[1]] if isinstance(a, str) and a.startswith("parent:") else a
            for a in args
        ]
        suites.setdefault(model, CheckSuite()).add(fn, *resolved, **kwargs)
    results: list[CheckResult] = []
    for model, suite in suites.items():
        for res in suite.run(built[model]):
            res.detail = f"{model}: {res.detail}" if res.detail else model
            results.append(res)
    return results
