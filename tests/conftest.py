from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from etl_for_dumdums_spark.session import get_spark

    spark = get_spark("tests")
    yield spark


@pytest.fixture()
def tmp_store(tmp_path):
    return str(tmp_path / "store")


@pytest.fixture(scope="session")
def raw_paths(spark, tmp_path_factory):
    """Reference-shaped raw parquet for every source family of the full
    model DAG, written once per session."""
    from etl_for_dumdums_spark.schema import RAW_SCHEMAS

    from . import fixtures as fx

    base = tmp_path_factory.mktemp("full")
    lu, gu, cy, li, pr, rv, cm = fx.gen_linear_github()
    sl, rd, ac, ss = fx.gen_oura()
    data = {
        "linear_users": (lu, "linear.raw_users"),
        "github_users": (gu, "github.raw_users"),
        "linear_cycles": (cy, "linear.raw_cycles"),
        "linear_issues": (li, "linear.raw_issues"),
        "github_prs": (pr, "github.raw_pull_requests"),
        "github_reviews": (rv, "github.raw_pr_reviews"),
        "github_comments": (cm, "github.raw_pr_comments"),
        "oura_sleep": (sl, "oura.raw_sleep"),
        "oura_readiness": (rd, "oura.raw_daily_readiness"),
        "oura_activity": (ac, "oura.raw_daily_activity"),
        "oura_sessions": (ss, "oura.raw_sleep_sessions"),
        "hn_stories": (fx.gen_hn_stories(), "hacker_news.raw_stories"),
        "hn_comments": (fx.gen_hn_comments(), "hacker_news.raw_comments"),
        "stock_prices": (fx.gen_stock_prices(), "stocks.raw_prices"),
        "trends_interest": (fx.gen_trends(), "trends.raw_interest_over_time"),
        "iowa_sales": (fx.gen_iowa_sales(), "iowa_liquor.raw_sales"),
        "fda_events": (fx.gen_fda_events(), "fda_food.raw_food_events"),
        "fda_recalls": (fx.gen_fda_recalls(), "fda_food.raw_recalls"),
    }
    paths = {}
    for name, (rows, schema) in data.items():
        path = str(base / name)
        spark.createDataFrame(rows, RAW_SCHEMAS[schema]).write.parquet(path)
        paths[name] = path
    return paths


@pytest.fixture()
def jobs_in_group(spark):
    """run(group, fn) -> (fn(), ids of the Spark jobs fn started under job
    group ``group``), counted after the listener bus has drained."""
    sc = spark.sparkContext

    def run(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
