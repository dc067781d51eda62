"""Run the FULL model DAG (models/full_dag.py — the `dbt build`
equivalent) at a fixture scale factor and record the build's wall time,
the time to then count every model, and per-model row counts (r5 verdict
item #3: the DAG had parity evidence only at pytest scale).

The raw inputs come from the same seeded generators the parity tests use
(tests/fixtures.py), scaled via $SPARK_GRAFT_FIXTURE_SCALE: facts grow
(more days / rows, FK key ranges widen together), dims stay fixed — the
realistic growth shape. VALUE parity at scale comes from running the
existing DuckDB-parity pytest suites under the same env var (every
assert_matches_duckdb compares full outputs at the scaled volume):

    SPARK_GRAFT_FIXTURE_SCALE=100 python -m pytest \
        tests/test_reference_marts.py tests/test_fda_models.py \
        tests/test_join_marts.py tests/test_trends_iowa.py \
        tests/test_final_marts.py -q

Usage:
    SPARK_GRAFT_FIXTURE_SCALE=100 python tools/dag_scale.py \
        --out /tmp/dag_scale_100.json
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

NOW = dt.datetime(2024, 3, 15, 12, 0, 0)  # same fixed clock as the tests


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/tmp/dag_scale.json")
    ap.add_argument("--keep-raw", default="", help="dir to keep raw parquet in")
    args = ap.parse_args()

    from etl_for_dumdums_spark.models.full_dag import build_full_dag
    from etl_for_dumdums_spark.schema import RAW_SCHEMAS
    from etl_for_dumdums_spark.session import get_spark
    from tests import fixtures as fx

    scale = fx.fixture_scale()
    spark = get_spark("dag-scale")

    base = args.keep_raw or tempfile.mkdtemp(prefix="dag_scale_raw_")
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
    paths: dict[str, str] = {}
    raw_rows: dict[str, int] = {}
    t_gen = time.time()
    for name, (rows, schema) in data.items():
        path = f"{base}/{name}"
        spark.createDataFrame(rows, RAW_SCHEMAS[schema]).write.mode(
            "overwrite"
        ).parquet(path)
        paths[name] = path
        raw_rows[name] = len(rows)
    gen_sec = round(time.time() - t_gen, 2)

    mart_dir = tempfile.mkdtemp(prefix="dag_scale_marts_")
    t0 = time.time()
    reg = build_full_dag(paths, NOW, mart_dir=mart_dir)
    built = reg.build(spark)
    t_built = time.time()
    # force every model (views are lazy): count each in topo order. Table
    # marts are computed by reg.build and only scanned here, so the build
    # and force times are reported apart: the split moves with the
    # materialization.
    model_rows = {}
    for name in reg.topo_order():
        model_rows[name] = built[name].count()
    t_forced = time.time()

    doc = {
        "fixture_scale": scale,
        "raw_rows": raw_rows,
        "raw_total": sum(raw_rows.values()),
        "n_models": len(model_rows),
        "build_sec": round(t_built - t0, 2),
        "force_sec": round(t_forced - t_built, 2),
        "fixture_gen_sec": gen_sec,
        "model_rows": model_rows,
    }
    Path(args.out).write_text(json.dumps(doc, indent=1))
    print(json.dumps({k: doc[k] for k in (
        "fixture_scale", "raw_total", "n_models", "build_sec", "force_sec")}))
    if not args.keep_raw:
        shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(mart_dir, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
