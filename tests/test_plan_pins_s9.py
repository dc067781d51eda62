"""Plan pins for the session-9 scale claims (properties, not results):

  * stats_ks_mannwhitney / agg_gini_concentration / agg_weighted_median use
    the ranged-prefix helper: every data-sized Window partitions by _pid
    (local row_number / local running sum); the total order comes from a
    RangePartitioning exchange, never a single-task global sort window;
  * embed_kmeans_lloyd assigns via hash aggregation (min_by), not windows.
"""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _windows_are_pid_partitioned(plan: str):
    for m in re.finditer(r"Window \[[^\n]*", plan):
        assert "_pid" in m.group(0), m.group(0)


def test_ks_mwu_windows_are_range_partition_local(spark):
    from etl_for_dumdums_spark.catalog.stats import stats_ks_mannwhitney

    plan = _physical(stats_ks_mannwhitney(spark, SF_SMOKE))
    assert "rangepartitioning" in plan.lower()
    _windows_are_pid_partitioned(plan)


def test_gini_windows_are_range_partition_local(spark):
    from etl_for_dumdums_spark.catalog.stats import agg_gini_concentration

    plan = _physical(agg_gini_concentration(spark, SF_SMOKE))
    assert "rangepartitioning" in plan.lower()
    _windows_are_pid_partitioned(plan)


def test_weighted_median_windows_are_range_partition_local(spark):
    from etl_for_dumdums_spark.catalog.stats import agg_weighted_median

    plan = _physical(agg_weighted_median(spark, SF_SMOKE))
    assert "rangepartitioning" in plan.lower()
    _windows_are_pid_partitioned(plan)


def test_kmeans_assignment_is_aggregate_not_window(spark):
    from etl_for_dumdums_spark.catalog.similarity import embed_kmeans_lloyd

    plan = _physical(embed_kmeans_lloyd(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "min_by" in plan or "minby" in plan.lower()
