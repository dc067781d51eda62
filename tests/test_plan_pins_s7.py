"""Plan pins for the session-7 scale claims.

These assert PLAN PROPERTIES, not results (the oracle covers results):
  * the chi-square cells cache means the events parquet is scanned once;
  * the migration checksum aggregates with no hash-partitioned exchange
    (only the single-partition partial merge);
  * the de-hinted star join no longer forces a supplier broadcast.
"""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_chisq_scans_events_once(spark):
    from etl_for_dumdums_spark.catalog.stats import stats_chisq_cramers

    plan = _optimized(stats_chisq_cramers(spark, SF_SMOKE))
    # every branch reads the cache: the parquet relation appears ONLY as
    # the printed child of an InMemoryRelation (one cache entry at runtime;
    # the text repeats it once per referencing branch)
    assert plan.count("InMemoryRelation") >= 1
    assert plan.count("events.parquet") == plan.count("InMemoryRelation")


def test_checksum_has_no_hash_exchange(spark):
    from etl_for_dumdums_spark.catalog.advanced import ops_migration_checksum

    plan = _physical(ops_migration_checksum(spark, SF_SMOKE))
    # commutative-monoid folds: partials merge via SinglePartition only —
    # a hashpartitioning exchange would mean a data-sized shuffle
    assert "hashpartitioning" not in plan
    assert "SinglePartition" in plan


def test_star_join_no_forced_supplier_broadcast(spark):
    from etl_for_dumdums_spark.catalog.joins import join_star_local_supplier

    plan = _optimized(join_star_local_supplier(spark, SF_SMOKE))
    # ResolvedHint survives into the optimized plan only where we placed
    # hints; none may reference the supplier relation
    for line in plan.splitlines():
        if "broadcast" in line.lower() and "hint" in line.lower():
            assert "supplier" not in line.lower()
