"""A warm pass reuses its generated code: the session's codegen class cache
holds the working set of the 15 perfbench catalog_sf01 queries, so a second
identical round of them compiles nothing (Spark's default 100-entry cache
evicts the round's classes before they are used again)."""

from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, load_all

from .conftest import SF_SMOKE

load_all()

# the catalog_sf01 pass, in its order
PASS_QUERIES = [
    "agg_pricing_summary",
    "agg_weekly_event_stats",
    "agg_conditional_distinct",
    "filter_multi_dim",
    "scalar_json_extract",
    "win_rolling_frames",
    "win_top_n_per_group",
    "join_enrich_left",
    "join_agg_then_left",
    "join_cross_pattern",
    "setop_native_rollup",
    "reshape_pivot",
    "stats_autocorr",
    "enrich_sentiment_stub",
    "text_compression_ratio",
]


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark) -> None:
    for name in PASS_QUERIES:
        (QUERIES.get(name) or EXTRA_QUERIES[name])(spark, SF_SMOKE).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.catalog.clearCache()


def test_warm_round_compiles_nothing(spark):
    _round(spark)
    before = _compilations(spark)
    _round(spark)
    assert _compilations(spark) - before == 0
