"""Physical-plan assertions: the scale-critical properties the engine
relies on (pushdown, pruning, broadcast) hold in the optimized plans."""

from pyspark.sql import functions as F

from etl_for_dumdums_spark.catalog import QUERIES, load_all

from .conftest import SF_SMOKE

load_all()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_parquet(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
        F.col("o_orderkey") <= 1000
    ).select("o_orderkey", "o_totalprice")
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), LessThanOrEqual(o_orderkey,1000)" in plan


def test_column_pruning_reads_only_projected(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_dim_joins_are_broadcast(spark):
    plan = _plan(QUERIES["join_enrich_left"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # no shuffle join for dims


def test_semi_join_plan(spark):
    plan = _plan(QUERIES["filter_in_subquery"](spark, SF_SMOKE))
    assert "LeftSemi" in plan


def test_flagship_has_mapside_combine_and_codegen(spark):
    df = QUERIES["agg_pricing_summary"](spark, SF_SMOKE)
    pre = _plan(df)
    # partial aggregation before the shuffle — the property that keeps the
    # reduce side tiny at any scale
    assert "partial_sum" in pre
    assert "PushedFilters" in pre
    df.collect()  # finalize the adaptive plan
    # '*(n)' prefixes mark WholeStageCodegen spans in the simple plan string
    assert "*(" in _plan(df)


def test_enrich_join_aggregates_before_customer_join(spark):
    """join_enrich_left must reduce orders to per-customer rows BEFORE the
    customer join (the fact table never shuffles row-level against a table
    that grows with SF), and must read only the two customer columns it
    needs."""
    plan = _plan(QUERIES["join_enrich_left"](spark, SF_SMOKE))
    agg_pos = plan.find("partial_count")
    assert agg_pos != -1, "no map-side partial aggregate in the plan"
    # column pruning on the customer scan
    assert "struct<c_custkey:bigint,c_nationkey:int>" in plan


def test_top_n_group_limit_prunes_map_side(spark):
    """win_top_n_per_group's rank filter must compile to WindowGroupLimit
    with a Partial stage BEFORE the exchange — every map task prunes to <= N
    rows per group locally, so no unbounded single-partition-per-priority
    sort over the fact table ever materializes."""
    plan = _plan(QUERIES["win_top_n_per_group"](spark, SF_SMOKE))
    assert plan.count("WindowGroupLimit") >= 2, "map-side group-limit missing"
    partial = plan.find("Partial")
    exchange = plan.find("Exchange hashpartitioning(o_orderpriority")
    assert partial != -1 and exchange != -1
    # toString is top-down: the Partial group-limit is DEEPER than (printed
    # after) the exchange it feeds
    assert partial > exchange
    # results still correct: exactly 3 per priority, ranks 1..3
    rows = QUERIES["win_top_n_per_group"](spark, SF_SMOKE).collect()
    by_p = {}
    for r in rows:
        by_p.setdefault(r["o_orderpriority"], []).append(r["rank_in_priority"])
    for p, ranks in by_p.items():
        assert sorted(ranks) == [1, 2, 3], (p, ranks)


def test_range_interval_join_is_equi_not_nested_loop(spark):
    """The bucketed range join must plan as an equi-join on (type, bucket)
    with a residual filter — never a cartesian/nested-loop product."""
    from etl_for_dumdums_spark.catalog.joins import join_range_interval

    plan = _plan(join_range_interval(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_signature_computed_once(spark):
    """dedup_minhash_lsh sizes LSH buckets with a window count over the
    band key (one shuffle the self-join reuses) and caches the sized
    frame, so the expensive tokenize->8xmd5 signature aggregation runs
    once — not once per small/hot/self-join reader."""
    from etl_for_dumdums_spark.catalog import QUERIES, load_all
    from .conftest import SF_SMOKE

    load_all()
    plan = (
        QUERIES["dedup_minhash_lsh"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # bucket sizing is the window count partitioned by the band key ...
    assert "Window [count(1)" in plan and "hashpartitioning(band" in plan
    # ... and the sized/candidate frames are cached (shared, not recomputed)
    assert "InMemoryTableScan" in plan


def test_chunking_is_map_only_with_pruned_scan(spark):
    """chunk_by_tokens must stay a pure map: the only Exchange in the
    catalog query's plan is the presentation orderBy's range partition —
    no shuffle belongs to the chunking itself — and the scan reads only
    (doc_id, text)."""
    from etl_for_dumdums_spark.catalog.textops import text_chunk_tokens
    from etl_for_dumdums_spark.operators.chunking import chunk_by_tokens

    plan = _formatted(text_chunk_tokens(spark, SF_SMOKE))
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    # operator alone (no orderBy): zero exchanges
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    op_plan = _formatted(chunk_by_tokens(docs))
    assert "Exchange" not in op_plan


def test_contrastive_triplets_plan_is_bucket_equi_join(spark):
    """Candidate generation must be an equi-join on the bucket key (never a
    cartesian/BNLJ over all vector pairs), and the per-anchor argmax must be
    an aggregate with map-side partial combine, not a window sort."""
    from etl_for_dumdums_spark.catalog.similarity import sim_contrastive_triplets

    plan = _plan(sim_contrastive_triplets(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_max" in plan  # min-struct argmax combines map-side


def test_hll_rollup_merges_partials_not_raw_rows(spark):
    """The week/month register merges must aggregate the (already partial)
    register frames — partial_max map-side combine — and the query must
    carry no window operator at all: rollup is pure re-aggregation."""
    from etl_for_dumdums_spark.catalog.sketches import sketch_hll_rollup

    plan = _plan(sketch_hll_rollup(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_max" in plan


def test_output_sampled_filter_stays_above_window(spark):
    """The sampled-tier variants of win_lag_deltas / win_rolling_frames
    restrict the COMPARED output by day(order_date) = 1 — the engine must
    still evaluate the window over the FULL series (order_date is the
    ORDER BY column, not a partition key, so pushing the predicate below
    the Window would change every lag/rolling value). Pin it: the Filter
    sits ABOVE the Window in the optimized plan (r4 advice finding #4)."""
    from etl_for_dumdums_spark.catalog import SAMPLED_QUERIES
    from etl_for_dumdums_spark.catalog import sampled  # noqa: F401 (registers)

    for name in ("win_lag_deltas", "win_rolling_frames"):
        df = SAMPLED_QUERIES[name](spark, SF_SMOKE)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        lines = opt.splitlines()
        filt = next(
            i for i, ln in enumerate(lines)
            if "Filter" in ln and ("dayofmonth" in ln or "day(" in ln)
        )
        win = next(i for i, ln in enumerate(lines) if "Window [" in ln or "Window " in ln)
        # toString prints parents first: filter must print BEFORE the window
        assert filt < win, f"{name}: day-of-month filter was pushed below the Window:\n{opt}"


def test_winnow_explode_feeds_window_without_position_shuffle(spark):
    """text_winnow_sketch / text_winnow_neardup explode ~300 position rows
    per document BEFORE the doc_id window. The repartition("doc_id") must
    sit BELOW the Generate (explode) so the window's exchange is elided and
    the shuffle carries documents, not position-level rows — the r8 1000x
    sweep's Spark-side OOM was exactly this exchange moving ~1.45B rows.
    Pin: every winnow Window sits over Sort(local)+Generate with NO Exchange
    between them, and the only exchange below the Generate is the
    REPARTITION_BY_COL on doc_id."""
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES

    for name in ("text_winnow_sketch", "text_winnow_neardup"):
        df = EXTRA_QUERIES[name](spark, SF_SMOKE)
        lines = _plan(df).splitlines()
        win_idx = [
            i for i, ln in enumerate(lines)
            if "Window [min(" in ln and "windowspecdefinition(doc_id" in ln
        ]
        assert win_idx, f"{name}: winnow window not found in plan"
        for wi in win_idx:
            # toString prints parents first: scan down from the Window to
            # its Generate child; nothing in between may be an Exchange
            gi = next(
                i for i in range(wi + 1, len(lines)) if "Generate explode" in lines[i]
            )
            between = "\n".join(lines[wi + 1 : gi])
            assert "Exchange" not in between, (
                f"{name}: position-level exchange between Generate and Window:\n{between}"
            )
            # the exchange feeding the pipeline is the doc-level repartition
            feed = next(
                ln for ln in lines[gi + 1 :] if "Exchange" in ln
            )
            assert "REPARTITION_BY_COL" in feed and "doc_id" in feed, (
                f"{name}: expected doc_id REPARTITION_BY_COL below Generate, got: {feed}"
            )


def test_prefix_jaccard_shuffles_only_integer_keys(spark):
    """The r9 dedup_prefix_jaccard rewrite fingerprints texts (fp) and
    trigram tokens (h) to BIGINT before any shuffle: every exchange in the
    plan must partition on one of the integer keys (doc_id / fp / h),
    never on a token or text string — the string form's candidate join
    measured ~2.6B match rows of ~30-char payloads at the 1000x replica.
    The cached token set must also be reused (InMemoryTableScan present).

    Since the r9 optimization pass cached the multiply-referenced small
    frames (fp / reps / sized), their exchanges live inside the
    InMemoryRelations and at smoke SF the remaining visible joins can all
    broadcast — so an empty key set is a legal shape; any key that IS
    visible must still be one of the integer keys."""
    import re

    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES

    df = EXTRA_QUERIES["dedup_prefix_jaccard"](spark, SF_SMOKE)
    plan = _plan(df)
    keys = set(re.findall(r"Exchange (?:hash|range)partitioning\(([a-zA-Z_]+)", plan))
    allowed = {
        "doc_id", "fp", "h", "da", "db",
        # integer-key renames in the member-expansion joins
        "fpa", "fpb", "gfa", "gfb", "ida", "idb", "rep",
    }
    assert keys <= allowed, f"string-keyed exchange: {keys}"
    assert "InMemoryTableScan" in plan, "token-set cache not engaged"


def test_global_summary_has_no_expand_and_no_percentile_maps(spark):
    """agg_global_summary (r9 optimization): the count_distincts must NOT
    plan an Expand over the stats/percentile aggregates (the Expand(x3)
    keyed ~1.2M Percentile value->count buffers by (partkey, orderkey,
    gid)), and the exact Percentile aggregate itself is replaced by the
    cents-histogram order-statistics pass — no ObjectHashAggregate with a
    percentile buffer anywhere in the plan."""
    plan = _plan(QUERIES["agg_global_summary"](spark, SF_SMOKE))
    assert "Expand" not in plan, "count_distinct Expand leaked back in"
    assert "percentile" not in plan.lower(), "exact Percentile aggregate leaked back in"
    # the histogram pass partial-aggregates map-side before its shuffle
    assert "partial_count" in plan


def test_ivf_assignment_is_projection_and_probe_join_broadcasts_queries(spark):
    """sim_ivf_topk (r9 optimization): centroid assignment must be a pure
    projection over a broadcast centroid list (no Kx row blowup, no
    SortAggregate re-grouping it), and the bounded query workload must be
    the BROADCAST side of the probe join — the corpus side is never
    shuffled before the rank window."""
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES

    plan = _plan(EXTRA_QUERIES["sim_ivf_topk"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "SortAggregate" not in plan
    assert "BroadcastHashJoin" in plan and "BuildLeft" in plan
    # map-side top-k prune before the rank window's exchange
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_no_query_plans_a_python_rdd_scan(spark):
    """Literal frames are local relations: no registered query's executed
    plan scans an RDD of Python rows (``Scan ExistingRDD``), which would
    feed its rows through a Python worker on every evaluation."""
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, SAMPLED_QUERIES

    tiers = {"driver": QUERIES, "extra": EXTRA_QUERIES, "sampled": SAMPLED_QUERIES}
    offenders = []
    try:
        for tier, queries in tiers.items():
            for name, fn in sorted(queries.items()):
                if "ExistingRDD" in _plan(fn(spark, SF_SMOKE)):
                    offenders.append(f"{tier}:{name}")
    finally:
        spark.catalog.clearCache()  # storage the queries' own caches hold
    assert not offenders, offenders
