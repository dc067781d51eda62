"""operators/ranked.ranged_prefix — the one range-offsets operator — and its
consumers: equal to the serial window, deterministic across actions, free of
cached storage, and planned with no global sort window."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from etl_for_dumdums_spark.catalog import Tables
from etl_for_dumdums_spark.operators.corpus import assign_token_shards
from etl_for_dumdums_spark.operators.ranked import _NPARTS, ranged_prefix
from etl_for_dumdums_spark.session import local_frame

from .conftest import SF_SMOKE

BUDGET = 5000


def test_ranged_prefix_matches_serial_window(spark):
    """Bit-identical to the serial rule with more partitions than rows, a hot
    leading value spread over several range partitions, a null leading
    value (ordered first, as ``repartitionByRange`` orders it) and no rows."""
    inputs = {
        "spread": [(i % 7, i, (i * 37) % 100) for i in range(20)],
        "hot": [(3, i, i + 1) for i in range(16)] + [(1, 0, 5), (5, 1, 2)],
        "null": [(None, i, i) for i in range(3)] + [(i % 4, i, 3 * i) for i in range(12)],
        "empty": [],
    }
    for name, rows in inputs.items():
        df = local_frame(spark, rows, "k long, i long, x long")
        if name == "hot":
            hot_parts = (
                df.repartitionByRange(_NPARTS, "k", "i")
                .where("k = 3")
                .select(F.spark_partition_id())
                .distinct()
                .count()
            )
            assert hot_parts > 1, hot_parts
        out, totals = ranged_prefix(df, ["k", "i"], ["x"])
        got = {(r["k"], r["i"]): (r["_r"], r["cum_x"]) for r in out.collect()}
        srt = sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0, r[1]))
        want, cum = {}, 0
        for rank, (k, i, x) in enumerate(srt, start=1):
            cum += x
            want[(k, i)] = (rank, cum)
        assert got == want, name
        assert totals == {"_n": len(rows), "x": sum(r[2] for r in rows)}, name


def test_ranged_prefix_is_deterministic(spark):
    """Nothing is cached, so each action evaluates the input again; the rank
    and prefix sums must come out the same every time."""
    v = Tables(spark, SF_SMOKE).lineitem.groupBy(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    ).agg(F.count("*").alias("f"))
    pref, _ = ranged_prefix(v, ["cents"], ["f"])
    first, second = (
        {r["cents"]: (r["_r"], r["cum_f"]) for r in pref.collect()} for _ in range(2)
    )
    assert first == second and len(first) > _NPARTS


def test_no_persisted_storage_left_behind(spark):
    """The operator, the packer and the queries built on them persist no RDD
    that outlives their action (checked without clearing any cache)."""
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, load_all

    load_all()
    jsc = spark.sparkContext._jsc
    docs = _docs(spark)
    builds = {
        "ranged_prefix": lambda: ranged_prefix(docs, ["doc_id"], ["n_tokens"])[0],
        "assign_token_shards": lambda: assign_token_shards(
            docs, "doc_id", "n_tokens", BUDGET
        ),
    }
    for q in (
        "agg_global_summary",
        "agg_gini_concentration",
        "stats_ks_mannwhitney",
        "agg_weighted_median",
        "win_ntile_deciles",
        "pack_token_shards",
    ):
        fn = QUERIES.get(q) or EXTRA_QUERIES[q]
        builds[q] = lambda fn=fn: fn(spark, SF_SMOKE)
    leaked = {}
    for name, build in builds.items():
        before = set(jsc.getPersistentRDDs().keys())
        build().collect()
        new = set(jsc.getPersistentRDDs().keys()) - before
        if new:
            leaked[name] = sorted(new)
    assert not leaked, leaked


def test_range_offsets_plan_has_no_global_window_cache_or_rdd(spark):
    """Plan pin: every Window partitions by the range-partition index
    ``_pid``; the offsets are literals, so there is no cached frame, no
    Python RDD scan and no broadcast join on ``_pid``."""
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, load_all

    load_all()
    for q in ("win_ntile_deciles", "agg_gini_concentration"):
        plan = EXTRA_QUERIES[q](spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
        windows = re.findall(r"Window \[[^\n]*", plan)
        assert windows, q
        for line in windows:
            assert re.search(r"\[_pid#\d+\]", line), (q, line)
        assert "InMemoryRelation" not in plan and "ExistingRDD" not in plan, q
        for m in re.finditer(r"BroadcastHashJoin[^\n]*", plan):
            assert "_pid" not in m.group(0), (q, m.group(0))


def test_win_ntile_deciles_equals_native_ntile_window(spark):
    """The closed-form ntile fill rule over ranged_prefix's rank must group
    customers exactly as Spark's own ntile(10) window over the same order."""
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, load_all

    load_all()
    Tables(spark, SF_SMOKE).customer.createOrReplaceTempView("ntile_customer")
    twin = spark.sql(
        """
        SELECT decile, count(*) AS n_customers,
               round(min(c_acctbal), 4) AS min_bal,
               round(max(c_acctbal), 4) AS max_bal,
               round(sum(cents) / (count(*) * CAST(100.0 AS DOUBLE)), 4) AS avg_bal,
               count(DISTINCT c_mktsegment) AS n_segments
        FROM (SELECT c_acctbal, c_mktsegment,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
                     ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
              FROM ntile_customer)
        GROUP BY decile ORDER BY decile
        """
    ).collect()
    got = EXTRA_QUERIES["win_ntile_deciles"](spark, SF_SMOKE).collect()
    assert len(got) == 10
    assert [tuple(r) for r in got] == [tuple(r) for r in twin]


def _docs(spark):
    docs = Tables(spark, SF_SMOKE).documents
    return docs.select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )


def test_matches_serial_cumsum(spark):
    """Token-shard packing equals the serial cumulative-sum rule exactly."""
    d = _docs(spark)
    got = {
        r["doc_id"]: r["shard_id"]
        for r in assign_token_shards(d, "doc_id", "n_tokens", BUDGET).collect()
    }
    rows = sorted(
        ((r["doc_id"], r["n_tokens"]) for r in d.collect()), key=lambda x: x[0]
    )
    cum = 0
    for doc_id, n in rows:
        cum += n
        assert got[doc_id] == (cum - 1) // BUDGET, (doc_id, got[doc_id], cum)
    assert len(got) == len(rows) and len(got) > 0


def test_packing_invariants(spark):
    """Packing conserves tokens, numbers shards contiguously from 0, keeps
    each shard within budget plus one boundary doc, and is monotone."""
    d = _docs(spark)
    out = assign_token_shards(d, "doc_id", "n_tokens", BUDGET)
    stats = (
        out.groupBy("shard_id")
        .agg(F.sum("n_tokens").alias("tok"), F.count("*").alias("n"))
        .collect()
    )
    shard_ids = sorted(r["shard_id"] for r in stats)
    assert shard_ids == list(range(len(shard_ids)))  # contiguous from 0
    max_doc = d.agg(F.max("n_tokens")).collect()[0][0]
    for r in stats:
        assert r["tok"] < BUDGET + max_doc  # budget + one boundary doc
    # shard ids are monotone in doc order
    seq = [r["shard_id"] for r in out.orderBy("doc_id").collect()]
    assert all(a <= b for a, b in zip(seq, seq[1:]))
