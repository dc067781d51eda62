"""Pins for the round-9 optimization rewrites.

Each rewrite here changed an operator's PLAN, never its VALUES — these
tests pin the value equivalence against the original formulation (the
form the oracle has matched since the query landed) on real testdata plus
synthetic edge cases.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_for_dumdums_spark.catalog import Tables, load_all  # noqa: E402

load_all()

from etl_for_dumdums_spark.catalog import QUERIES  # noqa: E402
from etl_for_dumdums_spark.catalog.aggregations import (  # noqa: E402
    _orderstat_percentiles,
)


@pytest.fixture(scope="module")
def spark():
    from etl_for_dumdums_spark.session import get_spark

    s = get_spark("test_optimization_r09")
    yield s


# ---------------------------------------------------------------------------
# agg_global_summary: the histogram order-statistics percentiles must equal
# Spark's exact Percentile aggregate bit-for-bit (same interpolation
# formula, same double reconstruction) — and the split aggregation must
# reproduce the original single-agg row exactly.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_agg_global_summary_matches_original_single_agg(spark, sf):
    d = f"/root/testdata/{sf}"
    t = Tables(spark, d)
    old = t.lineitem.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.count_distinct("l_partkey").alias("n_parts"),
        F.round(F.sum("l_extendedprice"), 4).alias("total_price"),
        F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99_price"),
    ).collect()[0]
    new = QUERIES["agg_global_summary"](spark, d).collect()[0]
    assert old.asDict() == new.asDict()


# ---------------------------------------------------------------------------
# join_range_interval: the RANGE-frame window form (home row + lookahead
# copy in the preceding bucket) must equal the original bucketed
# equi-join + residual-filter form row-for-row.
# ---------------------------------------------------------------------------
def _range_interval_join_form(events):
    """The pre-r9 formulation: bucketed equi-join, pair filter, groupBy."""
    from etl_for_dumdums_spark.catalog.joins import _RANGE_BUCKET_SEC, DP

    e = events.select("event_id", "event_type", "ts")
    bkt = F.floor(F.unix_timestamp("ts") / _RANGE_BUCKET_SEC)
    left = e.select(
        "event_id", "event_type", "ts",
        F.explode(F.array(bkt, bkt + 1)).alias("bkt"),
    )
    right = e.select(
        F.col("event_id").alias("nid"),
        F.col("event_type").alias("event_type"),
        F.col("ts").alias("nts"),
        bkt.alias("bkt"),
    )
    pairs = left.join(right, ["event_type", "bkt"]).filter(
        (F.col("nts") > F.col("ts"))
        & (F.col("nts") <= F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    follows = pairs.groupBy("event_id").agg(F.count("*").alias("n_follow"))
    per_event = e.join(follows, "event_id", "left").select(
        "event_type", F.coalesce("n_follow", F.lit(0)).alias("n_follow")
    )
    return (
        per_event.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("n_follow"), DP).alias("avg_follows"),
            F.max("n_follow").alias("max_follows"),
            F.sum("n_follow").cast("bigint").alias("total_pairs"),
        )
        .orderBy("event_type")
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_range_interval_window_matches_join_form(spark, sf):
    from etl_for_dumdums_spark.catalog.joins import _range_interval

    t = Tables(spark, f"/root/testdata/{sf}")
    old = [r.asDict() for r in _range_interval_join_form(t.events).collect()]
    new = [r.asDict() for r in _range_interval(t.events).collect()]
    assert old == new


def test_range_interval_window_edge_cases(spark):
    """Synthetic events covering the equivalence argument's edges: equal
    timestamps (strictly-after excludes the peer), a follower exactly 1h
    later (inclusive), 1h+1us later (excluded), followers in the home
    bucket vs the next bucket, and an event at an exact bucket boundary."""
    from datetime import datetime, timedelta

    from etl_for_dumdums_spark.catalog.joins import _range_interval

    base = datetime(2024, 3, 1, 10, 30, 0)
    bound = datetime(2024, 3, 1, 12, 0, 0)  # exact bucket boundary
    rows = [
        ("a", 1, base),
        ("a", 2, base),                                   # equal ts peer
        ("a", 3, base + timedelta(minutes=10)),           # home bucket
        ("a", 4, base + timedelta(minutes=45)),           # next bucket
        ("a", 5, base + timedelta(hours=1)),              # exactly 1h: included
        ("a", 6, base + timedelta(hours=1, microseconds=1)),  # 1h+1us: excluded
        ("a", 7, bound),                                  # boundary event
        ("a", 8, bound + timedelta(microseconds=1)),
        ("b", 9, base),                                   # other type: isolated
    ]
    events = spark.createDataFrame(
        [(t_, i, ts) for t_, i, ts in rows],
        "event_type string, event_id int, ts timestamp",
    )
    old = [r.asDict() for r in _range_interval_join_form(events).collect()]
    new = [r.asDict() for r in _range_interval(events).collect()]
    assert old == new
    # spot-check the hand-computed counts survive both forms
    by_type = {r["event_type"]: r for r in new}
    # event 1 follows: 3,4,5 (not 2 equal-ts, not 6 >1h) = 3; event 2 same;
    # 3 -> 4,5,6; 4 -> 5,6,7,8; 5 -> 6,7,8; 6 -> 7,8; 7 -> 8; 8 -> 0
    assert by_type["a"]["total_pairs"] == 3 + 3 + 3 + 4 + 3 + 2 + 1 + 0
    assert by_type["b"]["total_pairs"] == 0


# ---------------------------------------------------------------------------
# dedup_simhash64: the integer-half vote aggregates (conv of md5 hex chars
# 1-8 / 9-16 to two 32-bit ints + bit shifts) must equal the original
# per-bit substr+instr string probes for every one of the 64 bits.
# ---------------------------------------------------------------------------
def test_sh64_int_votes_match_string_votes(spark):
    from etl_for_dumdums_spark.catalog.dedup import (
        _sh64_int_vote_exprs,
        _sh64_vote_exprs,
        _tokens,
    )
    from etl_for_dumdums_spark.catalog import Tables

    tok = _tokens(Tables(spark, "/root/testdata/sf0.001").documents)
    old = tok.groupBy("doc_id").agg(
        *[
            F.expr(e.replace("strpos", "instr").replace("//", "div"))
            for e in _sh64_vote_exprs("strpos", "//")
        ]
    )
    new = tok.select(
        "doc_id",
        F.expr("CAST(conv(substr(md5(w), 1, 8), 16, 10) AS BIGINT)").alias("ha"),
        F.expr("CAST(conv(substr(md5(w), 9, 8), 16, 10) AS BIGINT)").alias("hb"),
    ).groupBy("doc_id").agg(*[F.expr(e) for e in _sh64_int_vote_exprs()])
    o = {r["doc_id"]: r.asDict() for r in old.collect()}
    n = {r["doc_id"]: r.asDict() for r in new.collect()}
    assert o == n


# ---------------------------------------------------------------------------
# corpus_clean_report: the single-evaluation stage composition (gate ->
# exact -> fingerprint -> minhash, each built once and cached) must equal
# the original formulation that called clean_corpus per branch.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_corpus_report_matches_clean_corpus_composition(spark, sf):
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES
    from etl_for_dumdums_spark.operators.corpus import clean_corpus

    d = f"/root/testdata/{sf}"
    docs = Tables(spark, d).documents
    got = EXTRA_QUERIES["corpus_clean_report"](spark, d).collect()[0].asDict()
    n_fp = clean_corpus(docs).count()
    n_kept = clean_corpus(docs, minhash_neardup=True).count()
    assert got["n_after_fingerprint"] == n_fp
    assert got["n_kept"] == n_kept
    assert got["n_dropped"] == got["n_raw"] - n_kept


# ---------------------------------------------------------------------------
# text_winnow_sketch: the two-pass per-lang rollup (one (lang, h) rollup for
# hash stats + one distinct-doc pass) must equal the original three-branch
# formulation (per-doc sizes, count_distinct(h), shared-hash subquery).
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_winnow_sketch_two_pass_matches_three_branch(spark, sf):
    from etl_for_dumdums_spark.catalog.textops import _winnow_sketch, R

    docs = Tables(spark, f"/root/testdata/{sf}").documents
    new = [r.asDict() for r in _winnow_sketch(docs).collect()]

    # original formulation, reconstructed over the same sketch definition
    from pyspark.sql import Window as W
    from etl_for_dumdums_spark.catalog.textops import (
        _WINNOW_K,
        _WINNOW_W,
        _hex15_to_long_spark,
    )

    norm = docs.select(
        "doc_id", "lang",
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ").alias("t"),
    )
    pos = (
        norm.filter(F.length("t") >= _WINNOW_K + _WINNOW_W - 1)
        .select(
            "doc_id", "lang", "t",
            F.explode(F.sequence(F.lit(1), F.length("t") - (_WINNOW_K - 1))).alias("i"),
        )
    )
    hashed = pos.select(
        "doc_id", "lang", "i",
        F.expr(_hex15_to_long_spark(f"substring(t, i, {_WINNOW_K})")).alias("h"),
    )
    wspec = W.partitionBy("doc_id").orderBy("i")
    sketch = (
        hashed.select(
            "doc_id", "lang",
            F.min("h").over(wspec.rowsBetween(0, _WINNOW_W - 1)).alias("sel"),
            F.lead("i", _WINNOW_W - 1).over(wspec).alias("full_i"),
        )
        .filter(F.col("full_i").isNotNull())
        .select("doc_id", "lang", F.col("sel").alias("h"))
        .distinct()
    )
    sizes = sketch.groupBy("doc_id", "lang").agg(F.count("*").alias("sk"))
    per_lang = sizes.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("sk").alias("total_sketch_hashes"),
        R(F.sum("sk") * 1.0 / F.count("*")).alias("avg_sketch_size"),
    )
    distinct_hashes = sketch.groupBy("lang").agg(
        F.count_distinct("h").alias("n_distinct_hashes")
    )
    shared = (
        sketch.groupBy("lang", "h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .groupBy("lang")
        .agg(F.count("*").alias("n_shared_hashes"))
    )
    old = [
        r.asDict()
        for r in per_lang.join(distinct_hashes, "lang", "left")
        .join(shared, "lang", "left")
        .select(
            "lang", "n_docs", "total_sketch_hashes", "avg_sketch_size",
            "n_distinct_hashes",
            F.coalesce("n_shared_hashes", F.lit(0)).alias("n_shared_hashes"),
        )
        .orderBy("lang")
        .collect()
    ]
    assert old == new


# ---------------------------------------------------------------------------
# dedup_ngram_jaccard: the 60-bit md5-fold shingle fingerprint form must
# equal the raw-string form — the fold is injective on these corpora, and
# every downstream count (DF cap, sizes, intersections, jaccard bins)
# depends on the shingle only through equality.
# ---------------------------------------------------------------------------
def _ngram_jaccard_string_form(documents):
    """The pre-r9 formulation: raw trigram strings end to end."""
    from pyspark.sql import Window as _W

    from etl_for_dumdums_spark.catalog.dedup import _MAX_SHINGLE_DF

    arr = documents.select(
        "doc_id", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("a")
    ).filter(F.size("a") >= 3)
    sh0 = arr.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(0, size(a) - 3), i -> concat_ws(' ', a[i], a[i+1], a[i+2]))")
        ).alias("shingle"),
    ).distinct()
    sh = (
        sh0.withColumn("df", F.count("*").over(_W.partitionBy("shingle")))
        .filter(F.col("df") <= _MAX_SHINGLE_DF)
        .select("doc_id", "shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    x, y = sh.alias("x"), sh.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .agg(F.count("*").alias("common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    return (
        pairs.join(sa, F.col("da") == F.col("sa.doc_id"))
        .join(sb, F.col("db") == F.col("sb.doc_id"))
        .select(
            F.round(
                F.col("common") * 1.0 / (F.col("sa.sz") + F.col("sb.sz") - F.col("common")), 1
            ).alias("jaccard_bin")
        )
        .groupBy("jaccard_bin")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.col("jaccard_bin").desc())
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_ngram_jaccard_fingerprint_matches_string_form(spark, sf):
    d = f"/root/testdata/{sf}"
    t = Tables(spark, d)
    old = [r.asDict() for r in _ngram_jaccard_string_form(t.documents).collect()]
    new = [r.asDict() for r in QUERIES["dedup_ngram_jaccard"](spark, d).collect()]
    spark.catalog.clearCache()
    assert old == new


def test_orderstat_percentiles_interpolation_edges(spark):
    """Synthetic 2-decimal data covering the interpolation branches:
    lower == higher (pos lands on a value), true interpolation between two
    distinct cents, duplicated values, and a single-row frame."""
    cases = [
        # 4 values: p50 pos = 1.5 -> interpolate between idx 1 and 2
        [1.25, 3.50, 3.75, 10.00],
        # 5 values: p50 pos = 2.0 -> lower == higher branch
        [0.01, 0.02, 0.03, 0.04, 100.99],
        # heavy duplication: one histogram row covers many positions
        [2.50] * 7 + [9.99] * 3,
        # single row
        [42.42],
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        expected = df.agg(
            F.round(F.percentile("x", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("x", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("x", F.lit(0.99)), 4).alias("p99"),
        ).collect()[0]
        got = _orderstat_percentiles(
            df, "x", [(0.5, "p50"), (0.9, "p90"), (0.99, "p99")]
        ).collect()[0]
        assert expected.asDict() == got.asDict(), vals


# ---------------------------------------------------------------------------
# ts_changepoint_cusum: the one-pass argmax-struct aggregate must equal the
# original mx/at/side three-consumer chain (which re-derived the whole
# orders->daily->window subtree per consumer: 88-Exchange unrolled plan).
# ---------------------------------------------------------------------------
def _cusum_three_pass_form(spark, daily):
    """The pre-r9 formulation over a (day, cents) daily frame."""
    from pyspark.sql import Window as W

    tot = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("t")
    )
    w = W.orderBy("day")
    cum = daily.select(
        "day",
        F.sum("cents").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long").alias("cumc"),
        F.row_number().over(w).cast("long").alias("k"),
    )
    s = cum.crossJoin(F.broadcast(tot)).select(
        "day", "n", "t",
        (F.col("n") * F.col("cumc") - F.col("k") * F.col("t")).cast("long").alias("ns"),
    )
    mx = s.agg(F.max(F.abs("ns")).cast("long").alias("m"))
    at = (
        s.crossJoin(F.broadcast(mx))
        .filter(F.abs("ns") == F.col("m"))
        .agg(F.min("day").alias("cp_day"))
    )
    side = (
        s.join(F.broadcast(at), F.col("day") == F.col("cp_day"))
        .crossJoin(F.broadcast(mx))
        .agg(
            F.when(F.min("ns") == -F.max("m"), F.lit("below_mean"))
            .otherwise(F.lit("above_mean"))
            .alias("regime")
        )
    )
    return (
        tot.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(at))
        .crossJoin(F.broadcast(side))
        .select(
            F.col("n").alias("n_days"),
            F.col("t").alias("total_cents"),
            F.col("m").alias("max_abs_ns"),
            F.round(
                F.col("m") / (F.col("n").cast("double") * F.col("t").cast("double")), 4
            ).alias("cusum_ratio"),
            F.col("cp_day").alias("changepoint_day"),
            "regime",
        )
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_cusum_one_pass_matches_three_pass(spark, sf):
    d = f"/root/testdata/{sf}"
    t = Tables(spark, d)
    daily = t.orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents")
    )
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES

    old = _cusum_three_pass_form(spark, daily).collect()[0]
    new = EXTRA_QUERIES["ts_changepoint_cusum"](spark, d).collect()[0]
    spark.catalog.clearCache()
    assert old.asDict() == new.asDict()


def test_cusum_argmax_tie_and_zero_cases(spark):
    """Synthetic dailies covering the fold's edge semantics: all-equal
    revenue (every n*cum - k*t == 0 -> m == 0, earliest day, below_mean)
    and a two-way |ns| tie resolved to the earlier day."""
    import datetime as dt

    cases = [
        # constant series: ns == 0 everywhere
        [(dt.date(2020, 1, 1), 100), (dt.date(2020, 1, 2), 100), (dt.date(2020, 1, 3), 100)],
        # symmetric V: |ns| ties between the first and last interior day
        [(dt.date(2020, 1, 1), 300), (dt.date(2020, 1, 2), 0), (dt.date(2020, 1, 3), 300)],
        # mirrored (ties on the positive side)
        [(dt.date(2020, 1, 1), 0), (dt.date(2020, 1, 2), 300), (dt.date(2020, 1, 3), 0)],
    ]
    for rows in cases:
        daily = spark.createDataFrame(rows, "day date, cents long")
        old = _cusum_three_pass_form(spark, daily).collect()[0]
        # the fold exactly as ts_changepoint_cusum plans it
        tot = daily.agg(
            F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("t")
        )
        from pyspark.sql import Window as W

        w = W.orderBy("day")
        cum = daily.select(
            "day",
            F.sum("cents").over(w.rowsBetween(W.unboundedPreceding, 0)).cast("long").alias("cumc"),
            F.row_number().over(w).cast("long").alias("k"),
        )
        s = cum.crossJoin(F.broadcast(tot)).select(
            "day", "n", "t",
            (F.col("n") * F.col("cumc") - F.col("k") * F.col("t")).cast("long").alias("ns"),
        )
        best = s.agg(
            F.max(F.abs("ns")).cast("long").alias("m"),
            F.max(
                F.struct(
                    F.abs("ns").alias("a"),
                    (-F.unix_date(F.col("day"))).alias("negd"),
                    F.col("ns").alias("ns"),
                )
            ).alias("b"),
            F.max("n").alias("n"),
            F.max("t").alias("t"),
        )
        new = best.select(
            F.col("n").alias("n_days"),
            F.col("t").alias("total_cents"),
            F.col("m").alias("max_abs_ns"),
            F.round(F.col("m") / (F.col("n").cast("double") * F.col("t").cast("double")), 4).alias("cusum_ratio"),
            F.date_from_unix_date(-F.col("b.negd")).alias("changepoint_day"),
            F.when(F.col("b.ns") == -F.col("m"), F.lit("below_mean"))
            .otherwise(F.lit("above_mean"))
            .alias("regime"),
        ).collect()[0]
        assert old.asDict() == new.asDict(), rows


# ---------------------------------------------------------------------------
# stats_ks_mannwhitney: the argmax struct (min cents among max dnum) folded
# into the single aggregate must equal the original second pref pass.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_ks_mannwhitney_one_pass_matches_two_pass(spark, sf):
    from etl_for_dumdums_spark.operators.ranked import ranged_prefix

    d = f"/root/testdata/{sf}"
    t = Tables(spark, d)
    from etl_for_dumdums_spark.catalog.stats import _KS_P1, _KS_P2

    s = t.orders.filter(F.col("o_orderpriority").isin(_KS_P1, _KS_P2)).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderpriority") == _KS_P1, 1).otherwise(0).alias("f1"),
    )
    v = (
        s.groupBy("cents")
        .agg(
            F.sum("f1").cast("long").alias("c1"),
            (F.count("*") - F.sum("f1")).cast("long").alias("c2"),
        )
        .withColumn("cnt", (F.col("c1") + F.col("c2")).cast("long"))
    )
    pref, totals = ranged_prefix(spark, v, ["cents"], ["c1", "c2", "cnt"])
    n1, n2 = totals["c1"], totals["c2"]
    # the pre-r9 two-pass argmax location
    mx = pref.agg(
        F.max(F.abs(F.col("cum_c1") * F.lit(n2) - F.col("cum_c2") * F.lit(n1)))
        .cast("long")
        .alias("m")
    )
    old_at = (
        pref.crossJoin(F.broadcast(mx))
        .filter(
            F.abs(F.col("cum_c1") * F.lit(n2) - F.col("cum_c2") * F.lit(n1))
            == F.col("m")
        )
        .agg(F.min("cents").cast("long").alias("atc"))
        .collect()[0]["atc"]
    )
    spark.catalog.clearCache()
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES

    new = EXTRA_QUERIES["stats_ks_mannwhitney"](spark, d).collect()[0]
    spark.catalog.clearCache()
    assert float(new["ks_at_price"]) == round(old_at / 100.0, 2)


# ---------------------------------------------------------------------------
# profile_table: the no-Expand shape (stats pass + per-column 2-stage
# distinct branches) must reproduce the original packed single aggregate.
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_profile_table_matches_packed_single_agg(spark, sf):
    d = f"/root/testdata/{sf}"
    t = Tables(spark, d)
    df = t.orders
    old = df.agg(
        F.count("*").alias("_n"),
        *[
            a
            for c in df.columns
            for a in (
                F.count(F.col(c)).alias(f"{c}__nv"),
                F.count_distinct(F.col(c)).alias(f"{c}__nd"),
            )
        ],
    ).collect()[0]
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES

    new = {r["col_name"]: r for r in EXTRA_QUERIES["profile_table"](spark, d).collect()}
    for c in df.columns:
        assert new[c]["n_rows"] == old["_n"]
        assert new[c]["n_null"] == old["_n"] - old[f"{c}__nv"]
        assert new[c]["n_distinct"] == old[f"{c}__nd"]


# ---------------------------------------------------------------------------
# sketch_histogram_quantile: the single-histogram-scan form must equal the
# original multi-scan + exact-percentile-aggregate form bit for bit.
# ---------------------------------------------------------------------------
def _histogram_quantile_multiscan_form(spark, lineitem):
    from pyspark.sql import Window as W

    from etl_for_dumdums_spark.catalog.sketches import _HQ_BINS, _HQ_QS

    c = lineitem.select(
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("c")
    )
    b = c.agg(F.min("c").alias("mn"), F.max("c").alias("mx"), F.count("*").alias("n"))
    bins = (
        c.crossJoin(F.broadcast(b))
        .select(F.expr(f"(c - mn) * {_HQ_BINS} DIV (mx - mn + 1)").alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )
    cum = bins.withColumn(
        "cum", F.sum("cnt").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
    )
    qs = spark.createDataFrame([(float(q),) for q in _HQ_QS], ["q"])
    sel = (
        qs.crossJoin(cum)
        .crossJoin(F.broadcast(b))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(F.min("bin").alias("qbin"))
    )
    est = sel.crossJoin(F.broadcast(b)).select(
        "q",
        (
            (F.col("mn") + (F.col("qbin") + 0.5) * (F.col("mx") - F.col("mn") + 1) / _HQ_BINS)
            / 100.0
        ).alias("est_v"),
    )
    pv = c.agg(F.percentile("c", F.array(*[F.lit(float(q)) for q in _HQ_QS])).alias("pv"))
    exact = pv.select(F.posexplode("pv").alias("pos", "v")).select(
        F.array(*[F.lit(float(q)) for q in _HQ_QS])[F.col("pos")].alias("q"),
        (F.col("v") / 100.0).alias("exact_v"),
    )
    return (
        est.join(exact, "q")
        .select(
            "q",
            F.lit(_HQ_BINS).alias("n_bins"),
            F.round("est_v", 4).alias("est_value"),
            F.round("exact_v", 4).alias("exact_value"),
            F.round(
                100.0 * F.abs(F.col("est_v") - F.col("exact_v")) / F.col("exact_v"), 2
            ).alias("err_pct"),
        )
        .orderBy("q")
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_histogram_quantile_single_scan_matches_multiscan(spark, sf):
    from etl_for_dumdums_spark.catalog import EXTRA_QUERIES

    d = f"/root/testdata/{sf}"
    t = Tables(spark, d)
    old = [r.asDict() for r in _histogram_quantile_multiscan_form(spark, t.lineitem).collect()]
    new = [r.asDict() for r in EXTRA_QUERIES["sketch_histogram_quantile"](spark, d).collect()]
    spark.catalog.clearCache()
    assert old == new


# ---------------------------------------------------------------------------
# exact_quantiles_cents: the approx-bracketed bisection must stay exact,
# including when n is tiny relative to the rank slack (brackets clamp to
# the global range).
# ---------------------------------------------------------------------------
def test_quantiles_bracketed_bisection_tiny_and_skewed(spark):
    """The r9 approx-bracketed bisection must return BIT-IDENTICAL values
    to the unbracketed algorithm (same order-statistic selection, same
    interpolation formula in the same IEEE order) — expected computed by
    the reference Python reimplementation of that formula over the sorted
    cents. Covers n smaller than the rank slack (brackets clamp to the
    global range), all-equal values, and extreme skew."""
    from etl_for_dumdums_spark.operators.quantile import exact_quantiles_cents

    from .test_quantile_multi import sorted_cents_quantiles as reference

    cases = [
        [1.00],
        [1.00, 1.00, 1.00],
        [0.01, 99999.99],
        [float(x) for x in range(1, 50)],
        [5.00] * 100 + [7.77],
    ]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "price double")
        got = exact_quantiles_cents(df, "price", (0.5, 0.99))
        assert got == reference(vals, (0.5, 0.99)), vals
