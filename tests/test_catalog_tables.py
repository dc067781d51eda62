"""Session-scoped table resolution in ``catalog.Tables``: a table is read
(schema-inference job included) once per session, resolved again when its
files change, and never served to another session."""

from __future__ import annotations

import gc
import os
import weakref

import pyarrow as pa
import pyarrow.parquet as pq

from etl_for_dumdums_spark import catalog
from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, Tables, load_all

from .conftest import SF_SMOKE

load_all()

# the catalog_sf01 benchmark pass: 13 relational headline queries and the
# two mapInPandas text queries
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


def _build_jobs(spark, sf_dir: str, name: str, group: str) -> int:
    """Spark jobs started while building (not running) one query."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        (QUERIES.get(name) or EXTRA_QUERIES[name])(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_build_starts_no_jobs(spark):
    for name in PASS_QUERIES:
        _build_jobs(spark, SF_SMOKE, name, f"tables-first-{name}")
    again = {n: _build_jobs(spark, SF_SMOKE, n, f"tables-second-{n}") for n in PASS_QUERIES}
    assert again == {n: 0 for n in PASS_QUERIES}


def test_rewritten_table_is_resolved_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    first = Tables(spark, str(tmp_path)).region
    assert sorted(first.collect()) == [(0, "A"), (1, "B")]
    assert Tables(spark, str(tmp_path)).region._jdf.equals(first._jdf)

    pq.write_table(
        pa.table({"r_regionkey": [5, 6, 7], "r_name": ["X", "Y", "Z"], "r_comment": ["p", "q", "r"]}),
        path,
    )
    second = Tables(spark, str(tmp_path)).region
    assert second.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(second.collect()) == [(5, "X", "p"), (6, "Y", "q"), (7, "Z", "r")]
    # one entry per (session, path): the rewrite replaced the old frame
    assert catalog._FRAMES[spark][str(path)][1].equals(second._jdf)


def test_rewrite_with_same_size_is_noticed(spark, tmp_path):
    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"n_nationkey": [1, 2]}), path)
    assert sorted(r[0] for r in Tables(spark, str(tmp_path)).nation.collect()) == [1, 2]
    pq.write_table(pa.table({"n_nationkey": [3, 4]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert sorted(r[0] for r in Tables(spark, str(tmp_path)).nation.collect()) == [3, 4]


def test_frame_never_crosses_sessions(spark, tmp_path):
    from pyspark.sql.session import _monkey_patch_RDD

    pq.write_table(pa.table({"r_regionkey": [0]}), tmp_path / "region.parquet")
    mine = Tables(spark, str(tmp_path)).region
    other = spark.newSession()
    try:
        theirs = Tables(other, str(tmp_path)).region
        assert theirs.sparkSession is other
        assert not theirs._jdf.equals(mine._jdf)
        assert Tables(spark, str(tmp_path)).region._jdf.equals(mine._jdf)

        # the memo does not keep a session alive once its caller drops it
        gone = weakref.ref(other)
        del theirs, other
        # PySpark's RDD.toDF patch holds the most recently built session
        _monkey_patch_RDD(spark)
        gc.collect()
        assert gone() is None
    finally:
        _monkey_patch_RDD(spark)


def test_concurrent_first_access(spark, tmp_path):
    """Builders run on several threads at once (the benchmark's check runs
    three): racing first accesses each get a correct frame and leave one
    memo entry per table."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    names = ["region", "nation", "customer", "supplier"]
    for i, n in enumerate(names):
        pq.write_table(pa.table({f"{n}_k": list(range(i + 1))}), tmp_path / f"{n}.parquet")
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(12) as pool:
            futs = [pool.submit(getattr, Tables(spark, str(tmp_path)), n) for n in names * 6]
            frames = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(switch)
    assert [df.columns for df in frames] == [[f"{n}_k"] for n in names * 6]
    mine = [p for p in catalog._FRAMES[spark] if p.startswith(str(tmp_path))]
    assert sorted(mine) == sorted(f"{tmp_path}/{n}.parquet" for n in names)
