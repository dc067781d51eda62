import threading

import pytest
from pyspark.sql import functions as F

from etl_for_dumdums_spark import runner
from etl_for_dumdums_spark.runner import ModelRegistry

from .test_full_dag import NOW


def test_topo_order_and_build(spark, tmp_path):
    reg = ModelRegistry()

    @reg.model("base")
    def base(spark):
        return spark.createDataFrame([(1, 10.0), (2, 20.0), (2, 5.0)], ["k", "v"])

    @reg.model("agg", deps=["base"], materialization="table", path=str(tmp_path / "agg"))
    def agg(spark, base):
        return base.groupBy("k").agg(F.sum("v").alias("total"))

    reg.sql_model("top", "SELECT k, total FROM agg WHERE total > 12", deps=["agg"])

    order = reg.topo_order()
    assert order.index("base") < order.index("agg") < order.index("top")

    built = reg.build(spark)
    assert sorted(tuple(r) for r in built["top"].collect()) == [(2, 25.0)]
    # table materialization wrote parquet and registered a view
    assert (tmp_path / "agg").exists()
    assert spark.sql("SELECT count(*) AS n FROM agg").collect()[0]["n"] == 2


def test_build_subset_only_builds_needed(spark):
    reg = ModelRegistry()

    @reg.model("a")
    def a(spark):
        return spark.createDataFrame([(1,)], ["x"])

    @reg.model("b", deps=["a"])
    def b(spark, a):
        return a

    @reg.model("unrelated")
    def unrelated(spark):
        raise AssertionError("should not be built")

    built = reg.build(spark, targets=["b"])
    assert set(built) == {"a", "b"}


def test_independent_branches_overlap(spark):
    """Two models with no path between them run at the same time: each waits
    on a two-party barrier, which only both together can pass. A runner
    that builds one at a time breaks the barrier after its timeout."""
    barrier = threading.Barrier(2, timeout=30)
    reg = ModelRegistry()

    def branch(tag):
        def fn(spark):
            barrier.wait()
            return spark.createDataFrame([(tag,)], ["tag"])

        return fn

    reg.model("left")(branch("l"))
    reg.model("right")(branch("r"))

    @reg.model("joined", deps=["left", "right"])
    def joined(spark, left, right):
        return left.unionByName(right)

    built = reg.build(spark)
    assert sorted(r["tag"] for r in built["joined"].collect()) == ["l", "r"]


def test_failing_model_stops_the_build(spark):
    class Boom(Exception):
        pass

    started = []
    reg = ModelRegistry()

    @reg.model("ok")
    def ok(spark):
        started.append("ok")
        return spark.createDataFrame([(1,)], ["x"])

    @reg.model("bad", deps=["ok"])
    def bad(spark, ok):
        started.append("bad")
        raise Boom("model failed")

    @reg.model("after_bad", deps=["bad"])
    def after_bad(spark, bad):
        started.append("after_bad")
        return bad

    @reg.model("after_both", deps=["ok", "bad"])
    def after_both(spark, ok, bad):
        started.append("after_both")
        return ok

    with pytest.raises(Boom, match="model failed"):
        reg.build(spark)
    assert sorted(started) == ["bad", "ok"]
    assert not [t for t in threading.enumerate() if t.name.startswith("model-runner")]


def test_models_run_under_the_callers_job_group(spark, jobs_in_group):
    reg = ModelRegistry()

    @reg.model("counted")
    def counted(spark):
        n = spark.range(5).count()  # an action started on a pool thread
        return spark.createDataFrame([(n,)], ["n"])

    built, jobs = jobs_in_group("runner-caller-group", lambda: reg.build(spark))
    assert built["counted"].collect()[0]["n"] == 5
    assert jobs, "the model's job did not carry the caller's job group"


def test_concurrent_models_do_not_share_local_properties(spark):
    """Each model gets its own copy of the caller's local properties, so a
    property one model sets (Spark SQL sets its execution id there) is not
    seen by a model running beside it."""
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=30)
    seen = {}
    reg = ModelRegistry()

    @reg.model("writer")
    def writer(spark):
        sc.setLocalProperty("runner.test.probe", "writer")
        barrier.wait()
        barrier.wait()
        return spark.createDataFrame([(1,)], ["x"])

    @reg.model("reader")
    def reader(spark):
        barrier.wait()
        seen["probe"] = sc.getLocalProperty("runner.test.probe")
        barrier.wait()
        return spark.createDataFrame([(1,)], ["x"])

    reg.build(spark)
    assert seen == {"probe": None}


def _diamond(tmp_path) -> ModelRegistry:
    reg = ModelRegistry()

    @reg.model("src")
    def src(spark):
        return spark.range(20).selectExpr("id", "id % 3 AS k")

    @reg.model("evens", deps=["src"])
    def evens(spark, src):
        return src.filter("id % 2 = 0")

    @reg.model("per_k", deps=["src"], materialization="table", path=str(tmp_path / "per_k"))
    def per_k(spark, src):
        return src.groupBy("k").agg(F.sum("id").alias("total"))

    reg.sql_model(
        "top",
        "SELECT e.id, p.total FROM evens e JOIN per_k p ON e.k = p.k",
        deps=["evens", "per_k"],
    )
    return reg


def test_one_thread_builds_what_four_do(spark, tmp_path, monkeypatch):
    def rows(built):
        return {n: sorted(tuple(r) for r in df.collect()) for n, df in built.items()}

    four = rows(_diamond(tmp_path / "four").build(spark))
    monkeypatch.setattr(runner, "THREADS", 1)
    one = rows(_diamond(tmp_path / "one").build(spark))
    assert one == four
    assert set(one) == {"src", "evens", "per_k", "top"} and len(one["top"]) == 10


def test_table_reread_starts_no_job(spark, tmp_path, jobs_in_group):
    """A table model's re-read passes the written schema instead of
    inferring it, so the model starts exactly the write's jobs."""

    def make(spark):
        return spark.range(50).selectExpr("id", "id % 7 AS k", "map(id, k) AS m")

    reg = ModelRegistry()
    reg.model("t", materialization="table", path=str(tmp_path / "t"))(make)
    _, write_jobs = jobs_in_group(
        "runner-plain-write", lambda: make(spark).write.parquet(str(tmp_path / "w"))
    )
    built, build_jobs = jobs_in_group("runner-table-build", lambda: reg.build(spark))
    assert write_jobs and len(build_jobs) == len(write_jobs)
    assert built["t"].schema == spark.read.parquet(str(tmp_path / "t")).schema


def test_full_dag_marts_are_tables_and_staging_views(spark, raw_paths, tmp_path):
    from etl_for_dumdums_spark.models.full_dag import build_full_dag

    mart_dir = tmp_path / "marts"
    built = build_full_dag(raw_paths, NOW, mart_dir=str(mart_dir)).build(spark)
    tables = {n for n in built if n.startswith(("int_", "fct_", "dim_"))}
    staging = {n for n in built if n.startswith("stg_")}
    assert len(tables) >= 25 and len(staging) >= 15
    assert {p.name for p in mart_dir.iterdir()} == tables
    temp_views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    for name, df in built.items():
        files = df.inputFiles()
        if name in tables:
            assert files and all(f"/marts/{name}/" in f for f in files), name
            # the re-read's declared schema is what inference gives
            assert df.schema == spark.read.parquet(str(mart_dir / name)).schema, name
        else:
            assert not any("/marts/" in f for f in files), name
        assert name in temp_views, name
