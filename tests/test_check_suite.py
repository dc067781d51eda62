"""CheckSuite batches its row-filter checks into one aggregate: the results
are exactly those of each check run alone, from fewer Spark jobs."""

from pyspark.sql import functions as F

from etl_for_dumdums_spark.checks import (
    CheckSuite,
    accepted_range,
    accepted_values,
    expression_is_true,
    not_null,
    relationships,
    unique,
)

from .test_full_dag import NOW


def test_suite_matches_each_check_alone_in_fewer_jobs(spark, jobs_in_group):
    df = spark.createDataFrame(
        [
            (1, "open", 0.5, 10),
            (2, "closed", 1.5, 20),
            (2, "merged", None, 99),
            (3, None, -0.2, None),
            (4, "open", 1.0, 30),
        ],
        "id int, state string, score double, parent_id int",
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], ["pid"])
    checks = [
        (unique, ("id",), {}),
        (not_null, ("state",), {}),
        (accepted_values, ("state", ["open", "closed"]), {}),
        (relationships, ("parent_id", parent, "pid"), {}),
        (expression_is_true, ("score >= 0",), {}),
        (expression_is_true, (F.col("id") < 4,), {}),
        (accepted_range, ("score", 0.0, 1.0), {}),
        (accepted_range, ("score",), {"min_value": 0.0, "max_value": 1.0, "inclusive": False}),
        (not_null, ("id",), {}),
    ]
    suite = CheckSuite()
    for fn, args, kwargs in checks:
        suite.add(fn, *args, **kwargs)

    alone, alone_jobs = jobs_in_group(
        "checks-alone", lambda: [fn(df, *args, **kwargs) for fn, args, kwargs in checks]
    )
    batched, suite_jobs = jobs_in_group("checks-suite", lambda: suite.run(df))

    assert batched == alone
    assert [r.violations for r in alone] == [1, 1, 1, 1, 2, 1, 2, 3, 0]
    assert len(suite_jobs) < len(alone_jobs), (suite_jobs, alone_jobs)


def test_declared_schema_tests_batched_match_each_test_alone(spark, raw_paths, jobs_in_group):
    """run_schema_tests runs each model's declared tests as one suite; over
    the full DAG (raw fixtures, so some tests fail) its results, order and
    details are those of every declared test run alone, from fewer jobs."""
    from etl_for_dumdums_spark.models.full_dag import build_full_dag
    from etl_for_dumdums_spark.models.schema_tests import declared_tests, run_schema_tests

    built = build_full_dag(raw_paths, NOW).build(spark)

    def each_alone():
        out = []
        for model, fn, args, kwargs in declared_tests():
            parents = [a[len("parent:"):] for a in args if str(a).startswith("parent:")]
            if model not in built or any(p not in built for p in parents):
                continue
            resolved = [built[a[len("parent:"):]] if str(a).startswith("parent:") else a for a in args]
            res = fn(built[model], *resolved, **kwargs)
            res.detail = f"{model}: {res.detail}" if res.detail else model
            out.append(res)
        return out

    alone, alone_jobs = jobs_in_group("schema-tests-alone", each_alone)
    batched, batched_jobs = jobs_in_group("schema-tests-batched", lambda: run_schema_tests(built))

    assert batched == alone
    assert len(batched) == len(declared_tests())
    assert any(not r.passed for r in batched)
    assert len(batched_jobs) < len(alone_jobs), (batched_jobs, alone_jobs)
