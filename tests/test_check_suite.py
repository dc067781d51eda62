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


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_suite_matches_each_check_alone_in_fewer_jobs(spark):
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

    alone, alone_jobs = _jobs(
        spark, "checks-alone", lambda: [fn(df, *args, **kwargs) for fn, args, kwargs in checks]
    )
    batched, suite_jobs = _jobs(spark, "checks-suite", lambda: suite.run(df))

    assert batched == alone
    assert [r.violations for r in alone] == [1, 1, 1, 1, 2, 1, 2, 3, 0]
    assert suite_jobs < alone_jobs, (suite_jobs, alone_jobs)
