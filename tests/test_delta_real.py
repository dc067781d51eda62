"""OPTIONAL real-Delta leg for merge_table's native MERGE branch.

Skips where delta-spark is absent (this container). Where it IS installed,
runs the S4 merge-idempotency and S5 schema-evolution semantics against an
ACTUAL Delta table — the execution the recording double in
test_delta_branch.py cannot provide. Runs in a subprocess because the Delta
SQL extension must be set at session build time and the shared test session
is already up.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

pytest.importorskip("delta")

_SCRIPT = textwrap.dedent(
    """
    import sys
    from delta import configure_spark_with_delta_pip
    from pyspark.sql import SparkSession

    sys.path.insert(0, {repo!r})
    from etl_for_dumdums_spark.io import merge_table

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("delta-real-leg")
        .config("spark.sql.extensions",
                "io.delta.sql.DeltaSparkSessionExtension")
        .config("spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog")
        .config("spark.databricks.delta.schema.autoMerge.enabled", "true")
    )
    spark = configure_spark_with_delta_pip(builder).getOrCreate()
    path = {path!r}

    base = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    merge_table(spark, base, path, "id")                      # first load -> delta
    assert spark.read.format("delta").load(path).count() == 2

    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    merge_table(spark, upd, path, "id")                       # native MERGE
    merge_table(spark, upd, path, "id")                       # idempotent re-run
    rows = {r["id"]: r["v"] for r in spark.read.format("delta").load(path).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}, rows

    evolved = spark.createDataFrame([(3, "C", 9.5)], ["id", "v", "score"])
    merge_table(spark, evolved, path, "id")                   # schema evolution
    got = {r["id"]: (r["v"], r["score"])
           for r in spark.read.format("delta").load(path).collect()}
    assert got[3] == ("C", 9.5) and got[1] == ("a", None), got
    print("DELTA_REAL_OK")
    """
)


def test_real_delta_merge_and_evolution(tmp_path):
    repo = str(Path(__file__).resolve().parents[1])
    script = _SCRIPT.format(repo=repo, path=str(tmp_path / "tbl"))
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "DELTA_REAL_OK" in proc.stdout
