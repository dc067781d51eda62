"""SparkSession factory.

Tuned for the test environment (local[N], single JVM) while keeping every
setting cluster-safe: AQE handles runtime re-planning (join strategy, skew,
partition coalescing) at any scale; UTC session timezone pins timestamp
semantics for oracle comparison; Arrow is enabled for the pandas boundary;
the generated-code class cache holds a warm pass's working set, so a query
run again reuses its compiled classes instead of recompiling them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def get_spark(app_name: str = "etl_for_dumdums_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ~cores shuffle partitions locally; AQE coalesces further at runtime.
        # On a real cluster this would be set ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # start shuffles wide and let AQE coalesce DOWN: at small SF the
        # runtime merges the 256 map outputs back to a handful of reducers
        # (no extra tasks), while 600M-row shuffles (the 1000× probe's
        # join_agg_then_left) keep real parallelism instead of 32 spilling
        # 19M-row sort-merge partitions. Cluster equivalent: initial
        # partition count ~2-3x total cores, advisory size 64MB.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE: oversized local heaps (48g+) cost seconds of first-query GC
        # setup on this box; 16g is ample for local SFs. Cluster deployments
        # size executors separately — this knob is local-mode only.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # test parquet carries INT64 TIMESTAMP(NANOS) columns, which Spark
        # cannot map to TimestampType; read them as raw nanos longs and let
        # the Tables accessor cast (truncating to micros, matching DuckDB).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The JVM-wide cache of compiled generated classes (default 100
        # entries, LRU) is smaller than one pass's working set, so each pass
        # evicted what the next one needed and recompiled all of it.
        # Measured with Spark's CodegenMetrics on a 4-core host: a warm
        # perfbench catalog_sf01 pass compiled 221 classes and a refresh
        # cycle 229-233 at the default, and 0 with 1024 (a refresh cycle
        # right after the check: 6). 1024 holds both working sets about
        # twice over. The conf is static: it is read once, when the JVM
        # first generates code, so it must be set here, before the session
        # exists.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema: str | StructType) -> DataFrame:
    """A literal frame of ``rows`` (tuples in ``schema``'s column order),
    planned as a local relation (``LocalTableScan``). ``createDataFrame`` of
    a Python list plans as ``Scan ExistingRDD`` and feeds its rows through a
    Python worker on every evaluation; an Arrow table is shipped once and
    does neither, whatever the session's Arrow setting."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.names)
    table = pa.table({n: list(c) for n, c in zip(schema.names, cols)})
    return spark.createDataFrame(table, schema)

