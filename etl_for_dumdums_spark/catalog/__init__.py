"""Query catalog: the SURVEY.md §2 operator inventory as named queries.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` registered together
with an equivalent ANSI-SQL string that DuckDB can execute over the same
parquet tables (the driver's correctness oracle). Registration happens at
import time via the ``@register`` decorator.

Determinism rules shared by both sides:
  * every computed column is aliased identically in Spark and SQL;
  * floating-point aggregates are rounded (ROUND_DP) so summation order
    cannot flip the value hash;
  * no current_timestamp()/now() — cutoffs are fixed literals.
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Callable
from pathlib import Path
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# float rounding applied on BOTH the Spark and DuckDB side before comparison
ROUND_DP = 4

# Driver-facing catalog: the driver's correctness gate checks the FIRST 50
# registered queries, so QUERIES holds exactly the consolidated 50 that cover
# every SURVEY §2 operator (see OPERATORS.md "Catalog consolidation map").
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# Extra tier: legacy/redundant forms kept fully runnable and oracle-checked
# locally (tools/check_oracle.py checks both tiers by default; --driver-only
# restricts to the 50 the driver sees) but not driver-registered — their
# operators are covered by a consolidated QUERIES entry.
EXTRA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
EXTRA_ORACLE: dict[str, str] = {}

# Sampled at-scale tier (catalog/sampled.py): for queries whose FULL output
# (or oracle-side cost) scales with the data, a deterministic key-sampled
# variant — same name, same plan, both engines restricted by an identical
# stated predicate — so `make oracle-100x-sampled` gives every catalog
# query at-scale coverage by either full or sampled comparison.
SAMPLED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
SAMPLED_ORACLE: dict[str, str] = {}

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register(name: str, sql: Optional[str] = None, extra: bool = False):
    """Register a catalog query; ``sql`` is the DuckDB oracle (None → rows-only
    check); ``extra=True`` keeps it out of the driver-facing 50 (see above)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        queries, oracle = (EXTRA_QUERIES, EXTRA_ORACLE) if extra else (QUERIES, ORACLE)
        queries[name] = fn
        if sql is not None:
            oracle[name] = sql
        return fn

    return deco


class Tables:
    """Lazy accessor for the testdata parquet tables of one scale factor.

    A table is resolved once per session: the first access runs
    ``spark.read.parquet`` (a schema-inference Spark job) and the nanos
    timestamp projection, and every later ``Tables`` on the same session
    gets that frame back without a job. A table whose files change (name,
    size or mtime) is resolved again on its next access."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._dir = sf_dir.rstrip("/")

    def row_count(self, name: str) -> int:
        """Row count from parquet footer metadata — no Spark job. Used for
        plan-selection thresholds (e.g. the vectorized-ANN switch), where
        launching a count() job just to pick a path would cost more than
        the decision is worth."""
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}")
        import pyarrow.parquet as pq

        parts = _part_files(f"{self._dir}/{name}.parquet")
        return sum(pq.ParquetFile(str(p)).metadata.num_rows for p in parts)

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in TABLE_NAMES:
            raise AttributeError(f"unknown table {name!r}")
        return _table_frame(self._spark, f"{self._dir}/{name}.parquet")


def _part_files(path: str) -> list[Path]:
    """The parquet files of one table: driver testdata is a single file;
    Spark-written datasets (e.g. tools/make_scale_data.py output) are
    directories of parts."""
    p = Path(path)
    if p.is_dir():
        return sorted(p.glob("*.parquet")) or sorted(p.glob("part-*"))
    return [p]


# session -> {table path: (file signature, JVM Dataset)}. Weakly keyed and
# holding JVM handles rather than DataFrames (which reference their session),
# so a stopped session and its frames can be collected; one entry per path,
# replaced when the files change.
_FRAMES: weakref.WeakKeyDictionary[SparkSession, dict[str, tuple]] = weakref.WeakKeyDictionary()
_FRAMES_LOCK = threading.Lock()


def _table_frame(spark: SparkSession, path: str) -> DataFrame:
    parts = _part_files(path)
    stats = [p.stat() for p in parts]
    sig = tuple((p.name, st.st_size, st.st_mtime_ns) for p, st in zip(parts, stats))
    with _FRAMES_LOCK:
        hit = _FRAMES.get(spark, {}).get(path)
    if hit is not None and hit[0] == sig:
        return DataFrame(hit[1], spark)
    df = spark.read.parquet(path)
    for col in _nanos_timestamp_cols(parts):
        # nanos→micros truncation via integer division (values exceed
        # double's 53-bit mantissa, so no float math here); matches
        # DuckDB's truncating nanos→micros read. Only applies when the
        # nanos column actually surfaced as a long (the driver's
        # legacy.parquet.nanosAsLong path) — Spark reads its OWN
        # ns-timestamp writes as proper TIMESTAMP already.
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(
                col, F.expr(f"timestamp_micros(CAST(`{col}` DIV 1000 AS BIGINT))")
            )
    with _FRAMES_LOCK:
        _FRAMES.setdefault(spark, {})[path] = (sig, df._jdf)
    return df


def _nanos_timestamp_cols(parts: list[Path]) -> tuple[str, ...]:
    import pyarrow.parquet as pq
    import pyarrow.types as patypes

    schema = pq.read_schema(str(parts[0]))
    return tuple(
        f.name for f in schema if patypes.is_timestamp(f.type) and f.type.unit == "ns"
    )


def load_all() -> None:
    """Import every catalog module so all queries register.

    Import order sets driver check order: the families that were unverified
    in round 1 (windows, stats, text, similarity) register first."""
    from . import (  # noqa: F401
        windows,
        stats,
        textops,
        similarity,
        dedup,
        corpus_report,
        advanced,
        aggregations,
        filters,
        joins,
        reshape,
        scalars,
        setops,
        sketches,
        sampling,
        timeseries,
        contamination,
        privacy,
        incremental,
        mining,
        ingest,
    )
    from . import sampled  # noqa: F401  (last: wraps already-registered queries)
