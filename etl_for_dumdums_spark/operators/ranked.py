"""Global rank + prefix sums over a total order, without a global sort window.

A ``row_number() OVER (ORDER BY ...)`` (or a running ``SUM``) with no
PARTITION BY funnels the entire table through ONE task — the
single-partition-window scale killer. This is the engine's one copy of the
range-offsets trick:

  1. ``repartitionByRange`` on the total order (Spark samples range bounds,
     so partitions are balanced) and collect ONE row per non-empty range
     partition: its min key, row count and column sums (at most
     ``_NPARTS`` rows — the documented tiny-by-construction collect);
  2. the min keys after the first become literal bounds, so a row's range
     partition is an expression over the row itself (the number of bounds
     ≤ its key, found by binary search) — range partitions are contiguous
     in the total order, so this puts every row where its counts were
     collected;
  3. per-partition ``row_number`` / running ``SUM`` (each partition sorts
     locally — parallel, spillable);
  4. global rank / prefix sum = local value + the partition's exclusive
     offset, read from a literal array.

Bit-identical to the serial window at any scale. Callers must pass a total
order (``order_cols`` must break all ties) or per-partition row numbering is
nondeterministic.

Consumers: aggregations._orderstat_percentiles (agg_global_summary),
stats_ks_mannwhitney, agg_gini_concentration, agg_weighted_median,
sketch_histogram_quantile, win_ntile_deciles (closed-form ntile) and
operators/corpus.assign_token_shards (pack_token_shards).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

_NPARTS = 32


def _long_at(values: list[int], idx: Column) -> Column:
    lits = [F.lit(v).cast("long") for v in values or [0]]
    return F.element_at(F.array(*lits), idx + 1)


def _range_index(key: Column, bounds: list[Column]) -> Column:
    """The number of ``bounds`` (ascending) that are <= ``key``, found by
    binary search: log2(len(bounds)) struct comparisons per row instead of
    one per bound."""

    def search(lo: int, hi: int) -> Column:  # the answer lies in [lo, hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        return F.when(bounds[mid - 1] <= key, search(mid, hi)).otherwise(search(lo, mid - 1))

    return search(0, len(bounds))


def ranged_prefix(
    df: DataFrame, order_cols: list[str], sum_cols: list[str]
) -> tuple[DataFrame, dict[str, int]]:
    """Attach a global 1-based rank ``_r`` and, for each ``c`` in
    ``sum_cols``, an inclusive prefix sum ``cum_<c>`` over the total order
    ``order_cols``. Returns ``(out_df, totals)`` where ``totals`` maps
    ``"_n"`` to the row count and each sum col to its grand total (exact
    Python ints — handy as literals for closed-form expressions).

    ``sum_cols`` must be integer-typed; prefix sums are exact BIGINT.

    Contract: ``df`` must give the same rows each time it is evaluated (an
    aggregate over files does). The offsets come from one job here and the
    returned frame evaluates ``df`` again; nothing is cached.
    """
    key = F.struct(*order_cols)
    aggs = [F.min(key).alias("_lo"), F.count("*").alias("_n")] + [
        F.sum(c).cast("long").alias(f"_s_{c}") for c in sum_cols
    ]
    parts = sorted(
        df.repartitionByRange(_NPARTS, *order_cols)
        .groupBy(F.spark_partition_id().alias("_pid"))
        .agg(*aggs)
        .collect(),
        key=lambda r: r["_pid"],
    )
    types = {f.name: f.dataType for f in df.schema.fields}
    bounds = [
        F.struct(*[F.lit(v).cast(types[c]).alias(c) for c, v in zip(order_cols, p["_lo"])])
        for p in parts[1:]
    ]
    # exclusive offsets per partition index; [0] stands in for an empty df
    names = ["_n"] + [f"_s_{c}" for c in sum_cols]
    acc = dict.fromkeys(names, 0)
    offs: dict[str, list[int]] = {k: [] for k in names}
    for p in parts:
        for k in names:
            offs[k].append(acc[k])
            acc[k] += p[k] or 0
    wrn = W.partitionBy("_pid").orderBy(*order_cols)
    wcum = wrn.rowsBetween(W.unboundedPreceding, 0)
    out = df.withColumn("_pid", _range_index(key, bounds)).withColumn(
        "_r", (_long_at(offs["_n"], F.col("_pid")) + F.row_number().over(wrn)).cast("long")
    )
    for c in sum_cols:
        out = out.withColumn(
            f"cum_{c}",
            (_long_at(offs[f"_s_{c}"], F.col("_pid")) + F.sum(c).over(wcum)).cast("long"),
        )
    totals = {"_n": acc["_n"], **{c: acc[f"_s_{c}"] for c in sum_cols}}
    return out.drop("_pid"), totals
