"""Sampled at-scale oracle tier (r3 verdict item #4).

For queries excluded from the full 100x oracle sweep because their output
(or oracle-side cost) scales with the data, this module registers a
deterministic key-sampled variant under the SAME name in
``SAMPLED_QUERIES`` / ``SAMPLED_ORACLE``. Two shapes:

* **output-sampled** — the Spark plan runs IN FULL (that is the engine work
  being verified); only the collected/compared result set is restricted by
  an identical stated predicate on a key column in both engines. Covers the
  per-row-output queries whose full result at 100x is tens of millions of
  rows (collect/compare cost, not an engine gap).
* **input-sampled** — for queries whose *oracle-side* cost explodes with
  the data (exact quadratic pair output, DuckDB recursive CTE, DuckDB
  range join), both engines run the identical plan on the same
  deterministically restricted input subset.

The sampling rule is part of the oracle SQL itself, so the comparison is
self-describing. ``make oracle-100x-sampled`` runs this tier; together with
``make oracle-100x`` every catalog query has at-scale coverage by either
full or sampled comparison.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import (
    EXTRA_ORACLE,
    EXTRA_QUERIES,
    ORACLE,
    QUERIES,
    SAMPLED_ORACLE,
    SAMPLED_QUERIES,
    Tables,
)
from .dedup import _cc_groups, _cc_sql, _prefix_jaccard, _prefix_jaccard_sql
from .joins import (
    _cooccurrence_pairs,
    _cooccurrence_sql,
    _range_interval,
    _range_interval_sql,
)
from .textops import (
    _winnow_neardup,
    _winnow_neardup_sql,
    _winnow_sketch,
    _winnow_sketch_sql,
)

_ALL_Q = {**QUERIES, **EXTRA_QUERIES}
_ALL_SQL = {**ORACLE, **EXTRA_ORACLE}


def _output_sampled(name: str, make_pred, sql_pred: str) -> None:
    """Register a variant that runs the original full plan but compares only
    rows matching the deterministic key predicate (identical in both
    engines). ``make_pred`` is a zero-arg Column factory — Columns can't be
    built at import time (no active SparkContext yet). The ORDER BY inside
    the wrapped subquery is harmless — the comparison is order-insensitive."""
    base = _ALL_Q[name]

    def fn(spark, sf_dir, _base=base, _mk=make_pred):
        return _base(spark, sf_dir).filter(_mk())

    SAMPLED_QUERIES[name] = fn
    SAMPLED_ORACLE[name] = (
        f"SELECT * FROM (\n{_ALL_SQL[name]}\n) _full WHERE {sql_pred}"
    )


# ~1/30 of dates: one row per (priority, month-start) survives
for _n in ("win_lag_deltas", "win_rolling_frames"):
    _output_sampled(
        _n, lambda: F.dayofmonth("order_date") == 1, "day(order_date) = 1"
    )


def _mod_pred(col: str, mod: int):
    return lambda: F.col(col) % mod == 0


# ~1/101 of keys — prime modulus so replication offsets don't alias
_output_sampled("scalar_string_ops", _mod_pred("p_partkey", 101), "p_partkey % 101 = 0")
_output_sampled(
    "scalar_math_conditional", _mod_pred("c_custkey", 101), "c_custkey % 101 = 0"
)
_output_sampled("text_chunk_tokens", _mod_pred("doc_id", 101), "doc_id % 101 = 0")

# ---------------------------------------------------------------------------
# Input-sampled variants: both engines run on the same restricted corpus.
# ---------------------------------------------------------------------------
_DOC_MOD = 10  # 1/10 of docs → 1/100 of candidate/exact pairs
_EVT_MOD = 7  # 1/7 of events → 1/49 of range-join pairs


def _sampled_cc_groups(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return _cc_groups(t.documents.filter(F.col("doc_id") % _DOC_MOD == 0))


SAMPLED_QUERIES["dedup_cc_groups"] = _sampled_cc_groups
SAMPLED_ORACLE["dedup_cc_groups"] = _cc_sql(f" WHERE doc_id % {_DOC_MOD} = 0")


# dedup_prefix_jaccard samples deeper (a prime modulus): the exact
# pair-list is QUADRATIC in per-token document frequency, and the r9 1000x adjudication measured the mod-10 corpus
# (500k docs, phrase-pool trigrams at df 100-6000) generating ~2.6B
# candidate match rows — beyond one box's disk in BOTH engines even after
# the positional-filter/fingerprint/collapse rewrite. 1/101 keeps ~50k
# docs at 1000x (the same absolute size as the green 100x-sampled run)
# with df ~10x lower, which the quadratic term turns into ~100x less
# candidate volume.
_PJ_DOC_MOD = 101


def _sampled_prefix_jaccard(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return _prefix_jaccard(t.documents.filter(F.col("doc_id") % _PJ_DOC_MOD == 0))


SAMPLED_QUERIES["dedup_prefix_jaccard"] = _sampled_prefix_jaccard
SAMPLED_ORACLE["dedup_prefix_jaccard"] = _prefix_jaccard_sql(
    f" WHERE doc_id % {_PJ_DOC_MOD} = 0"
)


def _sampled_range_interval(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return _range_interval(t.events.filter(F.col("event_id") % _EVT_MOD == 0))


SAMPLED_QUERIES["join_range_interval"] = _sampled_range_interval
SAMPLED_ORACLE["join_range_interval"] = _range_interval_sql(
    f" WHERE event_id % {_EVT_MOD} = 0"
)

# ---------------------------------------------------------------------------
# r9: the three queries whose FULL 1000x oracles die on DuckDB resources
# regardless of materialization (r8: 46 GiB OOM on the pair/position
# intermediates — the position explode is ~300x the 5M-doc corpus, the pair
# join ~O(baskets x pairs-per-basket) over 600M lines). Each computation is
# strictly per-document / per-order, so a deterministic key subset is
# semantics-preserving; the Spark side runs the identical restriction.
# ---------------------------------------------------------------------------


def _sampled_winnow_sketch(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return _winnow_sketch(t.documents.filter(F.col("doc_id") % _DOC_MOD == 0))


SAMPLED_QUERIES["text_winnow_sketch"] = _sampled_winnow_sketch
SAMPLED_ORACLE["text_winnow_sketch"] = _winnow_sketch_sql(
    f" WHERE doc_id % {_DOC_MOD} = 0"
)


def _sampled_winnow_neardup(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return _winnow_neardup(t.documents.filter(F.col("doc_id") % _DOC_MOD == 0))


SAMPLED_QUERIES["text_winnow_neardup"] = _sampled_winnow_neardup
SAMPLED_ORACLE["text_winnow_neardup"] = _winnow_neardup_sql(
    f" WHERE doc_id % {_DOC_MOD} = 0"
)

_ORDER_MOD = 7  # 1/7 of baskets; pair volume is linear in baskets


def _sampled_cooccurrence(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return _cooccurrence_pairs(t.lineitem.filter(F.col("l_orderkey") % _ORDER_MOD == 0))


SAMPLED_QUERIES["join_cooccurrence_pairs"] = _sampled_cooccurrence
SAMPLED_ORACLE["join_cooccurrence_pairs"] = _cooccurrence_sql(
    f" WHERE l_orderkey % {_ORDER_MOD} = 0"
)
