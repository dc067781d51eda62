"""Plan pins for the session-8 scale claims (properties, not results):

  * text_span_dedup is pure hash-agg/join — no WindowExec anywhere;
  * text_inverted_index's posting heads sort inside (term, salt)-partitioned
    windows (sort-spill), never an unpartitioned window.
"""

from __future__ import annotations

import re

from tests.conftest import SF_SMOKE


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_span_dedup_has_no_window(spark):
    from etl_for_dumdums_spark.catalog.mining import text_span_dedup

    plan = _physical(text_span_dedup(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_inverted_index_windows_are_salt_partitioned(spark):
    from etl_for_dumdums_spark.catalog.mining import text_inverted_index

    plan = _physical(text_inverted_index(spark, SF_SMOKE))
    # every data-sized Window partitions by (term, salt); the only
    # unpartitioned window ranks the ≤K-row top frame after the limit
    for m in re.finditer(r"Window \[row_number\(\)[^\n]*", plan):
        line = m.group(0)
        # salted window partitions by (term, doc_id % SALT) — the salt expr
        # prints as a projected _w0 column; the only other window ranks the
        # ≤K-row frame after the limit (identified by its cf ordering)
        assert "_w0" in line or "cf#" in line, line
