"""Regression tests for the round-8 ADVICE findings and the oracle-capacity
surgery on the five 1000x-resource-failed DuckDB oracles.

1. (medium, advice) run_oracle_chunked must not deadlock on child stderr and
   must refuse to run two sweeps at once: the lockfile path is pinned here.
2. (medium, advice) agg_quantile_counting's oracle CTE must be MATERIALIZED —
   DuckDB inlines a plain CTE into each UNION ALL branch, re-sorting lineitem
   per quantile probe (EXPLAIN showed two quantile_cont nodes).
3. (surgery) the rewritten oracles must stay value-identical to their proven
   pre-surgery forms. Each rewrite is compared against the literal original
   SQL on the sf0.001 + sf0.01 testdata in DuckDB alone (no Spark needed —
   the old forms were themselves hash-verified against Spark for six rounds):
   - join_self_adjacent: RANGE-window pair decomposition vs the literal
     self-join, on data that DOES contain duplicate (orderkey, linenumber)
     groups (up to 6 rows per key at sf0.01 — the case that broke a naive
     lead() rewrite).
   - sketch_kmv_overlap: single-materialized-ab form vs the a/b subquery form.
   - text_langid_ngram: replace-count scans vs the per-position trigram-list
     form, plus a brute-force pin of the period-2 collapse identity.
"""

from pathlib import Path

import duckdb
import pytest

from etl_for_dumdums_spark.catalog import EXTRA_ORACLE, ORACLE, load_all

load_all()

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
REPO = Path(__file__).resolve().parents[1]


def _con(sf_dir, tables=("lineitem", "documents")):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# ---------------------------------------------------------------------------
# 1. sweep lock
# ---------------------------------------------------------------------------
def test_sweep_lock_refuses_second_runner(tmp_path, monkeypatch):
    import os
    import sys

    sys.path.insert(0, str(REPO / "tools"))
    import run_oracle_chunked as roc

    lock = tmp_path / "sweep.lock"
    lock.write_text(str(os.getpid()))  # a live pid: ourselves
    monkeypatch.setattr(roc, "SWEEP_LOCK", lock)
    monkeypatch.setattr(sys, "argv", ["run_oracle_chunked.py"])
    assert roc.main() == 2
    # stale lock (dead pid) must be recovered, not refused — use an
    # impossible pid; don't actually run a sweep, just ask the lock rule
    lock.write_text("99999999")
    assert roc.live_sweep_pid(lock) is None


def test_bench_refuses_under_live_sweep_lock(tmp_path, monkeypatch):
    """bench.py aborts (exit 2) while a live sweep holds the lock, unless
    SPARK_GRAFT_BENCH_FORCE is set — BENCH_r07 was contaminated by exactly
    this overlap."""
    import os
    import subprocess
    import sys

    # the lock path is hardcoded in bench.py; skip if something else holds it
    lock = "/tmp/spark_graft_sweep.lock"
    if os.path.exists(lock):
        pytest.skip("a real sweep is running")
    with open(lock, "w") as f:
        f.write(str(os.getpid()))
    try:
        proc = subprocess.run(
            [sys.executable, str(REPO / "bench.py")],
            capture_output=True,
            text=True,
            timeout=60,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001"},
        )
        assert proc.returncode == 2
        assert "sweep" in proc.stderr
    finally:
        os.unlink(lock)


# ---------------------------------------------------------------------------
# 2. quantile oracle runs exactly one quantile_cont
# ---------------------------------------------------------------------------
def test_quantile_counting_oracle_single_sort():
    con = _con("/root/testdata/sf0.001", tables=("lineitem",))
    plan = "\n".join(
        r[1] for r in con.execute("EXPLAIN " + EXTRA_ORACLE["agg_quantile_counting"]).fetchall()
    )
    assert plan.lower().count("quantile_cont") == 1


# ---------------------------------------------------------------------------
# 3a. join_self_adjacent decomposition == literal self-join
# ---------------------------------------------------------------------------
_SELF_JOIN_LITERAL = """
    SELECT cur.l_returnflag,
           count(*) AS n_pairs,
           round(avg(nxt.l_quantity - cur.l_quantity), 4) AS avg_qty_step
    FROM lineitem cur
    JOIN lineitem nxt
      ON cur.l_orderkey = nxt.l_orderkey AND nxt.l_linenumber = cur.l_linenumber + 1
    GROUP BY cur.l_returnflag ORDER BY cur.l_returnflag
"""


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_self_adjacent_decomposition_matches_literal_join(sf_dir):
    con = _con(sf_dir, tables=("lineitem",))
    # precondition: the data actually has duplicate (orderkey, linenumber)
    # groups at sf0.01 — the case a lead()-based rewrite gets wrong
    if sf_dir.endswith("sf0.01"):
        dup = con.execute(
            """SELECT max(c) FROM (SELECT count(*) AS c FROM lineitem
               GROUP BY l_orderkey, l_linenumber)"""
        ).fetchone()[0]
        assert dup > 1
    got = con.execute(ORACLE["join_self_adjacent"]).fetchall()
    want = con.execute(_SELF_JOIN_LITERAL).fetchall()
    assert got == want


# ---------------------------------------------------------------------------
# 3b. sketch_kmv_overlap single-ab form == original a/b form
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_kmv_overlap_matches_original_form(sf_dir):
    from etl_for_dumdums_spark.catalog.contamination import (
        _KMV_K as k,
        _POW60,
        _SHINGLES_SQL,
    )

    original = f"""
    WITH {_SHINGLES_SQL},
    a AS (SELECT DISTINCT h FROM shingles WHERE split = 0),
    b AS (SELECT DISTINCT h FROM shingles WHERE split = 1),
    ka AS (SELECT h FROM a ORDER BY h LIMIT {k}),
    kb AS (SELECT h FROM b ORDER BY h LIMIT {k}),
    ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u ORDER BY h LIMIT {k}),
    tau AS (SELECT max(h) AS tau FROM ku),
    k_inter AS (
      SELECT count(*) AS ki FROM ka JOIN kb USING (h) CROSS JOIN tau WHERE h <= tau),
    est AS (
      SELECT ({k} - 1) * {_POW60} / (SELECT max(h) FROM ka) AS est_train,
             ({k} - 1) * {_POW60} / (SELECT max(h) FROM kb) AS est_test,
             ({k} - 1) * {_POW60} / (SELECT tau FROM tau)   AS est_union,
             (SELECT ki FROM k_inter) AS ki),
    exact AS (
      SELECT (SELECT count(*) FROM a) AS n_train,
             (SELECT count(*) FROM b) AS n_test,
             (SELECT count(*) FROM (SELECT h FROM a UNION SELECT h FROM b) u) AS n_union,
             (SELECT count(*) FROM a JOIN b USING (h)) AS n_inter)
    SELECT {k} AS k,
           n_train, round(est_train, 4) AS est_train,
           n_test,  round(est_test, 4)  AS est_test,
           n_union, round(est_union, 4) AS est_union,
           n_inter,
           round(CAST(ki AS DOUBLE) / {k} * est_union, 4) AS est_inter,
           round(CAST(n_inter AS DOUBLE) / n_union, 4) AS exact_jaccard,
           round(CAST(ki AS DOUBLE) / {k}, 4) AS est_jaccard
    FROM exact CROSS JOIN est
    """
    con = _con(sf_dir, tables=("documents",))
    got = con.execute(EXTRA_ORACLE["sketch_kmv_overlap"]).fetchall()
    want = con.execute(original).fetchall()
    assert [tuple(map(float, r)) for r in got] == [tuple(map(float, r)) for r in want]


# ---------------------------------------------------------------------------
# 3c. text_langid_ngram replace-count form == trigram-list form,
#     plus a brute-force pin of the period-2 collapse identity
# ---------------------------------------------------------------------------
def _list_form_hits(profile: list[str]) -> str:
    plist = ", ".join(f"'{t}'" for t in profile)
    return (
        "CASE WHEN length(lower(text)) < 3 THEN 0 ELSE "
        "len(list_filter(list_transform(generate_series(1, length(lower(text)) - 2), "
        f"i -> substr(lower(text), i, 3)), x -> list_contains([{plist}], x))) END"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_langid_ngram_matches_list_form(sf_dir):
    from etl_for_dumdums_spark.catalog.textops import _TRIGRAM_PROFILES

    cols = ", ".join(
        f"CAST(({_list_form_hits(_TRIGRAM_PROFILES[lg])}) AS BIGINT) AS h_{lg}"
        for lg in _TRIGRAM_PROFILES
    )
    original = f"""
    WITH hits AS (SELECT lang AS actual_lang, {cols} FROM documents),
    pred AS (
      SELECT actual_lang,
             CASE WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0 THEN 'unknown'
                  WHEN h_de > h_en AND h_de >= h_fr AND h_de >= h_es THEN 'de'
                  WHEN h_fr > h_en AND h_fr >= h_es THEN 'fr'
                  WHEN h_es > h_en THEN 'es'
                  ELSE 'en' END AS predicted_lang
      FROM hits)
    SELECT actual_lang, predicted_lang, count(*) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """
    con = _con(sf_dir, tables=("documents",))
    got = con.execute(EXTRA_ORACLE["text_langid_ngram"]).fetchall()
    want = con.execute(original).fetchall()
    assert got == want


# ---------------------------------------------------------------------------
# 3d. dedup_ngram_jaccard window-DF-filter form == GROUP/HAVING+JOIN form
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_ngram_jaccard_matches_having_join_form(sf_dir):
    from etl_for_dumdums_spark.catalog.dedup import _MAX_SHINGLE_DF as cap

    original = f"""
    WITH arr AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(a) - 1),
                                   i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS shingle
      FROM arr WHERE len(a) >= 3),
    kept AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {cap}),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN kept USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT x.doc_id AS da, y.doc_id AS db, count(*) AS common
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2)
    SELECT round(common * 1.0 / (sa.sz + sb.sz - common), 1) AS jaccard_bin,
           count(*) AS n_pairs
    FROM pairs
    JOIN sizes sa ON pairs.da = sa.doc_id
    JOIN sizes sb ON pairs.db = sb.doc_id
    GROUP BY 1 ORDER BY jaccard_bin DESC
    """
    con = _con(sf_dir, tables=("documents",))
    got = con.execute(ORACLE["dedup_ngram_jaccard"]).fetchall()
    want = con.execute(original).fetchall()
    assert got == want


# ---------------------------------------------------------------------------
# 3e. agg_winsorized_stats histogram form == native grouped quantile_cont form
# ---------------------------------------------------------------------------
_WINSOR_QUANTILE_FORM = """
    WITH pct AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS p05,
             quantile_cont(l_extendedprice, 0.95) AS p95
      FROM lineitem GROUP BY l_returnflag),
    classified AS (
      SELECT l.l_returnflag,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
             p.p05, p.p95,
             CASE WHEN l.l_extendedprice < p.p05 THEN 'below'
                  WHEN l.l_extendedprice > p.p95 THEN 'above'
                  ELSE 'inlier' END AS cls
      FROM lineitem l JOIN pct p USING (l_returnflag))
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(count_if(cls = 'below') AS BIGINT) AS n_clipped_low,
           CAST(count_if(cls = 'above') AS BIGINT) AS n_clipped_high,
           round(any_value(p05), 4) AS p05,
           round(any_value(p95), 4) AS p95,
           round(((CAST(sum(CASE WHEN cls = 'inlier' THEN cents ELSE 0 END) AS DOUBLE)
                   + count_if(cls = 'below') * (any_value(p05) * 100))
                  + count_if(cls = 'above') * (any_value(p95) * 100))
                 / (count(*) * 100.0), 4) AS avg_winsorized
    FROM classified GROUP BY l_returnflag ORDER BY l_returnflag
"""


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_winsorized_histogram_matches_quantile_cont_form(sf_dir):
    con = _con(sf_dir, tables=("lineitem",))
    got = con.execute(EXTRA_ORACLE["agg_winsorized_stats"]).fetchall()
    want = con.execute(_WINSOR_QUANTILE_FORM).fetchall()
    assert got == want


def test_period2_collapse_identity_bruteforce():
    """The ' a ' / ' y ' counting identity: collapse every 2-gram 'ab' to a
    marker; matches = sum over marker runs (optionally capturing a trailing
    'a') of length-1. Pinned against brute force on adversarial chains."""
    con = duckdb.connect()
    cases = [
        " a a a ", " a ", "a a", " a  a ", "", "ab", " a a", "x a y a ",
        " a a a a a", "aaa a ", " a", "a ", "  a  ", " a a b a a ",
        " " * 5, "a" * 5, " a" * 7, "a " * 7,
    ]
    for s in cases:
        brute = sum(1 for i in range(max(len(s) - 2, 0)) if s[i : i + 3] == " a ")
        lit = s.replace("'", "''")
        got = con.execute(
            "SELECT coalesce(list_sum(list_transform(regexp_extract_all("
            f"replace('{lit}', ' a', chr(1)), chr(1) || '+[ ]?'), "
            "x -> length(x) - 1)), 0)"
        ).fetchone()[0]
        assert got == brute, (s, got, brute)
