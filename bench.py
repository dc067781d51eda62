"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "total_headline_sec", "value": N, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from etl_for_dumdums_spark.catalog import (
    EXTRA_ORACLE,
    EXTRA_QUERIES,
    ORACLE,
    QUERIES,
    TABLE_NAMES,
    load_all,
)
from etl_for_dumdums_spark.session import get_spark

# Headline set: one representative per operator family (kept in sync with
# the catalog as families land). Each must exist in QUERIES.
HEADLINE = [
    "agg_pricing_summary",
    "agg_weekly_event_stats",
    "agg_conditional_distinct",
    "filter_multi_dim",
    "scalar_json_extract",
    "win_rolling_frames",
    "win_top_n_per_group",
    "join_enrich_left",
    "join_agg_then_left",
    "join_cross_pattern",
    "setop_native_rollup",
    "reshape_pivot",
    "stats_autocorr",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
    "text_quality_score",
]


def duckdb_control(sf_dir: str, names: list[str], n_runs: int):
    """Best-of-N of the headline queries' DuckDB oracles, in-process.

    This is NOT a competitor number — it is a box-state normalizer: the
    identical single-process workload timed alongside the Spark bench, so a
    uniform cross-round drift in `value` (cold JVM, CPU contention, thermal
    state) shows up in `duckdb_control_sec` too and round-over-round
    comparisons can use the ratio (r3 verdict item #2: the apparent 51%
    r2→r3 regression needed a manual control experiment to dismiss as box
    noise).

    → (total_of_mins, per_query_min, per_run_round_totals). The round
    totals expose the box's noise band directly: r6's adjudication showed
    the control swinging 1.01→2.08 s across identical runs, so a single
    scalar control made per-query deltas unreadable (r6 verdict item #3).
    """
    import duckdb

    oracle = {**ORACLE, **EXTRA_ORACLE}
    con = duckdb.connect()
    for tname in TABLE_NAMES:
        tpath = f"{sf_dir}/{tname}.parquet"
        src = f"{tpath}/*.parquet" if os.path.isdir(tpath) else tpath
        con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{src}')")
    per_query: dict[str, float] = {}
    rounds = [0.0] * n_runs
    for name in names:
        if name not in oracle:
            continue
        try:
            runs = []
            for r in range(n_runs):
                t0 = time.time()
                con.execute(oracle[name]).fetchall()
                runs.append(time.time() - t0)
            # fold into the round totals only after ALL runs succeeded —
            # a mid-way failure would otherwise leave partial timings in
            # rounds[] that the per-query/total figures exclude
            for r, dt in enumerate(runs):
                rounds[r] += dt
            per_query[name] = round(min(runs), 3)
        except Exception as exc:  # pragma: no cover
            print(f"bench: duckdb control {name} failed: {exc}", file=sys.stderr)
    con.close()
    total = round(sum(per_query.values()), 3)
    return total, per_query, [round(r, 3) for r in rounds]


def main() -> None:
    # refuse to bench while an at-scale oracle sweep is live: BENCH_r07 was
    # taken under sweep contention and read as a 70%/46% per-query regression
    # that a quiet-box re-run showed was pure noise. Override (e.g. for a
    # deliberately-loaded measurement) with SPARK_GRAFT_BENCH_FORCE=1.
    import glob as _glob

    sys.path.insert(0, str(Path(__file__).resolve().parent / "tools"))
    from run_oracle_chunked import live_sweep_pid

    for lockpath in _glob.glob("/tmp/spark_graft_sweep*.lock"):
        if os.environ.get("SPARK_GRAFT_BENCH_FORCE"):
            break
        sweep_lock = Path(lockpath)
        pid = live_sweep_pid(sweep_lock)
        if pid:
            print(
                f"bench: sweep (pid {pid}) holds {sweep_lock}; benching under "
                "sweep contention produces unusable numbers — aborting",
                file=sys.stderr,
            )
            raise SystemExit(2)
        sweep_lock.unlink(missing_ok=True)  # stale, or gone since the glob

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = sf_dir  # non-sfN dir (e.g. a scale-up): report the path itself

    load_all()
    spark = get_spark("bench")

    # headline names stay stable across rounds for per-query comparability;
    # some now live in the extra tier after the 50-query consolidation
    QUERIES.update({k: v for k, v in EXTRA_QUERIES.items() if k not in QUERIES})
    names = [n for n in HEADLINE if n in QUERIES]
    # warm the JVM + parquet footers once so timings measure the queries
    QUERIES[names[0]](spark, sf_dir).count()

    def run_once(name: str) -> float:
        # label the job (guide §1.5) so UI/event-log stages map to queries
        spark.sparkContext.setJobDescription(f"bench: {name}")
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # best-of-N: the first run pays one-off costs (footer cache, codegen),
    # later runs measure the steady-state plan; min() rejects GC/scheduler
    # noise, which on this box can inflate an identical query 2-8x. N=3 by
    # default (VERDICT r01 item #10: make regressions attributable).
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    spark_spread: dict[str, float] = {}
    for name in names:
        # A failing query records -1 instead of killing the whole bench line.
        try:
            runs = [run_once(name) for _ in range(n_runs)]
            timings[name] = round(min(runs), 3)
            # per-query max/min across the N runs: >2 means this query's
            # timing is noise-dominated and its round-over-round delta
            # should not be read as a plan change
            spark_spread[name] = round(max(runs) / max(min(runs), 1e-9), 2)
        except Exception as exc:  # pragma: no cover
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
        # drop caches a query may have left behind (e.g. dedup_minhash_lsh's
        # shared candidate set): accumulated cache + broadcast blocks were
        # inflating LATER queries up to 20x at 10x-scale inputs
        spark.catalog.clearCache()

    total = round(sum(v for v in timings.values() if v >= 0), 3)
    # SPARK_GRAFT_BENCH_CONTROL=0 skips the control (scale-up runs where the
    # single-process oracle side would dominate wall-clock)
    if os.environ.get("SPARK_GRAFT_BENCH_CONTROL", "1") != "0":
        control, control_queries, control_rounds = duckdb_control(
            sf_dir, names, n_runs
        )
    else:
        control, control_queries, control_rounds = 0.0, {}, []
    print(
        json.dumps(
            {
                "metric": "total_headline_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # box-state normalizer: same 16 oracles in single-process
                # DuckDB, best-of-N — compare rounds by value/control ratio
                "duckdb_control_sec": control,
                "spark_over_duckdb_ratio": (
                    round(total / control, 2) if control > 0 else None
                ),
                # noise instrumentation (r6 verdict item #3): per-query
                # control mins let per-query Spark deltas be normalized
                # individually; the control's per-round totals and the
                # Spark-side per-query max/min expose the box's noise band
                # in the artifact itself, so a cross-round comparison needs
                # no judge re-run to adjudicate drift
                "duckdb_control_queries": control_queries,
                "duckdb_control_round_totals_sec": control_rounds,
                "duckdb_control_spread": (
                    round(max(control_rounds) / max(min(control_rounds), 1e-9), 2)
                    if control_rounds
                    else None
                ),
                "spark_run_spread": spark_spread,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
