.PHONY: test oracle oracle-smoke oracle-all-sf bench smoke scale-data bench-scale scale-data-100 bench-scale-100 perfbench perfbench-test loc

# 10x scale-up of sf0.1 (key-offset replication) + bench on it — the
# docs/SCALING.md evidence pipeline
scale-data:
	python tools/make_scale_data.py --src /root/testdata/sf0.1 --out /tmp/sfscale10 --factor 10

bench-scale: scale-data
	SPARK_GRAFT_SF_DIR=/tmp/sfscale10 python bench.py 2>/dev/null

# 100x variant (60M lineitem rows) — the SCALE_r03.json evidence pipeline
scale-data-100:
	python tools/make_scale_data.py --src /root/testdata/sf0.1 --out /tmp/sfscale100 --factor 100

bench-scale-100: scale-data-100
	SPARK_GRAFT_SF_DIR=/tmp/sfscale100 python bench.py 2>/dev/null

# oracle parity ON the 100x dataset. dedup_prefix_jaccard stays excluded:
# its exact pair-list output is quadratic in the replication factor by
# definition — verified at 10x instead. events_sequence_pattern rejoined
# the batch in r4: the row_number()<=_SEQ_CAP pre-filter bounds both
# engines' aggregation state (the old slice-after-collect_list shape
# exhausted DuckDB's buffer pool). The per-row-output queries
# (win_lag_deltas, win_rolling_frames, scalar_*, text_chunk_tokens,
# dedup_cc_groups, join_range_interval) are verified at 100x via the
# sampled tier below instead of full-output comparison.
ORACLE_100X_EXCLUDE = win_lag_deltas,win_rolling_frames,scalar_string_ops,scalar_math_conditional,dedup_prefix_jaccard,text_chunk_tokens,dedup_cc_groups,join_range_interval
# chunked: a single-process sweep over ~180 scale-up oracles accumulates
# process memory (JVM native buffers + DuckDB pools) until KB-scale mallocs
# fail on this no-swap box; fresh-process chunks restart the lifecycle.
oracle-100x:
	python tools/run_oracle_chunked.py --sf /tmp/sfscale100 --exclude $(ORACLE_100X_EXCLUDE)

# sampled at-scale parity for the per-row-output queries: both engines
# compare on a deterministic hash-sampled key subset (the sampling rule is
# part of each sampled query's oracle SQL), so every catalog query gets
# 100x coverage by either full or sampled comparison (r3 verdict item #4).
oracle-100x-sampled:
	python tools/check_oracle.py --sf /tmp/sfscale100 --sampled

# full-catalog oracle parity ON the 1000x dataset (600M lineitem) — the
# r6 verdict item #1 pipeline: every catalog query green at 600M rows by
# full or sampled comparison. Exclusions start from the 100x list (same
# row-scaled-output rationale; all covered by the sampled tier below);
# additions must be named here with a reason. Chunks are smaller than
# 100x (25): per-process peak memory grows with the data decade.
#
# r9 additions (each value-verified at 1000x via its sampled-tier variant
# instead — catalog/sampled.py):
# - text_winnow_sketch / text_winnow_neardup: the DuckDB oracle's per-
#   character position explode is ~1.45B rows at 1000x; it died at 46GiB
#   OOM in r8 even after CTE materialization — beyond a single-node oracle.
# - join_cooccurrence_pairs: the oracle's basket pair join needs ~46GB of
#   spill at 1000x and OOMs regardless of materialization.
# - events_sequence_pattern was already sampled-only at 1000x (the full
#   oracle's serial window over 600M rows OOMs at ~94GB, ROUND4_NOTES).
ORACLE_1000X_EXCLUDE = $(ORACLE_100X_EXCLUDE),text_winnow_sketch,text_winnow_neardup,join_cooccurrence_pairs,events_sequence_pattern
oracle-1000x:
	python tools/run_oracle_chunked.py --sf /tmp/sfscale1000 \
	  --exclude $(ORACLE_1000X_EXCLUDE) --chunk-size 25

oracle-1000x-sampled:
	python tools/check_oracle.py --sf /tmp/sfscale1000 --sampled

# 1000x value spot-checks (600M lineitem): sorted-value compare with a
# memory-bounded DuckDB side (the oracle, not the engine, is the scale
# limiter there — see SCALE_r04.json). Pick names per round.
oracle-1000x-spot:
	python tools/spot_check_scale.py --sf /tmp/sfscale1000 \
	  agg_pricing_summary win_top_n_per_group join_agg_then_left \
	  events_session_native dedup_minhash_lsh
	python tools/spot_check_scale.py --sf /tmp/sfscale1000 --sampled \
	  events_sequence_pattern

test:
	python -m pytest tests/ -q

oracle:
	python tools/check_oracle.py

oracle-smoke:
	python tools/check_oracle.py --sf /root/testdata/sf0.001

# strict oracle at every driver SF (catches rounding-boundary divergences
# that only appear at larger groups)
oracle-all-sf:
	python tools/check_oracle.py --sf /root/testdata/sf0.001
	python tools/check_oracle.py --sf /root/testdata/sf0.01
	python tools/check_oracle.py --sf /root/testdata/sf0.1

bench:
	python bench.py 2>/dev/null

# the repository benchmark (perfbench/README.md): both workloads on one
# seed, untraced (end-to-end metrics) and then traced (per-layer metrics)
SEED ?= 1
perfbench:
	for w in catalog_sf01 refresh; do \
	  python3 perfbench/run.py --workload $$w --seed $(SEED) --seconds 5 --trace 0 || exit 1; \
	  python3 perfbench/run.py --workload $$w --seed $(SEED) --seconds 5 --trace 1 || exit 1; \
	done

perfbench-test:
	python -m pytest perfbench/tests -q

# the size figures a simplification reports: source and test line counts
# and the number of driver-facing, extra-tier and sampled-tier queries
loc:
	@echo "source lines: $$(find etl_for_dumdums_spark -name '*.py' -exec cat {} + | wc -l)"
	@echo "test lines:   $$(find tests -name '*.py' -exec cat {} + | wc -l)"
	@python -c "from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, SAMPLED_QUERIES, load_all; load_all(); print(f'queries: {len(QUERIES)} driver, {len(EXTRA_QUERIES)} extra, {len(SAMPLED_QUERIES)} sampled')"

smoke:
	python -c "import __spark_entry__ as e; from etl_for_dumdums_spark.session import get_spark; print(e.entry(get_spark('smoke')).count(), 'rows')"

# --- round-6 scale-evidence targets -----------------------------------------
# 1000x replica (600M lineitem, 16 GB parquet)
scale-data-1000:
	python tools/make_scale_data.py --src /root/testdata/sf0.1 --out /tmp/sfscale1000 --factor 1000

# full 16-query headline bench at 1000x with a PER-QUERY DuckDB control and
# a cold/warm page-cache split (fresh process per (query, engine); cold =
# first run after drop_caches) — the SCALE_r06.json evidence pipeline
bench-scale-1000:
	python tools/bench_scale_1000.py --sf /tmp/sfscale1000 --out /tmp/bench1000.json

# full model DAG (the `dbt build` twin) at 100x fixture scale: wall time +
# per-layer row counts; VALUE parity at the same volume comes from the
# DuckDB-parity pytest suites under the same env var
dag-scale-100:
	SPARK_GRAFT_FIXTURE_SCALE=100 python tools/dag_scale.py --out /tmp/dag_scale_100.json
	SPARK_GRAFT_FIXTURE_SCALE=100 python -m pytest tests/test_reference_marts.py \
	  tests/test_fda_models.py tests/test_join_marts.py tests/test_trends_iowa.py \
	  tests/test_final_marts.py -q
