"""Scale probe: time a named set of catalog queries at a given sf_dir via
the noop sink, best-of-N with cache clears between queries — the method
behind SCALE_r{N}.json's 1000x section, as a reproducible tool instead of
an ad-hoc script.

Usage:
    python tools/probe_scale.py --sf /tmp/sfscale1000 --runs 2 \
        agg_pricing_summary join_agg_then_left ...
Prints one JSON line: {"sf": ..., "runs": N, "queries_sec": {...}}.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, load_all  # noqa: E402
from etl_for_dumdums_spark.session import get_spark  # noqa: E402

# the r4/r5 1000x probe set: the 16 headline queries plus the heaviest
# order-stat / behavioral consumers
DEFAULT_SET = [
    "agg_pricing_summary",
    "filter_multi_dim",
    "agg_conditional_distinct",
    "join_enrich_left",
    "join_agg_then_left",
    "win_top_n_per_group",
    "scalar_json_extract",
    "reshape_pivot",
    "stats_autocorr",
    "dedup_minhash_lsh",
    "sim_topk_cosine",
    "text_quality_score",
    "stats_ks_mannwhitney",
    "agg_gini_concentration",
    "agg_weighted_median",
    "events_session_native",
    "events_sequence_pattern",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/tmp/sfscale1000")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()
    names = args.names or DEFAULT_SET

    load_all()
    queries = {**QUERIES, **EXTRA_QUERIES}
    spark = get_spark("probe-scale")
    queries[names[0]](spark, args.sf).count()  # warm JVM + footers

    out: dict[str, float] = {}
    for name in names:
        def once() -> float:
            t0 = time.time()
            queries[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        try:
            out[name] = round(min(once() for _ in range(args.runs)), 2)
        except Exception as exc:
            print(f"probe: {name} failed: {exc}", file=sys.stderr)
            out[name] = -1.0
        spark.catalog.clearCache()
        print(f"  {name}: {out[name]}s", file=sys.stderr, flush=True)
    print(json.dumps({"sf": args.sf, "runs": args.runs, "queries_sec": out}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
