"""Per-query timing + formatted-plan dump for the optimization rounds.

Times every driver-facing query (plus the bench headline set, which
includes a few extra-tier members) with the noop sink (guide §1.4),
best-of-N (default 2), cache cleared between queries, and dumps
`.explain("formatted")` for each into plans/<tag>/<name>_<suffix>.txt.
Each timed run's count of generated-code compilations is recorded too
("compiles": one count per run). The first run of a query compiles its
classes; a warm run that still compiles means the query puts a per-run value
(a literal, an id) into generated code and pays for it on every run.

Usage:
    python tools/bench_catalog.py [--runs N] [--tag r09] [--suffix before]
                                  [--sf DIR] [--only name1,name2] [--no-plans]

Writes timings JSON to plans/<tag>/catalog_times_<suffix>.json.
"""

from __future__ import annotations

import argparse
import io
import json
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import HEADLINE  # noqa: E402
from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, load_all  # noqa: E402
from etl_for_dumdums_spark.session import get_spark  # noqa: E402


def compile_count(spark) -> int:
    """Generated-code compilations this JVM has run so far (Spark's
    CodegenMetrics; a class served from the codegen cache does not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--tag", default="r09")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--only", default="")
    ap.add_argument("--no-plans", action="store_true")
    args = ap.parse_args()

    load_all()
    spark = get_spark("bench_catalog")
    all_q = {**EXTRA_QUERIES, **QUERIES}
    names = list(QUERIES) + [n for n in HEADLINE if n not in QUERIES]
    if args.only:
        names = [n for n in args.only.split(",") if n in all_q]

    outdir = Path(__file__).resolve().parents[1] / "plans" / args.tag
    outdir.mkdir(parents=True, exist_ok=True)

    # warm the JVM + parquet footers once (mirrors bench.py)
    all_q[names[0]](spark, args.sf).count()
    spark.catalog.clearCache()

    times: dict[str, float] = {}
    spreads: dict[str, float] = {}
    compiles: dict[str, list[int]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_catalog: {name}")
        try:
            runs = []
            compiles[name] = []
            for _ in range(args.runs):
                compiled = compile_count(spark)
                t0 = time.time()
                all_q[name](spark, args.sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.time() - t0)
                compiles[name].append(compile_count(spark) - compiled)
            times[name] = round(min(runs), 3)
            spreads[name] = round(max(runs) / max(min(runs), 1e-9), 2)
            if not args.no_plans:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    all_q[name](spark, args.sf).explain("formatted")
                (outdir / f"{name}_{args.suffix}.txt").write_text(buf.getvalue())
        except Exception as exc:
            print(f"FAIL {name}: {exc}", file=sys.stderr)
            times[name] = -1.0
        spark.catalog.clearCache()
        print(f"{name}: {times[name]}", file=sys.stderr)

    payload = {
        "sf": args.sf,
        "runs": args.runs,
        "total_sec": round(sum(v for v in times.values() if v >= 0), 3),
        "queries": times,
        "spread": spreads,
        "compiles": compiles,
    }
    (outdir / f"catalog_times_{args.suffix}.json").write_text(
        json.dumps(payload, indent=1)
    )
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
