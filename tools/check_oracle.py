"""Local replica of the driver's correctness gate.

Runs every catalog query through Spark AND its DuckDB oracle SQL at a given
scale factor, then compares row count, column names, and (order-insensitive)
values. Usage:

    python tools/check_oracle.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import os
import math
import sys
import time
from datetime import date, datetime
from pathlib import Path

# per-query PASS/FAIL lines must reach a piping parent (run_oracle_chunked)
# as they happen — block buffering hid a 25-min stall inside an 8KB buffer
sys.stdout.reconfigure(line_buffering=True)

ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
# the Python workers of the mapInPandas queries import the package too, and
# they get the JVM's environment, not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import duckdb  # noqa: E402

from etl_for_dumdums_spark.catalog import (  # noqa: E402
    EXTRA_ORACLE,
    EXTRA_QUERIES,
    ORACLE,
    QUERIES,
    SAMPLED_ORACLE,
    SAMPLED_QUERIES,
    TABLE_NAMES,
    load_all,
)
from etl_for_dumdums_spark.session import get_spark  # noqa: E402


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        # canonicalize to 10 significant digits FIRST, then decide the
        # integer print — otherwise a value that is exactly integral in one
        # engine but carries sub-10-digit noise in the other formats two
        # different ways (full integer vs scientific) and false-fails even
        # though both agree at the compared precision.
        v = float(f"{v:.10g}")
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # 10 significant digits: catches half-ulp rounding divergences at the
        # catalog's 4-dp output rounding (e.g. 610.7163 vs 610.7162) while
        # still tolerating <1-ulp noise far below the rounded precision.
        return f"{v:.10g}"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            return "[" + ",".join(norm_cell(x) for x in v.tolist()) + "]"
        if isinstance(v, np.generic):
            return norm_cell(v.item())
    except ImportError:
        pass
    import decimal

    if isinstance(v, decimal.Decimal):
        return norm_cell(float(v))
    return str(v)


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return [cols[i] for i in order], out


def _spark_type_family(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.ArrayType):
        return f"list<{_spark_type_family(dt.elementType)}>"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return dt.simpleString()


def _arrow_type_family(at) -> str:
    import pyarrow.types as pt

    if pt.is_integer(at):
        return "int"
    if pt.is_floating(at):
        return "float"
    if pt.is_decimal(at):
        return f"decimal({at.precision},{at.scale})"
    if pt.is_boolean(at):
        return "bool"
    if pt.is_string(at) or pt.is_large_string(at):
        return "str"
    if pt.is_date(at):
        return "date"
    if pt.is_timestamp(at):
        return "timestamp"
    if pt.is_list(at) or pt.is_large_list(at):
        return f"list<{_arrow_type_family(at.value_type)}>"
    if pt.is_binary(at) or pt.is_large_binary(at):
        return "binary"
    return str(at)


def type_mismatches(sdf_schema, arrow_schema) -> list[str]:
    """Driver-style strict type check: the driver's value hash is type-sensitive
    (DuckDB HUGEINT/decimal128(38,0) vs Spark int64 hash-mismatches even when
    values are equal), so flag any column whose type *family* differs."""
    sfam = {f.name: _spark_type_family(f.dataType) for f in sdf_schema.fields}
    dfam = {f.name: _arrow_type_family(f.type) for f in arrow_schema}
    out = []
    for name in sfam:
        if name in dfam and sfam[name] != dfam[name]:
            out.append(f"{name}: spark={sfam[name]} duckdb={dfam[name]}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--driver-only",
        action="store_true",
        help="check only the 50 driver-facing queries (default: both tiers)",
    )
    ap.add_argument(
        "--exclude",
        default="",
        help="comma-separated query names to skip (e.g. row-scaled outputs on scale-up data)",
    )
    ap.add_argument(
        "--sampled",
        action="store_true",
        help="check the deterministic key-sampled at-scale tier "
        "(catalog/sampled.py) instead of the full catalog",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    load_all()
    if args.sampled:
        queries, oracle = dict(SAMPLED_QUERIES), dict(SAMPLED_ORACLE)
    elif args.driver_only:
        queries, oracle = dict(QUERIES), dict(ORACLE)
    else:
        queries = {**QUERIES, **EXTRA_QUERIES}
        oracle = {**ORACLE, **EXTRA_ORACLE}
    names = args.names or sorted(queries)
    excluded = {n for n in args.exclude.split(",") if n}
    names = [n for n in names if n not in excluded]
    spark = get_spark("oracle-check")

    def make_con():
        c = duckdb.connect()
        # bound the oracle side so a giant window/aggregation on a scale-up
        # replica spills to disk instead of taking the whole box down (a
        # fatal DuckDB OOM also invalidates the database, poisoning every
        # later query in the sweep with "Connection has already been closed")
        # 24GB, not more: the limit is ACCOUNTING headroom, not a target —
        # a long sweep accumulates buffer state toward the limit, and when a
        # query OOMs at the limit the retry's fresh pool must coexist with
        # the old one's not-yet-returned pages (no swap on this box). Spill
        # (temp_directory) keeps big windows correct at the lower ceiling.
        # resource caps are env-tunable so deliberate parallel half-sweeps
        # can split the box's budget (e.g. two runners at 16GB/15GiB each)
        c.execute(f"SET memory_limit='{os.environ.get('SPARK_GRAFT_DUCK_MEM', '24GB')}'")
        # per-PROCESS spill dir: DuckDB names its temp files generically
        # (duckdb_temp_storage-N.tmp), so two processes sharing a dir can
        # overwrite each other's spill — r7's "Could not read enough bytes"
        # corruption on join_self_adjacent was two concurrent sweeps
        # sharing /tmp/duck_spill
        tmp = os.environ.get("SPARK_GRAFT_DUCK_TMP", "/tmp/duck_spill")
        tmp = f"{tmp}.{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        c.execute(f"SET temp_directory='{tmp}'")
        # hard cap on spill: r7's sweep filled the whole disk with DuckDB
        # temp files, which then killed *Spark's* shuffle spills in the
        # concurrently running queries (join_skew_salted, prefix_jaccard).
        # 30GiB leaves ~half the box's free space for Spark's own /tmp use.
        c.execute(
            "SET max_temp_directory_size="
            f"'{os.environ.get('SPARK_GRAFT_DUCK_SPILL', '30GiB')}'"
        )
        for tname in TABLE_NAMES:
            # driver testdata is one file per table; Spark-written scale-up
            # data (tools/make_scale_data.py) is a directory of parts — glob
            tpath = f"{args.sf}/{tname}.parquet"
            src = f"{tpath}/*.parquet" if os.path.isdir(tpath) else tpath
            c.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{src}')")
        return c

    def fresh_con(old=None):
        """Close + rebuild the oracle connection, retrying with backoff:
        under transient box-wide memory pressure even duckdb.connect()/view
        creation can OOM, and an escaped exception there used to abort the
        whole sweep (r5: one 100x query under a concurrent pytest run
        killed the remaining ~120 queries)."""
        if old is not None:
            try:
                old.close()
            except Exception:
                pass
        import gc

        gc.collect()  # drop lingering result/relation refs so the old
        # database's buffer pool is actually destroyed before the new one
        last = None
        for wait in (0, 15, 60):
            if wait:
                print(f"NOTE: oracle connection rebuild failed; retrying in {wait}s")
                time.sleep(wait)
            try:
                return make_con()
            except Exception as e:  # pragma: no cover - only under box OOM
                last = e
        raise last

    con = make_con()

    n_pass = n_fail = n_skip = 0
    for name in names:
        fn = queries[name]
        t0 = time.time()
        try:
            sdf = fn(spark, args.sf)
            scols = sdf.columns
            sschema = sdf.schema  # capture pre-collect: usable after spark.stop()
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"SKIP {name}: no oracle (rows-only: {len(srows)} rows) [{time.time()-t0:.1f}s]")
            n_skip += 1
            continue
        if os.environ.get("SPARK_GRAFT_STOP_SPARK_BEFORE_ORACLE"):
            # single-query-per-process mode for the biggest oracles: stop
            # Spark so its shuffle/blockmgr disk (tens of GB for the 900M-
            # group queries) is freed before DuckDB starts spilling — at
            # the 1000x replica join_cooccurrence_pairs needs ~46GB of
            # oracle spill and the two could not fit the disk together.
            # Only sane with one query per process: later queries would
            # find the session dead.
            spark.stop()
        try:
            try:
                atab = con.execute(oracle[name]).arrow()
            except duckdb.OutOfMemoryException:
                # long sweeps accumulate buffer-pool state on the connection
                # (~180 scale-up oracles in, even 16KB allocations start
                # failing under the memory_limit) — rebuild and retry once
                # before declaring a failure
                con = fresh_con(con)
                atab = con.execute(oracle[name]).arrow()
            dcols = atab.column_names
            drows = [tuple(d[c] for c in dcols) for d in atab.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            n_fail += 1
            # a fatal error (OOM) invalidates the whole DuckDB database, not
            # just the statement — rebuild (with backoff) so later queries
            # aren't poisoned and a rebuild-time OOM can't abort the sweep
            con = fresh_con(con)
            continue

        ok = True
        msgs = []
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"schema: spark={sorted(scols)} duckdb={sorted(dcols)}")
        else:
            tmis = type_mismatches(sschema, atab.schema)
            if tmis:
                ok = False
                msgs.append("type-strict: " + "; ".join(tmis))
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount: spark={len(srows)} duckdb={len(drows)}")
        if ok:
            _, sn = normalize(scols, srows)
            _, dn = normalize(dcols, drows)
            if sn != dn:
                ok = False
                diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
                msgs.append(f"values differ; first diffs (spark vs duckdb): {diffs}")
        if ok:
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name}: " + " | ".join(msgs))
            n_fail += 1
        # drop caches the query pinned (sketch_histogram_quantile's
        # histogram, LSH candidate sets, …): a full-catalog sweep would
        # otherwise accumulate dozens of cached RDDs and lean on LRU
        # eviction under memory pressure (r3 advice finding #4)
        if not os.environ.get("SPARK_GRAFT_STOP_SPARK_BEFORE_ORACLE"):
            spark.catalog.clearCache()

    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only of {len(names)}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
