"""Materialize an N-fold scale-up of a testdata SF directory.

Produces reference-shaped parquet at ``--out`` whose every table is the
input unioned N times with entity keys offset per replica (so key
cardinality scales with the data instead of producing N exact copies of
every entity — the realistic scaling shape for joins/dedup/windows).
Text documents get a per-replica suffix so exact-dup groups don't inflate
N-fold, and event/doc/vector ids stay unique.

Usage:
    python tools/make_scale_data.py --src /root/testdata/sf0.1 \
        --out /tmp/sfscale --factor 10
Then:
    SPARK_GRAFT_SF_DIR=/tmp/sfscale python bench.py
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from etl_for_dumdums_spark.catalog import TABLE_NAMES, Tables  # noqa: E402
from etl_for_dumdums_spark.session import get_spark  # noqa: E402

# per-table integer key columns to offset per replica (key-space grows with
# the data) — non-key attributes replicate, like rows from new entities
_OFFSET_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # region/nation: fixed dims, never scaled
}

_TEXT_SUFFIX = {"documents": "text"}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()

    spark = get_spark("make-scale-data")
    tables = Tables(spark, args.src)
    for tname in TABLE_NAMES:
        # the Tables accessor normalizes INT64 TIMESTAMP(NANOS) columns to
        # real timestamps, so the scaled dataset is directly readable
        df = getattr(tables, tname)
        keys = _OFFSET_KEYS.get(tname, [])
        if not keys or args.factor == 1:
            df.write.mode("overwrite").parquet(f"{args.out}/{tname}.parquet")
            continue
        offsets = {k: df.agg(F.max(k)).collect()[0][0] + 1 for k in keys}
        replicas = []
        for i in range(args.factor):
            rep = df
            for k in keys:
                rep = rep.withColumn(k, F.col(k) + F.lit(i * offsets[k]))
            text_col = _TEXT_SUFFIX.get(tname)
            if text_col and i > 0:
                rep = rep.withColumn(
                    text_col, F.concat(F.col(text_col), F.lit(f" replica{i}"))
                )
            replicas.append(rep)
        out = replicas[0]
        for rep in replicas[1:]:
            out = out.unionByName(rep)
        out.write.mode("overwrite").parquet(f"{args.out}/{tname}.parquet")
        print(f"{tname}: x{args.factor}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
