"""The benchmark's workloads: what one pass does, and its correctness check.

Each workload is a closed loop with one client: a pass runs its operations
one after another, each starting when the previous one has finished.
Operations call the program's public functions; the spans around those calls
name the layer each call enters.
"""

from __future__ import annotations

import datetime as dt
import time
from dataclasses import dataclass, field
from pathlib import Path

from check import check_catalog_op, check_merge, digest, duck_views, snapshot
from gen import CATALOG_SF, MERGED, REFRESH_CYCLES, REFRESH_DAYS, REFRESH_TABLES, REFRESH_UPDATES
from spans import Tracer

# The relational headline queries: scan, shuffle, AQE coalescing and the
# join / aggregate / window operators.
OLAP_QUERIES = [
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
]

# The two Arrow-boundary text operators (mapInPandas): Python worker start,
# Arrow batches out and back. The similarity family (1.3-8 s per query even
# at sf 0.01) does not fit the run budget next to these.
ARROW_QUERIES = ["enrich_sentiment_stub", "text_compression_ratio"]


@dataclass
class OpResult:
    name: str
    seconds: float
    ok: bool


@dataclass
class Context:
    spark: object
    tracer: Tracer
    log: callable
    counters: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_op(ctx: Context, name: str, fn) -> OpResult:
    """Run ``fn`` as one operation: wall time, span, and failure capture."""
    t0 = time.perf_counter()
    with ctx.tracer.span("op"):
        try:
            fn()
            ok = True
        except Exception as exc:  # one failing op must not end the run
            ctx.log(f"op {name} failed: {type(exc).__name__}: {exc}")
            ok = False
    return OpResult(name, time.perf_counter() - t0, ok)


class CatalogWorkload:
    """Catalog queries into the noop sink, in list order. The order is the
    same for every seed (only the data varies) so that runs on different
    seeds time the same sequence."""

    def __init__(self, queries: list[str]):
        self.queries = queries
        self.data_dir: Path | None = None

    def generate(self, seed: int, work: Path) -> dict:
        from gen import catalog_tables

        self.data_dir = work / "catalog"
        return catalog_tables(seed, self.data_dir, CATALOG_SF)

    def register(self, ctx: Context) -> None:
        from etl_for_dumdums_spark.catalog import EXTRA_QUERIES, QUERIES, load_all

        with ctx.tracer.span("catalog.register"):
            load_all()
        self.fns = {n: QUERIES.get(n) or EXTRA_QUERIES[n] for n in self.queries}

    def warmup(self, ctx: Context) -> None:
        # the pass's cheapest query: a cold JVM spends seconds on its first
        # job whatever it is, and a set-up is paid twice per run
        _noop(self.fns["filter_multi_dim"](ctx.spark, str(self.data_dir)))

    def check(self, ctx: Context) -> list[str]:
        """Every query once against its DuckDB oracle. The check is not timed,
        so three queries run at once on the session (most are one-task jobs
        after AQE coalescing) while the oracles run in another thread."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb

        from etl_for_dumdums_spark.catalog import EXTRA_ORACLE, ORACLE, TABLE_NAMES

        failures = []
        self.checked = len(self.queries)
        con = duckdb.connect()
        duck_views(con, self.data_dir, TABLE_NAMES)
        cur = con.cursor()

        def oracle(sql):
            res = cur.execute(sql)
            return [d[0] for d in res.description], res.fetchall()

        def spark_rows(n):
            df = self.fns[n](ctx.spark, str(self.data_dir))
            return df, df.collect()

        sqls = {n: ORACLE.get(n, EXTRA_ORACLE.get(n)) for n in self.queries}
        try:
            with ThreadPoolExecutor(1) as duck_pool, ThreadPoolExecutor(3) as spark_pool:
                expected = {n: duck_pool.submit(oracle, sql) for n, sql in sqls.items() if sql}
                got = {n: spark_pool.submit(spark_rows, n) for n in self.queries}
                for n in self.queries:
                    try:
                        df, rows = got[n].result()
                        fut = expected.get(n)
                        why = check_catalog_op(df, rows, fut.result() if fut else None)
                    except Exception as exc:
                        why = f"{type(exc).__name__}: {exc}"
                    if why:
                        failures.append(f"{n}: {why}")
        finally:
            cur.close()
            con.close()
            ctx.spark.catalog.clearCache()
        return failures

    def run_pass(self, ctx: Context, index: int) -> list[OpResult]:
        out = []
        for n in self.queries:

            def op(n=n):
                with ctx.tracer.span("catalog.build"):
                    df = self.fns[n](ctx.spark, str(self.data_dir))
                with ctx.tracer.span("catalog.action"):
                    _noop(df)

            out.append(timed_op(ctx, n, op))
            ctx.spark.catalog.clearCache()
        return out


def storage_bytes(spark) -> int:
    """Bytes of cached or checkpointed RDD blocks the session still holds."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    files = [p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]
    return sum(p.stat().st_size for p in files), sum(p.suffix == ".parquet" for p in files)


# model families forced after each DAG build, in this order
FAMILIES = {
    "staging": [
        "stg_stocks_prices",
        "stg_oura_sleep",
        "stg_oura_daily_readiness",
        "stg_oura_daily_activity",
        "stg_oura_sleep_sessions",
    ],
    "stocks": ["stg_prices", "fct_stock_prices", "fct_sector_performance"],
    "oura": ["stg_daily_activity", "fct_oura_daily"],
}
PINNED_MARTS = ["fct_stock_prices", "fct_sector_performance", "fct_oura_daily"]
_NOW = dt.datetime(2024, 3, 15, 12, 0, 0)
_TICKERS = ["AAA", "BBB", "CCC", "DDD", "EEE"]


class RefreshWorkload:
    """The write path and the nightly model build: per cycle, MERGE a seeded
    batch into each merged raw table, build and force the model DAG, read
    marts through the cached loaders, post-process them for the dashboard
    and run the data-quality checks."""

    def generate(self, seed: int, work: Path) -> dict:
        from gen import refresh_tables

        self.dir = work / "refresh"
        rows = refresh_tables(seed, self.dir, REFRESH_DAYS, REFRESH_CYCLES, REFRESH_UPDATES)
        self.raw_paths = {n: str(self.dir / "raw" / n) for n in REFRESH_TABLES}
        self.mart_dir = str(self.dir / "marts")
        return rows

    def register(self, ctx: Context) -> None:
        from etl_for_dumdums_spark.schema import PRIMARY_KEYS

        self.keys = {n: PRIMARY_KEYS[raw] for n, raw in REFRESH_TABLES.items()}
        ctx.counters["models_per_pass"] = sum(len(m) for m in FAMILIES.values())
        self.loaders = self._loaders()

    def stored_bytes_per_row(self) -> float:
        """On-disk bytes of the raw tables and the table marts per live row."""
        import pyarrow.parquet as pq

        dirs = [Path(p) for p in self.raw_paths.values()] + [Path(self.mart_dir) / "fct_stock_prices"]
        nbytes = sum(dir_bytes(d)[0] for d in dirs)
        rows = sum(pq.ParquetDataset(str(d)).read(columns=[]).num_rows for d in dirs)
        return nbytes / rows

    def warmup(self, ctx: Context) -> None:
        ctx.spark.read.parquet(self.raw_paths["stock_prices"]).count()

    def _loaders(self):
        """The dashboard's loaders; ``loader_calls`` counts the reads that
        reached a loader function, which is how a miss is told from a hit."""
        from etl_for_dumdums_spark.serving import LoaderRegistry

        reg = LoaderRegistry(ttl_seconds=3600.0)
        self.loader_calls = 0

        def counted(read):
            def fn(s):
                self.loader_calls += 1
                return read(s)

            return fn

        reg.loader("prices")(counted(lambda s: s.read.parquet(f"{self.mart_dir}/fct_stock_prices")))
        reg.loader("sectors")(counted(lambda s: s.table("fct_sector_performance")))
        return reg

    def _suites(self):
        from etl_for_dumdums_spark import checks as C

        prices = (
            C.CheckSuite()
            .add(C.not_null, "ticker")
            .add(C.accepted_values, "ma_trend", ["uptrend", "downtrend"])
        )
        return {"prices": prices, "sectors": C.CheckSuite().add(C.unique, "sector")}

    def _build(self, ctx: Context):
        from etl_for_dumdums_spark.models.full_dag import build_full_dag

        with ctx.tracer.span("runner.build"):
            reg = build_full_dag(self.raw_paths, _NOW, mart_dir=self.mart_dir)
            return reg.build(ctx.spark)

    def check(self, ctx: Context) -> list[str]:
        """Cycle 0, whose batch does not depend on the seed: its merges
        against DuckDB, then the marts it built against the pins."""
        import json

        import duckdb

        pins = json.loads((Path(__file__).parent / "pins.json").read_text())
        failures = []
        self.checked = len(PINNED_MARTS) + len(MERGED)
        con = duckdb.connect()
        try:
            before = {n: snapshot(con, Path(self.raw_paths[n])) for n in MERGED}
            ops = self.run_cycle(ctx, 0)
            failures += [f"{o.name}: raised" for o in ops if not o.ok]
            for n, snap in before.items():
                why = check_merge(
                    con, snap, self.dir / "batch" / "0" / f"{n}.parquet", Path(self.raw_paths[n]), self.keys[n]
                )
                if why:
                    failures.append(f"merge {n}: {why}")
        finally:
            con.close()
        self.digests = {m: list(digest(self.built[m])) for m in PINNED_MARTS}
        for mart, got in self.digests.items():
            if got != pins.get(mart):
                failures.append(f"{mart}: rows/digest {got} vs pinned {pins.get(mart)}")
        return failures

    def run_pass(self, ctx: Context, index: int) -> list[OpResult]:
        return self.run_cycle(ctx, 1 + index % (REFRESH_CYCLES - 1))

    def run_cycle(self, ctx: Context, cycle: int) -> list[OpResult]:
        from etl_for_dumdums_spark import dashboard
        from etl_for_dumdums_spark.io import merge_table
        from pyspark.sql import functions as F

        spark = ctx.spark
        c = ctx.counters
        out = []
        for name in MERGED:
            batch = self.dir / "batch" / str(cycle) / f"{name}.parquet"

            def merge(name=name, batch=batch):
                with ctx.tracer.span("io.merge"):
                    merge_table(spark, spark.read.parquet(str(batch)), self.raw_paths[name], self.keys[name])

            r = timed_op(ctx, f"merge:{name}", merge)
            out.append(r)
            if ctx.tracer.enabled:
                nbytes, nfiles = dir_bytes(Path(self.raw_paths[name]))
                import pyarrow.parquet as pq

                c.setdefault("merge", []).append(
                    (name, r.seconds, pq.ParquetFile(str(batch)).metadata.num_rows, batch.stat().st_size, nbytes, nfiles)
                )

        built = self.built = {}
        out.append(timed_op(ctx, "dag.build", lambda: built.update(self._build(ctx))))
        for family, models in FAMILIES.items():

            def force(models=models, family=family):
                with ctx.tracer.span(f"models.force.{family}"):
                    for m in models:
                        _noop(built[m])

            out.append(timed_op(ctx, f"force:{family}", force))

        loaders = self.loaders
        loaders.invalidate()
        frames = {}
        for name in ("prices", "sectors"):
            for kind in ("miss", "hit"):

                def load(name=name, kind=kind):
                    calls = self.loader_calls
                    with ctx.tracer.span(f"serving.{kind}"):
                        df = loaders.load(spark, name)
                        df.count()
                    hit = self.loader_calls == calls
                    c.setdefault("serving", []).append((kind, hit))
                    frames[name] = df
                    if hit != (kind == "hit"):
                        got = "hit" if hit else "miss"
                        raise AssertionError(f"{name}: expected a {kind}, got a {got}")

                out.append(timed_op(ctx, f"serving.{kind}:{name}", load))

        posts = {
            "pivot": lambda: dashboard.pivot_with_margins(
                frames["prices"], "sector", "ticker", "volume", _TICKERS
            ),
            "autocorrelation": lambda: dashboard.autocorrelation(
                frames["prices"].filter((F.col("ticker") == "AAA") & F.col("close_price").isNotNull()),
                "trade_date",
                "close_price",
                max_lag=3,
            ),
            "normalize": lambda: dashboard.normalize_to_first(
                frames["prices"].filter(F.col("close_price").isNotNull()),
                "ticker",
                "trade_date",
                "close_price",
            ),
        }
        for name, post in posts.items():

            def run_post(post=post):
                with ctx.tracer.span("dashboard.post"):
                    _noop(post())

            out.append(timed_op(ctx, f"dashboard:{name}", run_post))

        suites = self._suites()

        def run_checks():
            for name, suite in suites.items():
                with ctx.tracer.span("checks.run"):
                    results = suite.run(frames[name])
                bad = [r for r in results if not r.passed]
                if bad:
                    raise AssertionError(f"{name}: {bad}")

        out.append(timed_op(ctx, "checks", run_checks))
        return out


WORKLOADS = {
    "catalog_sf01": lambda: CatalogWorkload(OLAP_QUERIES + ARROW_QUERIES),
    "refresh": RefreshWorkload,
}
