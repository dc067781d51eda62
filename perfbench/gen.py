"""Seeded input generator for the benchmark.

Every input the benchmark feeds the engine comes from here, as parquet files
under one output directory; the program under test receives only paths.
The same seed gives byte-identical files.

* ``catalog_tables`` writes the ten catalog tables (``region`` ...
  ``embeddings``) with the column types and value domains of the catalog's
  test data at a given scale factor (sf 0.1 = 600k ``lineitem`` rows).
  Row order is permuted by the seed.
* ``refresh_tables`` writes the raw tables of the stocks and oura model
  families (fixed content, so the marts built from them can be pinned) plus
  seeded upsert batches, one per table per refresh cycle.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SF = 0.1  # the catalog workload's scale factor

# row counts at sf 1; every fact and dimension scales linearly
_SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _day_ts(rng: np.random.Generator, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_us(lo) + days * _DAY_US, pa.timestamp("us"))


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path))


def _permuted(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; about 5% are one-word edits of an earlier
    document tagged ``dup``, so the near-duplicate operators find pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def catalog_tables(seed: int, out: Path, sf: float) -> dict[str, int]:
    """Write the ten catalog tables as ``out/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(int(v * sf), 1) for k, v in _SF1_ROWS.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(rng, _SEGMENTS, c),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": pa.array(
                [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, _PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000, 500_000, o),
            "o_orderdate": _day_ts(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), o),
            "o_orderpriority": _pick(rng, _PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    order_keys = rng.integers(0, o, li)
    # line numbers restart per order, as in TPC-H
    sorted_keys = np.sort(order_keys)
    first = np.searchsorted(sorted_keys, sorted_keys, side="left")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(sorted_keys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array((np.arange(li) - first + 1).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": _day_ts(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), li),
        }
    )
    e = n["events"]
    month_us = 30 * _DAY_US
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(
                _us(dt.datetime(2024, 1, 1)) + np.sort(rng.integers(0, month_us, e)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, table in tables.items():
        _write(_permuted(rng, table), out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------- refresh

REFRESH_TABLES = {
    # raw key in models.full_dag -> schema.RAW_SCHEMAS key
    "stock_prices": "stocks.raw_prices",
    "oura_sleep": "oura.raw_sleep",
    "oura_readiness": "oura.raw_daily_readiness",
    "oura_activity": "oura.raw_daily_activity",
    "oura_sessions": "oura.raw_sleep_sessions",
}
MERGED = ["stock_prices", "oura_sleep", "oura_readiness"]  # upserted each cycle
_TICKERS = [
    ("AAA", "Technology"),
    ("BBB", "Technology"),
    ("CCC", "Healthcare"),
    ("DDD", "Healthcare"),
    ("EEE", "Energy"),
]
_SLEEP_C = ["deep_sleep", "efficiency", "latency", "rem_sleep", "restfulness", "timing", "total_sleep"]
_READY_C = [
    "activity_balance",
    "body_temperature",
    "hrv_balance",
    "previous_day_activity",
    "previous_night",
    "recovery_index",
    "resting_heart_rate",
    "sleep_balance",
]
_ACT_C = [
    "meet_daily_targets",
    "move_every_hour",
    "recovery_time",
    "stay_active",
    "training_frequency",
    "training_volume",
]
_START = dt.date(2018, 1, 1)
# refresh inputs: days of history in the base tables, upsert batches, and
# updated rows per batch
REFRESH_DAYS, REFRESH_CYCLES, REFRESH_UPDATES = 1200, 24, 50


def _arrow_schema(raw_key: str) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    from etl_for_dumdums_spark.schema import RAW_SCHEMAS

    return to_arrow_schema(RAW_SCHEMAS[raw_key])


def _trading_days(first: int, count: int) -> list[dt.date]:
    """``count`` weekdays starting at the ``first``-th weekday after _START."""
    days, d, seen = [], _START, 0
    while len(days) < count:
        if d.weekday() < 5:
            if seen >= first:
                days.append(d)
            seen += 1
        d += dt.timedelta(days=1)
    return days


def _stock_rows(rng, days: list[dt.date], price: dict[str, float]) -> dict[str, list]:
    cols: dict[str, list] = {k: [] for k in (
        "id", "ticker", "sector", "date", "open", "high", "low", "close",
        "adj_close", "volume", "fetched_at")}
    fetched = dt.datetime(2024, 6, 1, 5, tzinfo=dt.timezone.utc)
    for ticker, sector in _TICKERS:
        for day in days:
            p = price[ticker]
            drift = rng.uniform(-0.04, 0.042)
            drift = -abs(drift) if p > 5000 else abs(drift) if p < 5 else drift
            o, cl = p * (1 + rng.uniform(-0.01, 0.01)), p * (1 + drift)
            cols["id"].append(f"{ticker}_{day.isoformat()}")
            cols["ticker"].append(ticker)
            cols["sector"].append(sector)
            cols["date"].append(day)
            cols["open"].append(float(round(o)))
            cols["high"].append(float(round(max(o, cl) * (1 + rng.uniform(0, 0.01)))))
            cols["low"].append(float(round(min(o, cl) * (1 - rng.uniform(0, 0.01)))))
            cols["close"].append(None if rng.random() < 0.01 else float(round(cl)))
            cols["adj_close"].append(float(round(cl)))
            cols["volume"].append(int(rng.integers(1_000_000, 80_000_000)))
            cols["fetched_at"].append(fetched)
            price[ticker] = cl
    return cols


def _daily_rows(rng, kind: str, day_idx: list[int]) -> dict[str, list]:
    """One oura row per day index, ``kind`` in sleep / readiness / activity."""
    prefix = {"sleep": "sl", "readiness": "rd", "activity": "ac"}[kind]
    contrib = {"sleep": _SLEEP_C, "readiness": _READY_C, "activity": _ACT_C}[kind]
    n = len(day_idx)
    cols: dict[str, list] = {
        "id": [f"{prefix}{i}" for i in day_idx],
        "day": [_START + dt.timedelta(days=i) for i in day_idx],
        "score": rng.integers(40, 101, n).tolist(),
    }
    if kind == "readiness":
        cols["temperature_deviation"] = np.round(rng.uniform(-1.5, 1.5, n), 2).tolist()
    if kind == "activity":
        for name, lo, hi in (
            ("active_calories", 100, 900),
            ("total_calories", 1800, 3200),
            ("steps", 1000, 20000),
            ("equivalent_walking_distance", 1000, 15000),
            ("high_activity_time", 0, 3600),
            ("medium_activity_time", 0, 7200),
            ("low_activity_time", 0, 20000),
            ("sedentary_time", 10000, 40000),
            ("resting_time", 20000, 40000),
        ):
            cols[name] = rng.integers(lo, hi + 1, n).tolist()
    for c in contrib:
        cols[f"contributor_{c}"] = rng.integers(40, 101, n).tolist()
    return cols


def _session_rows(rng, n_days: int) -> dict[str, list]:
    rows: list[tuple] = []
    for i in range(n_days):
        day = _START + dt.timedelta(days=i)
        for j, stype in enumerate(["long_sleep"] + (["nap"] if rng.random() < 0.3 else [])):
            if rng.random() < 0.95:
                rows.append((f"ss{i}_{j}", day, stype))
    n = len(rows)
    utc = dt.timezone.utc
    cols: dict[str, list] = {
        "id": [r[0] for r in rows],
        "day": [r[1] for r in rows],
        "bedtime_start": [dt.datetime.combine(r[1], dt.time(23, 0), utc) for r in rows],
        "bedtime_end": [
            dt.datetime.combine(r[1] + dt.timedelta(days=1), dt.time(7, 0), utc) for r in rows
        ],
        "sleep_type": [r[2] for r in rows],
    }
    for name, lo, hi in (
        ("total_sleep_duration_seconds", 1800, 30000),
        ("time_in_bed_seconds", 20000, 34000),
        ("awake_time_seconds", 600, 4000),
        ("light_sleep_duration_seconds", 8000, 18000),
        ("deep_sleep_duration_seconds", 2000, 8000),
        ("rem_sleep_duration_seconds", 2000, 8000),
        ("latency_seconds", 60, 1800),
        ("efficiency", 60, 99),
    ):
        cols[name] = rng.integers(lo, hi + 1, n).tolist()
    cols["average_heart_rate"] = rng.integers(48, 71, n).astype(float).tolist()
    cols["lowest_heart_rate"] = rng.integers(40, 61, n).tolist()
    cols["average_hrv"] = rng.integers(20, 91, n).tolist()
    cols["restless_periods"] = rng.integers(0, 41, n).tolist()
    cols["average_breath"] = rng.integers(12, 19, n).astype(float).tolist()
    return cols


def _table(cols: dict[str, list], raw_key: str) -> pa.Table:
    schema = _arrow_schema(raw_key)
    return pa.table({f.name: pa.array(cols[f.name], f.type) for f in schema}, schema=schema)


def refresh_tables(
    seed: int, out: Path, n_days: int, n_cycles: int, n_updates: int
) -> dict[str, int]:
    """Write the base raw tables to ``out/raw/<name>/part-0.parquet`` and, per
    cycle c, one upsert batch per merged table to
    ``out/batch/<c>/<name>.parquet``: ``n_updates`` rows that replace
    existing keys with new values plus one new day of inserts. The base
    tables do not depend on the seed; the batches do."""
    base = np.random.default_rng(20240315)
    price = {t: float(base.uniform(50, 400)) for t, _ in _TICKERS}
    days = _trading_days(0, n_days)
    keep = lambda p: [i for i in range(n_days) if base.random() < p]  # noqa: E731
    raw = {
        "stock_prices": _stock_rows(base, days, price),
        "oura_sleep": _daily_rows(base, "sleep", keep(0.9)),
        "oura_readiness": _daily_rows(base, "readiness", keep(0.85)),
        "oura_activity": _daily_rows(base, "activity", list(range(n_days))),
        "oura_sessions": _session_rows(base, n_days),
    }
    rows = {}
    for name, cols in raw.items():
        table = _table(cols, REFRESH_TABLES[name])
        _write(table, out / "raw" / name / "part-0.parquet")
        rows[name] = table.num_rows

    seeded = np.random.default_rng([seed, 2])
    for cycle in range(n_cycles):
        # cycle 0 is the checked cycle: its batch is fixed so that the marts
        # it produces can be pinned
        rng = np.random.default_rng(0) if cycle == 0 else seeded
        new_day = n_days + cycle
        for name in MERGED:
            ids = raw[name]["id"]
            upd = sorted(set(rng.choice(len(ids), n_updates, replace=False).tolist()))
            if name == "stock_prices":
                upd_days = [raw[name]["date"][i] for i in upd]
                upd_tick = [raw[name]["ticker"][i] for i in upd]
                batch = _stock_rows(rng, _trading_days(new_day, 1), dict(price))
                fresh = _stock_rows(rng, sorted(set(upd_days)), dict(price))
                pos = {(t, d): k for k, (t, d) in enumerate(zip(fresh["ticker"], fresh["date"]))}
                for t, d in zip(upd_tick, upd_days):
                    k = pos[(t, d)]
                    for col in batch:
                        batch[col].append(fresh[col][k])
            else:
                kind = name.split("_")[1]
                idx = [int(ids[i][2:]) for i in upd] + [new_day]
                batch = _daily_rows(rng, kind, idx)
            _write(_table(batch, REFRESH_TABLES[name]), out / "batch" / str(cycle) / f"{name}.parquet")
    return rows


def digest(out: Path) -> str:
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for f in sorted(p for p in out.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(out)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()

