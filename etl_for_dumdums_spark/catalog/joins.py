"""Join operators (SURVEY.md §2.4 J1-J13 + semi/anti semantics).

Join-strategy notes for scale:
  * dimension tables (region/nation/supplier, inline lookups, pattern
    tables) are explicitly ``broadcast()`` — no shuffle of the fact side;
  * fact-fact joins (orders⋈lineitem) shuffle on the join key once; AQE
    handles skew splitting;
  * the cross join is bounded: |patterns| is constant, so it's a broadcast
    nested loop with linear cost in the fact rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import local_frame
from . import ROUND_DP as DP
from . import Tables, register

R = lambda c: F.round(c, DP)  # noqa: E731


# ---------------------------------------------------------------------------
# J1 — multi-hop left equi-join fact enrichment (orders→customer→nation→
# region), all dims broadcast (reference fct_issues.sql:68-72).
# ---------------------------------------------------------------------------
@register(
    "join_enrich_left",
    sql=f"""
    WITH pc AS (
      SELECT o_custkey, count(*) AS n_orders,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
      FROM orders GROUP BY o_custkey)
    SELECT r.r_name AS region_name,
           CAST(sum(pc.n_orders) AS BIGINT) AS n_orders,
           round(CAST(sum(pc.rev_cents) AS BIGINT) / 100.0, {DP}) AS total_revenue,
           count(DISTINCT c.c_custkey) AS n_customers
    FROM pc
    LEFT JOIN customer c ON pc.o_custkey = c.c_custkey
    LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY region_name
    """,
)
def join_enrich_left(spark, sf_dir):
    # Aggregate-before-join: every enrichment attribute depends only on
    # o_custkey, so orders reduce to one row per customer BEFORE any join —
    # the fact table is never shuffled row-level against customer (which
    # grows with SF and must not be broadcast). The customer join is a
    # co-partitionable key join; only the true dims (nation 25, region 5)
    # broadcast. Revenue sums in integer cents, divided once at the edge.
    t = Tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_cust = t.orders.groupBy("o_custkey").agg(
        F.count("*").alias("cust_orders"), F.sum(cents).alias("rev_cents")
    )
    return (
        per_cust.join(
            t.customer.select("c_custkey", "c_nationkey"),
            per_cust.o_custkey == F.col("c_custkey"),
            "left",
        )
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .join(F.broadcast(t.region), F.col("n_regionkey") == F.col("r_regionkey"), "left")
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.sum("cust_orders").alias("n_orders"),
            R(F.sum("rev_cents") / 100.0).alias("total_revenue"),
            F.count_distinct("c_custkey").alias("n_customers"),
        )
        .orderBy("region_name")
    )


# ---------------------------------------------------------------------------
# J2 — self-join on an adjacency (line n ⋈ line n+1 of the same order;
# reference fct_issues.sql:71 parent/child self-join).
# ---------------------------------------------------------------------------
@register(
    "join_self_adjacent",
    # the oracle avoids the 600M x 600M self-join (its hash build died
    # reading back a spill file at the r7 1000x sweep) via an exact
    # decomposition: (l_orderkey, l_linenumber) is NOT unique (up to 6 rows
    # per key in the testdata), so the join pairs every cur row with every
    # row of the l+1 group. Aggregated to (orderkey, linenumber, flag)
    # granularity with per-(orderkey, linenumber) successor-group totals
    # (tc, tsq) fetched by a RANGE 1-FOLLOWING window — no join at all:
    #   n_pairs(flag)  = sum(c * tc)
    #   sum_step(flag) = sum(c * tsq - tc * sq)
    # One group-by + one window sort, both spillable single passes. The
    # Spark side still exercises the real join.
    sql=f"""
    WITH g AS (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             count(*) AS c, sum(l_quantity) AS sq
      FROM lineitem GROUP BY 1, 2, 3),
    w AS (
      SELECT l_returnflag, c, sq,
             sum(c)  OVER nxt AS tc,
             sum(sq) OVER nxt AS tsq
      FROM g
      WINDOW nxt AS (PARTITION BY l_orderkey ORDER BY l_linenumber
                     RANGE BETWEEN 1 FOLLOWING AND 1 FOLLOWING))
    SELECT l_returnflag,
           CAST(sum(c * tc) AS BIGINT) AS n_pairs,
           round(sum(c * tsq - tc * sq) / sum(c * tc), {DP}) AS avg_qty_step
    FROM w WHERE tc IS NOT NULL
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def join_self_adjacent(spark, sf_dir):
    t = Tables(spark, sf_dir)
    cur = t.lineitem.alias("cur")
    nxt = t.lineitem.alias("nxt")
    return (
        cur.join(
            nxt,
            (F.col("cur.l_orderkey") == F.col("nxt.l_orderkey"))
            & (F.col("nxt.l_linenumber") == F.col("cur.l_linenumber") + 1),
        )
        .groupBy(F.col("cur.l_returnflag").alias("l_returnflag"))
        .agg(
            F.count("*").alias("n_pairs"),
            R(F.avg(F.col("nxt.l_quantity") - F.col("cur.l_quantity"))).alias("avg_qty_step"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# J3 — aggregate-then-left-join (PR review_stats pattern;
# reference fct_pull_requests.sql:18-36,94-97).
# ---------------------------------------------------------------------------
@register(
    "join_agg_then_left",
    sql=f"""
    WITH line_stats AS (
      SELECT l_orderkey, count(*) AS n_lines, round(sum(l_quantity), {DP}) AS total_qty
      FROM lineitem GROUP BY l_orderkey)
    SELECT o.o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(coalesce(ls.n_lines, 0)) AS BIGINT) AS total_lines,
           round(sum(coalesce(ls.total_qty, 0)), {DP}) AS total_qty,
           CAST(count_if(ls.l_orderkey IS NULL) AS BIGINT) AS n_lineless_orders
    FROM orders o
    LEFT JOIN line_stats ls ON o.o_orderkey = ls.l_orderkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
)
def join_agg_then_left(spark, sf_dir):
    t = Tables(spark, sf_dir)
    line_stats = t.lineitem.groupBy("l_orderkey").agg(
        F.count("*").alias("n_lines"), R(F.sum("l_quantity")).alias("total_qty")
    )
    return (
        t.orders.join(line_stats, t.orders.o_orderkey == line_stats.l_orderkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.coalesce(F.col("n_lines"), F.lit(0))).alias("total_lines"),
            R(F.sum(F.coalesce(F.col("total_qty"), F.lit(0.0)))).alias("total_qty"),
            F.count_if(F.col("l_orderkey").isNull()).alias("n_lineless_orders"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# J4/J5 — full outer join entity resolution across two aggregated sides
# (reference dim_users.sql:41-42, fct_reviewer_activity.sql:51-54).
# ---------------------------------------------------------------------------
@register(
    "join_full_outer",
    sql="""
    WITH cust AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
                  FROM customer GROUP BY 1),
         supp AS (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
                  FROM supplier GROUP BY 1)
    SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
           coalesce(c.n_customers, 0) AS n_customers,
           coalesce(s.n_suppliers, 0) AS n_suppliers,
           CASE WHEN c.nationkey IS NULL THEN 'supplier_only'
                WHEN s.nationkey IS NULL THEN 'customer_only'
                ELSE 'both' END AS presence
    FROM cust c FULL OUTER JOIN supp s ON c.nationkey = s.nationkey
    ORDER BY nationkey
    """,
)
def join_full_outer(spark, sf_dir):
    t = Tables(spark, sf_dir)
    cust = t.customer.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_customers")
    )
    supp = t.supplier.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count("*").alias("n_suppliers")
    )
    c, s = cust.alias("c"), supp.alias("s")
    return (
        c.join(s, F.col("c.nationkey") == F.col("s.nationkey"), "full_outer")
        .select(
            F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
            F.when(F.col("c.nationkey").isNull(), "supplier_only")
            .when(F.col("s.nationkey").isNull(), "customer_only")
            .otherwise("both")
            .alias("presence"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# J7 — cross join of a tiny pattern table against facts + rlike
# (reference fct_hn_keyword_trends.sql:67: stories × keyword regexes).
# The pattern side is broadcast; cost is linear in documents.
# ---------------------------------------------------------------------------
@register(
    "join_cross_pattern",
    sql="""
    WITH keywords(keyword, pattern) AS (
      VALUES ('spark',  '\\bspark\\b'),
             ('stream', '\\bstream\\b'),
             ('merge',  '\\bmerge\\b'),
             ('vector', '\\bvector\\b')),
    matches AS (
      SELECT k.keyword, d.doc_id, d.lang
      FROM documents d CROSS JOIN keywords k
      WHERE regexp_matches(lower(d.text), k.pattern))
    SELECT keyword, count(*) AS n_docs, count(DISTINCT lang) AS n_langs
    FROM matches GROUP BY keyword ORDER BY keyword
    """,
)
def join_cross_pattern(spark, sf_dir):
    t = Tables(spark, sf_dir)
    # The pattern table is plan-time-known (an inline literal table in the
    # reference), so expand it into literal rlike predicates: each regex
    # compiles once and stays inside codegen, instead of a column-typed
    # pattern that recompiles per row. Same cross-join semantics, one scan.
    keywords = [
        ("spark", r"\bspark\b"),
        ("stream", r"\bstream\b"),
        ("merge", r"\bmerge\b"),
        ("vector", r"\bvector\b"),
    ]
    low = F.lower(F.col("text"))
    matches = F.array(
        *[
            F.struct(F.lit(kw).alias("keyword"), low.rlike(pat).alias("matched"))
            for kw, pat in keywords
        ]
    )
    return (
        t.documents.select("lang", F.explode(matches).alias("m"))
        .filter(F.col("m.matched"))
        .groupBy(F.col("m.keyword").alias("keyword"))
        .agg(F.count("*").alias("n_docs"), F.count_distinct("lang").alias("n_langs"))
        .orderBy("keyword")
    )


# ---------------------------------------------------------------------------
# J9 — join to an inline literal lookup table (broadcast)
# (reference fct_fda_recalls_by_state.sql:18-75,154-155).
# ---------------------------------------------------------------------------
@register(
    "join_inline_lookup",
    sql=f"""
    WITH region_meta(r_regionkey, hemisphere, weight) AS (
      VALUES (0, 'south', 1.0), (1, 'north', 2.0), (2, 'north', 1.5),
             (3, 'north', 1.2), (4, 'south', 0.8))
    SELECT m.hemisphere,
           count(*) AS n_nations,
           CAST(round(sum(m.weight), {DP}) AS DOUBLE) AS total_weight
    FROM nation n
    LEFT JOIN region_meta m ON n.n_regionkey = m.r_regionkey
    GROUP BY m.hemisphere ORDER BY m.hemisphere
    """,
)
def join_inline_lookup(spark, sf_dir):
    t = Tables(spark, sf_dir)
    meta = local_frame(
        spark,
        [(0, "south", 1.0), (1, "north", 2.0), (2, "north", 1.5), (3, "north", 1.2), (4, "south", 0.8)],
        "r_regionkey bigint, hemisphere string, weight double",
    )
    return (
        t.nation.join(F.broadcast(meta), t.nation.n_regionkey == meta.r_regionkey, "left")
        .groupBy("hemisphere")
        .agg(F.count("*").alias("n_nations"), R(F.sum("weight")).alias("total_weight"))
        .orderBy("hemisphere")
    )


# ---------------------------------------------------------------------------
# J10 — argmax retrieval via value-equality join back to the fact
# (reference fct_sector_performance.sql:68-73).
# ---------------------------------------------------------------------------
@register(
    "join_argmax_value",
    sql="""
    WITH seg_max AS (
      SELECT c_mktsegment, max(c_acctbal) AS best_bal
      FROM customer GROUP BY c_mktsegment)
    SELECT m.c_mktsegment, round(m.best_bal, 2) AS best_bal, c.c_name AS best_customer
    FROM seg_max m
    JOIN customer c ON c.c_mktsegment = m.c_mktsegment AND c.c_acctbal = m.best_bal
    ORDER BY m.c_mktsegment, best_customer
    """,
)
def join_argmax_value(spark, sf_dir):
    t = Tables(spark, sf_dir)
    seg_max = t.customer.groupBy("c_mktsegment").agg(F.max("c_acctbal").alias("best_bal"))
    c = t.customer.alias("c")
    m = seg_max.alias("m")
    return (
        m.join(
            c,
            (F.col("c.c_mktsegment") == F.col("m.c_mktsegment"))
            & (F.col("c.c_acctbal") == F.col("m.best_bal")),
        )
        .select(
            F.col("m.c_mktsegment").alias("c_mktsegment"),
            F.round(F.col("m.best_bal"), 2).alias("best_bal"),
            F.col("c.c_name").alias("best_customer"),
        )
        .orderBy("c_mktsegment", "best_customer")
    )


# ---------------------------------------------------------------------------
# J11 — lateral explode of a derived array (correlated UNNEST)
# (reference fct_fda_events_by_reaction.sql:18-28).
# ---------------------------------------------------------------------------
@register(
    "join_explode_words",
    sql=f"""
    SELECT word, count(*) AS n_parts, round(avg(p_retailprice), {DP}) AS avg_price
    FROM (SELECT unnest(string_split(p_name, ' ')) AS word, p_retailprice FROM part)
    GROUP BY word ORDER BY word
    """,
)
def join_explode_words(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return (
        t.part.select(
            F.explode(F.split(F.col("p_name"), " ")).alias("word"), "p_retailprice"
        )
        .groupBy("word")
        .agg(F.count("*").alias("n_parts"), R(F.avg("p_retailprice")).alias("avg_price"))
        .orderBy("word")
    )


# ---------------------------------------------------------------------------
# F4/J6 — semi + anti join semantics composed via full outer of both counts
# (reference stg_fda__recalls.sql:14-23 IN-subquery;
#  fct_reviewer_activity.sql:117-120 exclusion filter).
# ---------------------------------------------------------------------------
@register(
    "join_semi_anti",
    sql="""
    WITH active AS (
      SELECT c.c_nationkey, count(*) AS n_with_orders
      FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY 1),
    inactive AS (
      SELECT c.c_nationkey, count(*) AS n_without_orders
      FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY 1)
    SELECT coalesce(a.c_nationkey, i.c_nationkey) AS nationkey,
           coalesce(a.n_with_orders, 0)    AS n_with_orders,
           coalesce(i.n_without_orders, 0) AS n_without_orders
    FROM active a FULL OUTER JOIN inactive i ON a.c_nationkey = i.c_nationkey
    ORDER BY nationkey
    """,
)
def join_semi_anti(spark, sf_dir):
    t = Tables(spark, sf_dir)
    okeys = t.orders.select("o_custkey")
    active = (
        t.customer.join(okeys, t.customer.c_custkey == okeys.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_with_orders"))
        .alias("a")
    )
    inactive = (
        t.customer.join(okeys, t.customer.c_custkey == okeys.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_without_orders"))
        .alias("i")
    )
    return (
        active.join(inactive, F.col("a.c_nationkey") == F.col("i.c_nationkey"), "full_outer")
        .select(
            F.coalesce(F.col("a.c_nationkey"), F.col("i.c_nationkey")).alias("nationkey"),
            F.coalesce(F.col("n_with_orders"), F.lit(0)).alias("n_with_orders"),
            F.coalesce(F.col("n_without_orders"), F.lit(0)).alias("n_without_orders"),
        )
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Range/interval join (beyond-reference — the survey notes the reference has
# NO range/as-of/interval joins, §2.4 "No range/as-of/interval joins exist").
# Point-in-window self-join: for every event, count same-type events in the
# following hour.
#
# Scale design (100 TB): a naive range join is an all-pairs nested loop.
# The scale-safe shape used here buckets time into window-sized slots and
# turns the range predicate into an EQUI-join on (type, bucket) plus a
# residual filter: the left side explodes into the (exactly 2) buckets its
# window overlaps, the right side keeps its own bucket, so Catalyst plans a
# plain shuffled hash/sort-merge join — cost is sum over buckets of
# |left|×|right| within a bucket, linear in data for bounded event density,
# never O(n²). A hot event_type would additionally be salted
# (operators/skew.py); the plan test pins "no cartesian/BNLJ".
# ---------------------------------------------------------------------------
_RANGE_BUCKET_SEC = 3600


def _range_interval_sql(where: str = "") -> str:
    # The per-event follower count over (ts, ts+1h] is an O(n log n)
    # RANGE-frame window, not an O(n * followers) inequality self-join:
    # the join form ground >1h at the 1000x-sampled replica (~2.3B match
    # rows for DuckDB to stream) while the window form sorts once per
    # type. ts is microsecond-precision, so the 1-microsecond-FOLLOWING
    # lower bound states the strict e2.ts > e1.ts exactly (equal-ts peers
    # excluded, just like the join's > predicate). Pin-tested equivalent
    # to the join form in tests/test_advice_r9.py.
    return f"""
    WITH e AS (SELECT event_id, event_type, ts FROM events{where}),
    f AS (
      SELECT event_id, event_type,
             count(*) OVER (PARTITION BY event_type ORDER BY ts
                            RANGE BETWEEN INTERVAL 1 MICROSECOND FOLLOWING
                                      AND INTERVAL 1 HOUR FOLLOWING) AS n_follow
      FROM e)
    SELECT event_type, count(*) AS n_events,
           round(avg(n_follow), {DP}) AS avg_follows,
           max(n_follow) AS max_follows,
           CAST(sum(n_follow) AS BIGINT) AS total_pairs
    FROM f GROUP BY event_type ORDER BY event_type
    """


@register("join_range_interval", sql=_range_interval_sql(), extra=True)
def join_range_interval(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return _range_interval(t.events)


def _range_interval(events):
    """Bucketed range follower-count over ``events`` — factored out so the
    sampled 100x tier (catalog/sampled.py) can run the identical plan on a
    deterministic event subset.

    r9 optimization: the per-event follower count never needs the pair set
    materialized. The old form equi-joined on (type, bucket) and streamed
    every (event, follower) match row into a groupBy — O(sum over buckets
    of within-bucket pairs), ~50M rows at sf0.1 (15.4 s) and the dominant
    term of the 682 s 1000x-sampled run. Now each event contributes TWO
    bucket rows — its home bucket and, as a lookahead copy, the preceding
    bucket — and a count() over a RANGE frame of (ts+1us, ts+1h] in
    microseconds within (event_type, bucket) counts its followers
    directly: every follower lies in the event's bucket (a home row here)
    or the next one (a lookahead row here), each exactly once, and the
    1-microsecond lower bound states the strict nts > ts at the data's
    microsecond precision (the same argument as the r9 oracle rewrite,
    pin-tested in tests/test_advice_r9.py; join-vs-window equivalence of
    THIS plan pinned in tests/test_optimization_r09.py). Cost: one
    shuffle of 2n rows + a per-bucket sort — O(n log bucket) with the
    same (type, bucket) parallelism the join had, pair volume gone.
    """
    from pyspark.sql import Window as _W

    e = events.select("event_id", "event_type", "ts")
    mts = F.unix_micros(F.col("ts").cast("timestamp"))
    bkt = F.floor(F.unix_timestamp("ts") / _RANGE_BUCKET_SEC).cast("long")
    rows = e.select(
        "event_type",
        mts.alias("mts"),
        F.explode(
            F.array(
                F.struct(bkt.alias("pbkt"), F.lit(1).alias("is_home")),
                F.struct((bkt - 1).alias("pbkt"), F.lit(0).alias("is_home")),
            )
        ).alias("x"),
    ).select("event_type", "mts", F.col("x.pbkt").alias("pbkt"), F.col("x.is_home").alias("is_home"))
    w = (
        _W.partitionBy("event_type", "pbkt")
        .orderBy("mts")
        .rangeBetween(1, _RANGE_BUCKET_SEC * 1_000_000)
    )
    counted = rows.select(
        "event_type", "is_home", F.count("*").over(w).alias("n_follow")
    )
    return (
        counted.filter(F.col("is_home") == 1)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("n_follow"), DP).alias("avg_follows"),
            F.max("n_follow").alias("max_follows"),
            F.sum("n_follow").cast("bigint").alias("total_pairs"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Co-occurrence / market-basket pairs: parts bought together in one order,
# scored by support and rational lift (n_ab * N / (n_a * n_b), one
# exactly-rounded division — no libm). The within-order self-join is
# bounded by basket size (TPC-H ≤ 7 lines/order; real carts are similarly
# small constants), so pair volume is linear in orders, not quadratic in
# parts. Top-20 by (support, pair) via TakeOrdered — per-partition heads
# merged on the driver, never a global sort.
# ---------------------------------------------------------------------------
_COOC_K = 20


def _cooccurrence_sql(where: str = "") -> str:
    """DuckDB oracle for market-basket pairs, parameterized on an order-key
    restriction so the sampled at-scale tier can state the identical basket
    subset in both engines (the computation is strictly per-order)."""
    return """
    WITH items AS MATERIALIZED (  -- 4 refs: inlined, the 600M-row DISTINCT
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem{W}),  -- re-ran each time (15GiB spill-cap death, r8 1000x sweep)
    part_orders AS MATERIALIZED (
      SELECT l_partkey, count(*) AS n_orders FROM items GROUP BY l_partkey),
    n_total AS (SELECT count(DISTINCT l_orderkey) AS n FROM items),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS n_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb),
    scored AS (
      SELECT p.pa, p.pb, p.n_ab, fa.n_orders AS n_a, fb.n_orders AS n_b,
             round(p.n_ab * t.n * 1.0 / (fa.n_orders * fb.n_orders), {DP})
               AS lift
      FROM pairs p
      JOIN part_orders fa ON fa.l_partkey = p.pa
      JOIN part_orders fb ON fb.l_partkey = p.pb
      CROSS JOIN n_total t)
    SELECT pa, pb, n_ab, n_a, n_b, lift,
           CAST(row_number() OVER (ORDER BY n_ab DESC, pa, pb) AS BIGINT) AS rn
    FROM scored
    QUALIFY rn <= {K}
    ORDER BY rn
    """.format(DP=4, K=_COOC_K, W=where)


def _cooccurrence_pairs(lineitem):
    """Market-basket pair scoring over an arbitrary lineitem frame (full
    table for the registered query; a deterministic l_orderkey subset for
    the sampled at-scale tier)."""
    # r10: one partial-aggregated groupBy collects each order's DISTINCT
    # sorted part set (collect_set dedups per order — the old global
    # (order, part) DISTINCT shuffle is gone) and the i<j pair combos are
    # generated IN MEMORY per basket instead of a per-order self-join
    # (which shuffled+sorted the item set twice and probed |basket|^2
    # rows). Output identical by construction: the sorted-array slice
    # yields exactly the pa < pb combinations of the distinct parts.
    # Measured 5.3-7.4 -> 3.0 s at the 10x replica, same-session A/B,
    # rows pinned equal. Baskets frame deliberately NOT cached: its 3
    # consumers share the groupBy exchange via ReuseExchange, while an
    # InMemoryRelation would force every consumer to re-shuffle (the r9
    # items.cache() lesson: 2.8 -> 10.1 s).
    baskets = lineitem.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    part_orders = baskets.select(F.explode("ps").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count("*").alias("n_orders"))
    n_total = baskets.agg(F.count("*").alias("n"))
    combos = F.expr(
        "flatten(transform(ps, (x, i) ->"
        " transform(slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"
    )
    pairs = (
        baskets.select(F.explode(combos).alias("c"))
        .groupBy(F.col("c.pa").alias("pa"), F.col("c.pb").alias("pb"))
        .agg(F.count("*").alias("n_ab"))
    )
    fa = part_orders.select(F.col("l_partkey").alias("pa"), F.col("n_orders").alias("n_a"))
    fb = part_orders.select(F.col("l_partkey").alias("pb"), F.col("n_orders").alias("n_b"))
    scored = (
        pairs.join(fa, "pa")
        .join(fb, "pb")
        .crossJoin(F.broadcast(n_total))
        .select(
            "pa",
            "pb",
            "n_ab",
            "n_a",
            "n_b",
            F.col("n"),
        )
        .withColumn(
            "lift",
            F.round(F.col("n_ab") * F.col("n") * 1.0 / (F.col("n_a") * F.col("n_b")), 4),
        )
        .drop("n")
    )
    # TakeOrdered top-K (orderBy+limit → per-partition heads, driver merge)
    top = scored.orderBy(F.desc("n_ab"), "pa", "pb").limit(_COOC_K)
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.orderBy(F.desc("n_ab"), "pa", "pb")).cast("long")
    return top.withColumn("rn", rn).select(
        "pa", "pb", "n_ab", "n_a", "n_b", "lift", "rn"
    ).orderBy("rn")


@register("join_cooccurrence_pairs", extra=True, sql=_cooccurrence_sql())
def join_cooccurrence_pairs(spark, sf_dir):
    return _cooccurrence_pairs(Tables(spark, sf_dir).lineitem)


# ---------------------------------------------------------------------------
# CDC snapshot diff: compare two keyed snapshots of an incrementally
# shipping fact (per-order shipped-line state at two cutoff dates) and
# classify every key as added / removed / changed / unchanged — the
# change-data-capture audit between two MERGE syncs (reference runs its
# syncs incrementally with lookback + MERGE; this is the diff you run to
# trust them). One full-outer join on the key; states are integer
# (count, cents) pairs so equality is exact.
# ---------------------------------------------------------------------------
_CDC_CUT_A = "1995-06-30"
_CDC_CUT_B = "1996-06-30"


@register(
    "cdc_snapshot_diff",
    extra=True,
    sql=f"""
    WITH snap_a AS (
      SELECT l_orderkey, count(*) AS n_lines,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM lineitem WHERE l_shipdate <= DATE '{_CDC_CUT_A}' GROUP BY l_orderkey),
    snap_b AS (
      SELECT l_orderkey, count(*) AS n_lines,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM lineitem WHERE l_shipdate <= DATE '{_CDC_CUT_B}' GROUP BY l_orderkey),
    diff AS (
      SELECT CASE WHEN a.l_orderkey IS NULL THEN 'added'
                  WHEN b.l_orderkey IS NULL THEN 'removed'
                  WHEN a.n_lines <> b.n_lines OR a.qty_cents <> b.qty_cents
                    THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM snap_a a FULL OUTER JOIN snap_b b ON a.l_orderkey = b.l_orderkey)
    SELECT change_type, count(*) AS n_keys
    FROM diff GROUP BY change_type ORDER BY change_type
    """,
)
def cdc_snapshot_diff(spark, sf_dir):
    t = Tables(spark, sf_dir)

    def snap(cut):
        return (
            t.lineitem.filter(F.col("l_shipdate") <= F.lit(cut).cast("date"))
            .groupBy("l_orderkey")
            .agg(
                F.count("*").alias("n_lines"),
                F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_cents"),
            )
        )

    a = snap(_CDC_CUT_A).select(
        F.col("l_orderkey").alias("ka"), F.col("n_lines").alias("nla"), F.col("qty_cents").alias("qca")
    )
    b = snap(_CDC_CUT_B).select(
        F.col("l_orderkey").alias("kb"), F.col("n_lines").alias("nlb"), F.col("qty_cents").alias("qcb")
    )
    diff = a.join(b, F.col("ka") == F.col("kb"), "full_outer").select(
        F.when(F.col("ka").isNull(), "added")
        .when(F.col("kb").isNull(), "removed")
        .when(
            (F.col("nla") != F.col("nlb")) | (F.col("qca") != F.col("qcb")), "changed"
        )
        .otherwise("unchanged")
        .alias("change_type")
    )
    return (
        diff.groupBy("change_type").agg(F.count("*").alias("n_keys")).orderBy("change_type")
    )


# ---------------------------------------------------------------------------
# Skew-salted join under the oracle gate: the operators/skew.py salted_join
# (fact side gets a random salt, dim side explodes n_salts ways, join key
# becomes (key, salt)) must be RESULT-IDENTICAL to the plain equi-join —
# salting is pure execution strategy for the pathological hot key AQE can't
# split. The DuckDB oracle states the plain join; revenue is exact integer
# cents so the hash can't drift. At 100 TB the salted shape spreads one hot
# supplier over n_salts reducers instead of one.
# ---------------------------------------------------------------------------
@register(
    "join_skew_salted",
    extra=True,
    sql=f"""
    SELECT s.s_nationkey,
           count(*) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) / 100.0
                 / count(*), {DP}) AS avg_price
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey ORDER BY s.s_nationkey
    """,
)
def join_skew_salted(spark, sf_dir):
    from ..operators.skew import salted_join

    t = Tables(spark, sf_dir)
    fact = t.lineitem.select(
        F.col("l_suppkey").alias("suppkey"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    dim = t.supplier.select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    joined = salted_join(fact, dim, "suppkey", n_salts=8)
    return (
        joined.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("cents").alias("revenue_cents"),
            F.round(F.sum("cents") / 100.0 / F.count("*"), DP).alias("avg_price"),
        )
        .orderBy("s_nationkey")
    )


# ---------------------------------------------------------------------------
# Deep star join (TPC-H Q5 shape): local-supplier revenue by nation — the
# canonical 6-table join the reference's widest mart chains approximate
# (fct_issues.sql's 4-way enrichment + dim filters). lineitem⋈orders is the
# one fact-fact shuffle; customer/supplier join on the nation co-location
# predicate; nation/region are broadcast. Revenue is summed in exact 1e-4
# dollar units (cents × (100 − discount_cents)) so the cross-engine hash
# can't drift on float summation order.
#
# Scale design (100 TB): Catalyst orders the joins from the filtered region
# side; lineitem shuffles once on l_orderkey and once on (suppkey) — AQE
# handles the rest. The c_nationkey = s_nationkey predicate is applied as a
# post-join filter on two broadcast dims, not an extra shuffle.
# ---------------------------------------------------------------------------
@register(
    "join_star_local_supplier",
    extra=True,
    sql=f"""
    SELECT n.n_name AS nation,
           round(CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                          * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                      AS BIGINT) / 10000.0, {DP}) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
                    AND c.c_nationkey = s.s_nationkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name ORDER BY revenue DESC, nation
    """,
)
def join_star_local_supplier(spark, sf_dir):
    t = Tables(spark, sf_dir)
    rev_units = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    )
    li = t.lineitem.select("l_orderkey", "l_suppkey", rev_units.alias("rev_units"))
    orders = t.orders.filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    ).select("o_orderkey", "o_custkey")
    asia_nations = (
        t.nation.join(
            F.broadcast(t.region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    # suppliers/customers restricted to the filtered region BEFORE the fact
    # join — partition pruning's semantic twin for dimension filters
    supp = t.supplier.join(
        F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    cust = t.customer.join(
        F.broadcast(asia_nations.select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_nationkey")
    # supplier GROWS with SF — no broadcast hint (the r01 lesson); AQE
    # picks broadcast while it fits and falls back to shuffle beyond
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            R(F.sum("rev_units").cast("bigint") / 10000.0).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM): the §2.4 edge
# semantic a plain equi-join silently changes — NULL keys never match under
# '=', so rows with missing dimensions vanish from an inner join. Here the
# fact key is deliberately nulled for 'error' events, the inline lookup maps
# the NULL key to an explicit 'unmapped-null' label, and the output carries
# BOTH counts per label: the null-safe join's and what a regular '=' join
# would have kept — making the difference a checked value, not a footnote.
#
# Scale design (100 TB): 5-row broadcast lookup. CAVEAT: a null-safe join
# hashes all NULL keys to one partition — safe only when NULLs map to ONE
# lookup row (here) or are pre-split; for null-heavy facts prefer the
# coalesce-to-sentinel rewrite the regular-count column demonstrates.
# ---------------------------------------------------------------------------
@register(
    "join_null_safe",
    extra=True,
    sql="""
    WITH facts AS (
      SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k
      FROM events),
    lookup(lk, label) AS (VALUES
      ('view', 'engagement'), ('click', 'engagement'), ('purchase', 'revenue'),
      ('signup', 'growth'), (NULL, 'unmapped-null'))
    SELECT l.label,
           CAST(count(*) AS BIGINT) AS n_rows_nullsafe,
           CAST(count_if(f.k IS NOT NULL) AS BIGINT) AS n_rows_regular
    FROM facts f JOIN lookup l ON f.k IS NOT DISTINCT FROM l.lk
    GROUP BY l.label ORDER BY l.label
    """,
)
def join_null_safe(spark, sf_dir):
    t = Tables(spark, sf_dir)
    facts = t.events.select(
        F.when(F.col("event_type") == "error", F.lit(None))
        .otherwise(F.col("event_type"))
        .alias("k")
    )
    lookup = local_frame(
        spark,
        [
            ("view", "engagement"),
            ("click", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            (None, "unmapped-null"),
        ],
        "lk string, label string",
    )
    return (
        facts.join(F.broadcast(lookup), facts["k"].eqNullSafe(lookup["lk"]))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_rows_nullsafe"),
            F.count_if(F.col("k").isNotNull()).cast("long").alias("n_rows_regular"),
        )
        .orderBy("label")
    )
