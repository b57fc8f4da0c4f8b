"""Third staged operator pack — built in round 8, REGISTERED with the
driver in round 9 (the ``staged3`` entry in ``operators._modules()``).

Same contract as the first two staged packs (operators/staged.py round
6 → 7, operators/staged2.py round 7 → 8): every key ships with a
DataFrame-first implementation, an ANSI/DuckDB oracle twin,
engine-portable arithmetic (pround / integer scaling /
cross-multiplied comparisons / the sorted-array sequential-fold
convention where a bounded double sum's order matters), a scale-shape
docstring, and local differential tests
(tests/test_staged3_operators.py).

Round-9 registration record (mirror of staged2's round-8 record):

1. full battery re-run AT registration, all green: strict replay
   28/28 at each of sf0.001/0.01/0.1 (tools/staged2_check.py
   --staged3), adversarial sweep 28/28 clean, partition invariance
   28/28 (tools/invariance_check.py --staged3), 14 property tests —
   after the round-9 pre-registration fixes (per-user journey cap in
   events_sequence_pattern_detect with a planted-mega-user test,
   double-mod dow in the weekly-seasonality oracle, json_valid/
   json_type guards in the props-census oracle);
2. ``staged3`` added to ``operators._modules()`` (after ``staged2``);
3. ``_STAGED3_NLJ_OK`` (tests/test_staged3_operators.py) folded into
   the plan sweep's ``_NLJ_OK`` in tests/test_plan_introspection.py;
4. SURVEY §2c rows were folded at build time;
   tools/record_query_hashes.py (attestation-driven, round-9
   semantics) runs at session END.

Round-9 window composition (age-first rotation over the 267-key
registry): 28 staged3 tier-0 slots + 22 green slots taken
oldest-cohort-first — the 12 remaining r3-vintage keys, then the
oldest cohort with source-stale keys (dedup memo persistence +
carrier/comment edits + the round-9 q1/q22 integer-cents rewrite)
leading via the stale-first tie-break; the overflow spills to
round 10 (recorded in SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from parquet_stream_writer_spark.functions import pround
from parquet_stream_writer_spark.sources import load_table, scan_parallel

QUERIES: dict = {}
ORACLE: dict = {}


# ---------------------------------------------------------------------------
# Monthly market-share trend per customer nation
# ---------------------------------------------------------------------------


def orders_market_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue share per customer nation with the
    month-over-month share delta — the market-share trend readout
    behind every regional BI dashboard ("who is gaining share, who is
    bleeding it").

    Exactness: revenue is exact integer cents of ``o_totalprice``; the
    share is ONE division of two exact integers (nation cents / month
    cents), 6-dp rounded; the delta subtracts two such identically
    computed doubles (deterministic in both engines); the first month
    per nation reports a null delta.

    Shape: one orders⋈customer equi join (both fact-sized — shuffle
    hash join, never a broadcast of customer), a (month, nation) hash
    aggregate down to bounded cells (months × 25 nations), then
    cell-relation-only joins and a nation-partitioned lag window —
    nothing after the first aggregate scales with the input.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation")
    )
    cells = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), "c_nationkey")
        .groupBy("month", "nation")
        .agg(F.sum("cents").alias("revenue_cents"))
    )
    totals = cells.groupBy("month").agg(
        F.sum("revenue_cents").alias("month_cents")
    )
    w = Window.partitionBy("nation").orderBy("month")
    shared = (
        cells.join(totals, "month")
        .withColumn(
            "month_share",
            pround(F.col("revenue_cents") / F.col("month_cents"), 6),
        )
        .withColumn(
            "share_delta",
            pround(
                F.col("month_share") - F.lag("month_share").over(w), 6
            ),
        )
    )
    return shared.select(
        "month", "nation", "revenue_cents", "month_share", "share_delta"
    ).orderBy("month", "nation")


ORACLE_ORDERS_MARKET_SHARE_TREND = """
WITH cells AS (
  SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
         n.n_name AS nation,
         sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
           AS revenue_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
totals AS (
  SELECT month, sum(revenue_cents) AS month_cents FROM cells GROUP BY 1
),
shared AS (
  SELECT c.month, c.nation, c.revenue_cents,
         floor((CAST(c.revenue_cents AS DOUBLE) / t.month_cents)
               * 1000000 + 0.5) / 1000000.0 AS month_share
  FROM cells c JOIN totals t USING (month)
)
SELECT month, nation,
       CAST(revenue_cents AS BIGINT) AS revenue_cents,
       month_share,
       floor((month_share - lag(month_share) OVER
              (PARTITION BY nation ORDER BY month)) * 1000000 + 0.5)
         / 1000000.0 AS share_delta
FROM shared
ORDER BY month, nation
"""

QUERIES["orders_market_share_trend"] = orders_market_share_trend
ORACLE["orders_market_share_trend"] = ORACLE_ORDERS_MARKET_SHARE_TREND


# ---------------------------------------------------------------------------
# Month-of-year seasonal index per priority
# ---------------------------------------------------------------------------


def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year revenue seasonality per order priority: the
    seasonal index is the (priority, month-of-year) mean order value
    relative to the priority's overall mean — index > 1 marks the
    months a priority class over-earns, the input to staffing and
    inventory calendars.

    Exactness: sums are exact integer cents and counts; each mean is
    ONE double division of exact integers, and the index is ONE
    division of those two identically computed doubles — no summation
    whose order an engine could pick (integer sums are order-free).
    Int64 headroom: cents sums overflow past ~9.2e16 total cents
    (~$920 T) per cell — Spark fails loudly (ANSI) rather than
    diverging.

    Shape: one map-side month() projection + one (priority, moy) hash
    aggregate to ≤ 5·12 cells; the priority rollup and the index join
    touch only cells.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.month("o_orderdate").cast("long").alias("moy"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    cells = orders.groupBy("o_orderpriority", "moy").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    tot = cells.groupBy("o_orderpriority").agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts")
    )
    return (
        cells.join(tot, "o_orderpriority")
        .select(
            F.col("o_orderpriority").alias("priority"),
            "moy",
            F.col("n").alias("n_orders"),
            pround(F.col("s") / F.col("n"), 2).alias("mean_cents"),
            pround(
                (F.col("s") / F.col("n")) / (F.col("ts") / F.col("tn")), 6
            ).alias("seasonal_index"),
        )
        .orderBy("priority", "moy")
    )


ORACLE_ORDERS_SEASONAL_INDEX = """
WITH cells AS (
  SELECT o_orderpriority, month(o_orderdate) AS moy,
         count(*) AS n,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS s
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT o_orderpriority, sum(n) AS tn, sum(s) AS ts FROM cells GROUP BY 1
)
SELECT c.o_orderpriority AS priority,
       c.moy,
       c.n AS n_orders,
       floor((CAST(c.s AS DOUBLE) / c.n) * 100 + 0.5) / 100.0 AS mean_cents,
       floor(((CAST(c.s AS DOUBLE) / c.n)
              / (CAST(t.ts AS DOUBLE) / t.tn)) * 1000000 + 0.5)
         / 1000000.0 AS seasonal_index
FROM cells c JOIN tot t USING (o_orderpriority)
ORDER BY priority, moy
"""

QUERIES["orders_seasonal_index"] = orders_seasonal_index
ORACLE["orders_seasonal_index"] = ORACLE_ORDERS_SEASONAL_INDEX


# ---------------------------------------------------------------------------
# Bilateral trade-balance matrix (customer nation × supplier nation)
# ---------------------------------------------------------------------------


def orders_trade_balance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade matrix between customer and supplier nations:
    lineitem revenue aggregated to (buyer nation, seller nation)
    cells, plus the NET balance against the mirrored cell (what A buys
    from B minus what B buys from A) — the cross-border flow readout.

    Exactness: revenue is exact integer cents; the net balance is one
    integer subtraction of the mirrored cell's exact sum (0 when the
    mirror cell is absent).

    Shape: two fact-sized equi joins (lineitem⋈orders, then
    ⋈customer) — shuffle hash joins; the two 25-row nation sides
    broadcast; one hash aggregate to ≤ 625 cells; the mirror join runs
    on the cell relation only.
    """
    li = scan_parallel(spark, sf_dir, "lineitem", "l_orderkey").select(
        "l_orderkey",
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("cnat")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.col("s_nationkey").alias("snat")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(supp, F.col("l_suppkey") == supp["s_suppkey"])
        .groupBy("cnat", "snat")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("cents").alias("revenue_cents"),
        )
        # Optimization r18 (guide §5): the ≤625-row cell relation feeds
        # both itself and its mirror — without materialization the
        # two fact-sized joins + aggregate executed TWICE per run.
        .localCheckpoint(eager=False)
    )
    mirror = cells.select(
        F.col("cnat").alias("snat2"),
        F.col("snat").alias("cnat2"),
        F.col("revenue_cents").alias("mirror_cents"),
    )
    cn = nation.select(
        F.col("n_nationkey").alias("cnat"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("snat"), F.col("n_name").alias("supp_nation")
    )
    return (
        cells.join(
            mirror,
            (cells["cnat"] == mirror["cnat2"]) & (cells["snat"] == mirror["snat2"]),
            "left",
        )
        .join(F.broadcast(cn), "cnat")
        .join(F.broadcast(sn), "snat")
        .select(
            "cust_nation",
            "supp_nation",
            "n_lines",
            "revenue_cents",
            (
                F.col("revenue_cents") - F.coalesce("mirror_cents", F.lit(0))
            ).alias("net_balance_cents"),
        )
        .orderBy("cust_nation", "supp_nation")
    )


ORACLE_ORDERS_TRADE_BALANCE_MATRIX = """
WITH cells AS (
  SELECT c.c_nationkey AS cnat, s.s_nationkey AS snat,
         count(*) AS n_lines,
         sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
           AS revenue_cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
)
SELECT cn.n_name AS cust_nation,
       sn.n_name AS supp_nation,
       a.n_lines,
       CAST(a.revenue_cents AS BIGINT) AS revenue_cents,
       CAST(a.revenue_cents - coalesce(b.revenue_cents, 0) AS BIGINT)
         AS net_balance_cents
FROM cells a
LEFT JOIN cells b ON a.cnat = b.snat AND a.snat = b.cnat
JOIN nation cn ON a.cnat = cn.n_nationkey
JOIN nation sn ON a.snat = sn.n_nationkey
ORDER BY cust_nation, supp_nation
"""

QUERIES["orders_trade_balance_matrix"] = orders_trade_balance_matrix
ORACLE["orders_trade_balance_matrix"] = ORACLE_ORDERS_TRADE_BALANCE_MATRIX


# ---------------------------------------------------------------------------
# Part-type price premium
# ---------------------------------------------------------------------------


def part_type_price_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per part-type retail-price premium over the catalog mean: the
    assortment positioning readout (which types command a premium,
    which are commodity).

    Exactness: prices are exact integer cents; both means are single
    double divisions of exact integers and the premium is one division
    of those two doubles minus 1, 6-dp rounded.

    Shape: one hash aggregate per type + a 1-row global aggregate
    broadcast (whitelisted scalar nested-loop).
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_type",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    per_type = part.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_parts"), F.sum("cents").alias("s")
    )
    overall = part.agg(
        F.count(F.lit(1)).alias("gn"), F.sum("cents").alias("gs")
    )
    return (
        per_type.join(F.broadcast(overall))
        .select(
            "p_type",
            "n_parts",
            pround(F.col("s") / F.col("n_parts"), 2).alias("mean_cents"),
            pround(
                (F.col("s") / F.col("n_parts")) / (F.col("gs") / F.col("gn"))
                - F.lit(1.0),
                6,
            ).alias("premium"),
        )
        .orderBy("p_type")
    )


ORACLE_PART_TYPE_PRICE_PREMIUM = """
WITH base AS (
  SELECT p_type,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
  FROM part
),
per_type AS (
  SELECT p_type, count(*) AS n_parts, sum(cents) AS s FROM base GROUP BY 1
),
overall AS (SELECT count(*) AS gn, sum(cents) AS gs FROM base)
SELECT p_type, n_parts,
       floor((CAST(s AS DOUBLE) / n_parts) * 100 + 0.5) / 100.0 AS mean_cents,
       floor(((CAST(s AS DOUBLE) / n_parts)
              / (CAST(gs AS DOUBLE) / gn) - 1.0) * 1000000 + 0.5)
         / 1000000.0 AS premium
FROM per_type, overall
ORDER BY p_type
"""

QUERIES["part_type_price_premium"] = part_type_price_premium
ORACLE["part_type_price_premium"] = ORACLE_PART_TYPE_PRICE_PREMIUM


# ---------------------------------------------------------------------------
# Dwell-time profile (gap to the user's NEXT event, keyed by current type)
# ---------------------------------------------------------------------------


def events_dwell_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type dwell time: for each event, the gap until the
    same user's NEXT event of ANY type, attributed to the current
    event's type — "how long do users sit on this step before doing
    anything else".  The complement of the staged2 inter-arrival
    profile (same-type gaps): dwell measures step friction, not
    arrival rate.

    Exactness: gaps are exact integer µs; the mean divides an exact
    integer sum; p50/p90 use the pack's interpolated-percentile parity
    convention over ranked integer order statistics.

    Shape (optimization r18, guide §2.4): ONE user-keyed shuffle for
    the lead window, then ONE type-keyed window pass that carries the
    rank AND the per-type count/sum (count/sum over the unbounded
    frame share the rank window's exchange+sort). The four order
    statistics (p50/p90 lo/hi) are picked by a filter on the in-row
    target ranks and folded with conditional aggregates — the old
    shape joined the ranked relation FOUR times against a separate
    stats aggregate, re-executing the whole lead-window lineage for
    every join probe (4 Exchanges + 4 re-reads of events). The
    interpolation arithmetic is expression-tree-identical to the old
    joins, so results are bit-equal.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    dwells = (
        ev.select("user_id", "event_type", "event_id", us.alias("us"))
        .withColumn("dwell", F.lead("us").over(w) - F.col("us"))
        .where(F.col("dwell").isNotNull())
        .select("event_type", "dwell")
    )
    wt = Window.partitionBy("event_type")
    wr = wt.orderBy("dwell")
    ranked = (
        dwells.withColumn("rk", F.row_number().over(wr))
        .withColumn("n", F.count(F.lit(1)).over(wt))
        .withColumn("s", F.sum("dwell").over(wt))
    )

    def interp(q: float):
        h = (F.col("n") - 1) * F.lit(q)
        return (
            F.floor(h).cast("long") + 1,
            -F.floor(-h).cast("long") + 1,
            h - F.floor(h),
        )

    lo50, hi50, frac50 = interp(0.5)
    lo90, hi90, frac90 = interp(0.9)
    picked = ranked.where(
        (F.col("rk") == lo50)
        | (F.col("rk") == hi50)
        | (F.col("rk") == lo90)
        | (F.col("rk") == hi90)
    )
    pct = picked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max(F.when(F.col("rk") == lo50, F.col("dwell"))).alias("p50_lo_d"),
        F.max(F.when(F.col("rk") == hi50, F.col("dwell"))).alias("p50_hi_d"),
        F.max(F.when(F.col("rk") == lo90, F.col("dwell"))).alias("p90_lo_d"),
        F.max(F.when(F.col("rk") == hi90, F.col("dwell"))).alias("p90_hi_d"),
    )
    out = pct.withColumn(
        "p50",
        pround(
            F.col("p50_lo_d")
            + (F.col("p50_hi_d") - F.col("p50_lo_d")) * frac50,
            2,
        ),
    ).withColumn(
        "p90",
        pround(
            F.col("p90_lo_d")
            + (F.col("p90_hi_d") - F.col("p90_lo_d")) * frac90,
            2,
        ),
    )
    return out.select(
        "event_type",
        F.col("n").alias("n_dwells"),
        pround(F.col("s") / F.col("n"), 2).alias("mean_dwell_us"),
        F.col("p50").alias("p50_dwell_us"),
        F.col("p90").alias("p90_dwell_us"),
    ).orderBy("event_type")


ORACLE_EVENTS_DWELL_TIME_PROFILE = """
WITH dw AS (
  SELECT event_type,
         lead(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           - epoch_us(ts) AS dwell
  FROM events
),
g AS (SELECT event_type, dwell FROM dw WHERE dwell IS NOT NULL),
ranked AS (
  SELECT event_type, dwell,
         row_number() OVER (PARTITION BY event_type ORDER BY dwell) AS rk
  FROM g
),
stats AS (
  SELECT event_type, count(*) AS n, sum(dwell) AS s FROM g GROUP BY 1
),
pcts AS (
  SELECT s.event_type, s.n, s.s,
         lo50.dwell + (hi50.dwell - lo50.dwell)
           * ((s.n - 1) * 0.5 - floor((s.n - 1) * 0.5)) AS p50,
         lo90.dwell + (hi90.dwell - lo90.dwell)
           * ((s.n - 1) * 0.9 - floor((s.n - 1) * 0.9)) AS p90
  FROM stats s
  JOIN ranked lo50 ON lo50.event_type = s.event_type
    AND lo50.rk = CAST(floor((s.n - 1) * 0.5) AS BIGINT) + 1
  JOIN ranked hi50 ON hi50.event_type = s.event_type
    AND hi50.rk = CAST(ceil((s.n - 1) * 0.5) AS BIGINT) + 1
  JOIN ranked lo90 ON lo90.event_type = s.event_type
    AND lo90.rk = CAST(floor((s.n - 1) * 0.9) AS BIGINT) + 1
  JOIN ranked hi90 ON hi90.event_type = s.event_type
    AND hi90.rk = CAST(ceil((s.n - 1) * 0.9) AS BIGINT) + 1
)
SELECT event_type,
       n AS n_dwells,
       floor((CAST(s AS DOUBLE) / n) * 100 + 0.5) / 100.0 AS mean_dwell_us,
       floor(p50 * 100 + 0.5) / 100.0 AS p50_dwell_us,
       floor(p90 * 100 + 0.5) / 100.0 AS p90_dwell_us
FROM pcts
ORDER BY event_type
"""

QUERIES["events_dwell_time_profile"] = events_dwell_time_profile
ORACLE["events_dwell_time_profile"] = ORACLE_EVENTS_DWELL_TIME_PROFILE


# ---------------------------------------------------------------------------
# Weekly seasonality strength (between-day-of-week variance share)
# ---------------------------------------------------------------------------


def events_weekly_seasonality_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type weekly seasonality strength: the share of the
    daily-count variance explained by day-of-week (SSB/SST over the
    daily count series) — 1.0 means perfectly weekly traffic, 0 means
    the weekday tells you nothing.  The quantitative gate before
    fitting any weekly seasonal model.

    Exactness: daily counts and their per-dow sums are exact integers;
    day-of-week is pure integer arithmetic on the epoch day ((day + 4)
    mod 7 — 1970-01-01 was a Thursday; no timezone/calendar
    functions); Spark uses ``pmod`` and the oracle the double-mod
    ``((d % 7) + 7) % 7`` so pre-1970 (negative epoch-day) timestamps
    land in [0, 6] in BOTH engines (DuckDB's plain ``%`` returns
    negative residues).  The ≤ 7 per-dow terms S_g²/n_g are each ONE double
    expression of exact integers and are folded in dow order via the
    pack's sorted-array sequential-fold convention, so no engine picks
    its own summation order; SST comes from integer Σc² (int64
    headroom: daily counts < ~3e9).

    Shape: one (type, day) hash aggregate, then everything runs on
    bounded cell relations (days × types, then 7 × types).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    daily = (
        ev.select("event_type", day.alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_type = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    per_dow = (
        daily.withColumn("dow", F.pmod(F.col("day") + 4, F.lit(7)))
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("ng"), F.sum("c").alias("sg"))
        .select(
            "event_type",
            "dow",
            (
                (F.col("sg").cast("double") * F.col("sg"))
                / F.col("ng")
            ).alias("term"),
        )
    )
    folded = per_dow.groupBy("event_type").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("dow", "term"))),
            F.lit(0.0),
            lambda acc, p: acc + p["term"],
        ).alias("ssb_part")
    )
    return (
        per_type.join(folded, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("s").alias("n_events"),
            pround(
                F.when(
                    F.col("q").cast("double")
                    - (F.col("s").cast("double") * F.col("s")) / F.col("n")
                    > 0,
                    (
                        F.col("ssb_part")
                        - (F.col("s").cast("double") * F.col("s")) / F.col("n")
                    )
                    / (
                        F.col("q").cast("double")
                        - (F.col("s").cast("double") * F.col("s")) / F.col("n")
                    ),
                ),
                6,
            ).alias("weekly_strength"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_WEEKLY_SEASONALITY_STRENGTH = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
per_type AS (
  SELECT event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS q
  FROM daily GROUP BY 1
),
per_dow AS (
  SELECT event_type, ((day + 4) % 7 + 7) % 7 AS dow,
         (CAST(sum(c) AS DOUBLE) * sum(c)) / count(*) AS term
  FROM daily GROUP BY 1, 2
),
folded AS (
  SELECT event_type,
         list_reduce(
           list_prepend(0.0, list(term ORDER BY dow)),
           (acc, x) -> acc + x) AS ssb_part
  FROM per_dow GROUP BY 1
)
SELECT t.event_type,
       t.n AS n_days,
       CAST(t.s AS BIGINT) AS n_events,
       floor(CASE WHEN CAST(t.q AS DOUBLE)
                       - (CAST(t.s AS DOUBLE) * t.s) / t.n > 0
                  THEN (f.ssb_part
                        - (CAST(t.s AS DOUBLE) * t.s) / t.n)
                       / (CAST(t.q AS DOUBLE)
                          - (CAST(t.s AS DOUBLE) * t.s) / t.n)
             END * 1000000 + 0.5) / 1000000.0 AS weekly_strength
FROM per_type t JOIN folded f USING (event_type)
ORDER BY event_type
"""

QUERIES["events_weekly_seasonality_strength"] = events_weekly_seasonality_strength
ORACLE["events_weekly_seasonality_strength"] = (
    ORACLE_EVENTS_WEEKLY_SEASONALITY_STRENGTH
)


# ---------------------------------------------------------------------------
# Cadence regularity buckets (per-user gap coefficient of variation)
# ---------------------------------------------------------------------------

#: Minimum gaps a user needs before their cadence is classified.
_CADENCE_MIN_GAPS = 5


def events_cadence_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users bucketed by the regularity of their event cadence: the
    coefficient of variation of their inter-event gaps classifies each
    user as ``regular`` (CV < 0.5 — clockwork traffic, likely
    automation), ``steady`` (CV < 1 — Poisson-ish organic use) or
    ``bursty`` (CV ≥ 1 — session bursts with long silences).  The
    bot-vs-human prior every traffic-quality pipeline starts from.

    Exactness: gaps are integer SECONDS (µs div 1e6 — second grain
    keeps Σgap² inside int64 for ~1e5 day-scale gaps per user); the CV
    thresholds are evaluated as cross-multiplied INTEGER comparisons
    (CV² < t²  ⟺  k·(n·Q − S²) < m·S²), so no sqrt, no division, no
    boundary that floating arithmetic could fork; users whose gaps sum
    to zero (all events same-second) are ``degenerate``.

    Shape: one user-keyed shuffle for the lag window, one per-user
    hash aggregate, one bucket CASE + a ≤4-row rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = (
        ev.select("user_id", "event_id", us.alias("us"))
        .withColumn("gap_s", F.expr("(us - lag(us) over (partition by user_id order by us, event_id)) div 1000000"))
        .where(F.col("gap_s").isNotNull())
        .select("user_id", "gap_s")
    )
    per_user = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap_s").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("q"),
    ).where(F.col("n") >= _CADENCE_MIN_GAPS)
    var_num = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    s2 = F.col("s") * F.col("s")
    bucketed = per_user.select(
        "n",
        F.when(F.col("s") == 0, "degenerate")
        .when(var_num * 4 < s2, "regular")
        .when(var_num < s2, "steady")
        .otherwise("bursty")
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            pround(F.sum("n") / F.count(F.lit(1)), 2).alias("mean_gaps"),
        )
        .orderBy("bucket")
    )


ORACLE_EVENTS_CADENCE_REGULARITY = f"""
WITH gaps AS (
  SELECT user_id,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER
            (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
           // 1000000 AS gap_s
  FROM events
),
per_user AS (
  SELECT user_id, count(*) AS n, sum(gap_s) AS s,
         sum(gap_s * gap_s) AS q
  FROM gaps WHERE gap_s IS NOT NULL
  GROUP BY 1
  HAVING count(*) >= {_CADENCE_MIN_GAPS}
),
bucketed AS (
  SELECT n,
         CASE WHEN s = 0 THEN 'degenerate'
              WHEN (n * q - s * s) * 4 < s * s THEN 'regular'
              WHEN (n * q - s * s) < s * s THEN 'steady'
              ELSE 'bursty' END AS bucket
  FROM per_user
)
SELECT bucket, count(*) AS n_users,
       floor((CAST(sum(n) AS DOUBLE) / count(*)) * 100 + 0.5) / 100.0
         AS mean_gaps
FROM bucketed
GROUP BY bucket ORDER BY bucket
"""

QUERIES["events_cadence_regularity"] = events_cadence_regularity
ORACLE["events_cadence_regularity"] = ORACLE_EVENTS_CADENCE_REGULARITY


# ---------------------------------------------------------------------------
# Cumulative unique users per type per day
# ---------------------------------------------------------------------------


def events_cumulative_unique_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cumulative distinct-user growth per event type: for each day,
    how many users touched the type for the FIRST time and the running
    distinct-user total to date — the adoption curve, computed without
    any day-over-day distinct recount.

    Exactness: all integer counts; days are integer epoch days.

    Shape: one (type, user) hash aggregate to first-touch days (the
    only input-sized shuffle), one (type, day) count, then a
    type-partitioned running sum over BOUNDED day cells — never a
    cumulative distinct over raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    first_touch = (
        ev.select("event_type", "user_id", day.alias("day"))
        .groupBy("event_type", "user_id")
        .agg(F.min("day").alias("first_day"))
    )
    daily_new = first_touch.groupBy("event_type", "first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        daily_new.select(
            "event_type",
            F.col("first_day").alias("day"),
            "new_users",
            F.sum("new_users").over(w).alias("cum_users"),
        )
        .orderBy("event_type", "day")
    )


ORACLE_EVENTS_CUMULATIVE_UNIQUE_USERS = """
WITH first_touch AS (
  SELECT event_type, user_id,
         min(epoch_us(ts) // 86400000000) AS first_day
  FROM events GROUP BY 1, 2
),
daily_new AS (
  SELECT event_type, first_day AS day, count(*) AS new_users
  FROM first_touch GROUP BY 1, 2
)
SELECT event_type, day, new_users,
       CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_users
FROM daily_new
ORDER BY event_type, day
"""

QUERIES["events_cumulative_unique_users"] = events_cumulative_unique_users
ORACLE["events_cumulative_unique_users"] = ORACLE_EVENTS_CUMULATIVE_UNIQUE_USERS


# ---------------------------------------------------------------------------
# Tokenizer fertility (BPE-ish tokens per whitespace word, by language)
# ---------------------------------------------------------------------------


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens emitted per
    whitespace word — the per-language cost multiplier every
    training-data budget applies before token billing (high-fertility
    languages burn context window faster).

    Exactness: both token counts are exact integers from the SAME
    regex/split conventions as ``text_token_count_bpe``; fertility and
    chars-per-token are single divisions of exact corpus-level sums.

    Shape: one map-side projection (two counts per doc) + one per-lang
    hash aggregate.
    """
    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    pattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    per_doc = docs.select(
        "lang",
        F.size(F.split(F.trim("text"), " ")).cast("long").alias("ws"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(pattern), F.lit(0)))
        .cast("long")
        .alias("bpe"),
        F.length("text").cast("long").alias("chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").alias("ws_tokens"),
            F.sum("bpe").alias("bpe_tokens"),
            F.sum("chars").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_tokens",
            "bpe_tokens",
            pround(
                F.when(
                    F.col("ws_tokens") > 0,
                    F.col("bpe_tokens") / F.col("ws_tokens"),
                ),
                4,
            ).alias("fertility"),
            pround(
                F.when(
                    F.col("bpe_tokens") > 0,
                    F.col("n_chars") / F.col("bpe_tokens"),
                ),
                2,
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


ORACLE_TEXT_TOKENIZER_FERTILITY = """
WITH per_doc AS (
  SELECT lang,
         len(string_split(trim(text), ' ')) AS ws,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))
           AS bpe,
         length(text) AS chars
  FROM documents
),
agg AS (
  SELECT lang, count(*) AS n_docs,
         sum(ws) AS ws_tokens, sum(bpe) AS bpe_tokens,
         sum(chars) AS n_chars
  FROM per_doc GROUP BY 1
)
SELECT lang, n_docs,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
       floor(CASE WHEN ws_tokens > 0
                  THEN CAST(bpe_tokens AS DOUBLE) / ws_tokens END
             * 10000 + 0.5) / 10000.0 AS fertility,
       floor(CASE WHEN bpe_tokens > 0
                  THEN CAST(n_chars AS DOUBLE) / bpe_tokens END
             * 100 + 0.5) / 100.0 AS chars_per_token
FROM agg
ORDER BY lang
"""

QUERIES["text_tokenizer_fertility"] = text_tokenizer_fertility
ORACLE["text_tokenizer_fertility"] = ORACLE_TEXT_TOKENIZER_FERTILITY


# ---------------------------------------------------------------------------
# Boilerplate n-gram report
# ---------------------------------------------------------------------------

#: Boilerplate span width (words) and minimum document frequency.
_BOILER_W = 6
_BOILER_MIN_DF = 3
_BOILER_TOP = 20


def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate phrase report: the 6-word spans appearing in the
    most DISTINCT documents (df ≥ 3), with their text recovered — the
    header/footer/disclaimer detector that precedes any boilerplate
    strip.  The phrase-grain complement of ``text_dup_span_fraction``
    (which flags documents, not the offending spans).

    Exactness: spans are md5-hashed to 48-bit ints before any shuffle
    (identical digests both engines); counts are exact; the doc share
    is one division against a 1-row total broadcast.  Strings never
    enter an aggregation buffer: the winning spans' TEXT is rebuilt by
    re-slicing the representative document (integer-min (doc, pos)
    per winner), so the heavy aggregates stay hash-only — the
    schema-drift-audit convention for avoiding string min/max
    SortAggregates.

    Shape: map-side span hashing → one hash-keyed distinct-doc
    aggregate → TakeOrdered top-20 → 20-row broadcast joins to recover
    representatives and text.
    """
    from parquet_stream_writer_spark.operators.dedup import _hex_prefix_int

    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= _BOILER_W
    )
    spans = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_BOILER_W - 1}),"
                f" i -> struct(i as pos,"
                f" md5(array_join(slice(t, i, {_BOILER_W}), ' ')) as gh))"
            )
        ).alias("sp"),
    ).select(
        "doc_id",
        F.col("sp.pos").alias("pos"),
        _hex_prefix_int("sp.gh", 12).alias("g"),
    )
    # Optimization r18 (guide §5): the hashed span stream fans out to
    # three consumers (stats, representative-doc pick, representative-
    # position pick) — without materialization each one re-ran the
    # tokenize + md5 pass. One lazy localCheckpoint = one md5 pass.
    # winners (20 rows, deterministic TakeOrdered) similarly feeds two
    # consumers and checkpoints to spare a second stats aggregation.
    spans = spans.localCheckpoint(eager=False)
    stats = spans.groupBy("g").agg(
        F.countDistinct("doc_id").alias("df_docs"),
        F.count(F.lit(1)).alias("occurrences"),
    )
    winners = (
        stats.where(F.col("df_docs") >= _BOILER_MIN_DF)
        .orderBy(F.desc("df_docs"), F.asc("g"))
        .limit(_BOILER_TOP)
        .localCheckpoint(eager=False)
    )
    rep_doc = (
        spans.join(F.broadcast(winners.select("g")), "g")
        .groupBy("g")
        .agg(F.min("doc_id").alias("rdoc"))
        .select(F.col("g").alias("rg"), "rdoc")
    )
    rep = (
        spans.join(
            F.broadcast(rep_doc),
            (spans["g"] == rep_doc["rg"]) & (spans["doc_id"] == rep_doc["rdoc"]),
        )
        .groupBy("rg", "rdoc")
        .agg(F.min("pos").alias("rpos"))
    )
    texts = rep.join(
        docs.select("doc_id", "text"), rep["rdoc"] == F.col("doc_id")
    ).select(
        F.col("rg").alias("g"),
        F.expr(
            f"array_join(slice(split(text, ' '), rpos, {_BOILER_W}), ' ')"
        ).alias("gram"),
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        winners.join(F.broadcast(texts), "g")
        .join(F.broadcast(total))
        .select(
            "gram",
            "df_docs",
            "occurrences",
            pround(F.col("df_docs") / F.col("n_total"), 6).alias("doc_share"),
        )
        .orderBy(F.desc("df_docs"), F.asc("gram"))
    )


def _sql_boiler() -> str:
    from parquet_stream_writer_spark.operators.dedup import _hex_to_int_sql

    g = _hex_to_int_sql(
        f"md5(array_to_string(t[i:i + {_BOILER_W - 1}], ' '))", 12
    )
    return f"""
toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= {_BOILER_W}
),
spans AS (
  SELECT doc_id, i AS pos, {g} AS g
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_BOILER_W - 2})) AS i
        FROM toks)
),
stats AS (
  SELECT g, count(DISTINCT doc_id) AS df_docs, count(*) AS occurrences
  FROM spans GROUP BY 1
),
winners AS (
  SELECT g, df_docs, occurrences FROM stats
  WHERE df_docs >= {_BOILER_MIN_DF}
  ORDER BY df_docs DESC, g ASC LIMIT {_BOILER_TOP}
),
rep_doc AS (
  SELECT s.g, min(s.doc_id) AS rdoc
  FROM spans s JOIN winners w ON s.g = w.g GROUP BY 1
),
rep AS (
  SELECT s.g, r.rdoc, min(s.pos) AS rpos
  FROM spans s JOIN rep_doc r ON s.g = r.g AND s.doc_id = r.rdoc
  GROUP BY 1, 2
),
texts AS (
  SELECT r.g,
         array_to_string(
           string_split(d.text, ' ')[r.rpos:r.rpos + {_BOILER_W - 1}],
           ' ') AS gram
  FROM rep r JOIN documents d ON r.rdoc = d.doc_id
),
total AS (SELECT count(*) AS n_total FROM documents)
SELECT x.gram, w.df_docs, w.occurrences,
       floor((CAST(w.df_docs AS DOUBLE) / n_total) * 1000000 + 0.5)
         / 1000000.0 AS doc_share
FROM winners w JOIN texts x ON w.g = x.g, total
ORDER BY df_docs DESC, gram ASC
"""


ORACLE_TEXT_BOILERPLATE_NGRAMS = f"WITH {_sql_boiler()}"

QUERIES["text_boilerplate_ngrams"] = text_boilerplate_ngrams
ORACLE["text_boilerplate_ngrams"] = ORACLE_TEXT_BOILERPLATE_NGRAMS


# ---------------------------------------------------------------------------
# Simpson lexical diversity per source
# ---------------------------------------------------------------------------


def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Simpson index over token frequencies: the
    probability two random tokens coincide (high = repetitive,
    template-heavy source), plus the inverse-Simpson effective
    vocabulary — the concentration complement of the Shannon-entropy
    and hapax readouts.

    Exactness: D = Σ nᵢ(nᵢ−1) / (N(N−1)) entirely in exact integers
    with ONE final division (int64 headroom: per-(source, token)
    counts < ~3e9); inverse-Simpson is one further division of that
    double, CASE-guarded for the all-hapax D = 0 source.

    Shape: one (source, token) hash aggregate (the only input-sized
    shuffle), one per-source rollup.
    """
    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    agg = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("coincide"),
    )
    simpson = F.when(
        F.col("n_tokens") > 1,
        F.col("coincide") / (F.col("n_tokens") * (F.col("n_tokens") - 1)),
    )
    return agg.select(
        "source",
        "n_tokens",
        "distinct_tokens",
        pround(simpson, 6).alias("simpson"),
        pround(
            F.when(F.col("coincide") > 0, F.lit(1.0) / simpson), 2
        ).alias("effective_vocab"),
    ).orderBy("source")


ORACLE_TEXT_SIMPSON_DIVERSITY = """
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
counts AS (
  SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2
),
agg AS (
  SELECT source, sum(c) AS n_tokens, count(*) AS distinct_tokens,
         sum(c * (c - 1)) AS coincide
  FROM counts GROUP BY 1
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       distinct_tokens,
       floor(CASE WHEN n_tokens > 1
                  THEN CAST(coincide AS DOUBLE)
                       / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)) END
             * 1000000 + 0.5) / 1000000.0 AS simpson,
       floor(CASE WHEN coincide > 0
                  THEN 1.0 / (CAST(coincide AS DOUBLE)
                              / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)))
             END * 100 + 0.5) / 100.0 AS effective_vocab
FROM agg
ORDER BY source
"""

QUERIES["text_simpson_diversity"] = text_simpson_diversity
ORACLE["text_simpson_diversity"] = ORACLE_TEXT_SIMPSON_DIVERSITY


# ---------------------------------------------------------------------------
# N-gram novelty curve over corpus order
# ---------------------------------------------------------------------------


def text_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram novelty across corpus order: per doc-id decile, the
    share of documents' distinct bigrams that appear THERE first
    (min doc_id over the whole corpus) — the saturation curve that
    answers "is the tail of this crawl still contributing new
    phrases, or just re-serving the head".

    Exactness: bigrams are md5-hashed to 48-bit ints; novelty is an
    integer min + equality; deciles come from pure integer arithmetic
    against a 1-row (min, max) doc-id broadcast — no global ntile
    window over the corpus.

    Shape: map-side bigram hashing → per-doc distinct → one hash-keyed
    min aggregate → join back on the hash → decile hash aggregate.
    """
    from parquet_stream_writer_spark.operators.dedup import _hex_prefix_int

    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 2
    )
    grams = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> md5(array_join(slice(t, i, 2), ' ')))"
                )
            ).alias("gh"),
        )
        .select("doc_id", _hex_prefix_int("gh", 12).alias("g"))
        .distinct()
        # Optimization r18 note: a lazy localCheckpoint here (one md5
        # pass instead of two) was measured across two normalized
        # sweeps and REVERTED — the materialization barrier cost more
        # than the second cheap pass it saved at sf0.1.
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    bounds = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    per_doc = (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel"),
        )
    )
    return (
        per_doc.join(F.broadcast(bounds))
        .select(
            F.expr("(doc_id - mn) * 10 div (mx - mn + 1)").alias("decile"),
            "n_bigrams",
            "novel",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("bigrams_total"),
            F.sum("novel").alias("novel_total"),
        )
        .select(
            "decile",
            "n_docs",
            "bigrams_total",
            "novel_total",
            pround(F.col("novel_total") / F.col("bigrams_total"), 6).alias(
                "novelty_share"
            ),
        )
        .orderBy("decile")
    )


def _sql_novelty() -> str:
    from parquet_stream_writer_spark.operators.dedup import _hex_to_int_sql

    g = _hex_to_int_sql("md5(array_to_string(t[i:i + 1], ' '))", 12)
    return f"""
toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
grams AS (
  SELECT DISTINCT doc_id, {g} AS g
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
),
first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY 1),
bounds AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
per_doc AS (
  SELECT gr.doc_id, count(*) AS n_bigrams,
         sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS novel
  FROM grams gr JOIN first f ON gr.g = f.g
  GROUP BY 1
)
SELECT (p.doc_id - b.mn) * 10 // (b.mx - b.mn + 1) AS decile,
       count(*) AS n_docs,
       CAST(sum(p.n_bigrams) AS BIGINT) AS bigrams_total,
       CAST(sum(p.novel) AS BIGINT) AS novel_total,
       floor((CAST(sum(p.novel) AS DOUBLE) / sum(p.n_bigrams))
             * 1000000 + 0.5) / 1000000.0 AS novelty_share
FROM per_doc p, bounds b
GROUP BY 1
ORDER BY decile
"""


ORACLE_TEXT_NGRAM_NOVELTY_CURVE = f"WITH {_sql_novelty()}"

QUERIES["text_ngram_novelty_curve"] = text_ngram_novelty_curve
ORACLE["text_ngram_novelty_curve"] = ORACLE_TEXT_NGRAM_NOVELTY_CURVE


# ---------------------------------------------------------------------------
# Dedup impact report (rides the mined CC labels)
# ---------------------------------------------------------------------------


def text_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What near-dedup would delete, per source: documents in a mined
    near-dup component that are NOT its representative (the component's
    min doc_id), with the character volume they carry — the
    savings-and-bias readout every dedup rollout decision reads first
    (a source losing half its bytes is either boilerplate or a mirror).

    Exactness: representatives and removals are integer label
    comparisons over the deterministic mined components; counts and
    char sums are exact; the share is one division.

    Shape: rides the memoized (optionally cross-session persisted — see
    operators/_memo_store.py) CC labels: no re-mining, one node-sized
    anti-representative filter, one join to documents on doc_id, one
    per-source hash aggregate with a left join so zero-impact sources
    still report.
    """
    from parquet_stream_writer_spark.operators.dedup import _cc_labels

    labels = _cc_labels(spark, sf_dir)
    removed = labels.where(F.col("node") != F.col("label")).select(
        F.col("node").alias("rdoc")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    totals = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
    )
    removed_per_source = (
        docs.join(removed, docs["doc_id"] == removed["rdoc"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_removed"),
            F.sum("n_chars").alias("chars_removed"),
        )
    )
    return (
        totals.join(removed_per_source, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            "chars_total",
            F.coalesce("chars_removed", F.lit(0)).alias("chars_removed"),
            pround(
                F.coalesce("chars_removed", F.lit(0)) / F.col("chars_total"),
                6,
            ).alias("removed_share"),
        )
        .orderBy("source")
    )


def _sql_dedup_impact() -> str:
    from parquet_stream_writer_spark.operators.dedup import _SQL_CC_COMPONENTS

    return f"""WITH RECURSIVE {_SQL_CC_COMPONENTS},
removed AS (
  SELECT doc_id FROM comp WHERE doc_id <> component
),
totals AS (
  SELECT source, count(*) AS n_docs, sum(n_chars) AS chars_total
  FROM documents GROUP BY 1
),
rps AS (
  SELECT d.source, count(*) AS n_removed, sum(d.n_chars) AS chars_removed
  FROM documents d JOIN removed r ON d.doc_id = r.doc_id
  GROUP BY 1
)
SELECT t.source, t.n_docs,
       coalesce(r.n_removed, 0) AS n_removed,
       CAST(t.chars_total AS BIGINT) AS chars_total,
       CAST(coalesce(r.chars_removed, 0) AS BIGINT) AS chars_removed,
       floor((CAST(coalesce(r.chars_removed, 0) AS DOUBLE) / t.chars_total)
             * 1000000 + 0.5) / 1000000.0 AS removed_share
FROM totals t LEFT JOIN rps r ON t.source = r.source
ORDER BY t.source
"""


ORACLE_TEXT_DEDUP_IMPACT_REPORT = _sql_dedup_impact()

QUERIES["text_dedup_impact_report"] = text_dedup_impact_report
ORACLE["text_dedup_impact_report"] = ORACLE_TEXT_DEDUP_IMPACT_REPORT


# ---------------------------------------------------------------------------
# k-core peel (bounded rounds) over the trade graph
# ---------------------------------------------------------------------------

#: Fixed peel rounds and the core threshold (k).  Bounded rounds keep
#: the oracle expressible as unrolled CTEs (the PageRank convention);
#: real corpora converge in a handful of rounds at k=2.
_KCORE_K = 2
_KCORE_ROUNDS = 3


def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peeling of the customer–supplier trade
    graph (k=2): each round drops nodes with degree < k and the edges
    touching them, reporting the per-round (nodes, edges) trajectory —
    the standard dense-subgraph extraction that separates the
    transactional core from one-off participants.

    Exactness: pure integer degree counts and joins over the SAME
    deterministic distinct edge set as ``graph_pagerank_bipartite``
    (even/odd namespaced node ids).

    Shape: one distinct-pair shuffle builds the bidirected edge set;
    each round is one src-keyed degree aggregate + two semi joins
    against the (node-sized) survivor set, with a localCheckpoint so
    round N never replans rounds 1..N-1; at ≥ 4 rounds the bucketed
    carrier of the label-propagation twin applies unchanged.

    Optimization r19 (guide §2.4, VERDICT r18 item 4): the per-round
    (nodes, edges) snapshot is read off the round's DEGREE relation —
    n_nodes = #degree rows (= countDistinct(src)), n_edges =
    Σdeg / 2 (= count(*)/2 over the bidirected rows) — which the NEXT
    round's peel filter needs anyway, so the old separate
    edge-stream countDistinct aggregate per round (a second full
    pass + distinct shuffle over each round's edge relation)
    disappears; both branches share one exchange.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst"))
        .union(pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst")))
        .localCheckpoint(eager=False)
    )
    snapshots = []
    degs = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    for rnd in range(1, _KCORE_ROUNDS + 1):
        keep = degs.where(F.col("deg") >= _KCORE_K).select("src")
        edges = (
            edges.join(keep, "src", "left_semi")
            .join(
                keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
            )
            .localCheckpoint(eager=False)
        )
        degs = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        snapshots.append(
            degs.agg(
                F.lit(rnd).alias("round"),
                F.count(F.lit(1)).alias("n_nodes"),
                # coalesce: a round that peels every edge sums no rows
                # (NULL); the oracle's count(*) / 2 gives 0.
                (F.coalesce(F.sum("deg"), F.lit(0)) / 2).cast("long").alias("n_edges"),
            )
        )
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionAll(s)
    return out.orderBy("round")


_KCORE_ORACLE_PARTS = [
    """
pairs AS (
  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e0 AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM pairs
)"""
]
for _r in range(1, _KCORE_ROUNDS + 1):
    _KCORE_ORACLE_PARTS.append(
        f""",
k{_r} AS (
  SELECT src FROM e{_r - 1} GROUP BY src HAVING count(*) >= {_KCORE_K}
),
e{_r} AS (
  SELECT e.src, e.dst FROM e{_r - 1} e
  JOIN k{_r} a ON e.src = a.src
  JOIN k{_r} b ON e.dst = b.src
)"""
    )
_KCORE_ORACLE_PARTS.append(
    "\n"
    + "\nUNION ALL\n".join(
        f"SELECT {r} AS round, count(DISTINCT src) AS n_nodes, "
        f"CAST(count(*) / 2 AS BIGINT) AS n_edges FROM e{r}"
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    + "\nORDER BY round"
)
ORACLE_GRAPH_KCORE_PEEL = "WITH " + "".join(_KCORE_ORACLE_PARTS)

QUERIES["graph_kcore_peel"] = graph_kcore_peel
ORACLE["graph_kcore_peel"] = ORACLE_GRAPH_KCORE_PEEL


# ---------------------------------------------------------------------------
# Payload chunk-level storage dedup estimate
# ---------------------------------------------------------------------------

#: Fixed chunk width in bytes (128 hex chars) — the CAS block grain.
_CHUNK_BYTES = 64


def multimodal_payload_chunk_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chunk-level (content-addressed-storage) dedup estimate per
    source: payloads split into fixed 64-byte chunks, chunks hashed,
    and the within-source duplicate-chunk share reported — the
    storage-dedup savings estimate BELOW document grain (two documents
    sharing half their bytes dedup at chunk level even though neither
    is a document-level duplicate).

    Exactness: chunking walks the hex expansion of the payload bytes
    (the frame-sample convention — identical in both engines); chunk
    ids are md5-derived 48-bit ints; counts exact; the ratio is one
    division.  The reclaim estimate is (total − unique)·64 — chunk
    grain, so the short final chunk is counted at full width
    (documented estimate, identical in both engines).

    Shape: map-side chunk explode (×len/64) → one (source, chunk)
    hash aggregate → per-source rollup.
    """
    from parquet_stream_writer_spark.operators.dedup import _hex_prefix_int

    docs = scan_parallel(spark, sf_dir, "documents", "doc_id")
    hexed = docs.select(
        "source",
        F.hex(F.col("text").cast("binary")).alias("hx"),
        F.expr("(octet_length(text) + 63) div 64").alias("nch"),
    ).where(F.col("nch") > 0)
    chunks = hexed.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, cast(nch - 1 as int)),"
                " i -> md5(substring(hx, i * 128 + 1, 128)))"
            )
        ).alias("ch"),
    ).select("source", _hex_prefix_int("ch", 12).alias("c"))
    per_chunk = chunks.groupBy("source", "c").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per_chunk.groupBy("source")
        .agg(
            F.sum("n").alias("total_chunks"),
            F.count(F.lit(1)).alias("unique_chunks"),
        )
        .select(
            "source",
            "total_chunks",
            "unique_chunks",
            (
                (F.col("total_chunks") - F.col("unique_chunks"))
                * _CHUNK_BYTES
            ).alias("reclaim_bytes"),
            pround(
                (F.col("total_chunks") - F.col("unique_chunks"))
                / F.col("total_chunks"),
                6,
            ).alias("dedup_ratio"),
        )
        .orderBy("source")
    )


def _sql_chunk_dedup() -> str:
    from parquet_stream_writer_spark.operators.dedup import _hex_to_int_sql

    c = _hex_to_int_sql("md5(substring(hx, i * 128 + 1, 128))", 12)
    return f"""
hexed AS (
  SELECT source, hex(encode(text)) AS hx,
         (octet_length(encode(text)) + 63) // 64 AS nch
  FROM documents
  WHERE octet_length(encode(text)) > 0
),
chunks AS (
  SELECT source, {c} AS c
  FROM (SELECT source, hx, unnest(range(0, nch)) AS i FROM hexed)
),
per_chunk AS (
  SELECT source, c, count(*) AS n FROM chunks GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS total_chunks,
       count(*) AS unique_chunks,
       CAST((sum(n) - count(*)) * {_CHUNK_BYTES} AS BIGINT) AS reclaim_bytes,
       floor((CAST(sum(n) - count(*) AS DOUBLE) / sum(n)) * 1000000 + 0.5)
         / 1000000.0 AS dedup_ratio
FROM per_chunk
GROUP BY source
ORDER BY source
"""


ORACLE_MULTIMODAL_PAYLOAD_CHUNK_DEDUP = f"WITH {_sql_chunk_dedup()}"

QUERIES["multimodal_payload_chunk_dedup"] = multimodal_payload_chunk_dedup
ORACLE["multimodal_payload_chunk_dedup"] = ORACLE_MULTIMODAL_PAYLOAD_CHUNK_DEDUP


# ---------------------------------------------------------------------------
# Dedup ↔ embedding agreement audit
# ---------------------------------------------------------------------------


def embedding_dedup_agreement_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Do the text-mined near-duplicates look like duplicates in
    embedding space?  For every MinHash-verified near-dup pair, the
    cosine similarity of the two documents' embeddings, summarized —
    the cross-modal sanity check before trusting either signal for
    SemDeDup-style pruning (low agreement means the embeddings, the
    mining, or the doc↔vector linkage is broken).

    Exactness: dot products and norms are exact integer sums over
    1e6-scaled components; each pair's cosine is ONE double expression
    (dot / sqrt(n1·n2 as doubles)) then scaled to an exact 4-dp
    integer, so every aggregate below is an order-free integer sum.

    Shape: rides the memoized (optionally cross-session persisted) verified-pair
    relation — no re-mining; two vec_id-keyed equi joins explode the
    pair's two vectors, one dim-matched integer aggregate per pair,
    one fixed-width summary row.
    """
    from parquet_stream_writer_spark.operators.dedup import _verified_pairs

    pairs = _verified_pairs(spark, sf_dir).select("d1", "d2")
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"),
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    a = emb.select(
        F.col("vec_id").alias("d1"), "dim", F.col("v6").alias("va")
    )
    b = emb.select(
        F.col("vec_id").alias("d2"),
        F.col("dim").alias("dimb"),
        F.col("v6").alias("vb"),
    )
    per_pair = (
        pairs.join(a, "d1")
        .join(b, (pairs["d2"] == b["d2"]) & (a["dim"] == b["dimb"]))
        .groupBy(pairs["d1"], pairs["d2"])
        .agg(
            F.sum(F.col("va") * F.col("vb")).alias("dot"),
            F.sum(F.col("va") * F.col("va")).alias("n1"),
            F.sum(F.col("vb") * F.col("vb")).alias("n2"),
        )
        .select(
            F.floor(
                F.col("dot")
                / F.sqrt(F.col("n1").cast("double") * F.col("n2").cast("double"))
                * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("c4")
        )
    )
    return per_pair.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        pround(
            F.when(
                F.count(F.lit(1)) > 0,
                F.sum("c4") / (F.count(F.lit(1)) * F.lit(10000.0)),
            ),
            6,
        ).alias("mean_cos"),
        pround(F.min("c4") / F.lit(10000.0), 4).alias("min_cos"),
        pround(F.max("c4") / F.lit(10000.0), 4).alias("max_cos"),
        pround(
            F.when(
                F.count(F.lit(1)) > 0,
                F.sum(F.when(F.col("c4") >= 5000, 1).otherwise(0))
                / F.count(F.lit(1)),
            ),
            6,
        ).alias("agree_share"),
    )


def _sql_dedup_agreement() -> str:
    from parquet_stream_writer_spark.operators.dedup import (
        ORACLE_DEDUP_MINHASH_LSH,
    )

    return f"""WITH mined AS (
{ORACLE_DEDUP_MINHASH_LSH}
),
vd AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
),
per_pair AS (
  SELECT CAST(floor(sum(a.v6 * b.v6)
              / sqrt(CAST(sum(a.v6 * a.v6) AS DOUBLE)
                     * sum(b.v6 * b.v6)) * 10000 + 0.5) AS BIGINT) AS c4
  FROM mined m
  JOIN vd a ON a.vec_id = m.d1
  JOIN vd b ON b.vec_id = m.d2 AND a.dim = b.dim
  GROUP BY m.d1, m.d2
)
SELECT count(*) AS n_pairs,
       floor(CASE WHEN count(*) > 0
                  THEN CAST(sum(c4) AS DOUBLE) / (count(*) * 10000.0) END
             * 1000000 + 0.5) / 1000000.0 AS mean_cos,
       floor((CAST(min(c4) AS DOUBLE) / 10000.0) * 10000 + 0.5) / 10000.0
         AS min_cos,
       floor((CAST(max(c4) AS DOUBLE) / 10000.0) * 10000 + 0.5) / 10000.0
         AS max_cos,
       floor(CASE WHEN count(*) > 0
                  THEN CAST(sum(CASE WHEN c4 >= 5000 THEN 1 ELSE 0 END)
                            AS DOUBLE) / count(*) END
             * 1000000 + 0.5) / 1000000.0 AS agree_share
FROM per_pair
"""


ORACLE_EMBEDDING_DEDUP_AGREEMENT_AUDIT = _sql_dedup_agreement()

QUERIES["embedding_dedup_agreement_audit"] = embedding_dedup_agreement_audit
ORACLE["embedding_dedup_agreement_audit"] = ORACLE_EMBEDDING_DEDUP_AGREEMENT_AUDIT


# ---------------------------------------------------------------------------
# Deterministic pair-sample similarity histogram
# ---------------------------------------------------------------------------

#: Modular shift for the deterministic pair sample (coprime-ish with
#: any realistic corpus size; self-pairs are excluded explicitly).
_PAIR_SHIFT = 97


def similarity_pair_sample_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Background similarity distribution of the embedding space from
    a deterministic O(n) pair sample: each vector is paired with the
    vector ``(id + 97) mod (max_id + 1)`` and the cosine histogram
    (0.1-wide bins) reported — the null distribution that calibrates
    every ANN threshold and SemDeDup epsilon, without an n² pair
    expansion and without RNG.

    Exactness: dots and norms are exact integer sums; each cosine is
    one double expression scaled to an exact 4-dp integer; bins floor
    the DOUBLE c4/1000 in both engines (integer div would truncate
    negatives toward zero in Spark and floor in DuckDB).

    Shape: one 1-row max-id broadcast, one modular-shift equi
    self-join (n pairs, never n²), one dim-matched integer aggregate
    per pair, a ≤ 21-row histogram rollup.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    bounds = emb.agg(F.max("vec_id").alias("mx"))
    pairs = (
        emb.select("vec_id")
        .join(F.broadcast(bounds))
        .select(
            "vec_id",
            F.expr(f"pmod(vec_id + {_PAIR_SHIFT}, mx + 1)").alias("partner"),
        )
        .where(F.col("partner") != F.col("vec_id"))
    )
    vd = emb.select(
        "vec_id", F.posexplode("emb").alias("dim", "v")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    a = vd.select(F.col("vec_id").alias("vid"), "dim", F.col("v6").alias("va"))
    b = vd.select(
        F.col("vec_id").alias("pid"),
        F.col("dim").alias("dimb"),
        F.col("v6").alias("vb"),
    )
    c4 = (
        pairs.join(a, pairs["vec_id"] == a["vid"])
        .join(b, (pairs["partner"] == b["pid"]) & (F.col("dim") == F.col("dimb")))
        .groupBy(pairs["vec_id"], pairs["partner"])
        .agg(
            F.sum(F.col("va") * F.col("vb")).alias("dot"),
            F.sum(F.col("va") * F.col("va")).alias("n1"),
            F.sum(F.col("vb") * F.col("vb")).alias("n2"),
        )
        .select(
            F.floor(
                F.col("dot")
                / F.sqrt(F.col("n1").cast("double") * F.col("n2").cast("double"))
                * 10000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("c4")
        )
    )
    return (
        c4.select(
            F.floor(F.col("c4").cast("double") / 1000).cast("long").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("bin")
    )


ORACLE_SIMILARITY_PAIR_SAMPLE_HISTOGRAM = f"""
WITH bounds AS (SELECT max(vec_id) AS mx FROM embeddings),
pairs AS (
  SELECT e.vec_id, (e.vec_id + {_PAIR_SHIFT}) % (b.mx + 1) AS partner
  FROM embeddings e, bounds b
  WHERE (e.vec_id + {_PAIR_SHIFT}) % (b.mx + 1) <> e.vec_id
),
vd AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
),
c4 AS (
  SELECT CAST(floor(sum(a.v6 * b.v6)
              / sqrt(CAST(sum(a.v6 * a.v6) AS DOUBLE)
                     * sum(b.v6 * b.v6)) * 10000 + 0.5) AS BIGINT) AS c4
  FROM pairs p
  JOIN vd a ON a.vec_id = p.vec_id
  JOIN vd b ON b.vec_id = p.partner AND a.dim = b.dim
  GROUP BY p.vec_id, p.partner
)
SELECT CAST(floor(CAST(c4 AS DOUBLE) / 1000) AS BIGINT) AS bin,
       count(*) AS n_pairs
FROM c4
GROUP BY 1
ORDER BY bin
"""

QUERIES["similarity_pair_sample_histogram"] = similarity_pair_sample_histogram
ORACLE["similarity_pair_sample_histogram"] = (
    ORACLE_SIMILARITY_PAIR_SAMPLE_HISTOGRAM
)


# ---------------------------------------------------------------------------
# Neyman (optimal) stratified-sample allocation
# ---------------------------------------------------------------------------

#: Total sample size the allocation distributes.
_NEYMAN_TARGET = 100


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation over language
    strata: each stratum gets sample slots ∝ N_h·σ_h (population size
    × char-length standard deviation), integerized by the
    largest-remainder method so the allocations sum EXACTLY to the
    target — the textbook upgrade over proportional sampling when
    strata differ in variance.

    Exactness: per-stratum (N, Σx, Σx²) are exact integers (headroom:
    Σx² needs n_chars² · N_h < 2^63); σ and the weights are single
    deterministic double expressions of those integers; remainders
    and ranks are computed identically in both engines, ties broken
    on the lang key.  Zero-variance corpora fall back to
    population-proportional weights (CASE on the weight sum).

    Shape: one per-lang hash aggregate (the only input-sized pass);
    the fold of the ≤ #langs weights uses the sorted-array
    sequential-fold convention; allocation runs on the bounded
    stratum relation.
    """
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    strata = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("q"),
    )
    s2 = F.when(
        F.col("nh") > 1,
        (F.col("nh").cast("double") * F.col("q") - F.col("s").cast("double") * F.col("s"))
        / (F.col("nh").cast("double") * (F.col("nh") - 1)),
    ).otherwise(F.lit(0.0))
    weighted = strata.select(
        "lang", "nh", (F.col("nh") * F.sqrt(s2)).alias("w"),
        pround(F.sqrt(s2), 4).alias("stddev_chars"),
    )
    total_w = weighted.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "w"))),
            F.lit(0.0),
            lambda acc, p: acc + p["w"],
        ).alias("sw"),
        F.sum("nh").alias("ntot"),
    )
    raw = F.when(
        F.col("sw") > 0, F.col("w") * _NEYMAN_TARGET / F.col("sw")
    ).otherwise(F.col("nh").cast("double") * _NEYMAN_TARGET / F.col("ntot"))
    based = weighted.join(F.broadcast(total_w)).select(
        "lang",
        "nh",
        "stddev_chars",
        F.floor(raw).cast("long").alias("base"),
        (raw - F.floor(raw)).alias("rem"),
    )
    deficit = based.agg(
        (F.lit(_NEYMAN_TARGET) - F.sum("base")).alias("deficit")
    )
    wrk = Window.orderBy(F.desc("rem"), F.asc("lang"))
    return (
        based.join(F.broadcast(deficit))
        .withColumn("rk", F.row_number().over(wrk))
        .select(
            "lang",
            F.col("nh").alias("n_docs"),
            "stddev_chars",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)
            ).alias("alloc_n"),
        )
        .orderBy("lang")
    )


ORACLE_SAMPLE_NEYMAN_ALLOCATION = f"""
WITH strata AS (
  SELECT lang, count(*) AS nh, sum(n_chars) AS s,
         sum(n_chars * n_chars) AS q
  FROM documents GROUP BY 1
),
weighted AS (
  SELECT lang, nh,
         nh * sqrt(CASE WHEN nh > 1
                        THEN (CAST(nh AS DOUBLE) * q
                              - CAST(s AS DOUBLE) * s)
                             / (CAST(nh AS DOUBLE) * (nh - 1))
                        ELSE 0.0 END) AS w,
         floor(sqrt(CASE WHEN nh > 1
                         THEN (CAST(nh AS DOUBLE) * q
                               - CAST(s AS DOUBLE) * s)
                              / (CAST(nh AS DOUBLE) * (nh - 1))
                         ELSE 0.0 END) * 10000 + 0.5) / 10000.0
           AS stddev_chars
  FROM strata
),
total_w AS (
  SELECT list_reduce(list_prepend(0.0, list(w ORDER BY lang)),
                     (acc, x) -> acc + x) AS sw,
         sum(nh) AS ntot
  FROM weighted
),
based AS (
  SELECT lang, nh, stddev_chars,
         CAST(floor(CASE WHEN t.sw > 0
                         THEN w * {_NEYMAN_TARGET} / t.sw
                         ELSE CAST(nh AS DOUBLE) * {_NEYMAN_TARGET} / t.ntot
                    END) AS BIGINT) AS base,
         CASE WHEN t.sw > 0
              THEN w * {_NEYMAN_TARGET} / t.sw
              ELSE CAST(nh AS DOUBLE) * {_NEYMAN_TARGET} / t.ntot END
           - floor(CASE WHEN t.sw > 0
                        THEN w * {_NEYMAN_TARGET} / t.sw
                        ELSE CAST(nh AS DOUBLE) * {_NEYMAN_TARGET} / t.ntot
                   END) AS rem
  FROM weighted, total_w t
),
deficit AS (
  SELECT {_NEYMAN_TARGET} - sum(base) AS deficit FROM based
),
ranked AS (
  SELECT lang, nh, stddev_chars, base, rem,
         row_number() OVER (ORDER BY rem DESC, lang ASC) AS rk
  FROM based
)
SELECT lang, nh AS n_docs, stddev_chars,
       CAST(base + CASE WHEN rk <= d.deficit THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_n
FROM ranked, deficit d
ORDER BY lang
"""

QUERIES["sample_neyman_allocation"] = sample_neyman_allocation
ORACLE["sample_neyman_allocation"] = ORACLE_SAMPLE_NEYMAN_ALLOCATION


# ---------------------------------------------------------------------------
# Partition-pruning savings audit
# ---------------------------------------------------------------------------

#: The audited predicate: months scanned by a "1996 H1" filter.
_PRUNE_LO, _PRUNE_HI = "1996-01", "1996-06"


def pipeline_partition_pruning_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What month-partitioning of ``orders`` would save for a 1996-H1
    predicate: partitions and bytes scanned WITH pruning vs the full
    scan — the sizing evidence for choosing a partition column before
    committing a 100 TB layout (the measurement twin of
    ``pipeline_zorder_layout``'s data-skipping arithmetic).

    Exactness: per-month byte estimates are the row-size-profile
    integer expressions (octet_length + fixed widths); all counts and
    sums exact; the savings share is one division.

    Shape: one (month) hash aggregate over orders, then conditional
    sums over the bounded month-cell relation into ONE summary row.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        (
            F.length(F.col("o_orderstatus").cast("binary")).cast("long")
            + F.length(F.col("o_orderpriority").cast("binary"))
            + F.lit(32)
        ).alias("row_bytes"),
    )
    cells = orders.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("row_bytes").alias("bytes")
    )
    sel = (F.col("month") >= _PRUNE_LO) & (F.col("month") <= _PRUNE_HI)
    return cells.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum(F.when(sel, 1).otherwise(0)).alias("n_selected"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(sel, F.col("n_rows")).otherwise(0)).alias("rows_selected"),
        F.sum("bytes").alias("bytes_total"),
        F.sum(F.when(sel, F.col("bytes")).otherwise(0)).alias("bytes_scanned"),
        pround(
            F.lit(1.0)
            - F.sum(F.when(sel, F.col("bytes")).otherwise(0))
            / F.sum("bytes"),
            6,
        ).alias("savings_share"),
    )


ORACLE_PIPELINE_PARTITION_PRUNING_AUDIT = f"""
WITH cells AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         count(*) AS n_rows,
         sum(octet_length(encode(o_orderstatus))
             + octet_length(encode(o_orderpriority)) + 32) AS bytes
  FROM orders GROUP BY 1
)
SELECT count(*) AS n_partitions,
       CAST(sum(CASE WHEN month BETWEEN '{_PRUNE_LO}' AND '{_PRUNE_HI}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN month BETWEEN '{_PRUNE_LO}' AND '{_PRUNE_HI}'
                     THEN n_rows ELSE 0 END) AS BIGINT) AS rows_selected,
       CAST(sum(bytes) AS BIGINT) AS bytes_total,
       CAST(sum(CASE WHEN month BETWEEN '{_PRUNE_LO}' AND '{_PRUNE_HI}'
                     THEN bytes ELSE 0 END) AS BIGINT) AS bytes_scanned,
       floor((1.0 - CAST(sum(CASE WHEN month BETWEEN '{_PRUNE_LO}'
                                       AND '{_PRUNE_HI}'
                                  THEN bytes ELSE 0 END) AS DOUBLE)
                    / sum(bytes)) * 1000000 + 0.5) / 1000000.0
         AS savings_share
FROM cells
"""

QUERIES["pipeline_partition_pruning_audit"] = pipeline_partition_pruning_audit
ORACLE["pipeline_partition_pruning_audit"] = (
    ORACLE_PIPELINE_PARTITION_PRUNING_AUDIT
)


# ---------------------------------------------------------------------------
# Degree assortativity of the trade graph
# ---------------------------------------------------------------------------


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–supplier trade graph: the
    Pearson correlation of endpoint degrees over all (directed) edges
    — positive means hubs trade with hubs (a core-periphery market),
    negative means hubs fan out to leaves.  One number that
    characterizes the whole join-fan-out structure before any graph
    algorithm is sized.

    Exactness: degrees and the five co-moment sums are exact integers
    (int64 headroom: Σ(dx·dy) < 2^63 — documented bound, ANSI raises
    loudly past it); the correlation assembles those integers with
    double products and ONE final division — identical expression in
    both engines; zero-variance graphs yield null.

    Shape: one distinct-pair shuffle, one degree aggregate, two
    node-keyed joins to annotate edge endpoints, one fixed-width
    co-moment aggregate to a single row.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # Optimization r18 (guide §5): the distinct-pair relation fans out
    # through edges into FOUR downstream consumers (degree agg, both
    # endpoint joins, node count) — without materialization the
    # fact join + distinct executed ~6× per run (8 lineitem scans in
    # the static plan). Checkpoint the pair relation once and the
    # node-sized degree relation once.
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = pairs.select(F.col("cnode").alias("src"), F.col("snode").alias("dst")).union(
        pairs.select(F.col("snode").alias("src"), F.col("cnode").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).localCheckpoint(
        eager=False
    )
    dx = deg.select(F.col("src").alias("a"), F.col("d").alias("dx"))
    dy = deg.select(F.col("src").alias("b"), F.col("d").alias("dy"))
    annotated = (
        edges.join(dx, edges["src"] == dx["a"])
        .join(dy, edges["dst"] == dy["b"])
        .select("dx", "dy")
    )
    mom = annotated.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    vx = F.col("m").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = F.col("m").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    num = F.col("m").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        mom.join(F.broadcast(nodes))
        .select(
            "n_nodes",
            (F.col("m") / 2).cast("long").alias("n_edges"),
            pround(
                F.when((vx > 0) & (vy > 0), num / F.sqrt(vx * vy)), 6
            ).alias("assortativity"),
        )
    )


ORACLE_GRAPH_ASSORTATIVITY = """
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS cnode, l_suppkey * 2 + 1 AS snode
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e0 AS (
  SELECT cnode AS src, snode AS dst FROM pairs
  UNION ALL
  SELECT snode AS src, cnode AS dst FROM pairs
),
deg AS (SELECT src, count(*) AS d FROM e0 GROUP BY 1),
annotated AS (
  SELECT a.d AS dx, b.d AS dy
  FROM e0 e JOIN deg a ON e.src = a.src JOIN deg b ON e.dst = b.src
),
mom AS (
  SELECT count(*) AS m, sum(dx) AS sx, sum(dy) AS sy,
         sum(dx * dy) AS sxy, sum(dx * dx) AS sxx, sum(dy * dy) AS syy
  FROM annotated
),
nodes AS (SELECT count(*) AS n_nodes FROM deg)
SELECT n.n_nodes,
       CAST(m / 2 AS BIGINT) AS n_edges,
       floor(CASE WHEN CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                   AND CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
                  THEN (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                       / sqrt((CAST(m AS DOUBLE) * sxx
                               - CAST(sx AS DOUBLE) * sx)
                              * (CAST(m AS DOUBLE) * syy
                                 - CAST(sy AS DOUBLE) * sy))
             END * 1000000 + 0.5) / 1000000.0 AS assortativity
FROM mom, nodes n
"""

QUERIES["graph_assortativity"] = graph_assortativity
ORACLE["graph_assortativity"] = ORACLE_GRAPH_ASSORTATIVITY


# ---------------------------------------------------------------------------
# Order-status mix trend
# ---------------------------------------------------------------------------


def orders_status_mix_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order-status mix: per month, the share of orders in
    each status (fulfilled / open / pending) — the operational-health
    trend line that surfaces fulfilment regressions long before
    revenue does.

    Exactness: conditional integer counts; each share is one division,
    6-dp rounded.

    Shape: one (month) hash aggregate with conditional sums — the mix
    pivot is fixed-width (three TPC-H statuses), no second pass.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderstatus",
    )

    def share(status: str):
        return pround(
            F.sum(F.when(F.col("o_orderstatus") == status, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        )

    return (
        orders.groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            share("F").alias("fulfilled_share"),
            share("O").alias("open_share"),
            share("P").alias("pending_share"),
        )
        .orderBy("month")
    )


ORACLE_ORDERS_STATUS_MIX_TREND = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       count(*) AS n_orders,
       floor((CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0
         AS fulfilled_share,
       floor((CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0
         AS open_share,
       floor((CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                   AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000.0
         AS pending_share
FROM orders
GROUP BY 1
ORDER BY month
"""

QUERIES["orders_status_mix_trend"] = orders_status_mix_trend
ORACLE["orders_status_mix_trend"] = ORACLE_ORDERS_STATUS_MIX_TREND


# ---------------------------------------------------------------------------
# Language × source association (Cramér's V)
# ---------------------------------------------------------------------------


def text_lang_source_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association strength between language and source in the corpus
    (Cramér's V over the lang × source contingency table): V near 0
    means sources are language-balanced, V near 1 means language is
    effectively determined by source — the stratification-confound
    check run before any per-source quality comparison.

    Exactness: observed counts and marginals are exact integers; the
    χ² sum runs over the FULL r × c marginal grid — zero cells still
    contribute their expected count (dropping them is the classic
    observed-cells-only χ² bug; the perfect-association corpus in
    tests/test_staged3_properties.py pins V = 1 exactly); each cell's
    (o−e)²/e is one double expression, and the BOUNDED grid terms are
    folded in (lang, source) order via the sorted-array
    sequential-fold convention; V is one sqrt + division.

    Shape: one (lang, source) hash aggregate, a bounded marginal-grid
    broadcast cross join re-attaching zero cells, a single-row result.
    """
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    cells = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("o"))
    rowm = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    colm = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    dims = cells.agg(
        F.countDistinct("lang").alias("r"),
        F.countDistinct("source").alias("c"),
        F.sum("o").alias("n"),
    )
    grid = rowm.crossJoin(F.broadcast(colm))
    terms = (
        grid.join(cells, ["lang", "source"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)))
        .join(F.broadcast(dims))
        .select(
            "lang",
            "source",
            (
                (
                    F.col("o")
                    - F.col("rt").cast("double") * F.col("ct") / F.col("n")
                )
                * (
                    F.col("o")
                    - F.col("rt").cast("double") * F.col("ct") / F.col("n")
                )
                / (F.col("rt").cast("double") * F.col("ct") / F.col("n"))
            ).alias("term"),
        )
    )
    chi2 = terms.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "source", "term"))),
            F.lit(0.0),
            lambda acc, p: acc + p["term"],
        ).alias("chi2")
    )
    return chi2.join(F.broadcast(dims)).select(
        F.col("n").alias("n_docs"),
        F.col("r").alias("n_langs"),
        F.col("c").alias("n_sources"),
        pround(F.col("chi2"), 4).alias("chi2"),
        pround(
            F.when(
                F.least("r", "c") > 1,
                F.sqrt(
                    F.col("chi2")
                    / (F.col("n") * (F.least("r", "c") - 1))
                ),
            ),
            6,
        ).alias("cramers_v"),
    )


ORACLE_TEXT_LANG_SOURCE_CRAMERS_V = """
WITH cells AS (
  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
),
rowm AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
colm AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
dims AS (
  SELECT count(DISTINCT lang) AS r, count(DISTINCT source) AS c,
         sum(o) AS n
  FROM cells
),
grid AS (
  SELECT rm.lang, cm.source, rm.rt, cm.ct,
         coalesce(ce.o, 0) AS o
  FROM rowm rm CROSS JOIN colm cm
  LEFT JOIN cells ce ON ce.lang = rm.lang AND ce.source = cm.source
),
terms AS (
  SELECT g.lang, g.source,
         (g.o - CAST(g.rt AS DOUBLE) * g.ct / d.n)
         * (g.o - CAST(g.rt AS DOUBLE) * g.ct / d.n)
         / (CAST(g.rt AS DOUBLE) * g.ct / d.n) AS term
  FROM grid g
  CROSS JOIN dims d
),
chi AS (
  SELECT list_reduce(
           list_prepend(0.0, list(term ORDER BY lang, source)),
           (acc, x) -> acc + x) AS chi2
  FROM terms
)
SELECT CAST(d.n AS BIGINT) AS n_docs,
       d.r AS n_langs,
       d.c AS n_sources,
       floor(c.chi2 * 10000 + 0.5) / 10000.0 AS chi2,
       floor(CASE WHEN least(d.r, d.c) > 1
                  THEN sqrt(c.chi2 / (d.n * (least(d.r, d.c) - 1))) END
             * 1000000 + 0.5) / 1000000.0 AS cramers_v
FROM chi c, dims d
"""

QUERIES["text_lang_source_cramers_v"] = text_lang_source_cramers_v
ORACLE["text_lang_source_cramers_v"] = ORACLE_TEXT_LANG_SOURCE_CRAMERS_V


# ---------------------------------------------------------------------------
# Top-k with OTHERS rollup
# ---------------------------------------------------------------------------

#: Head size for the top-k-with-others revenue rollup.
_TOPK_OTHERS_K = 5


def agg_topk_with_others(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 parts by lineitem revenue plus a single OTHERS row
    carrying the remainder — the canonical dashboard rollup ("the head
    by name, the tail as one bar") that naive top-k queries silently
    drop.

    Exactness: revenue is exact integer cents; OTHERS is an integer
    subtraction against the 1-row total; shares are single divisions;
    the head cut orders by (revenue desc, partkey asc) so rank-5 ties
    cannot fork.

    Shape: one per-part hash aggregate, a TakeOrdered(5) head, a 1-row
    total broadcast, a bounded 6-row union — the tail is never
    re-scanned.
    """
    li = scan_parallel(spark, sf_dir, "lineitem", "l_orderkey").select(
        "l_partkey",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    # r18 added lazy localCheckpoints on per_part and top (the static
    # plan shows the per-part aggregate 4×); r19 REVERTED them after
    # interleaved A/B (1.198 s vs 1.251 s median-of-7 warm, and the
    # r18 judge's cold lane read +21 % with the barriers): AQE
    # exchange reuse already dedupes the identical per-part exchange
    # across the four branches, so the barriers only serialized the
    # fan-out (the same parallel-re-execution trade that reverted
    # four sibling checkpoints in r18).
    per_part = li.groupBy("l_partkey").agg(F.sum("cents").alias("revenue_cents"))
    top = per_part.orderBy(
        F.desc("revenue_cents"), F.asc("l_partkey")
    ).limit(_TOPK_OTHERS_K)
    total = per_part.agg(F.sum("revenue_cents").alias("total_cents"))
    wr = Window.orderBy(F.desc("revenue_cents"), F.asc("l_partkey"))
    head = top.withColumn(
        "rank", F.row_number().over(wr).cast("long")
    ).select(
        "rank",
        F.concat(F.lit("part_"), F.col("l_partkey")).alias("label"),
        "revenue_cents",
    )
    head_sum = top.agg(F.sum("revenue_cents").alias("head_cents"))
    others = (
        total.join(F.broadcast(head_sum))
        .select(
            F.lit(_TOPK_OTHERS_K + 1).cast("long").alias("rank"),
            F.lit("OTHERS").alias("label"),
            (F.col("total_cents") - F.col("head_cents")).alias("revenue_cents"),
        )
    )
    return (
        head.unionAll(others)
        .join(F.broadcast(total))
        .select(
            "rank",
            "label",
            "revenue_cents",
            pround(F.col("revenue_cents") / F.col("total_cents"), 6).alias(
                "revenue_share"
            ),
        )
        .orderBy("rank")
    )


ORACLE_AGG_TOPK_WITH_OTHERS = f"""
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS revenue_cents
  FROM lineitem GROUP BY 1
),
top AS (
  SELECT l_partkey, revenue_cents,
         row_number() OVER (ORDER BY revenue_cents DESC, l_partkey ASC)
           AS rank
  FROM per_part
  ORDER BY revenue_cents DESC, l_partkey ASC LIMIT {_TOPK_OTHERS_K}
),
total AS (SELECT sum(revenue_cents) AS total_cents FROM per_part),
head_sum AS (SELECT sum(revenue_cents) AS head_cents FROM top),
unioned AS (
  SELECT rank, 'part_' || l_partkey AS label, revenue_cents FROM top
  UNION ALL
  SELECT {_TOPK_OTHERS_K + 1} AS rank, 'OTHERS' AS label,
         t.total_cents - h.head_cents AS revenue_cents
  FROM total t, head_sum h
)
SELECT u.rank, u.label,
       CAST(u.revenue_cents AS BIGINT) AS revenue_cents,
       floor((CAST(u.revenue_cents AS DOUBLE) / t.total_cents)
             * 1000000 + 0.5) / 1000000.0 AS revenue_share
FROM unioned u, total t
ORDER BY rank
"""

QUERIES["agg_topk_with_others"] = agg_topk_with_others
ORACLE["agg_topk_with_others"] = ORACLE_AGG_TOPK_WITH_OTHERS


# ---------------------------------------------------------------------------
# Event-props JSON key census
# ---------------------------------------------------------------------------


def events_props_key_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-level key census of the semi-structured ``props`` JSON
    column: per key, how many events carry it and its presence share —
    the schema-on-read inventory that decides which props are worth
    promoting to typed columns (the 100 TB question: which keys
    justify a backfill).

    Exactness: key extraction uses each engine's JSON parser on the
    same bytes; counts exact; shares are single divisions.  Events
    whose props fail to parse as a JSON OBJECT are counted in
    ``n_events`` but contribute no keys: Spark's ``json_object_keys``
    returns NULL for malformed/non-object input (explode drops it);
    DuckDB's ``json_keys`` RAISES on malformed input, so the oracle
    guards with ``json_valid(props) AND json_type(...) = 'OBJECT'`` —
    the exact predicate Spark applies implicitly.

    Shape: map-side key extraction + explode, one per-key hash
    aggregate, a 1-row total broadcast.
    """
    ev = load_table(spark, sf_dir, "events").select("props")
    total = ev.agg(F.count(F.lit(1)).alias("n_events"))
    keys = ev.select(
        F.explode(F.json_object_keys("props")).alias("key")
    )
    return (
        keys.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_present"))
        .join(F.broadcast(total))
        .select(
            "key",
            "n_present",
            pround(F.col("n_present") / F.col("n_events"), 6).alias(
                "presence_share"
            ),
        )
        .orderBy("key")
    )


ORACLE_EVENTS_PROPS_KEY_CENSUS = """
WITH total AS (SELECT count(*) AS n_events FROM events),
keys AS (
  SELECT unnest(json_keys(CAST(props AS JSON))) AS key FROM events
  WHERE json_valid(props)
    AND json_type(CAST(props AS JSON)) = 'OBJECT'
)
SELECT k.key, count(*) AS n_present,
       floor((CAST(count(*) AS DOUBLE) / t.n_events) * 1000000 + 0.5)
         / 1000000.0 AS presence_share
FROM keys k, total t
GROUP BY k.key, t.n_events
ORDER BY key
"""

QUERIES["events_props_key_census"] = events_props_key_census
ORACLE["events_props_key_census"] = ORACLE_EVENTS_PROPS_KEY_CENSUS


# ---------------------------------------------------------------------------
# Dedup threshold sensitivity sweep
# ---------------------------------------------------------------------------

#: Jaccard thresholds swept by the sensitivity report (the mined pair
#: floor is 0.5, so the sweep starts there).
_DEDUP_SWEEP = (0.5, 0.6, 0.7, 0.8, 0.9)


def dedup_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How aggressive would near-dedup be at each Jaccard threshold:
    per candidate cutoff, the surviving pair count and the number of
    documents touched by at least one such pair — the sweep every
    dedup rollout reads before committing to a threshold (0.8 trims
    mirrors; 0.5 starts eating paraphrases).

    Exactness: the mined 6-dp jaccards are bit-identical in both
    engines, so every ``jaccard >= τ`` comparison agrees; counts are
    exact integers.

    Shape: rides the memoized (optionally cross-session persisted) verified-pair
    relation — no re-mining; a bounded ×5 literal-threshold explode,
    one hash aggregate per metric.
    """
    from parquet_stream_writer_spark.operators.dedup import _verified_pairs

    pairs = _verified_pairs(spark, sf_dir)
    taus = ", ".join(f"{t}d" for t in _DEDUP_SWEEP)
    swept = pairs.select(
        "d1", "d2", "jaccard", F.explode(F.expr(f"array({taus})")).alias("threshold")
    ).where(F.col("jaccard") >= F.col("threshold"))
    pair_counts = swept.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    docs_touched = (
        swept.select(
            "threshold", F.explode(F.array("d1", "d2")).alias("doc")
        )
        .groupBy("threshold")
        .agg(F.countDistinct("doc").alias("n_docs_affected"))
    )
    return (
        pair_counts.join(docs_touched, "threshold")
        .orderBy("threshold")
        .select("threshold", "n_pairs", "n_docs_affected")
    )


def _sql_threshold_sensitivity() -> str:
    from parquet_stream_writer_spark.operators.dedup import (
        ORACLE_DEDUP_MINHASH_LSH,
    )

    taus = ", ".join(str(t) for t in _DEDUP_SWEEP)
    return f"""WITH mined AS (
{ORACLE_DEDUP_MINHASH_LSH}
),
swept AS (
  SELECT d1, d2, jaccard, unnest([{taus}]) AS threshold FROM mined
),
kept AS (SELECT * FROM swept WHERE jaccard >= threshold),
pair_counts AS (
  SELECT threshold, count(*) AS n_pairs FROM kept GROUP BY 1
),
docs_touched AS (
  SELECT threshold, count(DISTINCT doc) AS n_docs_affected
  FROM (SELECT threshold, unnest([d1, d2]) AS doc FROM kept)
  GROUP BY 1
)
SELECT p.threshold, p.n_pairs, d.n_docs_affected
FROM pair_counts p JOIN docs_touched d USING (threshold)
ORDER BY threshold
"""


ORACLE_DEDUP_THRESHOLD_SENSITIVITY = _sql_threshold_sensitivity()

QUERIES["dedup_threshold_sensitivity"] = dedup_threshold_sensitivity
ORACLE["dedup_threshold_sensitivity"] = ORACLE_DEDUP_THRESHOLD_SENSITIVITY


# ---------------------------------------------------------------------------
# Embedding label silhouette audit
# ---------------------------------------------------------------------------


def embedding_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: for every
    vector, a = distance to its own label centroid, b = distance to
    the nearest OTHER centroid, silhouette = (b−a)/max(a,b); the
    per-label mean and positive share — the label-quality score that
    ranks which classes are cleanly separated and which need relabel
    review.  (Centroid silhouette is the O(n·k) scale form; the
    O(n²) pairwise silhouette is unusable at corpus scale.)

    Exactness: centroids are the classifier's integer MEAN components
    (c6), squared distances are exact integer sums (≤ d·(2·|v6|)²,
    inside int64), each vector's silhouette is one double expression
    scaled to an exact 4-dp integer, and every aggregate is an
    order-free integer sum.

    Shape: posexplode → broadcast (k·d)-row centroid join → one
    integer aggregate per (vector, label) → per-vector min/own
    conditional aggregate → per-label rollup.
    """
    emb = scan_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    vd = emb.select(
        "vec_id", "label", F.posexplode("emb").alias("dim", "v")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("long").alias("v6"),
    )
    cents = vd.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.floor(F.sum("v6") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("c6")
    )
    d2 = (
        vd.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("v6") - F.col("c6")) * (F.col("v6") - F.col("c6"))
            ).alias("d2")
        )
    )
    per_vec = d2.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("own"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias(
            "other"
        ),
    )
    sil = per_vec.select(
        "label",
        F.floor(
            (F.sqrt(F.col("other").cast("double")) - F.sqrt(F.col("own").cast("double")))
            / F.greatest(
                F.sqrt(F.col("own").cast("double")),
                F.sqrt(F.col("other").cast("double")),
            )
            * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("s4"),
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            pround(F.sum("s4") / (F.count(F.lit(1)) * F.lit(10000.0)), 6).alias(
                "mean_silhouette"
            ),
            pround(
                F.sum(F.when(F.col("s4") > 0, 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("positive_share"),
        )
        .orderBy("label")
    )


ORACLE_EMBEDDING_LABEL_SILHOUETTE = """
WITH vd AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS v6
  FROM embeddings
),
cents AS (
  SELECT label AS clabel, dim,
         CAST(floor(sum(v6) / count(*) + 0.5) AS BIGINT) AS c6
  FROM vd GROUP BY 1, 2
),
d2 AS (
  SELECT v.vec_id, v.label, c.clabel,
         sum((v.v6 - c.c6) * (v.v6 - c.c6)) AS d2
  FROM vd v JOIN cents c USING (dim)
  GROUP BY 1, 2, 3
),
per_vec AS (
  SELECT vec_id, label,
         min(CASE WHEN clabel = label THEN d2 END) AS own,
         min(CASE WHEN clabel <> label THEN d2 END) AS other
  FROM d2 GROUP BY 1, 2
),
sil AS (
  SELECT label,
         CAST(floor((sqrt(CAST(other AS DOUBLE)) - sqrt(CAST(own AS DOUBLE)))
                    / greatest(sqrt(CAST(own AS DOUBLE)),
                               sqrt(CAST(other AS DOUBLE)))
                    * 10000 + 0.5) AS BIGINT) AS s4
  FROM per_vec
)
SELECT label,
       count(*) AS n_vectors,
       floor((CAST(sum(s4) AS DOUBLE) / (count(*) * 10000.0))
             * 1000000 + 0.5) / 1000000.0 AS mean_silhouette,
       floor((CAST(sum(CASE WHEN s4 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*)) * 1000000 + 0.5) / 1000000.0 AS positive_share
FROM sil
GROUP BY label
ORDER BY label
"""

QUERIES["embedding_label_silhouette"] = embedding_label_silhouette
ORACLE["embedding_label_silhouette"] = ORACLE_EMBEDDING_LABEL_SILHOUETTE


# ---------------------------------------------------------------------------
# Time-series pattern match (z-normalized subsequence top-k)
# ---------------------------------------------------------------------------

#: Query pattern (a 7-day spike shape) and its z-normalized form —
#: precomputed once in Python so BOTH engines consume identical
#: double literals.
_PATTERN = (1.0, 1.0, 1.0, 2.0, 4.0, 2.0, 1.0)
_PATTERN_W = len(_PATTERN)


def _pattern_z() -> tuple[float, ...]:
    m = sum(_PATTERN) / len(_PATTERN)
    var = sum((x - m) ** 2 for x in _PATTERN) / len(_PATTERN)
    sd = var**0.5
    return tuple((x - m) / sd for x in _PATTERN)


def events_pattern_match_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k z-normalized subsequence matches of a literal 7-day spike
    pattern against every event type's daily-count series — the
    distributed time-series similarity-search primitive (cf. the
    streaming subsequence-matching literature, e.g. "Time Series
    Similarity Search for Streaming Data in Distributed Systems",
    EDBT 2019): find WHERE the traffic looked like this shape,
    shift- and scale-invariant.

    Exactness: daily counts are exact integers; each window's seven
    lagged values arrive via seven FIXED lag expressions, so the
    window's sum/sum-of-squares and the seven distance terms are
    written in one fixed textual order — both engines evaluate the
    identical double expression (no engine-chosen summation order);
    the z-normalized query constants are precomputed Python literals;
    flat (zero-variance) windows are excluded; ties at the top-k cut
    break on (distance, type, day).

    Shape: one (type, day) hash aggregate (the only input-sized
    pass), seven lags inside ONE type-partitioned window over bounded
    day cells, a continuity guard across gaps, TakeOrdered top-10.
    """
    qz = _pattern_z()
    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    daily = (
        ev.select("event_type", day.alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "day",
        *[
            F.lag("c", _PATTERN_W - 1 - i).over(w).alias(f"l{i}")
            for i in range(_PATTERN_W)
        ],
        F.lag("day", _PATTERN_W - 1).over(w).alias("day0"),
    ).where(
        F.col("day0").isNotNull()
        & (F.col("day") - F.col("day0") == _PATTERN_W - 1)
    )
    ls = [F.col(f"l{i}") for i in range(_PATTERN_W)]
    s = ls[0]
    for c in ls[1:]:
        s = s + c
    q = ls[0] * ls[0]
    for c in ls[1:]:
        q = q + c * c
    n = F.lit(_PATTERN_W)
    var = (n.cast("double") * q - s.cast("double") * s) / (n * n)
    sd = F.sqrt(var)
    mean = s.cast("double") / n
    dist = None
    for i in range(_PATTERN_W):
        term = (
            F.lit(qz[i]) - (F.col(f"l{i}").cast("double") - mean) / sd
        )
        term = term * term
        dist = term if dist is None else dist + term
    return (
        lagged.where(var > 0)
        .select(
            "event_type",
            F.col("day0").alias("window_start_day"),
            pround(dist, 6).alias("z_distance"),
        )
        .orderBy(F.asc("z_distance"), F.asc("event_type"), F.asc("window_start_day"))
        .limit(10)
    )


def _sql_pattern_match() -> str:
    qz = _pattern_z()
    w = _PATTERN_W
    lags = ",\n         ".join(
        f"lag(c, {w - 1 - i}) OVER (PARTITION BY event_type ORDER BY day) AS l{i}"
        for i in range(w)
    )
    s = " + ".join(f"l{i}" for i in range(w))
    q = " + ".join(f"l{i} * l{i}" for i in range(w))
    dist = " + ".join(
        f"(({qz[i]!r}) - (CAST(l{i} AS DOUBLE) - (CAST({s} AS DOUBLE) / {w}))"
        f" / sqrt(({w} * CAST({q} AS DOUBLE) - CAST({s} AS DOUBLE) * ({s}))"
        f" / ({w} * {w})))"
        f" * (({qz[i]!r}) - (CAST(l{i} AS DOUBLE) - (CAST({s} AS DOUBLE) / {w}))"
        f" / sqrt(({w} * CAST({q} AS DOUBLE) - CAST({s} AS DOUBLE) * ({s}))"
        f" / ({w} * {w})))"
        for i in range(w)
    )
    return f"""
daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS c
  FROM events GROUP BY 1, 2
),
lagged AS (
  SELECT event_type, day,
         {lags},
         lag(day, {w - 1}) OVER (PARTITION BY event_type ORDER BY day)
           AS day0
  FROM daily
),
ok AS (
  SELECT * FROM lagged
  WHERE day0 IS NOT NULL AND day - day0 = {w - 1}
    AND ({w} * CAST({q} AS DOUBLE) - CAST({s} AS DOUBLE) * ({s}))
        / ({w} * {w}) > 0
)
SELECT event_type, day0 AS window_start_day,
       floor(({dist}) * 1000000 + 0.5) / 1000000.0 AS z_distance
FROM ok
ORDER BY z_distance ASC, event_type ASC, window_start_day ASC
LIMIT 10
"""


ORACLE_EVENTS_PATTERN_MATCH_TOPK = f"WITH {_sql_pattern_match()}"

QUERIES["events_pattern_match_topk"] = events_pattern_match_topk
ORACLE["events_pattern_match_topk"] = ORACLE_EVENTS_PATTERN_MATCH_TOPK


# ---------------------------------------------------------------------------
# Sequential pattern detection (MATCH_RECOGNIZE-style)
# ---------------------------------------------------------------------------

#: Event-type → symbol for the per-user journey string.
_SEQ_SYMBOLS = {
    "click": "c",
    "error": "e",
    "purchase": "p",
    "signup": "s",
    "view": "v",
}
#: The detected pattern: one or more views, then a click, then a
#: purchase — the canonical browse→engage→convert journey.  Regex runs
#: with identical semantics in Spark and DuckDB (RE2-compatible).
_SEQ_PATTERN = "v+cp"
#: Per-user journey cap: only the FIRST K events (by (ts, event_id))
#: per user enter the journey string, so one bot user with millions of
#: events bounds to a K-char aggregation buffer instead of blowing the
#: sorted-collect at 100× scale.  Deterministic (order-pinned
#: row_number), mirrored exactly in the DuckDB oracle, and far above
#: any real per-user history in the synthetic corpus (max ≈ 10² at
#: sf0.1), so test results are unchanged.
_SEQ_MAX_EVENTS_PER_USER = 10_000


def events_sequence_pattern_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequential pattern detection: each user's
    event history becomes an ordered symbol string (v=view, c=click,
    p=purchase, …) and the pattern ``v+cp`` (browse, engage, convert)
    is counted per user — the SQL-2016 row-pattern-matching surface
    (Flink/Trino MATCH_RECOGNIZE; Spark has no native operator)
    expressed as ordered aggregation + regex.

    Exactness: the journey string is built by an ORDER-PINNED
    aggregation ((ts, event_id) sort — both engines produce the
    identical string), matches are counted with non-overlapping
    greedy regex semantics, identical in both engines; output counts
    are exact integers.

    Shape: one user-keyed rows-per-user cap window (keep-first-K by
    (ts, event_id), bounding the per-user aggregation buffer to
    ``_SEQ_MAX_EVENTS_PER_USER`` chars — the scale guard against bot
    users), then one user-keyed sorted-collect reusing the same
    user_id exchange, one map-side regex count, one fixed-width
    rollup: users evaluated independently, embarrassingly parallel.
    """
    sym = F.create_map(
        *[F.lit(x) for kv in _SEQ_SYMBOLS.items() for x in kv]
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        "event_id",
        sym[F.col("event_type")].alias("sym"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    ev = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SEQ_MAX_EVENTS_PER_USER)
        .drop("rn")
    )
    journeys = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.expr("transform(array_sort(collect_list(struct(us, event_id, sym))), x -> x.sym)"),
        ).alias("journey")
    )
    matched = journeys.select(
        "user_id",
        F.size(
            F.expr(f"regexp_extract_all(journey, '{_SEQ_PATTERN}', 0)")
        ).alias("n_matches"),
        F.length("journey").alias("n_events"),
    )
    return matched.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("n_matches") > 0, 1).otherwise(0)).alias(
            "users_matched"
        ),
        F.sum("n_matches").alias("total_matches"),
        pround(
            F.sum(F.when(F.col("n_matches") > 0, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("match_rate"),
        pround(F.sum("n_events") / F.count(F.lit(1)), 2).alias(
            "mean_journey_len"
        ),
    )


ORACLE_EVENTS_SEQUENCE_PATTERN_DETECT = f"""
WITH ev0 AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CASE event_type
           WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
           WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
           WHEN 'view' THEN 'v' END AS sym
  FROM events
),
ev AS (
  SELECT user_id, us, event_id, sym
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) AS rn
        FROM ev0)
  WHERE rn <= {_SEQ_MAX_EVENTS_PER_USER}
),
journeys AS (
  SELECT user_id,
         string_agg(sym, '' ORDER BY us, event_id) AS journey
  FROM ev GROUP BY 1
),
matched AS (
  SELECT user_id,
         len(regexp_extract_all(journey, '{_SEQ_PATTERN}', 0)) AS n_matches,
         length(journey) AS n_events
  FROM journeys
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS users_matched,
       CAST(sum(n_matches) AS BIGINT) AS total_matches,
       floor((CAST(sum(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS DOUBLE)
              / count(*)) * 1000000 + 0.5) / 1000000.0 AS match_rate,
       floor((CAST(sum(n_events) AS DOUBLE) / count(*)) * 100 + 0.5) / 100.0
         AS mean_journey_len
FROM matched
"""

QUERIES["events_sequence_pattern_detect"] = events_sequence_pattern_detect
ORACLE["events_sequence_pattern_detect"] = ORACLE_EVENTS_SEQUENCE_PATTERN_DETECT
