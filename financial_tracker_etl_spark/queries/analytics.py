"""Large-scale analytics queries over the raw testdata tables.

Engine breadth beyond the reference's operator rows: multi-way
broadcast joins, grouped aggregation, top-k windows, sessionization —
the shapes a 100 TB warehouse actually runs, and the bench anchors.

Cross-engine determinism rules (see fixtures.py): money sums go
through per-row DECIMAL(30,8) casts (wide enough for SURVEY §5's VALID
huge values; products stay ≤8dp so
the cast never rounds), so SUM is exact in both engines and surfaces
as DOUBLE identically. Time arithmetic uses integer microseconds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.functions import broadcast

from .. import fixtures
from ..catalog import load_table
from . import QuerySpec


def _dec(c: Column) -> Column:
    # 22 integer digits: SURVEY §5 pins zero/negative/HUGE prices as
    # VALID, and the round-16 extreme-numeric fuzz class plants 1.5e12
    # — the old DECIMAL(18,8) per-row cast (10 integer digits) THREW
    # under ANSI on one planted value. The conversion itself is the
    # magnitude-branched portable cast (fixtures.money_dec): above 2^26
    # DuckDB's multiply-based double→decimal cast diverges from
    # Spark's exact-expansion cast, so both engines switch to the
    # shortest-roundtrip string route there.
    return fixtures.money_dec(c)


def _dsum(c: Column) -> Column:
    """Exact DECIMAL sum emitted as a BIT-IDENTICAL double on both
    engines. The naive ``CAST(sum AS DOUBLE)`` diverges at scale:
    DuckDB's wide-decimal→double cast double-rounds (int128 numerator
    exceeds 2^53 once group sums pass ~9e7) while Spark's BigDecimal
    path is correctly rounded — observed as a 17th-significant-digit
    mismatch on the sf0.1 Q1 sums (invisible at the sf0.01 gate).
    Fix: floor the sum at 4 decimals into an exact BIGINT (floor on
    DECIMAL is exact on both engines), then rebuild the double with
    the SAME two correctly-rounded ops everywhere — int64→double and
    one division by an exactly-representable 1e4.

    The ×10000 scaling must NOT multiply the raw precision-38 sum:
    Spark's cap would silently drop it to scale 6 (a round at the 6th
    decimal that can cross the floor boundary — round-16 extreme
    class). The sum is instead narrowed to (28,8) — exact while
    |Σ| < 1e20, i.e. ~6e7 rows of planted 1.5e12 extremes per group —
    so the ×10⁴ lands at (34,8), under the cap and exact. Narrowing
    POST-sum rather than scaling per row is also the measured fast
    path: one cast per group instead of one Int128 multiply per row
    (A/B at sf0.1: 0.92 s vs 1.11 s on the Q1 shape; the per-row form
    was briefly shipped mid-round-16)."""
    scaled = F.floor(
        F.sum(_dec(c)).cast("decimal(28,8)") * F.lit(10000)
    ).cast("long")
    return scaled.cast("double") / F.lit(10000.0)


def _dsum_sql(expr: str) -> str:
    return (
        f"CAST(CAST(floor(CAST(sum({fixtures.money_dec_sql(expr)}) "
        f"AS DECIMAL(28,8)) * 10000) AS BIGINT) AS DOUBLE) / 10000.0"
    )


# portable-cast snippets spliced into oracle f-strings below (the
# Spark twins use fixtures.money_dec on the same expressions)
MD_BREV = fixtures.money_dec_sql("brand_revenue")
MD_REV = fixtures.money_dec_sql("l_extendedprice * (1 - l_discount)")
MD_VALUE = fixtures.money_dec_sql("value")
MD_BAL = fixtures.money_dec_sql("c_acctbal")


# ---------------------------------------------------------------------------
# Pricing summary (TPC-H Q1 shape): single wide scan + grouped agg.
# Partial aggregation (map-side combine) + whole-stage codegen carry
# this at scale; the shipdate filter pushes into the parquet scan.
# ---------------------------------------------------------------------------

_CUTOFF = "1998-09-02"


_HOUR_US = 3_600_000_000


def _hour_floor_us(col: Column) -> Column:
    """Floor an epoch-us column to its hour boundary with
    floor-mod semantics — `ts_us - ts_us % H` truncates toward zero,
    so a PRE-1970 (negative epoch) instant buckets one hour high
    relative to the oracle's date_trunc('hour'), which floors
    (round-16 fuzzer, timewarp class). Identical for ts_us >= 0."""
    return col - ((col % _HOUR_US) + _HOUR_US) % _HOUR_US


_DAY_US = 86_400_000_000


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit(_CUTOFF).cast("timestamp_ntz")
    )
    price = F.col("l_extendedprice")
    disc_price = price * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(price).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            (_dsum(price) / F.count(F.lit(1))).alias("avg_price"),
            (_dsum(F.col("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum_sql('l_quantity')} AS sum_qty,
       {_dsum_sql('l_extendedprice')} AS sum_base_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {_dsum_sql('l_quantity')} / count(*) AS avg_qty,
       {_dsum_sql('l_extendedprice')} / count(*) AS avg_price,
       {_dsum_sql('l_discount')} / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_CUTOFF} 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# Top revenue customers (Q3/Q10 shape): 3-way join + agg + top-k.
# nation is broadcast (tiny dim); customer⋈orders⋈lineitem shuffle on
# the join keys; top-k is a single global window over the small
# aggregate — at scale this is the canonical star-join plan.
# ---------------------------------------------------------------------------


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    # partial aggregation BELOW the join: lineitem (the 100 TB table)
    # collapses to one row per order before touching orders, so the
    # big join moves ~4× fewer bytes and reuses the groupBy's hash
    # partitioning on the join key (no extra exchange). DECIMAL sums
    # are exact and associative, so re-aggregating the per-order
    # partials per customer is bit-identical to the flat aggregation
    # the oracle states.
    # the partial stays an exact DECIMAL sum — _dsum's floor-to-double
    # happens ONCE in the outer aggregation, so regrouping the exact
    # partials per customer is bit-identical to the flat aggregation
    per_order = li.groupBy("l_orderkey").agg(
        # the partial stays an exact UNscaled decimal sum, narrowed to
        # (30,8) (runtime-safe: a single order is a handful of items);
        # the outer sum then narrows to (28,8) before the ×10⁴ so
        # Spark's precision-38 cap never rounds it at scale 6
        # (round-16 fuzzer, extreme class; post-sum narrowing is also
        # the measured fast path — see _dsum)
        F.sum(_dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
        .cast("decimal(30,8)")
        .alias("_rev"),
        F.count(F.lit(1)).alias("_n"),
    )
    outer_sum = F.floor(
        F.sum("_rev").cast("decimal(28,8)") * F.lit(10000)
    ).cast("long")
    revenue = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            (outer_sum.cast("double") / F.lit(10000.0)).alias("revenue"),
            F.sum("_n").alias("n_lineitems"),
        )
    )
    # top-k via orderBy+limit, which Spark plans as a distributed
    # TakeOrderedAndProject (per-partition heaps + driver merge of 20
    # rows) — NOT a global row_number window, which would sort every
    # per-customer aggregate on ONE partition (round-1 scale-killer).
    # The rank window afterwards runs over exactly 20 rows.
    order = [F.col("revenue").desc(), F.col("c_custkey").asc()]
    top = revenue.orderBy(*order).limit(20)
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))


_TOP_CUSTOMERS_ORACLE = f"""
WITH revenue AS (
  SELECT c_custkey, c_name, n_name,
         {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
         count(*) AS n_lineitems
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY c_custkey, c_name, n_name
)
SELECT * FROM (
  SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey ASC) AS rank
  FROM revenue
) WHERE rank <= 20
"""


# ---------------------------------------------------------------------------
# Region/nation rollup: chained broadcast joins over the dim tables.
# ---------------------------------------------------------------------------


def _q_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("customers"),
            _dsum(F.col("c_acctbal")).alias("total_balance"),
        )
    )


_REGION_ROLLUP_ORACLE = f"""
SELECT r_name, n_name,
       count(*) AS customers,
       {_dsum_sql('c_acctbal')} AS total_balance
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def _q_resurrected_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting's third class: per epoch week, active users
    split into new (first week), current (active the previous week)
    and RESURRECTED (returning after ≥2 dormant weeks) — the lag-over-
    active-weeks classification, per-user windows only, with each
    class's ppm share of the week's actives."""
    from pyspark.sql import Window

    # a timeless event is not activity in any week; a null week also
    # diverges the engines' lag() ordering (Spark nulls first makes the
    # real first week look 'resurrected') — round-15 fuzzer, time nulls
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts_us")
        .filter(F.col("ts_us").isNotNull())
    )
    weeks = ev.select(
        "user_id", F.expr(f"(ts_us div {_DAY_US}) div 7").alias("week")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    classed = weeks.withColumn("_prev", F.lag("week").over(w)).select(
        "week",
        F.when(F.col("_prev").isNull(), "new")
        .when(F.col("week") - F.col("_prev") == 1, "current")
        .otherwise("resurrected")
        .alias("user_class"),
    )
    tot = Window.partitionBy("week")
    return (
        classed.groupBy("week", "user_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .withColumn(
            "share_ppm",
            F.expr(
                "n_users * 1000000 div sum(n_users) OVER (PARTITION BY week)"
            ),
        )
    )


_RESURRECTED_ORACLE = f"""
WITH weeks AS (
  SELECT DISTINCT user_id, (epoch_us(ts) // {_DAY_US}) // 7 AS week
  FROM events WHERE ts IS NOT NULL
),
classed AS (
  SELECT week,
         CASE WHEN lag(week) OVER (PARTITION BY user_id ORDER BY week) IS NULL
                THEN 'new'
              WHEN week - lag(week) OVER (PARTITION BY user_id ORDER BY week) = 1
                THEN 'current'
              ELSE 'resurrected' END AS user_class
  FROM weeks
),
counts AS (
  SELECT week, user_class, CAST(count(*) AS BIGINT) AS n_users
  FROM classed GROUP BY week, user_class
)
SELECT week, user_class, n_users,
       CAST(n_users * 1000000 // sum(n_users) OVER (PARTITION BY week)
            AS BIGINT) AS share_ppm
FROM counts
"""


def _q_cohort_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel completion by acquisition cohort: users bucketed by
    first-activity epoch week, each cohort's funnel-entrant count
    (reached stage 1 = viewed) and completion share in ppm — the
    composition marketing asks of the funnel ('are newer cohorts
    converting better'). Reuses the funnel stages and joins them to a
    per-user first-week aggregate; the rollup is |weeks| rows."""
    f = _q_funnel(spark, sf_dir).select("user_id", "stage_reached")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts_us")
    cohort = ev.groupBy("user_id").agg(
        F.expr(f"min(ts_us) div {_DAY_US} div 7").alias("cohort_week")
    )
    return (
        f.join(cohort, "user_id")
        .groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).cast("long").alias("funnel_entrants"),
            F.sum(F.when(F.col("stage_reached") == 3, 1).otherwise(0))
            .cast("long")
            .alias("completed"),
        )
        .select(
            "cohort_week",
            "funnel_entrants",
            "completed",
            F.expr("completed * 1000000 div funnel_entrants").alias(
                "completion_ppm"
            ),
        )
    )


def _cohort_conversion_oracle() -> str:
    # deferred: _FUNNEL_ORACLE is defined later in the module
    return (
        _FUNNEL_ORACLE.rsplit("SELECT v.user_id", 1)[0].rstrip().rstrip(")")
        + f"""),
funnel AS (
  SELECT v.user_id,
         1 + CASE WHEN first_click_us IS NULL THEN 0 ELSE 1 END
           + CASE WHEN first_purchase_us IS NULL THEN 0 ELSE 1 END
           AS stage_reached
  FROM v
  LEFT JOIN c ON v.user_id = c.user_id
  LEFT JOIN p ON v.user_id = p.user_id
),
cohort AS (
  SELECT user_id, min(epoch_us(ts)) // {_DAY_US} // 7 AS cohort_week
  FROM events GROUP BY user_id
)
SELECT cohort_week,
       CAST(count(*) AS BIGINT) AS funnel_entrants,
       CAST(sum(CASE WHEN stage_reached = 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS completed,
       CAST(sum(CASE WHEN stage_reached = 3 THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS completion_ppm
FROM funnel JOIN cohort USING (user_id)
GROUP BY cohort_week
"""
    )


def _q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement stickiness per epoch week: the DAU/WAU ratio in ppm,
    computed exactly as Σ(daily distinct actives over the week) * 1e6
    div (7 * weekly distinct actives) — 'how many of the week's users
    show up on an average day'. Two distinct-aggregates sharing the
    (user, day) dedup scan; integer epoch buckets."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts_us")
    days = ev.select(
        "user_id",
        F.expr(f"ts_us div {_DAY_US}").alias("day"),
    ).distinct()
    with_week = days.withColumn("week", F.expr("day div 7"))
    dau_sum = with_week.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("user_days")
    )
    wau = with_week.select("week", "user_id").distinct().groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    )
    return dau_sum.join(wau, "week").select(
        "week",
        "user_days",
        "wau",
        F.expr("user_days * 1000000 div (7 * wau)").alias("stickiness_ppm"),
    )


_STICKINESS_ORACLE = f"""
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
),
ww AS (
  SELECT user_id, day, day // 7 AS week FROM days
),
dau AS (
  SELECT week, CAST(count(*) AS BIGINT) AS user_days FROM ww GROUP BY week
),
wau AS (
  SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM ww GROUP BY week
)
SELECT week, user_days, wau,
       CAST(user_days * 1000000 // (7 * wau) AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau USING (week)
"""


def _q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules a→b from the co-purchase pairs:
    confidence = support(a,b)/baskets(a) and lift =
    confidence/P(b) — the Apriori rule-generation step on top of the
    2-itemset supports, emitted BOTH directions per pair. Integer ppm
    with agreed truncation order (confidence first, then lift over the
    global basket count), so the oracle pins every division. Rule
    generation runs on the |brands|²-bounded pair table, never the
    fact table."""
    pairs = _q_copurchase_pairs(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    # the global basket count stays IN the plan as a broadcast 1-row
    # aggregate (same pattern as the other scalar denominators) — a
    # driver-side .count() here was a whole extra job per call
    n_orders = li.agg(
        F.count_distinct("l_orderkey").alias("_n_orders")
    )
    # both rule directions from ONE pass over the pair table: a
    # fwd/rev union of the same subtree would re-execute the whole
    # co-purchase self-join per direction
    direction = F.explode(
        F.array(
            F.struct(
                F.col("brand_a").alias("antecedent"),
                F.col("brand_b").alias("consequent"),
                F.col("pair_support").alias("pair_support"),
                F.col("baskets_a").alias("antecedent_baskets"),
                F.col("baskets_b").alias("consequent_baskets"),
            ),
            F.struct(
                F.col("brand_b").alias("antecedent"),
                F.col("brand_a").alias("consequent"),
                F.col("pair_support").alias("pair_support"),
                F.col("baskets_b").alias("antecedent_baskets"),
                F.col("baskets_a").alias("consequent_baskets"),
            ),
        )
    )
    rules = (
        pairs.select(direction.alias("_r"))
        .select("_r.*")
        .crossJoin(F.broadcast(n_orders))
    )
    return rules.select(
        "antecedent",
        "consequent",
        "pair_support",
        F.expr("pair_support * 1000000 div antecedent_baskets").alias(
            "confidence_ppm"
        ),
        F.expr(
            "(pair_support * 1000000 div antecedent_baskets)"
            " * _n_orders div consequent_baskets"
        ).alias("lift_ppm"),
    )


def _association_rules_oracle() -> str:
    return f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
nb AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_baskets
  FROM baskets GROUP BY p_brand
),
no AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lineitem
),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS pair_support
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING count(*) >= {_COPURCHASE_MIN_SUPPORT}
),
rules AS (
  SELECT brand_a AS antecedent, brand_b AS consequent, pair_support,
         na.n_baskets AS antecedent_baskets, nbb.n_baskets AS consequent_baskets
  FROM pairs JOIN nb na ON pairs.brand_a = na.p_brand
             JOIN nb nbb ON pairs.brand_b = nbb.p_brand
  UNION ALL
  SELECT brand_b, brand_a, pair_support,
         nbb.n_baskets, na.n_baskets
  FROM pairs JOIN nb na ON pairs.brand_a = na.p_brand
             JOIN nb nbb ON pairs.brand_b = nbb.p_brand
)
SELECT antecedent, consequent, pair_support,
       CAST(pair_support * 1000000 // antecedent_baskets AS BIGINT)
         AS confidence_ppm,
       CAST((pair_support * 1000000 // antecedent_baskets)
            * (SELECT n_orders FROM no) // consequent_baskets AS BIGINT)
         AS lift_ppm
FROM rules
"""


def _q_user_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-Simpson effective diversity per user: 1/Σpᵢ² expressed
    log-free in ppm (effective_types_ppm = 1e12 div Σ share_ppm²) —
    'how many event types does this user EFFECTIVELY use', the
    log-free twin of Shannon entropy and the reciprocal of the HHI
    concentration index. One grouped count + a per-user window over
    ≤|types| rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = Window.partitionBy("user_id")
    shares = counts.select(
        "user_id",
        F.expr(
            "n * 1000000 div sum(n) OVER (PARTITION BY user_id)"
        ).alias("_share_ppm"),
    )
    return shares.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_types"),
        F.expr(
            "CAST(1000000000000 div sum(_share_ppm * _share_ppm) AS BIGINT)"
        ).alias("effective_types_ppm"),
    )


_USER_DIVERSITY_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
),
shares AS (
  SELECT user_id,
         CAST(n * 1000000 // sum(n) OVER (PARTITION BY user_id) AS BIGINT)
           AS share_ppm
  FROM counts
)
SELECT user_id,
       CAST(count(*) AS INTEGER) AS n_types,
       CAST(1000000000000 // sum(share_ppm * share_ppm) AS BIGINT)
         AS effective_types_ppm
FROM shares
GROUP BY user_id
"""


def _q_pareto_top_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration per brand: the volume share held by the
    top decile of its suppliers (ceil(n/10) heaviest by rank) in ppm —
    the '80/20' dashboard number, computed from the supplier rollup
    with one rank window and a conditional sum, all integer."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    vol = (
        li.join(broadcast(part), "l_partkey")
        .groupBy("p_brand", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("n"), "l_suppkey")
    tot = Window.partitionBy("p_brand")
    ranked = vol.select(
        "p_brand",
        "n",
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(tot).alias("_nsup"),
        F.sum("n").over(tot).cast("long").alias("_total"),
    )
    return (
        ranked.groupBy("p_brand")
        .agg(
            F.first("_nsup").cast("long").alias("n_suppliers"),
            F.first("_total").alias("total_items"),
            F.sum(
                F.when(
                    F.expr("_rk <= CAST(ceil(_nsup / 10) AS BIGINT)"), F.col("n")
                ).otherwise(0)
            )
            .cast("long")
            .alias("_top"),
        )
        .select(
            "p_brand",
            "n_suppliers",
            "total_items",
            F.expr("_top * 1000000 div total_items").alias(
                "top_decile_share_ppm"
            ),
        )
    )


_PARETO_ORACLE = """
WITH vol AS (
  SELECT p_brand, l_suppkey, CAST(count(*) AS BIGINT) AS n
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_suppkey
),
ranked AS (
  SELECT p_brand, n,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY n DESC, l_suppkey) AS rk,
         count(*) OVER (PARTITION BY p_brand) AS nsup,
         sum(n) OVER (PARTITION BY p_brand) AS total
  FROM vol
)
SELECT p_brand,
       CAST(min(nsup) AS BIGINT) AS n_suppliers,
       CAST(min(total) AS BIGINT) AS total_items,
       CAST(sum(CASE WHEN rk <= CAST(ceil(nsup / 10) AS BIGINT)
                     THEN n ELSE 0 END) * 1000000 // min(total) AS BIGINT)
         AS top_decile_share_ppm
FROM ranked
GROUP BY p_brand
"""


def _q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour-of-day activity matrix per event type with each
    cell's share of the type's total in ppm — the dashboard heatmap as
    one grouped count plus a per-type window over the ≤168-cell
    matrix. Calendar arithmetic is pure integer epoch math (day 0 =
    Thursday, so dow = (epoch_day + 4) mod 7 with 0 = Sunday):
    timezone-free, hence bit-identical across engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts_us")
    cells = ev.groupBy(
        "event_type",
        F.expr(f"CAST((ts_us div {_DAY_US} + 4) % 7 AS INT)").alias("dow"),
        F.expr(
            f"CAST((ts_us % {_DAY_US}) div {_HOUR_US} AS INT)"
        ).alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    t = Window.partitionBy("event_type")
    return cells.select(
        "event_type",
        "dow",
        "hour_of_day",
        "n_events",
        F.expr(
            "n_events * 1000000 div sum(n_events)"
            " OVER (PARTITION BY event_type)"
        ).alias("share_ppm"),
    )


_ACTIVITY_HEATMAP_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         CAST((epoch_us(ts) // {_DAY_US} + 4) % 7 AS INTEGER) AS dow,
         CAST((epoch_us(ts) % {_DAY_US}) // {_HOUR_US} AS INTEGER)
           AS hour_of_day,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events
  GROUP BY 1, 2, 3
)
SELECT event_type, dow, hour_of_day, n_events,
       CAST(n_events * 1000000 //
            sum(n_events) OVER (PARTITION BY event_type) AS BIGINT)
         AS share_ppm
FROM cells
"""


def _q_mad_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group, fully integer: the robust
    dispersion estimate (breakdown point 50%, vs 0% for stddev).
    Both medians are DISCRETE order statistics — the ceil(n/2)-th
    smallest element of a multiset, which is a pure function of the
    VALUE histogram (tie-break-invariant) — so with an integer-valued
    measure the exact median comes from ``groupBy(group, x).count()``:
    one hash-agg shuffle of |groups| x |distinct x| rows with map-side
    combine, then a cumulative-count window over that tiny histogram.
    The deviation median then derives from the SAME histogram (|x-med|
    is a function of x), no second scan of the fact table. The old
    formulation (row_number over partitionBy(l_returnflag)) sorted the
    whole fact table on THREE reducers — measured near-linear
    2.6/5.2/9.8 s at 1x/4x/8x; this shape is flat, and at 100 TB it is
    the difference between a working query and three hot executors.
    ceil(n/2) is computed as (n + 1) div 2 — integer-exact past 2^53
    and equal to the oracle's ceil(n/2) for every integer n. The
    oracle deliberately KEEPS the rank-selection formulation
    (row_number over the totalized order), so the differential checks
    the histogram rewrite against an independent derivation of the
    same order statistic."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("x")
    )
    hist = li.groupBy("l_returnflag", "x").agg(
        F.count(F.lit(1)).alias("c")
    )
    wn = Window.partitionBy("l_returnflag")
    wx = (
        Window.partitionBy("l_returnflag")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    med = (
        hist.withColumn("_n", F.sum("c").over(wn))
        .withColumn("_cum", F.sum("c").over(wx))
        .filter(F.col("_cum") >= F.expr("(_n + 1) div 2"))
        .groupBy("l_returnflag")
        .agg(
            F.min("x").alias("med"),
            F.max("_n").alias("_n"),
        )
    )
    devh = (
        hist.join(broadcast(med), "l_returnflag")
        .select(
            "l_returnflag",
            F.expr("abs(x - med)").alias("d"),
            "c",
            "med",
            "_n",
        )
        .groupBy("l_returnflag", "d", "med", "_n")
        .agg(F.sum("c").alias("c"))
    )
    wd = (
        Window.partitionBy("l_returnflag")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        devh.withColumn("_cum", F.sum("c").over(wd))
        .filter(F.col("_cum") >= F.expr("(_n + 1) div 2"))
        .groupBy("l_returnflag")
        .agg(
            F.max("_n").cast("long").alias("n"),
            F.max("med").cast("long").alias("median_qty"),
            F.min("d").cast("long").alias("mad_qty"),
        )
    )


_MAD_ORACLE = """
WITH li AS (
  -- trunc mirrors Spark's truncating double->long cast (DuckDB's
  -- bare CAST rounds half-even; diverges on fractional quantities)
  SELECT l_returnflag, CAST(trunc(l_quantity) AS BIGINT) AS x,
         l_orderkey, l_linenumber
  FROM lineitem
),
med AS (
  SELECT l_returnflag, x AS med FROM (
    SELECT l_returnflag, x,
           row_number() OVER (PARTITION BY l_returnflag
                              ORDER BY x, l_orderkey, l_linenumber) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n
    FROM li
  ) WHERE rn = CAST(ceil(n / 2) AS BIGINT)
),
dev AS (
  SELECT li.l_returnflag, abs(x - med) AS d, med, l_orderkey, l_linenumber
  FROM li JOIN med ON li.l_returnflag = med.l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       CAST(med AS BIGINT) AS median_qty,
       CAST(d AS BIGINT) AS mad_qty
FROM (
  SELECT l_returnflag, d, med,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY d, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM dev
) WHERE rn = CAST(ceil(n / 2) AS BIGINT)
"""


def _q_top_parts_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by lineitem count INCLUDING ties —
    ``rank() <= k`` semantics, the tie-preserving variant of the
    row_number top-k the WindowGroupLimit plan tests pin (Spark pushes
    a group-limit for rank exactly as for row_number, so ties cost no
    extra shuffle). Deterministic output without arbitrary tie drops:
    every part tied into the top 3 appears."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    counts = (
        li.join(broadcast(part), "l_partkey")
        .groupBy("p_brand", "l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("n_items"))
    return (
        counts.withColumn("part_rank", F.rank().over(w))
        .filter(F.col("part_rank") <= 3)
        .select(
            "p_brand",
            F.col("l_partkey").alias("p_partkey"),
            "n_items",
            F.col("part_rank").cast("int").alias("part_rank"),
        )
    )


_TOP_PARTS_TIES_ORACLE = """
WITH counts AS (
  SELECT p_brand, p_partkey, CAST(count(*) AS BIGINT) AS n_items
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, p_partkey
)
SELECT p_brand, p_partkey, n_items,
       CAST(rank() OVER (PARTITION BY p_brand ORDER BY n_items DESC)
            AS INTEGER) AS part_rank
FROM counts
QUALIFY part_rank <= 3
"""


def _q_nation_share_of_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchy shares: each nation's count share of
    its REGION (not the grand total — the rollup variant dashboards
    drill with). Customer counts are integers, the parent total is a
    per-region window over the 25-row nation aggregate, and the share
    is one ppm division — the child aggregate shuffles once; the
    percent-of-parent pass runs on the tiny rollup, not the fact
    table."""
    from pyspark.sql import Window

    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    base = (
        cust.join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("customers"))
    )
    parent = Window.partitionBy("r_name")
    return base.select(
        "r_name",
        "n_name",
        "customers",
        F.sum("customers").over(parent).cast("long").alias("region_customers"),
        F.expr(
            "customers * 1000000 div sum(customers) OVER (PARTITION BY r_name)"
        ).alias("share_of_region_ppm"),
    )


_NATION_SHARE_ORACLE = """
WITH base AS (
  SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS customers
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, customers,
       CAST(sum(customers) OVER (PARTITION BY r_name) AS BIGINT)
         AS region_customers,
       CAST(customers * 1000000 //
            sum(customers) OVER (PARTITION BY r_name) AS BIGINT)
         AS share_of_region_ppm
FROM base
"""


# ---------------------------------------------------------------------------
# Order-priority count via EXISTS-style semi join (Q4 shape).
# ---------------------------------------------------------------------------


def _q_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(
            returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_PRIORITY_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# Brand revenue share: agg + broadcast-total crossJoin + division. The
# grand total comes from a separate 1-row aggregate crossJoin-broadcast
# onto the ~25 brand rows instead of an empty-partition window (which
# plans as a single-partition WindowExec — bounded here, but the
# agg+broadcast shape keeps every bench plan free of unpartitioned
# windows so the plan guard can assert a clean invariant). The total is
# an exact DECIMAL sum: summing the ~25 brand doubles in
# arbitrary order would be accumulation-order-dependent cross-engine.
# ---------------------------------------------------------------------------


def _q_brand_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "brand_revenue"
            )
        )
    )
    # the grand total sums ALREADY-AGGREGATED brand revenues (a single
    # brand clears 1e10 around TPC-H sf 1 — the round-5 ladder found
    # the too-narrow cast throwing under ANSI). Same narrow-the-sum-
    # then-scale shape as _dsum: the (38,8) sum narrows to (28,8) so
    # the ×10⁴ lands exactly at (34,8) under Spark's precision cap.
    # Same floor-to-4-decimals double reconstruction as _dsum so the
    # share division stays bit-identical cross-engine.
    total = rev.agg(
        (
            F.floor(
                F.sum(fixtures.money_dec(F.col("brand_revenue")))
                .cast("decimal(28,8)")
                * F.lit(10000)
            )
            .cast("long")
            .cast("double")
            / F.lit(10000.0)
        ).alias("_total")
    )
    return rev.crossJoin(broadcast(total)).select(
        "p_brand",
        "brand_revenue",
        # guarded round: adversarial cancellation (positive and
        # negative extreme revenues netting near zero) can blow the
        # share past 1e9, where DuckDB's round perturbs the double
        fixtures._pct_round(
            F.col("brand_revenue") / F.col("_total") * 100.0
        ).alias("revenue_share_pct"),
    )


_BRAND_SHARE_ORACLE = f"""
WITH rev AS (
  SELECT p_brand,
         {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS brand_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, brand_revenue,
       {fixtures._pct_round_sql('''brand_revenue /
             (CAST(CAST(floor(CAST(sum(''' + MD_BREV + ''') OVER ()
                   AS DECIMAL(28,8)) * 10000) AS BIGINT) AS DOUBLE)
              / 10000.0) * 100.0''')}
         AS revenue_share_pct
FROM rev
"""


# ---------------------------------------------------------------------------
# Events: hourly rollup (the streaming pipeline's batch twin) and
# gap-based sessionization (lag + cumulative sum windows).
# ---------------------------------------------------------------------------




def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            _hour_floor_us(F.col("ts_us")).alias("hour_us"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dsum(F.col("value")).alias("total_value"),
            F.countDistinct("user_id").alias("unique_users"),
        )
    )


_EVENTS_HOURLY_ORACLE = f"""
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       count(*) AS n_events,
       {_dsum_sql('value')} AS total_value,
       count(DISTINCT user_id) AS unique_users
FROM events
GROUP BY 1, 2
"""

_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min in microseconds


def _q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a new session starts after >30 min of
    user inactivity. Integer-microsecond arithmetic for exact parity."""
    # an event without a timestamp can't be placed in a session; nulls
    # otherwise diverge the engines' lag() ordering (Spark sorts nulls
    # first, DuckDB last) — round-15 fuzzer, time-null class
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts_us", "value")
        .filter(F.col("ts_us").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gapped = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts_us", 1).over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us", 1).over(w)) > _SESSION_GAP_US),
            1,
        ).otherwise(0),
    )
    sessions = gapped.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            _dsum(F.col("value")).alias("session_value"),
        )
    )


_SESSIONS_ORACLE = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
  WHERE ts IS NOT NULL
),
gapped AS (
  SELECT *,
         CASE WHEN lag(ts_us, 1) OVER w IS NULL
                   OR ts_us - lag(ts_us, 1) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
),
sessions AS (
  SELECT *,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM gapped
)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us,
       {_dsum_sql('value')} AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# F4 over a persisted semi-structured column: events.props JSON
# ---------------------------------------------------------------------------


def _q_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json over the events.props payload (F4; the reference
    decodes JSON payloads at every Kafka boundary, etl/main.py:170,236)
    with schema-on-read, then integer aggregation per event_type —
    exact arithmetic, so cross-engine deterministic.

    ``k`` is parsed as BIGINT on both engines and the SUM is pinned to
    BIGINT in the oracle: DuckDB's sum(INTEGER) surfaces as HUGEINT →
    pandas float64, which value-hashes differently from Spark's int64
    even when numerically equal (round-1 hash mismatch)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k bigint").getField("k").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("k_total"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
    )


_PROPS_ORACLE = """
WITH p AS (
  -- NULLIF(trim(...), '') mirrors Spark's permissive from_json (a
  -- blank payload parses to null, it does not fail the query):
  -- DuckDB's json_extract_string THROWS on a zero-length input —
  -- round-15 fuzzer, empty-string class
  SELECT event_type,
         CAST(json_extract_string(NULLIF(trim(props), ''), '$.k')
              AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       count(*) AS n_events,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS k_total,
       min(k) AS k_min,
       max(k) AS k_max
FROM p
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# As-of join: prevailing quote at trade time (operators/asof.py)
# ---------------------------------------------------------------------------


def _q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trades (lineitem line 2) matched to the latest preceding quote
    (lineitem line 1 → typed quotes) per symbol — the point-in-time
    lookup a quote store exists to answer. Single shuffle on symbol;
    oracle is DuckDB's native ASOF LEFT JOIN."""
    from ..operators.asof import asof_join
    from ..operators.windows import last_per_group

    # bit-identical fast twin of _typed_quotes (fixtures.quotes_typed proof)
    quotes = last_per_group(
        fixtures.quotes_typed(load_table(spark, sf_dir, "lineitem")),
        ["symbol", "updated_at"],
        [F.col("quote_id").desc()],
    ).select("symbol", "updated_at", F.col("price"))
    li = load_table(spark, sf_dir, "lineitem")
    trades = li.filter(F.col("l_linenumber") == 2).select(
        (F.col("l_orderkey") * 10 + 2).alias("trade_id"),
        F.concat(F.lit("SYM"), F.col("l_partkey").cast("string")).alias(
            "symbol"
        ),
        F.col("l_shipdate").cast("timestamp_ntz").alias("trade_ts"),
    )
    out = asof_join(
        trades,
        quotes,
        on=["symbol"],
        left_ts="trade_ts",
        right_ts="updated_at",
        value_cols=["price"],
    )
    return out.select(
        "trade_id", "symbol", "trade_ts", F.col("price").alias("prevailing_price")
    )


_ASOF_ORACLE = (
    fixtures.with_ctes(
        fixtures.QUOTES_RAW_SQL,
        """
typed AS (
  SELECT quote_id, symbol,
         CAST(close AS DOUBLE) AS price,
         -- to_seconds: BIGINT-safe (a * INTERVAL 1 SECOND multiply
         -- narrows to INT32 and crashes on year-2200 planted epochs)
         TIMESTAMP '1970-01-01 00:00:00' + to_seconds("timestamp") AS updated_at
  FROM quotes_raw
  WHERE close IS NOT NULL AND percent_change IS NOT NULL AND change IS NOT NULL
        AND high IS NOT NULL AND low IS NOT NULL
)
""",
        """
q AS (
  SELECT symbol, updated_at, price FROM (
    SELECT *, row_number() OVER (PARTITION BY symbol, updated_at
                                 ORDER BY quote_id DESC) AS rn
    FROM typed
  ) WHERE rn = 1
)
""",
        """
trades AS (
  SELECT l_orderkey * 10 + 2 AS trade_id,
         concat('SYM', l_partkey) AS symbol,
         CAST(l_shipdate AS TIMESTAMP) AS trade_ts
  FROM lineitem WHERE l_linenumber = 2
)
""",
    )
    + """
SELECT t.trade_id, t.symbol, t.trade_ts, q.price AS prevailing_price
FROM trades t ASOF LEFT JOIN q
  ON t.symbol = q.symbol AND t.trade_ts >= q.updated_at
"""
)


# ---------------------------------------------------------------------------
# OLAP cube over the monthly series (grouping sets beyond the reference)
# ---------------------------------------------------------------------------


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(asset_type, year): all 4 grouping combinations in one pass
    (partial-aggregatable; count/min/max only for cross-engine float
    safety). grouping_id disambiguates real NULLs from subtotal rows."""
    monthly = fixtures.market_data_monthly(load_table(spark, sf_dir, "lineitem"))
    base = monthly.select(
        "asset_type", F.year("date").alias("yr"), "price", "symbol"
    )
    return base.cube("asset_type", "yr").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("symbol").alias("n_symbols"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )


_CUBE_ORACLE = (
    fixtures.with_ctes(fixtures.MARKET_DATA_MONTHLY_SQL)
    + """
SELECT asset_type, yr,
       CAST(grouping(asset_type) * 2 + grouping(yr) AS BIGINT) AS gid,
       count(*) AS n_rows,
       count(DISTINCT symbol) AS n_symbols,
       min(price) AS min_price,
       max(price) AS max_price
FROM (SELECT asset_type, year(date) AS yr, price, symbol FROM market_data_monthly)
GROUP BY CUBE (asset_type, yr)
-- Spark's CUBE over a ZERO-row input emits nothing (even the ()
-- grouping set), while DuckDB emits the standard grand-total row with
-- count 0 (round-16 fuzzer, empty-relation axis). The engine ships
-- Spark's semantics; this HAVING is a no-op on any non-empty input
-- (a cube cell only materializes from existing rows, so count >= 1).
HAVING count(*) > 0
"""
)


# ---------------------------------------------------------------------------
# Pivot: months × asset_type matrix (conditional-aggregation shape)
# ---------------------------------------------------------------------------


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy(month).pivot(asset_type) — compiles to one pass of
    conditional aggregates (no extra shuffle vs the plain groupBy);
    values are pinned so the pivot schema is static, which is the
    at-scale requirement (dynamic pivot = an extra distinct pass)."""
    monthly = fixtures.market_data_monthly(load_table(spark, sf_dir, "lineitem"))
    return (
        monthly.groupBy(F.col("date").alias("month"))
        .pivot("asset_type", ["STOCK", "CRYPTO", "FOREX"])
        .agg(F.count(F.lit(1)))
        .select(
            "month",
            F.coalesce("STOCK", F.lit(0)).alias("stock_rows"),
            F.coalesce("CRYPTO", F.lit(0)).alias("crypto_rows"),
            F.coalesce("FOREX", F.lit(0)).alias("forex_rows"),
        )
    )


_PIVOT_ORACLE = (
    fixtures.with_ctes(fixtures.MARKET_DATA_MONTHLY_SQL)
    + """
SELECT date AS month,
       count(*) FILTER (asset_type = 'STOCK') AS stock_rows,
       count(*) FILTER (asset_type = 'CRYPTO') AS crypto_rows,
       count(*) FILTER (asset_type = 'FOREX') AS forex_rows
FROM market_data_monthly
GROUP BY date
"""
)


# ---------------------------------------------------------------------------
# Exact quantiles per group (sort-based, not approx — both engines use
# linear interpolation over the sorted values, so results hash-match)
# ---------------------------------------------------------------------------


def _q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles per group. ``F.percentile`` buffers
    EVERY group value in one aggregation buffer per group — with 3
    return flags that is the whole fact column in three executor
    buffers, the OOM shape at 100 TB — so the quartiles are instead
    derived from the per-group VALUE HISTOGRAM: the continuous
    percentile at position h = q·(n−1) interpolates the two adjacent
    order statistics (ranks ⌊h⌋+1 and ⌊h⌋+2), each read off the
    cumulative histogram. Exactness: q ∈ {.25,.5,.75} are dyadic, so
    h, its fraction, and lo + (hi−lo)·frac are all exact doubles when
    the measure is integral — bit-identical to both engines' native
    interpolation (the oracle keeps DuckDB's quantile_cont as the
    independent derivation)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").alias("x")
    )
    hist = li.groupBy("l_returnflag", "x").agg(
        F.count(F.lit(1)).alias("_c")
    )
    wn = Window.partitionBy("l_returnflag")
    wx = (
        Window.partitionBy("l_returnflag")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_n", F.sum("_c").over(wn)).withColumn(
        "_cum", F.sum("_c").over(wx)
    )

    def quantile(q: float, name: str) -> F.Column:
        # h = q·(n−1) 0-based; lo at 1-based rank ⌊h⌋+1, hi at ⌊h⌋+2
        h = F.expr(f"{q} * (_n - 1)")
        lo_rank = F.floor(h) + 1
        lo = F.min(F.when(F.col("_cum") >= lo_rank, F.col("x")))
        hi = F.min(F.when(F.col("_cum") >= lo_rank + 1, F.col("x")))
        frac = h - F.floor(h)
        # max() folds the per-row constant expressions after the
        # conditional mins; hi is NULL only when ⌊h⌋+1 = n (h integral
        # at the top), where frac = 0 — coalesce to lo
        return (lo + (F.coalesce(hi, lo) - lo) * F.max(frac)).alias(name)

    return cum.groupBy("l_returnflag").agg(
        F.max("_n").alias("n"),
        quantile(0.25, "q25"),
        quantile(0.5, "median"),
        quantile(0.75, "q75"),
    )


_QUANTILES_ORACLE = """
SELECT l_returnflag,
       count(*) AS n,
       quantile_cont(l_quantity, 0.25) AS q25,
       quantile_cont(l_quantity, 0.5) AS median,
       quantile_cont(l_quantity, 0.75) AS q75
FROM lineitem
GROUP BY l_returnflag
"""


def _q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (winsorized) per-group statistics: l_quantity clamped to
    its group's exact DISCRETE p10/p90 (the element at rank
    ceil(q*n) under a total order — integral, no interpolation), then
    an integer-exact clamped mean in ppm. Outliers stop dominating the
    mean without discarding rows — the robust-aggregation shape.
    Determinism: thresholds are DISCRETE order statistics — the
    element at rank ceil(q*n) of the value multiset, a pure function
    of the VALUE histogram (tie-break-invariant) — so with an
    integer-valued measure both thresholds AND the clamped sum derive
    from ``groupBy(group, x).count()``: one hash-agg shuffle of
    |groups| x |distinct x| rows with map-side combine, a
    cumulative-count window over that tiny histogram, and
    sum(clamp(x)*c) for the winsorized total — no second scan, no
    fact-table sort. The old formulation (row_number over
    partitionBy(l_returnflag)) sorted the whole table on THREE
    reducers — measured 1.9/3.4/4.9 s at 1x/4x/8x; the oracle KEEPS
    the rank-selection formulation so the differential checks this
    rewrite against an independent derivation. The rank ceil(q*n)
    stays the exact expression CAST(ceil(_n * q) AS BIGINT) both
    sides. histogram_quantile_sketch remains the bounded-error path
    for non-integral measures."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("x")
    )
    hist = li.groupBy("l_returnflag", "x").agg(
        F.count(F.lit(1)).alias("c")
    )
    wn = Window.partitionBy("l_returnflag")
    wx = (
        Window.partitionBy("l_returnflag")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_n", F.sum("c").over(wn)).withColumn(
        "_cum", F.sum("c").over(wx)
    )
    thresholds = cum.groupBy("l_returnflag").agg(
        F.min(
            F.when(
                F.col("_cum") >= F.expr("CAST(ceil(_n * 0.1) AS BIGINT)"),
                F.col("x"),
            )
        )
        .cast("long")
        .alias("p10"),
        F.min(
            F.when(
                F.col("_cum") >= F.expr("CAST(ceil(_n * 0.9) AS BIGINT)"),
                F.col("x"),
            )
        )
        .cast("long")
        .alias("p90"),
        F.max("_n").cast("long").alias("n"),
    )
    return (
        hist.join(broadcast(thresholds), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.max("n").alias("n"),
            F.max("p10").alias("p10"),
            F.max("p90").alias("p90"),
            F.sum(F.expr("least(greatest(x, p10), p90) * c"))
            .cast("long")
            .alias("_s"),
        )
        .select(
            "l_returnflag",
            "n",
            "p10",
            "p90",
            # _s sums clamped quantities over a 3-group partition of
            # the whole table — ~1e13 at 100 TB, so the ppm product
            # widens to DECIMAL(38,0)/HUGEINT before the division
            F.expr(
                "CAST(_s AS DECIMAL(38,0)) * 1000000 div n"
            ).alias("winsorized_mean_ppm"),
        )
    )


_WINSORIZED_ORACLE = """
WITH li AS (
  -- trunc mirrors Spark's truncating double->long cast (DuckDB's
  -- bare CAST rounds half-even; diverges on fractional quantities)
  SELECT l_returnflag, CAST(trunc(l_quantity) AS BIGINT) AS x,
         l_orderkey, l_linenumber
  FROM lineitem
),
ranked AS (
  SELECT l_returnflag, x,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY x, l_orderkey, l_linenumber) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM li
),
thresholds AS (
  SELECT l_returnflag,
         CAST(min(x) AS BIGINT) AS p10, CAST(max(x) AS BIGINT) AS p90
  FROM ranked
  WHERE rn = CAST(ceil(n * 0.1) AS BIGINT) OR rn = CAST(ceil(n * 0.9) AS BIGINT)
  GROUP BY l_returnflag
)
SELECT li.l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(p10) AS BIGINT) AS p10,
       CAST(min(p90) AS BIGINT) AS p90,
       CAST(CAST(sum(least(greatest(x, p10), p90)) AS HUGEINT) * 1000000
            // count(*) AS BIGINT)
         AS winsorized_mean_ppm
FROM li JOIN thresholds ON li.l_returnflag = thresholds.l_returnflag
GROUP BY li.l_returnflag
"""


def _q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles: p50/p95 of l_extendedprice per
    returnflag estimated from a 1000-bin equi-width histogram — the
    constant-memory quantile path for data that cannot be sorted
    (exact `percentile` re-sorts every group; at 100 TB the histogram
    is the only shape whose state does not grow with the data, the same
    trade approx_percentile's t-digest makes, but with deterministic
    integer cell counts the DuckDB oracle reproduces exactly).

    Plan: one 2-row-output scan for the global range (broadcast back),
    one (flag, bin)-grouped count with map-side combine, a tiny
    per-flag window over <=1000 bins, and integer-threshold selection
    (ceil via integer arithmetic, not float multiplication)."""
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("x")
    )
    rng = li.agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    binned = li.join(broadcast(rng)).select(
        "l_returnflag",
        "mn",
        "mx",
        F.least(
            F.floor((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 1000),
            F.lit(999),
        )
        .cast("int")
        .alias("bin"),
    )
    counts = binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.first("mn").alias("mn"),
        F.first("mx").alias("mx"),
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = counts.withColumn("cum", F.sum("n").over(w))
    tot = cum.groupBy("l_returnflag").agg(F.sum("n").alias("total"))
    j = cum.join(broadcast(tot), "l_returnflag")
    est = lambda b: F.round(  # noqa: E731 — bin midpoint back to value space
        F.col("mn") + (b + F.lit(0.5)) * (F.col("mx") - F.col("mn")) / F.lit(1000.0),
        6,
    )
    picked = j.groupBy("l_returnflag").agg(
        F.first("total").alias("n_rows"),
        F.min(
            F.when(F.col("cum") >= (F.col("total") + 1) / 2, F.col("bin"))
        ).alias("_b50"),
        F.min(
            F.when(
                F.col("cum") >= F.floor((19 * F.col("total") + 19) / 20),
                F.col("bin"),
            )
        ).alias("_b95"),
        F.first("mn").alias("mn"),
        F.first("mx").alias("mx"),
    )
    return picked.select(
        "l_returnflag",
        "n_rows",
        est(F.col("_b50")).alias("p50_est"),
        est(F.col("_b95")).alias("p95_est"),
    )


def _q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout plan over (l_orderkey, l_partkey): the
    16-bit dimensions interleave into one 32-bit curve value; rows
    sorted/bucketed by it are clustered in BOTH dimensions at once, so
    a scan filtered on either key prunes most buckets (Delta/Iceberg
    OPTIMIZE ZORDER economics — this query emits the per-bucket
    min/max envelopes that ARE the data-skipping index). Pure integer
    bit arithmetic in both engines: no UDF, exact oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_orderkey").bitwiseAND(F.lit(65535))
    y = F.col("l_partkey").bitwiseAND(F.lit(65535))
    z = F.lit(0).cast("long")
    for i in range(16):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    b = li.select(
        F.shiftright(z, 24).cast("int").alias("z_bucket"),
        x.alias("x"),
        y.alias("y"),
    )
    return b.groupBy("z_bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_order_lo16"),
        F.max("x").alias("max_order_lo16"),
        F.min("y").alias("min_part_lo16"),
        F.max("y").alias("max_part_lo16"),
    )


def _zorder_sql() -> str:
    terms = " | ".join(
        f"(((x >> {i}) & 1) << {2 * i}) | (((y >> {i}) & 1) << {2 * i + 1})"
        for i in range(16)
    )
    return f"""
WITH xy AS (
  SELECT l_orderkey & 65535 AS x, l_partkey & 65535 AS y FROM lineitem
),
zed AS (SELECT x, y, ({terms}) AS z FROM xy)
SELECT CAST(z >> 24 AS INTEGER) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS min_order_lo16, max(x) AS max_order_lo16,
       min(y) AS min_part_lo16, max(y) AS max_part_lo16
FROM zed GROUP BY z_bucket
"""


_HIST_QUANTILES_ORACLE = """
WITH rng AS (
  SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem
),
binned AS (
  SELECT l_returnflag, mn, mx,
         CAST(least(floor((l_extendedprice - mn) / (mx - mn) * 1000), 999)
              AS INTEGER) AS bin
  FROM lineitem CROSS JOIN rng
),
counts AS (
  SELECT l_returnflag, bin, count(*) AS n, min(mn) AS mn, min(mx) AS mx
  FROM binned GROUP BY l_returnflag, bin
),
cum AS (
  SELECT *, sum(n) OVER (PARTITION BY l_returnflag ORDER BY bin
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counts
),
tot AS (SELECT l_returnflag, sum(n) AS total FROM counts GROUP BY l_returnflag),
picked AS (
  SELECT c.l_returnflag,
         CAST(min(t.total) AS BIGINT) AS n_rows,
         min(CASE WHEN c.cum >= (t.total + 1) / 2 THEN c.bin END) AS b50,
         min(CASE WHEN c.cum >= floor((19 * t.total + 19) / 20) THEN c.bin END)
           AS b95,
         min(c.mn) AS mn, min(c.mx) AS mx
  FROM cum c JOIN tot t USING (l_returnflag)
  GROUP BY c.l_returnflag
)
SELECT l_returnflag, n_rows,
       round(mn + (b50 + 0.5) * (mx - mn) / 1000.0, 6) AS p50_est,
       round(mn + (b95 + 0.5) * (mx - mn) / 1000.0, 6) AS p95_est
FROM picked
"""


# ---------------------------------------------------------------------------
# Hourly-count anomalies: z-score per event_type, integer-exact moments
# ---------------------------------------------------------------------------


def _q_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event count exceeds mean + 2σ for that event_type.
    The moments are integer sums (Σx, Σx² over BIGINT counts), so mean
    and population variance are exact rationals computed identically in
    both engines — no float-accumulation-order dependence. Two grouped
    passes + a broadcast of the per-type stats."""
    from pyspark.sql.functions import broadcast

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        _hour_floor_us(F.col("ts_us")).alias("hour_us"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("s1"),
        # n^2 per hour-bucket clears int64 near 3e9 events/hour: the
        # FACTOR widens before the multiply (an int64 n*n inside an
        # outer cast would already have thrown under ANSI / wrapped
        # without it), and the widened per-row product keeps the sum
        # exact on both engines
        F.sum(F.expr("CAST(n AS DECIMAL(38,0)) * n")).alias("s2"),
    )
    joined = hourly.join(broadcast(stats), "event_type")
    mean = F.col("s1").cast("double") / F.col("n_hours")
    var = F.col("s2").cast("double") / F.col("n_hours") - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        joined.filter(F.col("n") > mean + 2 * F.sqrt(var))
        .select(
            "event_type",
            "hour_us",
            "n",
            F.round(mean, 6).alias("type_mean"),
            F.round(z, 6).alias("zscore"),
        )
    )


_ANOMALIES_ORACLE = f"""
WITH hourly AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
         count(*) AS n
  FROM events
  GROUP BY 1, 2
),
stats AS (
  SELECT event_type, count(*) AS n_hours,
         sum(n) AS s1, sum(CAST(n AS HUGEINT) * n) AS s2
  FROM hourly GROUP BY event_type
)
SELECT h.event_type, hour_us, n,
       round(CAST(s1 AS DOUBLE) / n_hours, 6) AS type_mean,
       round((n - CAST(s1 AS DOUBLE) / n_hours)
             / sqrt(CAST(s2 AS DOUBLE) / n_hours
                    - (CAST(s1 AS DOUBLE) / n_hours) * (CAST(s1 AS DOUBLE) / n_hours)),
             6) AS zscore
FROM hourly h JOIN stats s ON h.event_type = s.event_type
WHERE n > CAST(s1 AS DOUBLE) / n_hours
          + 2 * sqrt(CAST(s2 AS DOUBLE) / n_hours
                     - (CAST(s1 AS DOUBLE) / n_hours) * (CAST(s1 AS DOUBLE) / n_hours))
"""


def _q_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole star schema: for
    each FK relationship, the child row count, the distinct FK values,
    and the orphan rows (left_anti against the parent key set) — the
    cross-TABLE complement of dq_expectations_report's per-row rules.
    Each relationship is one anti-join (broadcast where the parent key
    set is small); the report is a tall union of one-row aggregates.
    On healthy TPC-H-shaped data every orphan count is 0 — the audit's
    value is that the oracle PINS the zeros, so any generator or
    ingestion regression surfaces as a diff."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    def audit(name, child, fk, parent, pk):
        parent_keys = parent.select(F.col(pk).alias(fk)).distinct()
        orphans = child.select(fk).join(
            F.broadcast(parent_keys), fk, "left_anti"
        )
        return child.agg(
            F.lit(name).alias("relationship"),
            F.count(F.lit(1)).cast("long").alias("n_child_rows"),
            F.countDistinct(fk).cast("long").alias("n_fk_values"),
        ).crossJoin(
            F.broadcast(
                orphans.agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
            )
        )

    reports = [
        audit("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey"),
        audit("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        audit("lineitem.l_suppkey->supplier", li, "l_suppkey", supplier, "s_suppkey"),
        audit("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey"),
        audit("customer.c_nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
        audit("supplier.s_nationkey->nation", supplier, "s_nationkey", nation, "n_nationkey"),
        audit("nation.n_regionkey->region", nation, "n_regionkey", region, "r_regionkey"),
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _ref_integrity_oracle() -> str:
    rels = [
        ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    parts = [
        f"""
SELECT '{name}' AS relationship,
       CAST((SELECT count(*) FROM {child}) AS BIGINT) AS n_child_rows,
       CAST((SELECT count(DISTINCT {fk}) FROM {child}) AS BIGINT) AS n_fk_values,
       CAST((SELECT count(*) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{fk})) AS BIGINT) AS n_orphans"""
        for name, child, fk, parent, pk in rels
    ]
    return "\nUNION ALL\n".join(parts)


def _q_brand_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration (Herfindahl–Hirschman) index per brand:
    each supplier's share of the brand's lineitem volume in ppm, HHI =
    Σ share² — the market-structure aggregate, integer-exact
    (shares truncated to ppm before squaring on BOTH engines, so the
    oracle hashes bit-for-bit; a float-share HHI would diverge in the
    last ulp). Two grouped counts + one broadcast of per-brand totals;
    squares of ≤1e6 sums of ≤|suppliers| terms stay far inside int64."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    vol = (
        li.join(broadcast(part), "l_partkey")
        .groupBy("p_brand", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("p_brand")
    shares = vol.select(
        "p_brand",
        # a hot (brand, supplier) pair can own ~table-count rows;
        # the ppm numerator widens before the product
        F.expr("CAST(n AS DECIMAL(38,0)) * 1000000").alias("_num"),
        F.sum("n").over(tot).cast("long").alias("_den"),
    ).select("p_brand", F.expr("CAST(_num div _den AS BIGINT)").alias("_share_ppm"))
    return shares.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.max("_share_ppm").cast("long").alias("top_share_ppm"),
        F.sum(F.expr("_share_ppm * _share_ppm div 1000000"))
        .cast("long")
        .alias("hhi_ppm"),
    )


_BRAND_CONCENTRATION_ORACLE = """
WITH vol AS (
  SELECT p_brand, l_suppkey, CAST(count(*) AS BIGINT) AS n
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand, l_suppkey
),
shares AS (
  SELECT p_brand,
         CAST(CAST(n AS HUGEINT) * 1000000
              // sum(n) OVER (PARTITION BY p_brand) AS BIGINT)
           AS share_ppm
  FROM vol
)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(max(share_ppm) AS BIGINT) AS top_share_ppm,
       CAST(sum(share_ppm * share_ppm // 1000000) AS BIGINT) AS hhi_ppm
FROM shares
GROUP BY p_brand
"""


def _q_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode aggregate with a deterministic tie-break: each user's most
    frequent event type (ties → lexicographically smallest type), plus
    its count and share in ppm. Two grouped aggregations — the holistic
    'mode' computed scalably as count-then-argmax, with the tie
    totalized so no engine/partition ordering can leak through
    (max_by on the (count, reversed-type) struct)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    from pyspark.sql import Window

    tot = Window.partitionBy("user_id")
    ranked = counts.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.desc("n"), F.asc("event_type")
            )
        ),
    ).withColumn("_total", F.sum("n").over(tot).cast("long"))
    return ranked.filter(F.col("_rk") == 1).select(
        "user_id",
        F.col("event_type").alias("modal_type"),
        F.col("n").alias("n_modal"),
        F.expr("n * 1000000 div _total").alias("modal_share_ppm"),
    )


_MODAL_TYPE_ORACLE = """
WITH counts AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY n DESC, event_type ASC) AS rk,
         sum(n) OVER (PARTITION BY user_id) AS total
  FROM counts
)
SELECT user_id, event_type AS modal_type, n AS n_modal,
       CAST(n * 1000000 // total AS BIGINT) AS modal_share_ppm
FROM ranked WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# Interval-overlap join via grid bucketing: sessions × anomalous hours.
# The interval×interval overlap join discretized onto the hour grid so
# it becomes an EQUI-join (the binned_range_join pattern lifted from
# point-in-range to range-overlaps-range) — sessions expand to their
# covered hour buckets (bounded by session length / bucket width), the
# anomalous-hour set broadcasts, and overlap is hash-joinable.
# ---------------------------------------------------------------------------


def _q_sessions_anomalous(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = _q_sessions(spark, sf_dir).drop("session_value")
    anom = (
        _q_anomalies(spark, sf_dir)
        # `div` == the oracle's `//` here: BOTH truncate toward zero
        # (probed round 16), and hour_us is hour-aligned anyway; the
        # timewarp-class divergence in this query was the anom hour
        # SET itself (date_trunc floors, `%`-bucketing truncated —
        # fixed inside _q_anomalies via _hour_floor_us)
        .select(F.expr(f"hour_us div {_HOUR_US}").alias("hour_bucket"))
        .distinct()
    )
    expanded = sessions.select(
        "user_id",
        "session_id",
        "n_events",
        "session_start_us",
        "session_end_us",
        F.explode(
            F.sequence(
                F.expr(f"session_start_us div {_HOUR_US}"),
                F.expr(f"session_end_us div {_HOUR_US}"),
            )
        ).alias("hour_bucket"),
    )
    from pyspark.sql.functions import broadcast as _bc

    return (
        expanded.join(_bc(anom), "hour_bucket")
        .groupBy(
            "user_id",
            "session_id",
            "n_events",
            "session_start_us",
            "session_end_us",
        )
        .agg(
            F.countDistinct("hour_bucket").cast("long").alias("n_anomalous_hours")
        )
    )


_SESSIONS_ANOMALOUS_ORACLE = (
    _SESSIONS_ORACLE.rsplit("SELECT user_id", 1)[0].rstrip().rstrip(")")
    + f"""),
sess AS (
  SELECT user_id, session_id,
         count(*) AS n_events,
         min(ts_us) AS session_start_us,
         max(ts_us) AS session_end_us
  FROM sessions
  GROUP BY user_id, session_id
),
hourly AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, count(*) AS n_hours, sum(n) AS s1, sum(n * n) AS s2
  FROM hourly GROUP BY event_type
),
anom AS (
  SELECT DISTINCT hour_us // {_HOUR_US} AS hour_bucket
  FROM hourly h JOIN stats s ON h.event_type = s.event_type
  WHERE n > CAST(s1 AS DOUBLE) / n_hours
            + 2 * sqrt(CAST(s2 AS DOUBLE) / n_hours
                       - (CAST(s1 AS DOUBLE) / n_hours)
                         * (CAST(s1 AS DOUBLE) / n_hours))
),
expanded AS (
  SELECT user_id, session_id, n_events, session_start_us, session_end_us,
         unnest(generate_series(session_start_us // {_HOUR_US},
                                session_end_us // {_HOUR_US})) AS hour_bucket
  FROM sess
)
SELECT user_id, session_id, n_events, session_start_us, session_end_us,
       CAST(count(DISTINCT e.hour_bucket) AS BIGINT) AS n_anomalous_hours
FROM expanded e JOIN anom a ON e.hour_bucket = a.hour_bucket
GROUP BY user_id, session_id, n_events, session_start_us, session_end_us
"""
)


# ---------------------------------------------------------------------------
# Ordered funnel + cohort retention over events (engine breadth:
# event-analytics operators a product team runs beside the ETL)
# ---------------------------------------------------------------------------



def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-stage funnel view→click→purchase: each stage's first
    event must come strictly AFTER the previous stage's first event
    (the sequencing that distinguishes a funnel from three independent
    filters). ONE user-keyed exchange: the three stage-firsts are
    chained conditional whole-partition window minimums over the same
    partitioning (each stage's predicate references the previous
    stage's window result; rows where the previous first is NULL
    compare NULL and drop out of the min — exactly the old join
    semantics), and the closing per-user dedup aggregation reuses the
    same partitioning, so the event stream shuffles once total. The
    round-6 rewrite of the per-stage aggregate→join chain, which
    scanned events once per stage and shuffled each stage's subset
    (values collect-identical at sf0.1, ~30% faster).
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts_us")
    wu = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "first_view_us",
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts_us"))
            ).over(wu),
        )
        .withColumn(
            "first_click_us",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts_us") > F.col("first_view_us")),
                    F.col("ts_us"),
                )
            ).over(wu),
        )
        .withColumn(
            "first_purchase_us",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") > F.col("first_click_us")),
                    F.col("ts_us"),
                )
            ).over(wu),
        )
    )
    return (
        staged.groupBy("user_id")
        .agg(
            F.min("first_view_us").alias("first_view_us"),
            F.min("first_click_us").alias("first_click_us"),
            F.min("first_purchase_us").alias("first_purchase_us"),
        )
        .filter(F.col("first_view_us").isNotNull())
        .select(
            "user_id",
            "first_view_us",
            "first_click_us",
            "first_purchase_us",
            (
                F.lit(1)
                + F.col("first_click_us").isNotNull().cast("int")
                + F.col("first_purchase_us").isNotNull().cast("int")
            ).alias("stage_reached"),
        )
    )


_FUNNEL_ORACLE = """
WITH v AS (
  SELECT user_id, min(ts_us) AS first_view_us
  FROM (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events)
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS first_click_us
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.first_view_us
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.first_click_us
  GROUP BY e.user_id
)
SELECT v.user_id, first_view_us, first_click_us, first_purchase_us,
       1 + CASE WHEN first_click_us IS NULL THEN 0 ELSE 1 END
         + CASE WHEN first_purchase_us IS NULL THEN 0 ELSE 1 END AS stage_reached
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


def _q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution for the completed funnel: exact
    quartiles + p90 of the view→purchase delay (and medians of both
    stage delays) over converting users, in integer microseconds.
    Composes the funnel stages with the exact percentile aggregate —
    the product-analytics follow-up to 'how many convert' ('how fast').
    Scale: percentile aggregates only over the stage-3 subset, and as
    a grouped AGGREGATE (ObjectHashAggregate), not a global sort of
    the events table."""
    f = _q_funnel(spark, sf_dir).filter(F.col("stage_reached") == 3)
    lat = f.select(
        (F.col("first_purchase_us") - F.col("first_view_us")).alias("vp"),
        (F.col("first_click_us") - F.col("first_view_us")).alias("vc"),
        (F.col("first_purchase_us") - F.col("first_click_us")).alias("cp"),
    )
    q = F.percentile(
        F.col("vp"),
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.9)),
    )
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        q.getItem(0).alias("vp_q25_us"),
        q.getItem(1).alias("vp_median_us"),
        q.getItem(2).alias("vp_q75_us"),
        q.getItem(3).alias("vp_p90_us"),
        F.percentile(F.col("vc"), F.lit(0.5)).alias("vc_median_us"),
        F.percentile(F.col("cp"), F.lit(0.5)).alias("cp_median_us"),
    )


_FUNNEL_LATENCY_ORACLE = (
    _FUNNEL_ORACLE.rsplit("SELECT v.user_id", 1)[0].rstrip().rstrip(")")
    + """),
lat AS (
  SELECT first_purchase_us - first_view_us AS vp,
         first_click_us - first_view_us AS vc,
         first_purchase_us - first_click_us AS cp
  FROM v JOIN c ON v.user_id = c.user_id JOIN p ON v.user_id = p.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       quantile_cont(vp, 0.25) AS vp_q25_us,
       quantile_cont(vp, 0.5) AS vp_median_us,
       quantile_cont(vp, 0.75) AS vp_q75_us,
       quantile_cont(vp, 0.9) AS vp_p90_us,
       quantile_cont(vc, 0.5) AS vc_median_us,
       quantile_cont(cp, 0.5) AS cp_median_us
FROM lat
"""
)


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted in each later week they return. Weeks are 7-day epoch
    buckets of the integer microsecond clock — pure BIGINT arithmetic,
    bit-identical across engines (no calendar/timezone semantics to
    disagree on). Two user-keyed aggregates + one join; the final
    (cohort, offset) aggregate is tiny.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts_us")
    # integer `div` throughout: ts_us / 86400000000 as DOUBLE would be
    # one ulp from the BIGINT floor the oracle computes
    cohort = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("_first_us")
    ).select(
        "user_id",
        F.expr(f"(_first_us div {_DAY_US}) div 7").alias("cohort_week"),
    )
    active = ev.select(
        "user_id",
        F.expr(f"(ts_us div {_DAY_US}) div 7").alias("active_week"),
    ).distinct()
    return (
        active.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("active_week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_RETENTION_ORACLE = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS ts_us FROM events
),
cohort AS (
  SELECT user_id, (min(ts_us) // 86400000000) // 7 AS cohort_week
  FROM ev GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, (ts_us // 86400000000) // 7 AS active_week FROM ev
)
SELECT cohort_week,
       active_week - cohort_week AS week_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM active JOIN cohort USING (user_id)
GROUP BY cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# Skew-safe exact count-distinct: the two-shuffle shape that survives
# hot keys — the first shuffle keys on the COMPOSITE (event_type,
# user_id), spreading a hot event type across all partitions (the
# salting effect without a salt column); the second only moves one row
# per (type, user) pair. Catalyst applies this same rewrite to
# `countDistinct` natively (verified on the physical plan), so this
# query states the shape EXPLICITLY and the plan guard pins it —
# protecting against formulations Catalyst can't split this way
# (collect_set, exact per-group medians, UDAFs), where writing the
# dedup-then-count manually is what saves the hot partition at 100 TB.
# ---------------------------------------------------------------------------


def _q_skew_safe_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    spread = ev.distinct()  # shuffle keyed on BOTH columns: no hot partition
    return spread.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_distinct_users")
    )


_SKEW_DISTINCT_ORACLE = """
SELECT event_type, count(DISTINCT user_id) AS n_distinct_users
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Binned range join: interval predicate → equi-join. A join whose ON
# clause is only `lo <= value < hi` has no equi-key, so Spark plans a
# BroadcastNestedLoopJoin — O(|events| × |bands|) comparisons, the
# classic range-join scale killer. Discretizing both sides onto a bin
# grid (bin width = the band step) turns it into an equi-join on bin:
# each band covers exactly 2 bins, each event hashes to 1, and the
# residual interval predicate runs only on grid-collided pairs. This
# is what the range-join binning hint in Databricks/Flink does; here
# it is expressed with explode + broadcast so stock Catalyst plans a
# BroadcastHashJoin (the plan guard asserts no BNLJ appears).
# ---------------------------------------------------------------------------

_BAND_STEP = 25.0  # bin width == band start step; band width 50 → 2 bins/band


def _q_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = spark.createDataFrame(
        [(i, _BAND_STEP * i, _BAND_STEP * i + 50.0) for i in range(20)],
        "band_id int, lo double, hi double",
    )
    # a 50-wide band starting on the 25-grid spans exactly bins
    # [band_id, band_id + 1]
    binned_bands = bands.withColumn(
        "bin", F.explode(F.array(F.col("band_id"), F.col("band_id") + 1))
    )
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .filter(F.col("value").isNotNull())
        # LONG bin: a planted 1.5e12 value bins to 6e10, which
        # overflows an INT cast under ANSI (round-16 fuzzer, extreme
        # class); out-of-range bins simply never match a band
        .withColumn("bin", F.floor(F.col("value") / _BAND_STEP))
    )
    return (
        ev.join(broadcast(binned_bands), "bin")
        .filter((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


_BINNED_RANGE_ORACLE = """
WITH bands AS (
  SELECT CAST(i AS INTEGER) AS band_id, 25.0 * i AS lo, 25.0 * i + 50.0 AS hi
  FROM range(20) t(i)
)
SELECT band_id, lo, hi,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(value) AS min_value,
       max(value) AS max_value
FROM events JOIN bands ON value >= lo AND value < hi
WHERE value IS NOT NULL
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# Hierarchical time rollup (hypertable continuous-aggregate cascade):
# hour → day → week, each level re-aggregating the PREVIOUS level's
# partials instead of rescanning raw events. The raw table is touched
# once; the day rollup reads |hours| rows, the week rollup |days| —
# at 100 TB that is the difference between one scan and three. Sums
# stay exact under re-aggregation because the partial is a DECIMAL
# (associative); the floor-to-double happens once at the final level.
# ---------------------------------------------------------------------------

_DAY_ROLL_US = 24 * _HOUR_US
_WEEK_ROLL_US = 7 * _DAY_ROLL_US


def _q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a time rollup of a timeless event is undefined — and a null hour
    # counts as an "active hour" in Spark's count(1) while the
    # oracle's count(DISTINCT ...) ignores nulls (round-15 fuzzer)
    ev = load_table(spark, sf_dir, "events").select(
        "ts_us", "event_type", "value"
    ).filter(F.col("ts_us").isNotNull())
    hourly = ev.groupBy(
        (F.col("ts_us") - F.col("ts_us") % _HOUR_US).alias("hour_us"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # exact UNscaled decimal partial, narrowed per level so
        # re-aggregation stays under the precision cap; the ×10⁴
        # happens once at the top on the narrowed sum (round-16
        # fuzzer, extreme class; see _dsum for the shape)
        F.sum(_dec(F.col("value"))).cast("decimal(30,8)").alias("_v"),
    )
    daily = hourly.groupBy(
        (F.col("hour_us") - F.col("hour_us") % _DAY_ROLL_US).alias("day_us"),
        "event_type",
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.count(F.lit(1)).alias("n_hours_active"),
        F.sum("_v").cast("decimal(30,8)").alias("_v"),
    )
    scaled = F.floor(
        F.sum("_v").cast("decimal(28,8)") * F.lit(10000)
    ).cast("long")
    return daily.groupBy(
        (F.col("day_us") - F.col("day_us") % _WEEK_ROLL_US).alias("week_us"),
        "event_type",
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.count(F.lit(1)).alias("n_days_active"),
        F.sum("n_hours_active").alias("n_hours_active"),
        (scaled.cast("double") / F.lit(10000.0)).alias("total_value"),
    )


_TIME_ROLLUP_ORACLE = f"""
WITH ev AS (
  SELECT epoch_us(ts) AS ts_us, event_type, value FROM events
  WHERE ts IS NOT NULL
)
SELECT (ts_us - ts_us % {_WEEK_ROLL_US}) AS week_us, event_type,
       count(*) AS n_events,
       count(DISTINCT ts_us - ts_us % {_DAY_ROLL_US}) AS n_days_active,
       count(DISTINCT ts_us - ts_us % {_HOUR_US}) AS n_hours_active,
       {_dsum_sql('value')} AS total_value
FROM ev
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Bloom-pruned anti-join (runtime-filter shape): customers with zero
# event activity, per market segment. The naive plan shuffles the
# whole probe side into the anti-join. Building a Bloom filter from
# the (arbitrarily large, but constant-sketch-size) events side and
# probing it first routes every "definitely absent" row straight to
# the output — only Bloom false-positive candidates pay the exact
# anti-join shuffle. Same md5 bit positions as ext.sketches, so the
# result is exactly the anti-join (the filter only PRUNES; it never
# decides membership positively), which is what the oracle states.
# ---------------------------------------------------------------------------


def _q_bloom_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sketches import bloom_position_array

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    users = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("k"))
        .distinct()
    )
    bits = (
        users.select(
            F.explode(bloom_position_array(F.col("k").cast("string"))).alias(
                "pos"
            )
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probed = (
        cust.withColumn(
            "pos",
            F.explode(bloom_position_array(F.col("c_custkey").cast("string"))),
        )
        .join(broadcast(bits), "pos", "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.min(F.coalesce(F.col("hit"), F.lit(0))).alias("_all_hit"))
    )
    definite_absent = probed.filter(F.col("_all_hit") == 0)
    maybe_present = probed.filter(F.col("_all_hit") == 1)
    confirmed_absent = maybe_present.join(
        users, maybe_present.c_custkey == users.k, "left_anti"
    )
    return (
        definite_absent.unionByName(confirmed_absent)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )


_BLOOM_ANTI_ORACLE = """
SELECT c_mktsegment, count(*) AS n_inactive
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
GROUP BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Bucketed co-located join: the zero-shuffle big-big join. Both sides
# are written once as 8-bucket tables hashed on the order key; any
# later join on that key reads matching buckets pairwise and never
# exchanges — at 100 TB the one-time bucketing write is amortized over
# every subsequent join/aggregation on the key (the bucketed layout is
# the batch twin of the streaming state's keyed partitioning). The
# plan guard asserts the join itself introduces NO Exchange even with
# broadcast disabled. Tables are staged once per sf under the scratch
# warehouse and registered in the session catalog; re-runs reuse them.
# ---------------------------------------------------------------------------

_N_BUCKETS = 8


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    import os
    import re as _re
    import tempfile

    tag = _re.sub(r"[^0-9a-z]+", "_", os.path.abspath(sf_dir).lower()).strip("_")
    base = os.path.join(tempfile.gettempdir(), "ftes_bucketed_v1", tag)
    t_orders, t_items = f"ftes_bkt_orders_{tag}", f"ftes_bkt_items_{tag}"
    if not spark.catalog.tableExists(t_orders):
        (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.mode("overwrite")
            .option("path", os.path.join(base, "orders"))
            .bucketBy(_N_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .saveAsTable(t_orders)
        )
    if not spark.catalog.tableExists(t_items):
        li = load_table(spark, sf_dir, "lineitem")
        per_order = li.groupBy("l_orderkey").agg(
            # narrow the (38,8) sum back to (30,8) — runtime-safe (a
            # single order is a handful of items) and it keeps the
            # outer per-row ×10⁴ at (36,8), under the precision cap
            F.sum(
                _dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            )
            .cast("decimal(30,8)")
            .alias("_rev"),
            F.count(F.lit(1)).alias("_n_items"),
        )
        (
            per_order.write.mode("overwrite")
            .option("path", os.path.join(base, "items"))
            .bucketBy(_N_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .saveAsTable(t_items)
        )
    return t_orders, t_items


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw bucket-co-located join (used by the plan guard)."""
    t_orders, t_items = _bucketed_pair(spark, sf_dir)
    o, it = spark.table(t_orders), spark.table(t_items)
    return o.join(it, o.o_orderkey == it.l_orderkey)


def _q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = bucketed_join(spark, sf_dir)
    scaled = F.floor(
        F.sum("_rev").cast("decimal(28,8)") * F.lit(10000)
    ).cast("long")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("_n_items").alias("n_lineitems"),
        (scaled.cast("double") / F.lit(10000.0)).alias("revenue"),
    )


_BUCKETED_JOIN_ORACLE = f"""
WITH per_order AS (
  SELECT l_orderkey,
         CAST(sum({MD_REV})
              AS DECIMAL(30,8)) AS rev,
         count(*) AS n_items
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(n_items) AS BIGINT) AS n_lineitems,
       CAST(CAST(floor(CAST(sum(rev) AS DECIMAL(28,8)) * 10000) AS BIGINT)
            AS DOUBLE) / 10000.0 AS revenue
FROM orders JOIN per_order ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# RANGE-frame rolling window: per-user trailing-7-day activity at every
# event. ROWS frames (doc_price_indicators) count physical rows; RANGE
# frames bound the frame by the ORDER-BY VALUE — the correct semantics
# for irregular event times (a user with 3 events in a week gets a
# 3-row frame, not a fixed-20-row one). Partitioned per user — never a
# global sort; Spark evaluates it with one partition-local sort after
# the hash exchange on user_id.
# ---------------------------------------------------------------------------

_WEEK_RANGE_US = 7 * 24 * _HOUR_US


def _q_rolling_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts_us", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_WEEK_RANGE_US, 0)
    )
    scaled = F.floor(
        F.sum(_dec(F.col("value"))).over(w).cast("decimal(28,8)")
        * F.lit(10000)
    ).cast("long")
    return ev.select(
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_7d"),
        F.min("value").over(w).alias("min_value_7d"),
        F.max("value").over(w).alias("max_value_7d"),
        (scaled.cast("double") / F.lit(10000.0)).alias("total_value_7d"),
    )


_ROLLING_WEEK_ORACLE = f"""
SELECT user_id, epoch_us(ts) AS ts_us,
       count(*) OVER w AS n_7d,
       min(value) OVER w AS min_value_7d,
       max(value) OVER w AS max_value_7d,
       CAST(CAST(floor(CAST(sum({MD_VALUE}) OVER w AS DECIMAL(28,8))
            * 10000) AS BIGINT) AS DOUBLE) / 10000.0 AS total_value_7d
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_WEEK_RANGE_US} PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Unpivot (wide → long): the inverse of pivot_monthly_by_type, using
# the native DataFrame.unpivot — one narrow pass, no shuffle at all
# (each wide row explodes to 5 long rows map-side).
# ---------------------------------------------------------------------------

_MEASURES = ["price", "change", "percent_change", "high", "low"]


def _q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    md = fixtures.market_data(load_table(spark, sf_dir, "lineitem"))
    return md.unpivot(
        ["symbol", "asset_type"], _MEASURES, "measure", "value"
    )


_UNPIVOT_ORACLE = (
    fixtures.with_ctes(fixtures.MARKET_DATA_SQL)
    + "\n"
    + "\nUNION ALL\n".join(
        f"SELECT symbol, asset_type, '{m}' AS measure, {m} AS value"
        " FROM market_data"
        for m in _MEASURES
    )
)


# ---------------------------------------------------------------------------
# TPC-H Q22 shape — scalar subquery + anti-join: "dormant rich"
# customers (above-average balance, no URGENT order ever — the
# synthetic orders table covers every customer, so plain zero-orders
# would be empty) per nation. The
# global average is ONE broadcast row; the threshold comparison is
# stated multiplicatively (bal·n > Σbal over exact DECIMALs) so both
# engines decide every boundary case identically — a divided-out avg
# would hinge on float rounding. The orders side prunes to one column
# before the anti-join.
# ---------------------------------------------------------------------------


def _q_dormant_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    positive = cust.filter(F.col("c_acctbal") > 0)
    totals = positive.agg(
        F.sum(_dec(F.col("c_acctbal"))).alias("_sum"),
        F.count(F.lit(1)).alias("_n"),
    )
    rich = (
        cust.join(broadcast(totals))
        .filter(_dec(F.col("c_acctbal")) * F.col("_n") > F.col("_sum"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    dormant = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        _dsum(F.col("c_acctbal")).alias("total_acctbal"),
    )


_DORMANT_RICH_ORACLE = f"""
WITH totals AS (
  SELECT sum({MD_BAL}) AS s, count(*) AS n
  FROM customer WHERE c_acctbal > 0
),
rich AS (
  SELECT c_custkey, c_nationkey, c_acctbal
  FROM customer, totals
  WHERE {MD_BAL} * n > s
)
SELECT c_nationkey,
       count(*) AS n_customers,
       {_dsum_sql('c_acctbal')} AS total_acctbal
FROM rich
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


# ---------------------------------------------------------------------------
# TPC-H Q15 shape — aggregate-of-aggregate: the supplier(s) achieving
# MAX total revenue in a ship-date quarter. The max is one broadcast
# row joined back by EQUALITY on the exact floor-derived double (both
# engines derive it with the same two rounding ops), so ties surface
# every winner deterministically.
# ---------------------------------------------------------------------------


def _q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    best = rev.agg(F.max("total_revenue").alias("_max_rev"))
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.join(broadcast(best), rev.total_revenue == F.col("_max_rev"))
        .join(broadcast(supplier), rev.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


_TOP_SUPPLIER_ORACLE = f"""
WITH rev AS (
  SELECT l_suppkey,
         {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


# ---------------------------------------------------------------------------
# Data-quality expectations report: N declarative rules over lineitem,
# ONE scan, conditional aggregates (operators/expectations.py) — the
# DLT/Great-Expectations report shape. Adding a rule adds a column to
# one aggregation, never another pass over the 100 TB table.
# ---------------------------------------------------------------------------


def _q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.expectations import expectations_report

    li = load_table(spark, sf_dir, "lineitem")
    rules = {
        "qty_in_range": (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
        "price_positive": F.col("l_extendedprice") > 0,
        "discount_unit_interval": (F.col("l_discount") >= 0)
        & (F.col("l_discount") <= 0.1),
        "shipdate_present": F.col("l_shipdate").isNotNull(),
        "returnflag_domain": F.col("l_returnflag").isin("A", "N", "R"),
    }
    return expectations_report(li, rules)


_DQ_REPORT_ORACLE = """
WITH t AS (SELECT count(*) AS total FROM lineitem),
p AS (
  SELECT
    count(*) FILTER (l_quantity >= 1 AND l_quantity <= 50) AS qty_in_range,
    count(*) FILTER (l_extendedprice > 0) AS price_positive,
    count(*) FILTER (l_discount >= 0 AND l_discount <= 0.1)
      AS discount_unit_interval,
    count(*) FILTER (l_shipdate IS NOT NULL) AS shipdate_present,
    count(*) FILTER (l_returnflag IN ('A','N','R')) AS returnflag_domain
  FROM lineitem
)
SELECT rule, n_pass, total - n_pass AS n_fail,
       CAST(CAST(total - n_pass AS HUGEINT) * 1000000
            // greatest(total, 1) AS BIGINT)
         AS fail_ppm
FROM t, (
  SELECT 'qty_in_range' AS rule, qty_in_range AS n_pass FROM p
  UNION ALL SELECT 'price_positive', price_positive FROM p
  UNION ALL SELECT 'discount_unit_interval', discount_unit_interval FROM p
  UNION ALL SELECT 'shipdate_present', shipdate_present FROM p
  UNION ALL SELECT 'returnflag_domain', returnflag_domain FROM p
)
"""


# ---------------------------------------------------------------------------
# Order-fulfillment latency: days from order date to the LAST lineitem
# shipment, distributed per priority. Integer date arithmetic (exact
# cross-engine); the per-order max ships before the join, so the big
# table collapses first — same partial-agg-below-join shape as
# top_revenue_customers.
# ---------------------------------------------------------------------------


def _q_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("_last_ship")
    )
    lat = orders.join(
        last_ship, orders.o_orderkey == last_ship.l_orderkey
    ).select(
        "o_orderpriority",
        F.datediff(
            F.col("_last_ship").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    # integer `div` on both engines (DuckDB `//`): float-quotient casts
    # truncate on Spark but round on DuckDB
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("days").alias("min_days"),
        F.max("days").alias("max_days"),
        # sum(days) spans ~1/5 of all orders per priority group —
        # widen before the ppm product (int64 dies near 1e13 order-days)
        F.expr(
            "CAST(sum(days) AS DECIMAL(38,0)) * 1000000 div count(*)"
        ).alias("avg_days_ppm"),
    )


_FULFILLMENT_ORACLE = """
WITH last_ship AS (
  SELECT l_orderkey, max(l_shipdate) AS last_ship FROM lineitem GROUP BY 1
),
lat AS (
  SELECT o_orderpriority,
         datediff('day', CAST(o_orderdate AS DATE), CAST(last_ship AS DATE))
           AS days
  FROM orders JOIN last_ship ON o_orderkey = l_orderkey
)
SELECT o_orderpriority,
       count(*) AS n_orders,
       min(days) AS min_days,
       max(days) AS max_days,
       CAST(CAST(sum(days) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
         AS avg_days_ppm
FROM lat
GROUP BY o_orderpriority
"""


def _q_scd2_part_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build: the per-part stream of observed
    extended prices (lineitem ordered by ship date, deterministic
    (shipdate, orderkey, linenumber) tie-break) compressed to validity
    intervals — one row per price CHANGE with valid_from/valid_to and
    an is_current flag. The warehouse-dimension twin of the CDC
    operator: history tracking instead of latest-state.

    Scale shape: one hash partition by part key; both window passes
    (change detection, then interval close) share that partitioning so
    Catalyst plans a single exchange. No global window, no skew (parts
    are uniform)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_shipdate", "l_orderkey", "l_linenumber"
    )
    # price joins the tie-break: a duplicated row whose copies then
    # receive DIFFERENT planted prices (round-16 fuzzer, dupes×extreme
    # interaction) ties on all of (shipdate, orderkey, linenumber), so
    # the version chain's lag/lead order was engine-dependent; rows
    # tied on all four are identical in every selected column, where
    # order is immaterial (change-detection drops the second)
    order_cols = [
        F.col("l_shipdate"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_extendedprice"),
    ]
    w = Window.partitionBy("l_partkey").orderBy(*order_cols)
    changes = li.withColumn(
        "prev_price", F.lag("l_extendedprice").over(w)
    ).filter(
        F.col("prev_price").isNull()
        | (F.col("prev_price") != F.col("l_extendedprice"))
    )
    w2 = Window.partitionBy("l_partkey").orderBy(*order_cols)
    return changes.select(
        F.col("l_partkey").alias("part_key"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_shipdate").alias("valid_from"),
        F.lead("l_shipdate").over(w2).alias("valid_to"),
        F.when(F.lead("l_shipdate").over(w2).isNull(), 1)
        .otherwise(0)
        .alias("is_current"),
    )


_SCD2_ORACLE = """
WITH ordered AS (
  SELECT l_partkey, l_extendedprice, l_shipdate, l_orderkey, l_linenumber,
         lag(l_extendedprice) OVER (
           PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber,
                    l_extendedprice) AS prev_price
  FROM lineitem
), changes AS (
  SELECT * FROM ordered
  WHERE prev_price IS NULL OR prev_price <> l_extendedprice
)
SELECT l_partkey AS part_key,
       l_extendedprice AS price,
       l_shipdate AS valid_from,
       lead(l_shipdate) OVER (
         PARTITION BY l_partkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber,
                  l_extendedprice) AS valid_to,
       CAST(CASE WHEN lead(l_shipdate) OVER (
         PARTITION BY l_partkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber,
                  l_extendedprice) IS NULL
         THEN 1 ELSE 0 END AS INTEGER) AS is_current
FROM changes
"""


def _q_pit_customer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature materialization (the feature-store
    backfill shape): for every order, the customer's trailing activity
    STRICTLY BEFORE the order timestamp — no same-instant leakage — as
    training features. A RANGE window frame over integer event time
    gives exactly the as-of semantics; money is summed in integer
    cents so the running sum is order-independent and cross-engine
    exact (unordered double sums are not).

    Scale shape: one hash partition by customer, one sort within —
    identical to how a feature store backfills point-in-time features
    over years of history; no join, no repeated scans."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        # ntz→timestamp cast is value-preserving under the pinned UTC
        # session (the round-2 events-ts lesson: never assume how the
        # parquet timestamp resolves)
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("d_us"),
        (F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d_us")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    return orders.select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("cust_key"),
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias("n_prior_orders"),
        F.coalesce(F.sum("cents").over(w), F.lit(0)).alias("prior_spend_cents"),
    )


_PIT_FEATURES_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         epoch_us(o_orderdate) AS d_us,
         -- trunc, not bare CAST and not floor: DuckDB CAST rounds
         -- half-even and floor rounds toward -inf, but Spark's
         -- double→long cast truncates toward ZERO — the three only
         -- agree on non-negative whole cents. Planted negative totals
         -- split floor from trunc by one cent (round-16 fuzzer,
         -- extreme class: -123456.789·100 → -12345678 vs -12345679)
         CAST(trunc(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT o_orderkey AS order_key,
       o_custkey AS cust_key,
       CAST(coalesce(count(*) OVER (
         PARTITION BY o_custkey ORDER BY d_us
         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS n_prior_orders,
       CAST(coalesce(sum(cents) OVER (
         PARTITION BY o_custkey ORDER BY d_us
         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         AS prior_spend_cents
FROM o
"""


def _q_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    feature encoder: each order's priority class is encoded as the
    mean order value of ALL OTHER orders in that class,
    (class_sum − own) / (class_n − 1), so a row never sees its own
    target. Money in integer cents, truncating division — exact on
    both engines. Singleton classes encode NULL (no peers).

    Scale shape: one tiny class aggregate (5 rows) broadcast back over
    the fact scan — a single shuffle-free pass at any scale; the LOO
    arithmetic is per-row after the broadcast."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("cast(floor(o_totalprice * 100) as long)").alias("cents"),
    )
    cls = orders.groupBy("o_orderpriority").agg(
        F.sum("cents").alias("cls_sum"), F.count(F.lit(1)).alias("cls_n")
    )
    return (
        orders.join(broadcast(cls), "o_orderpriority")
        .select(
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderpriority").alias("priority"),
            F.when(
                F.col("cls_n") > 1,
                F.expr("(cls_sum - cents) div (cls_n - 1)"),
            )
            .cast("long")
            .alias("loo_mean_cents"),
        )
    )


_TARGET_LOO_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), cls AS (
  SELECT o_orderpriority,
         CAST(sum(cents) AS BIGINT) AS cls_sum,
         CAST(count(*) AS BIGINT) AS cls_n
  FROM o GROUP BY o_orderpriority
)
SELECT o.o_orderkey AS order_key,
       o.o_orderpriority AS priority,
       CASE WHEN cls.cls_n > 1
            THEN CAST((cls.cls_sum - o.cents) // (cls.cls_n - 1) AS BIGINT)
       END AS loo_mean_cents
FROM o JOIN cls USING (o_orderpriority)
"""


# ---------------------------------------------------------------------------
# Ops-monitoring relations: key-skew report, event-sequence transition
# matrix, and split-half distribution drift. Monitoring a 100 TB
# pipeline is itself a set of one-scan aggregations; each is
# integer-exact so the oracle pins it bit-for-bit.
# ---------------------------------------------------------------------------


def _q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostics for the shuffle planner: the 20 heaviest
    lineitem join keys (suppkey) with row count and corpus share in
    ppm — the relation you consult before choosing broadcast vs salt
    vs AQE for a key (`operators.joins.salted_join` is the remedy this
    report indicates). One grouped count + a 1-row total broadcast +
    TakeOrdered; never a global sort."""
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    counts = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").cast("long").alias("_total"))
    return (
        counts.crossJoin(broadcast(total))
        .select(
            "l_suppkey",
            "n_rows",
            # a hot key can own a near-table-count n_rows — widen
            F.expr(
                "CAST(n_rows AS DECIMAL(38,0)) * 1000000 div _total"
            ).alias("share_ppm"),
        )
        .orderBy(F.desc("n_rows"), "l_suppkey")
        .limit(20)
    )


_KEY_SKEW_ORACLE = """
WITH counts AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey, n_rows,
       CAST(CAST(n_rows AS HUGEINT) * 1000000
            // (SELECT sum(n_rows) FROM counts) AS BIGINT)
         AS share_ppm
FROM counts
ORDER BY n_rows DESC, l_suppkey
LIMIT 20
"""


def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    sequence (lag window ordered by the total (ts_us, event_id) order),
    with the conditional probability in ppm — the sequence-model
    feature the bigram LM computes for tokens, lifted to event streams.
    Stays partitioned by user for the lag; the matrix itself is
    |types|² rows."""
    from pyspark.sql import Window

    # a step needs a position in time: null ts_us reorders the
    # sequence differently per engine (Spark nulls first, DuckDB
    # last), shifting adjacent pairs — round-15 fuzzer, time nulls
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts_us", "event_id")
        .filter(F.col("ts_us").isNotNull())
    )
    # event_type completes the total order: duplicated event_ids tie
    # on (ts_us, event_id), and if the copies differ in event_type the
    # lag sequence becomes engine-dependent (round-15 fuzzer at sf0.1,
    # null-perturbed duplicates) — NULLS LAST matches the oracle
    w = Window.partitionBy("user_id").orderBy(
        "ts_us", "event_id", F.col("event_type").asc_nulls_last()
    )
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    row_total = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n_transitions",
        F.expr("n_transitions * 1000000").alias("_num"),
        F.sum("n_transitions").over(row_total).cast("long").alias("_den"),
    ).select(
        "prev_type",
        "event_type",
        "n_transitions",
        F.expr("_num div _den").alias("prob_ppm"),
    )


_EVENT_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
  WHERE ts IS NOT NULL
),
pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id,
                                        event_type NULLS LAST) AS prev_type,
         event_type
  FROM seq
),
counts AS (
  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n_transitions,
       CAST(n_transitions * 1000000 //
            (sum(n_transitions) OVER (PARTITION BY prev_type)) AS BIGINT)
         AS prob_ppm
FROM counts
"""


_DRIFT_N_BINS = 10


def _q_value_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half distribution drift per event_type: events are divided
    at the corpus midpoint timestamp into a reference and a current
    half, `value` is bucketed on a fixed equal-width grid over the
    GLOBAL min/max (broadcast 1-row bounds), and each half's per-bin
    share is reported in ppm together with the per-bin absolute drift —
    sum(abs_drift_ppm)/2 per type is total-variation distance, the
    model-monitoring statistic, kept log-free so both engines agree
    exactly. Shape: two single-row broadcasts + one grouped count —
    drift monitoring at 100 TB is one scan."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "ts_us", "value"
    ).filter(F.col("value").isNotNull())
    bounds = ev.agg(
        F.min("ts_us").cast("long").alias("_ts_lo"),
        F.max("ts_us").cast("long").alias("_ts_hi"),
        F.min("value").alias("_v_lo"),
        F.max("value").alias("_v_hi"),
    )
    b = _DRIFT_N_BINS
    binned = (
        ev.crossJoin(broadcast(bounds))
        .select(
            "event_type",
            F.when(
                F.col("ts_us") * 2 < F.col("_ts_lo") + F.col("_ts_hi"), "ref"
            )
            .otherwise("cur")
            .alias("half"),
            F.least(
                F.lit(b - 1),
                F.floor(
                    (F.col("value") - F.col("_v_lo"))
                    / ((F.col("_v_hi") - F.col("_v_lo")) / b)
                ).cast("int"),
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("half") == "ref", 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(F.col("half") == "cur", 1).otherwise(0))
            .cast("long")
            .alias("n_cur"),
        )
    )
    from pyspark.sql import Window

    ht = Window.partitionBy("event_type")
    return binned.select(
        "event_type",
        "bin",
        "n_ref",
        "n_cur",
        F.expr("n_ref * 1000000").alias("_nr"),
        F.expr("n_cur * 1000000").alias("_nc"),
        F.sum("n_ref").over(ht).cast("long").alias("_tr"),
        F.sum("n_cur").over(ht).cast("long").alias("_tc"),
    ).select(
        "event_type",
        "bin",
        "n_ref",
        "n_cur",
        # NULLIF halves: a warped midpoint (planted far-future/past
        # event time, round-16 timewarp class) can leave an event_type
        # with ZERO rows in one half — its share is undefined (NULL on
        # both engines), not a division crash
        F.expr("_nr div nullif(_tr, 0)").alias("ref_share_ppm"),
        F.expr("_nc div nullif(_tc, 0)").alias("cur_share_ppm"),
        F.expr(
            "abs(_nr div nullif(_tr, 0) - _nc div nullif(_tc, 0))"
        ).alias("abs_drift_ppm"),
    )


_VALUE_DRIFT_ORACLE = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us, value
  FROM events WHERE value IS NOT NULL
),
bounds AS (
  SELECT CAST(min(ts_us) AS BIGINT) AS ts_lo, CAST(max(ts_us) AS BIGINT) AS ts_hi,
         min(value) AS v_lo, max(value) AS v_hi
  FROM ev
),
binned AS (
  SELECT event_type,
         CASE WHEN ts_us * 2 < ts_lo + ts_hi THEN 'ref' ELSE 'cur' END AS half,
         least({_DRIFT_N_BINS - 1},
               CAST(floor((value - v_lo) / ((v_hi - v_lo) / {_DRIFT_N_BINS}))
                    AS INTEGER)) AS bin
  FROM ev CROSS JOIN bounds
),
counts AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(sum(CASE WHEN half = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM binned GROUP BY event_type, bin
)
SELECT event_type, bin, n_ref, n_cur,
       CAST(n_ref * 1000000
            // NULLIF(sum(n_ref) OVER (PARTITION BY event_type), 0)
            AS BIGINT) AS ref_share_ppm,
       CAST(n_cur * 1000000
            // NULLIF(sum(n_cur) OVER (PARTITION BY event_type), 0)
            AS BIGINT) AS cur_share_ppm,
       CAST(abs(n_ref * 1000000
                // NULLIF(sum(n_ref) OVER (PARTITION BY event_type), 0)
                - n_cur * 1000000
                // NULLIF(sum(n_cur) OVER (PARTITION BY event_type), 0))
            AS BIGINT) AS abs_drift_ppm
FROM counts
"""


_COPURCHASE_MIN_SUPPORT = 20


# ---------------------------------------------------------------------------
# Sequential-pattern support (GSP-style): for each ordered event-type
# bigram, the number of DISTINCT users whose stream contains it as an
# adjacent step — the user-support metric sequence miners threshold
# on, distinct from event_type_transitions' raw transition counts.
# ---------------------------------------------------------------------------


def _q_sequence_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # a step needs a position in time: null ts_us reorders the
    # sequence differently per engine (Spark nulls first, DuckDB
    # last), shifting adjacent pairs — round-15 fuzzer, time nulls
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts_us", "event_id")
        .filter(F.col("ts_us").isNotNull())
    )
    # event_type completes the total order: duplicated event_ids tie
    # on (ts_us, event_id), and if the copies differ in event_type the
    # lag sequence becomes engine-dependent (round-15 fuzzer at sf0.1,
    # null-perturbed duplicates) — NULLS LAST matches the oracle
    w = Window.partitionBy("user_id").orderBy(
        "ts_us", "event_id", F.col("event_type").asc_nulls_last()
    )
    steps = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select("user_id", "prev_type", "event_type")
        .distinct()
    )
    # scalar denominator folded into the plan as a broadcast 1-row
    # aggregate instead of a separate driver-side .count() job
    n_users = ev.agg(F.count_distinct("user_id").alias("_n_users"))
    return (
        steps.groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("user_support"))
        .crossJoin(F.broadcast(n_users))
        .select(
            "prev_type",
            "event_type",
            "user_support",
            F.expr("user_support * 1000000 div _n_users")
            .cast("long")
            .alias("support_ppm"),
        )
    )


_SEQUENCE_SUPPORT_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
  WHERE ts IS NOT NULL
),
steps AS (
  SELECT DISTINCT user_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id,
                                        event_type NULLS LAST) AS prev_type,
         event_type
  FROM seq
)
SELECT prev_type, event_type,
       CAST(count(*) AS BIGINT) AS user_support,
       CAST(count(*) * 1000000 // (SELECT count(DISTINCT user_id) FROM seq)
            AS BIGINT) AS support_ppm
FROM steps WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


# ---------------------------------------------------------------------------
# Triangle counting on the brand co-purchase graph: the third classic
# graph primitive after connected components and PageRank — subgraph
# counting via the ordered two-hop join (a<b<c), the clustering-
# coefficient numerator at scale.
# ---------------------------------------------------------------------------


def _q_brand_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand triangle participation over co-purchase edges (pairs
    with support >= the copurchase threshold). Edges are oriented
    a < b, so each triangle is enumerated exactly once as
    (a,b) ⋈ (b,c) ⋈ (a,c) — the standard dedup that keeps the two-hop
    join linear in closed wedges instead of 6x overcounted. Scale
    shape: both joins are equi-joins on brand keys; the degree-capped
    orientation trick (orient low→high degree) bounds the wedge
    explosion on power-law graphs, noted here and unnecessary at 25
    brands."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    baskets = (
        li.join(broadcast(part), "l_partkey")
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = baskets.select("l_orderkey", F.col("p_brand").alias("ba"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("bb"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).alias("_support"))
        .filter(F.col("_support") >= _COPURCHASE_MIN_SUPPORT)
        .select("ba", "bb")
    )
    e1 = edges.select(F.col("ba").alias("a"), F.col("bb").alias("b"))
    e2 = edges.select(F.col("ba").alias("b"), F.col("bb").alias("c"))
    e3 = edges.select(F.col("ba").alias("a"), F.col("bb").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    per_node = (
        tris.select(F.col("a").alias("brand"))
        .unionAll(tris.select(F.col("b").alias("brand")))
        .unionAll(tris.select(F.col("c").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return per_node


_BRAND_TRIANGLES_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
edges AS (
  SELECT a.p_brand AS ba, b.p_brand AS bb
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING count(*) >= {_COPURCHASE_MIN_SUPPORT}
),
tris AS (
  SELECT e1.ba AS a, e1.bb AS b, e2.bb AS c
  FROM edges e1
  JOIN edges e2 ON e1.bb = e2.ba
  JOIN edges e3 ON e3.ba = e1.ba AND e3.bb = e2.bb
)
SELECT brand, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT a AS brand FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
)
GROUP BY brand
"""


# ---------------------------------------------------------------------------
# Frequent-pattern mining: pairwise co-purchase support (the 2-itemset
# core of market-basket / FP-growth analysis) — support counts for
# brand pairs appearing in the same order.
# ---------------------------------------------------------------------------

def _q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-pair co-occurrence within orders, with support and
    per-brand lift inputs (pair support, each side's basket count) in
    integer-exact form. Shape: dedup to (order, brand) FIRST — the
    self-join fan-out is then bounded by basket-size² per order
    (TPC-H baskets ≤ 7 items), never |lineitem|²; the equi-join key is
    the order key, so both sides shuffle-partition identically and
    the pair aggregation is a second bounded shuffle. min-support
    filtering happens before output (Apriori's first prune)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    # NOTE on the window-vs-groupBy choice: the per-brand basket counts
    # stay a groupBy + broadcast join-back ON PURPOSE even though that
    # re-executes the baskets subtree twice. p_brand has ~25 values —
    # a whole-partition window over it collapses the full (order,
    # brand) stream into 25 tasks (measured: ladder 8x rung 3.9 → 6.2 s
    # when round 6 tried it). The window form is right only for
    # HIGH-cardinality keys (terms, content hashes); for bounded keys
    # the map-side partial aggregation + 25-row broadcast wins.
    baskets = (
        li.join(broadcast(part), "l_partkey")
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = baskets.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    a = baskets.select("l_orderkey", F.col("p_brand").alias("brand_a"))
    b = baskets.select("l_orderkey", F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_support"))
        .filter(F.col("pair_support") >= _COPURCHASE_MIN_SUPPORT)
    )
    return (
        pairs.join(
            F.broadcast(n_orders.withColumnRenamed("p_brand", "brand_a")), "brand_a"
        )
        .withColumnRenamed("n_baskets", "baskets_a")
        .join(
            F.broadcast(n_orders.withColumnRenamed("p_brand", "brand_b")), "brand_b"
        )
        .withColumnRenamed("n_baskets", "baskets_b")
        .select("brand_a", "brand_b", "pair_support", "baskets_a", "baskets_b")
    )


_COPURCHASE_ORACLE = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
nb AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n_baskets
  FROM baskets GROUP BY p_brand
),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS pair_support
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING count(*) >= {_COPURCHASE_MIN_SUPPORT}
)
SELECT brand_a, brand_b, pair_support,
       na.n_baskets AS baskets_a, nbb.n_baskets AS baskets_b
FROM pairs
JOIN nb na ON pairs.brand_a = na.p_brand
JOIN nb nbb ON pairs.brand_b = nbb.p_brand
"""


# ---------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks per user — the
# classic islands decomposition (day − row_number is constant within a
# run of consecutive days), the complement of the gap operators (J3,
# longest_month_gap) which find the HOLES between islands.
# (Uses the module-top _DAY_US constant — a second local definition
# here once risked silent desynchronization of every bucketing query
# below it.)
# ---------------------------------------------------------------------------


def _q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user longest consecutive-day streak. Shape: dedup to
    (user, active day) — one shuffle keyed by user; the islands trick
    needs only a per-user window (day − row_number groups a run into a
    constant key), then two partial aggregations. Nothing global: at
    100 TB every stage stays partitioned by user_id, and the window
    state is bounded by a user's distinct active days."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.expr(f"ts_us div {_DAY_US}").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "grp", F.col("day") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("day").alias("start_day"),
    )
    # earliest start among the longest streaks (deterministic tie-break)
    wmax = Window.partitionBy("user_id")
    return (
        streaks.withColumn("max_len", F.max("len").over(wmax))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_streaks"),
            F.max("len").cast("int").alias("longest_streak_days"),
            F.sum("len").cast("int").alias("active_days"),
            F.min(
                F.when(F.col("len") == F.col("max_len"), F.col("start_day"))
            )
            .cast("long")
            .alias("longest_streak_start_day"),
        )
    )


_ACTIVITY_STREAKS_ORACLE = f"""
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
),
islands AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
),
streaks AS (
  SELECT user_id, grp, count(*) AS len, min(day) AS start_day
  FROM islands GROUP BY user_id, grp
)
SELECT user_id,
       CAST(count(*) AS INTEGER) AS n_streaks,
       CAST(max(len) AS INTEGER) AS longest_streak_days,
       CAST(sum(len) AS INTEGER) AS active_days,
       CAST(min(CASE WHEN len = max_len THEN start_day END)
            AS BIGINT) AS longest_streak_start_day
FROM (
  SELECT *, max(len) OVER (PARTITION BY user_id) AS max_len FROM streaks
)
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Per-group least-squares regression via normal equations: the
# distributed-ML feature primitive (closed-form fit from five exact
# sufficient statistics — one grouped aggregation, no iteration).
# ---------------------------------------------------------------------------


def _q_brand_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand simple linear regression of line price (cents) on
    quantity: slope/intercept from the normal equations

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

    computed from five exact integer sufficient statistics (n, Sx, Sy,
    Sxy, Sxx) in ONE map-side-combinable aggregation — the canonical
    way to fit millions of per-group models at 100 TB (sufficient
    statistics shuffle; raw rows never do). The quotient is emitted in
    ppm via sign-split truncating division (|num|*1e6 div den, den > 0
    by Cauchy-Schwarz, sign reapplied) because Spark's ``div``
    truncates toward zero while a floor-division engine would round
    negatives down — splitting the sign makes both engines agree
    bit-for-bit. Sums are carried as DECIMAL(38,0) before the cross
    products so n*Sxy stays exact far beyond the int64 range
    (overflows around TPC-H sf1 otherwise)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    stats = (
        li.join(broadcast(part), "l_partkey")
        .select(
            "p_brand",
            F.col("l_quantity").cast("long").alias("x"),
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ).alias("y"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            # widen INSIDE the sums: Spark's BIGINT sum wraps
            # before an outer cast could help (x*y ~5e8 per row times
            # ~1e11 rows/brand at 100 TB clears int64; DuckDB's sum
            # auto-promotes to HUGEINT)
            F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
            F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
            F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        )
    )
    slope = (
        F.expr("CAST(sign(n_items * sxy - sx * sy) AS BIGINT)")
        * F.expr(
            "CAST(abs(n_items * sxy - sx * sy) * 1000000"
            " div (n_items * sxx - sx * sx) AS BIGINT)"
        )
    )
    t = "sy * 1000000 - slope_ppm * sx"
    return (
        stats.withColumn("slope_ppm", slope)
        .withColumn(
            "intercept_ppm",
            F.expr(f"CAST(sign({t}) AS BIGINT)")
            * F.expr(f"CAST(abs({t}) div n_items AS BIGINT)"),
        )
        .select("p_brand", "n_items", "slope_ppm", "intercept_ppm")
    )


_BRAND_REGRESSION_ORACLE = """
WITH stats AS (
  SELECT p_brand,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM (
    SELECT p_brand,
           -- trunc() mirrors Spark's double→long cast (truncation
           -- toward zero); DuckDB's bare CAST rounds half-even, which
           -- diverges on fractional quantities (round-16 fuzzer,
           -- extreme class: -123456.789 → -123456 vs -123457)
           CAST(trunc(l_quantity) AS BIGINT) AS x,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
    FROM lineitem JOIN part ON l_partkey = p_partkey
  )
  GROUP BY p_brand
),
sloped AS (
  SELECT p_brand, n_items, sx, sy,
         CAST(CASE WHEN n_items * sxy - sx * sy < 0 THEN -1 ELSE 1 END
              * (abs(n_items * sxy - sx * sy) * 1000000
                 // (n_items * sxx - sx * sx)) AS BIGINT) AS slope_ppm
  FROM stats
)
SELECT p_brand, n_items, slope_ppm,
       CAST(CASE WHEN sy * 1000000 - slope_ppm * sx < 0 THEN -1 ELSE 1 END
            * (abs(sy * 1000000 - slope_ppm * sx) // n_items)
          AS BIGINT) AS intercept_ppm
FROM sloped
"""


# ---------------------------------------------------------------------------
# PageRank over the customer↔supplier purchase graph: iterative graph
# analytics (ext.graph.pagerank) on TPC-H relations. The oracle unrolls
# the same 5 integer-ppm power iterations as chained CTEs.
# ---------------------------------------------------------------------------

_PAGERANK_ITERS = 5
_PAGERANK_DAMPING_PPM = 850_000


def _purchase_graph(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, tuple[DataFrame, DataFrame]]:
    """The symmetric customer↔supplier purchase graph ``(src, dst, w)``:
    one edge each way per (customer, supplier) pair, weighted by their
    lineitem count (via orders), with nodes disambiguated as
    2*custkey / 2*suppkey+1. Also returns the two source reads the
    graph loops size their shuffles from."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    base = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    cust = F.col("o_custkey") * 2
    supp = F.col("l_suppkey") * 2 + 1
    edges = base.select(cust.alias("src"), supp.alias("dst"), "w").unionByName(
        base.select(supp.alias("src"), cust.alias("dst"), "w")
    )
    return edges, (li, orders)


def _q_purchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity importance on the bipartite purchase graph: an edge
    customer↔supplier weighted by their lineitem count (via orders),
    symmetrized so no node dangles; nodes are disambiguated as
    2*custkey / 2*suppkey+1. Five damped power iterations in integer
    ppm (ext/graph.py) — one edge⋈rank shuffle per iteration, lineage
    cut every second round (ext.LineageCuts).

    The whole run executes under a shuffle partition count derived
    from the plan statistics of its two sources
    (partitioning.scoped_shuffle_partitions), not the session
    constant: the rank vector is O(nodes) and the edge list a few MB
    at sf0.1, so 32 partitions per iteration would be 32 near-empty
    tasks, and AQE cannot coalesce them (parallelismFirst keeps the
    session minimum, and the cached edge side of each iteration join
    pins its partitioning). Results do not depend on the count
    (integer-ppm sums; pinned by the 7/90-partition full
    differentials). Every shuffle-bearing action of the operator
    happens inside pagerank() itself (eager lineage cuts), so the
    scope covers the whole computation; the returned frame is the
    final cut plus narrow projections."""
    from ..ext.graph import pagerank
    from ..partitioning import scoped_shuffle_partitions

    edges, sources = _purchase_graph(spark, sf_dir)
    with scoped_shuffle_partitions(spark, *sources):
        ranks = pagerank(
            edges, iters=_PAGERANK_ITERS, damping_ppm=_PAGERANK_DAMPING_PPM
        )
    return ranks.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("entity"),
        F.expr("node div 2").alias("entity_key"),
        "rank_ppm",
    )


def _pagerank_oracle() -> str:
    """Unrolled power iteration: p0 … p{iters} as chained CTEs, each
    computing the IDENTICAL integer-ppm update as ext.graph.pagerank
    (per-edge truncating div by out-weight, damped sum, teleport)."""
    d = _PAGERANK_DAMPING_PPM
    its = [
        f"""
p{k} AS (
  SELECT nodes.node,
         CAST((1000000 - {d}) // nn.n
              + {d} * COALESCE(inc.s, 0) // 1000000 AS BIGINT) AS p
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(p{k - 1}.p * e.w // o.wout) AS BIGINT) AS s
    FROM edges e
    JOIN p{k - 1} ON e.src = p{k - 1}.node
    JOIN outw o ON e.src = o.src
    GROUP BY e.dst
  ) inc ON nodes.node = inc.node
)"""
        for k in range(1, _PAGERANK_ITERS + 1)
    ]
    return f"""
WITH base AS (
  SELECT o_custkey AS c, l_suppkey AS s, CAST(count(*) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey, l_suppkey
),
edges AS (
  SELECT 2 * c AS src, 2 * s + 1 AS dst, w FROM base
  UNION ALL
  SELECT 2 * s + 1 AS src, 2 * c AS dst, w FROM base
),
outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout FROM edges GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
p0 AS (
  SELECT node, CAST(1000000 // n AS BIGINT) AS p FROM nodes CROSS JOIN nn
),{",".join(its)}
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
       node // 2 AS entity_key,
       p AS rank_ppm
FROM p{_PAGERANK_ITERS}
"""


# ---------------------------------------------------------------------------
# BFS hop distances on the purchase graph (ext.graph.bfs_hops): the
# reachability primitive beside PageRank; seed = the smallest customer
# node, distances bounded at 4 hops. Oracle unrolls the same frontier
# relaxation as chained CTEs.
# ---------------------------------------------------------------------------

_BFS_MAX_HOPS = 4


def _q_purchase_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shuffle partitions derived from the sources, exactly as in
    # _q_purchase_pagerank (same frontier-vs-32-empty-tasks shape;
    # every shuffle-bearing action runs inside bfs_hops' eager cuts)
    from ..ext.graph import bfs_hops
    from ..partitioning import scoped_shuffle_partitions

    graph, sources = _purchase_graph(spark, sf_dir)
    edges = graph.select("src", "dst")
    seeds = edges.agg(F.min("src").alias("node"))
    with scoped_shuffle_partitions(spark, *sources):
        dist = bfs_hops(edges, seeds, max_hops=_BFS_MAX_HOPS)
    return dist.select(
        "node",
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("entity"),
        F.expr("node div 2").alias("entity_key"),
        "dist",
    )


def _bfs_oracle() -> str:
    its = [
        f"""
d{k} AS (
  SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM (
    SELECT node, dist FROM d{k - 1}
    UNION ALL
    SELECT e.dst AS node, r.dist + 1 AS dist
    FROM edges e JOIN d{k - 1} r ON e.src = r.node
  ) GROUP BY node
)"""
        for k in range(1, _BFS_MAX_HOPS + 1)
    ]
    return f"""
WITH base AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT 2 * c AS src, 2 * s + 1 AS dst FROM base
  UNION ALL
  SELECT 2 * s + 1 AS src, 2 * c AS dst FROM base
),
d0 AS (
  SELECT min(src) AS node, CAST(0 AS INTEGER) AS dist FROM edges
),{",".join(its)}
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS entity,
       node // 2 AS entity_key,
       dist
FROM d{_BFS_MAX_HOPS}
"""


# ---------------------------------------------------------------------------
# Salted skew join: the manual key-space restructuring for joins whose
# hot keys defeat AQE's shuffle-partition splitting. Oracle = the plain
# join, proving the salt+replicate rewrite is semantics-preserving.
# ---------------------------------------------------------------------------


def _q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand revenue via ``operators.joins.salted_join``: lineitem's
    join key is salted 8 ways from (l_orderkey, l_linenumber) and the
    part side replicated 8x, so a pathologically hot partkey would
    spread over 8 reducers instead of stalling one. The DuckDB oracle
    is the UNSALTED join — the gate asserts the rewrite changes
    nothing semantically. At this SF Catalyst may still broadcast the
    replicated side (fine: salting composes with either physical
    join); the operator matters when BOTH sides are too big to
    broadcast and one key dominates."""
    from ..operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(
        li, part, "l_partkey", n_salts=8,
        salt_from=["l_orderkey", "l_linenumber"],
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "brand_revenue"
        ),
    )


_SALTED_JOIN_ORACLE = f"""
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_items,
       {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS brand_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


QUERIES: dict[str, QuerySpec] = {
    "purchase_graph_pagerank": QuerySpec(
        _q_purchase_pagerank, _pagerank_oracle(), bench_tail=True
    ),
    "brand_price_regression": QuerySpec(
        _q_brand_regression, _BRAND_REGRESSION_ORACLE
    ),
    "user_activity_streaks": QuerySpec(
        _q_activity_streaks, _ACTIVITY_STREAKS_ORACLE
    ),
    "copurchase_brand_pairs": QuerySpec(
        _q_copurchase_pairs, _COPURCHASE_ORACLE
    ),
    "key_skew_report": QuerySpec(_q_key_skew_report, _KEY_SKEW_ORACLE),
    "event_type_transitions": QuerySpec(
        _q_event_transitions, _EVENT_TRANSITIONS_ORACLE
    ),
    "value_drift_report": QuerySpec(_q_value_drift_report, _VALUE_DRIFT_ORACLE),
    "sequence_bigram_support": QuerySpec(
        _q_sequence_support, _SEQUENCE_SUPPORT_ORACLE
    ),
    "brand_triangle_counts": QuerySpec(
        _q_brand_triangles, _BRAND_TRIANGLES_ORACLE
    ),
    "funnel_latency_quantiles": QuerySpec(
        _q_funnel_latency, _FUNNEL_LATENCY_ORACLE
    ),
    "purchase_graph_bfs_hops": QuerySpec(_q_purchase_bfs, _bfs_oracle()),
    "winsorized_quantity_stats": QuerySpec(
        _q_winsorized_stats, _WINSORIZED_ORACLE, bench_tail=True
    ),
    "sessions_in_anomalous_hours": QuerySpec(
        _q_sessions_anomalous, _SESSIONS_ANOMALOUS_ORACLE
    ),
    "user_modal_event_type": QuerySpec(
        _q_modal_event_type, _MODAL_TYPE_ORACLE
    ),
    "brand_supplier_concentration": QuerySpec(
        _q_brand_concentration, _BRAND_CONCENTRATION_ORACLE
    ),
    "referential_integrity_audit": QuerySpec(
        _q_ref_integrity, _ref_integrity_oracle()
    ),
    "nation_share_of_region": QuerySpec(
        _q_nation_share_of_region, _NATION_SHARE_ORACLE
    ),
    "top_parts_per_brand_with_ties": QuerySpec(
        _q_top_parts_with_ties, _TOP_PARTS_TIES_ORACLE
    ),
    "mad_quantity_by_flag": QuerySpec(_q_mad_quantity, _MAD_ORACLE),
    "activity_heatmap_cells": QuerySpec(
        _q_activity_heatmap, _ACTIVITY_HEATMAP_ORACLE
    ),
    "user_type_diversity": QuerySpec(
        _q_user_type_diversity, _USER_DIVERSITY_ORACLE
    ),
    "pareto_top_decile_share": QuerySpec(
        _q_pareto_top_decile, _PARETO_ORACLE
    ),
    "brand_association_rules": QuerySpec(
        _q_association_rules, _association_rules_oracle()
    ),
    "weekly_stickiness": QuerySpec(_q_stickiness, _STICKINESS_ORACLE),
    "cohort_funnel_conversion": QuerySpec(
        _q_cohort_conversion, _cohort_conversion_oracle()
    ),
    "weekly_growth_accounting": QuerySpec(
        _q_resurrected_users, _RESURRECTED_ORACLE
    ),
    "salted_skew_join_revenue": QuerySpec(_q_salted_skew_join, _SALTED_JOIN_ORACLE),
    "scd2_part_prices": QuerySpec(_q_scd2_part_prices, _SCD2_ORACLE),
    "target_encoding_loo": QuerySpec(_q_target_encoding_loo, _TARGET_LOO_ORACLE),
    "pit_customer_features": QuerySpec(
        _q_pit_customer_features, _PIT_FEATURES_ORACLE
    ),
    "order_fulfillment_latency": QuerySpec(_q_fulfillment, _FULFILLMENT_ORACLE),
    "dq_expectations_report": QuerySpec(_q_dq_report, _DQ_REPORT_ORACLE),
    "dormant_rich_customers": QuerySpec(_q_dormant_rich, _DORMANT_RICH_ORACLE),
    "top_supplier_revenue": QuerySpec(_q_top_supplier, _TOP_SUPPLIER_ORACLE),
    "rolling_week_user_activity": QuerySpec(_q_rolling_week, _ROLLING_WEEK_ORACLE),
    "unpivot_market_measures": QuerySpec(_q_unpivot, _UNPIVOT_ORACLE),
    "bucketed_colocated_join": QuerySpec(_q_bucketed_join, _BUCKETED_JOIN_ORACLE),
    "skew_safe_count_distinct": QuerySpec(
        _q_skew_safe_distinct, _SKEW_DISTINCT_ORACLE
    ),
    "binned_range_join": QuerySpec(_q_binned_range_join, _BINNED_RANGE_ORACLE),
    "hierarchical_time_rollup": QuerySpec(_q_time_rollup, _TIME_ROLLUP_ORACLE),
    "bloom_pruned_anti_join": QuerySpec(_q_bloom_anti_join, _BLOOM_ANTI_ORACLE),
    "events_funnel_stages": QuerySpec(_q_funnel, _FUNNEL_ORACLE),
    "events_weekly_retention": QuerySpec(_q_retention, _RETENTION_ORACLE),
    "pricing_summary": QuerySpec(_q_pricing_summary, _PRICING_ORACLE, bench=True),
    "top_revenue_customers": QuerySpec(
        _q_top_customers, _TOP_CUSTOMERS_ORACLE, bench=True
    ),
    "region_nation_rollup": QuerySpec(_q_region_rollup, _REGION_ROLLUP_ORACLE),
    "order_priority_count": QuerySpec(_q_priority_count, _PRIORITY_ORACLE),
    "brand_revenue_share": QuerySpec(_q_brand_share, _BRAND_SHARE_ORACLE),
    "events_hourly_rollup": QuerySpec(
        _q_events_hourly, _EVENTS_HOURLY_ORACLE, bench=True
    ),
    "events_sessionization": QuerySpec(_q_sessions, _SESSIONS_ORACLE, bench=True),
    "events_props_rollup": QuerySpec(_q_props_rollup, _PROPS_ORACLE),
    "asof_quote_join": QuerySpec(_q_asof, _ASOF_ORACLE, bench=True),
    "cube_monthly_summary": QuerySpec(_q_cube, _CUBE_ORACLE),
    "pivot_monthly_by_type": QuerySpec(_q_pivot, _PIVOT_ORACLE),
    "quantiles_by_returnflag": QuerySpec(_q_quantiles, _QUANTILES_ORACLE),
    "histogram_quantile_sketch": QuerySpec(
        _q_hist_quantiles, _HIST_QUANTILES_ORACLE
    ),
    "zorder_layout_stats": QuerySpec(_q_zorder, _zorder_sql()),
    "events_hourly_anomalies": QuerySpec(_q_anomalies, _ANOMALIES_ORACLE),
}
