"""Composed analytics shapes (TPC-DS-style reporting patterns): window
functions layered OVER aggregate outputs — year-over-year deltas via
lag, ratio-to-report shares, and Pareto cumulative contribution. The
load-bearing property at scale: the window pass runs on the AGGREGATED
table (thousands of rows), never on the raw fact table, so each query
is one fact-table shuffle plus a trivially small analytic stage.

All full DuckDB oracles. Ratio discipline: revenue sums are exact
integer cents (floor(x·100+½) quantization — o_totalprice carries two
decimals, so this is lossless and leaves 7 orders of magnitude of
int64 headroom); the window passes run over plain longs (far cheaper
than decimal), and the DIVISION happens in double on both sides —
one IEEE op on identical integer inputs is bit-identical everywhere —
then stable_round once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from firstamerican_etl_spark.functions.stable import stable_round
from firstamerican_etl_spark.plans.registry import register
from firstamerican_etl_spark.sources.io import load_table

CENTS = lambda c: F.floor(c * F.lit(100.0) + F.lit(0.5)).cast("long")


@register(
    "yoy_revenue_change",
    oracle="""
WITH yearly AS (
  SELECT o_orderpriority,
         CAST(year(o_orderdate) AS INTEGER) AS yr,
         sum(CAST(floor((o_totalprice) * 100 + 0.5) AS BIGINT)) AS rev
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, yr,
       floor((CAST(rev AS DOUBLE) / 100) * 100 + 0.5) / 100 AS revenue,
       floor(
         (CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE))
         / CAST(lag(rev) OVER w AS DOUBLE) * 10000 + 0.5) / 10000 AS yoy_change
FROM yearly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY yr)
""",
    tags=("analytics", "yoy", "lag-over-agg"),
)
def yoy_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue change per priority class: aggregate
    first, THEN lag over the (priority, year) aggregate — the delta
    math touches |priorities|·|years| rows, not |orders|. Revenue
    accumulates as exact integer cents; the ratio divides as double
    (see module docstring), then rounds once."""
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        "o_orderpriority", F.year("o_orderdate").cast("int").alias("yr")
    ).agg(F.sum(CENTS(F.col("o_totalprice"))).alias("rev"))
    w = Window.partitionBy("o_orderpriority").orderBy("yr")
    prev = F.lag("rev").over(w)
    return yearly.select(
        "o_orderpriority",
        "yr",
        stable_round(F.col("rev").cast("double") / 100).alias("revenue"),
        stable_round(
            (F.col("rev").cast("double") - prev.cast("double"))
            / prev.cast("double"),
            4,
        ).alias("yoy_change"),
    )


@register(
    "share_of_total_window",
    oracle="""
WITH per_nation AS (
  SELECT n_name,
         sum(CAST(floor((o_totalprice) * 100 + 0.5) AS BIGINT)) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1
)
SELECT n_name,
       floor((CAST(rev AS DOUBLE) / 100) * 100 + 0.5) / 100 AS revenue,
       floor(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE) * 1000000 + 0.5) / 1000000 AS share
FROM per_nation
""",
    tags=("analytics", "ratio-to-report", "window-over-agg"),
)
def share_of_total_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of global revenue via an
    unpartitioned window sum OVER the per-nation aggregate (25 rows) —
    the grand total is computed once in the same stage, not via a
    second scan or a crossJoin of the fact table."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(CENTS(F.col("o_totalprice"))).alias("rev"))
    )
    total = F.sum("rev").over(Window.partitionBy())
    return per_nation.select(
        "n_name",
        stable_round(F.col("rev").cast("double") / 100).alias("revenue"),
        stable_round(F.col("rev").cast("double") / total.cast("double"), 6).alias("share"),
    )


@register(
    "pareto_cumulative_share",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
         sum(CAST(floor((o_totalprice) * 100 + 0.5) AS BIGINT)) AS rev
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT o_custkey, rev,
         sum(rev) OVER (ORDER BY rev DESC, o_custkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
         sum(rev) OVER () AS total_rev,
         row_number() OVER (ORDER BY rev DESC, o_custkey) AS rnk
  FROM per_cust
)
SELECT rnk, o_custkey,
       floor((CAST(rev AS DOUBLE) / 100) * 100 + 0.5) / 100 AS revenue,
       floor(CAST(cum_rev AS DOUBLE) / CAST(total_rev AS DOUBLE) * 1000000 + 0.5) / 1000000 AS cum_share
FROM ranked
WHERE rnk <= 100
""",
    tags=("analytics", "pareto", "cumulative"),
)
def pareto_cumulative_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto analysis: top-100 customers by revenue with their
    cumulative share of the total. Scale shape: the top-100 is taken
    FIRST via ``orderBy().limit(100)`` (TakeOrderedAndProject — each
    shard ships only its local top-100, never the full customer
    aggregate through one task) and the grand total is ONE scalar row
    from a plain aggregate, broadcast-crossed onto the survivors. The
    ranking/running-sum window then runs over exactly 100 rows — a
    bounded analytic stage, not a global window over |customers|.
    Cumulative and total stay cent-exact longs (unique tie-break on
    custkey makes the prefix a pure function of the data); the ratio
    divides as double."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(CENTS(F.col("o_totalprice"))).alias("rev")
    )
    total = per_cust.agg(F.sum("rev").alias("total_rev"))
    top = per_cust.orderBy(F.col("rev").desc(), F.col("o_custkey")).limit(100)
    order = [F.col("rev").desc(), F.col("o_custkey")]
    w_run = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = top.crossJoin(F.broadcast(total)).select(
        F.row_number().over(Window.orderBy(*order)).alias("rnk"),
        "o_custkey",
        "rev",
        F.sum("rev").over(w_run).alias("cum_rev"),
        "total_rev",
    )
    return ranked.select(
        "rnk",
        "o_custkey",
        stable_round(F.col("rev").cast("double") / 100).alias("revenue"),
        stable_round(
            F.col("cum_rev").cast("double") / F.col("total_rev").cast("double"), 6
        ).alias("cum_share"),
    )


@register(
    "basket_cooccurrence_pairs",
    oracle="""
WITH pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, count(*) AS n_together
FROM pairs
GROUP BY 1, 2
ORDER BY n_together DESC, part_a, part_b
LIMIT 20
""",
    tags=("analytics", "market-basket", "self-join"),
)
def basket_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: which part pairs ship in the same
    order — the support-counting core of frequent-itemset mining
    (FP-growth's first pass), as one equi-self-join. The reference has
    no self-joins at all (SURVEY.md §2.3: four left joins only); this
    is the missing shape. Scale contract: the join key is the basket
    id, so the blow-up is sum(k²) over per-basket sizes k (TPC-H
    baskets are ≤7 items — bounded), and both sides are the SAME
    scan shuffled once on l_orderkey; the `<` predicate halves the
    pair space and drops self-pairs before the aggregate. Final top-20
    is a deterministic tie-broken TakeOrdered, never a full sort."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_together"))
        .orderBy(F.col("n_together").desc(), "part_a", "part_b")
        .limit(20)
    )


@register(
    "funnel_stage_conversion",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  WHERE user_id IS NOT NULL
  GROUP BY 1
)
SELECT
  count(t_view) AS n_view,
  count(CASE WHEN t_click >= t_view THEN 1 END) AS n_click,
  count(CASE WHEN t_click >= t_view AND t_signup >= t_click
             THEN 1 END) AS n_signup,
  count(CASE WHEN t_click >= t_view AND t_signup >= t_click
              AND t_purchase >= t_signup THEN 1 END) AS n_purchase
FROM per_user
""",
    tags=("analytics", "funnel", "conditional-agg"),
)
def funnel_stage_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → signup → purchase): one
    conditional-aggregate pass pivots each user's first timestamp per
    stage into four columns, then stage-k conversion is the chained
    inequality over those minima — a user converts only if every
    earlier stage happened no later. Two aggregates total (per-user,
    then global), no joins, no windows; the per-user grouping is the
    only shuffle, so the shape is flat at any event volume. Exact
    integer counts — trivially hash-stable."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())

    def first_ts(stage: str):
        return F.min(F.when(F.col("event_type") == stage, F.col("ts")))

    per_user = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("signup").alias("t_signup"),
        first_ts("purchase").alias("t_purchase"),
    )
    c_view = F.col("t_view")
    reach_click = F.col("t_click") >= c_view
    reach_signup = reach_click & (F.col("t_signup") >= F.col("t_click"))
    reach_purchase = reach_signup & (F.col("t_purchase") >= F.col("t_signup"))
    return per_user.agg(
        F.count(c_view).alias("n_view"),
        F.count(F.when(reach_click, 1)).alias("n_click"),
        F.count(F.when(reach_signup, 1)).alias("n_signup"),
        F.count(F.when(reach_purchase, 1)).alias("n_purchase"),
    )


@register(
    "markov_event_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS prev_type
  FROM events
  WHERE user_id IS NOT NULL
),
t AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (SELECT prev_type, sum(n) AS row_total FROM t GROUP BY 1)
SELECT t.prev_type, t.next_type,
       CAST(t.n AS BIGINT) AS n_transitions,
       CAST(floor(CAST(t.n AS DOUBLE) / tot.row_total * 1000000 + 0.5)
            AS BIGINT) AS p_ppm
FROM t JOIN tot ON t.prev_type = tot.prev_type
""",
    tags=("analytics", "markov", "sequence"),
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: count (prev_type → next_type) bigrams from the per-user
    time-ordered sequence, then normalize each row of the matrix to a
    transition probability. The classic session-model / next-action
    prior; also the input for sequence-anomaly scoring (improbable
    transitions) and for generating synthetic clickstreams.

    Tie discipline: simultaneous events order by (ts, event_id) — a
    total order, so the lag pairing is deterministic on both engines.

    Exactness: transition counts are integers; the probability is one
    double division of two exact int64s, ppm-quantized — bit-identical
    cross-engine (the PageRank discipline).

    Scale shape: ONE shuffle of the fact table (hash by user_id for
    the lag window — per-user partitions are session-sized, no skew);
    the bigram aggregate map-side combines into at most
    |event_types|² rows, and the row-normalize join runs on that tiny
    matrix. At 100 TB of events the window pass dominates and it's
    embarrassingly parallel across users."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    t = seq.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    tot = t.groupBy("prev_type").agg(F.sum("n_transitions").alias("row_total"))
    return (
        t.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n_transitions",
            F.floor(
                F.col("n_transitions").cast("double")
                / F.col("row_total")
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("p_ppm"),
        )
    )


@register(
    "cohort_retention_matrix",
    oracle="""
WITH firstweek AS (
  SELECT user_id,
         min(date_trunc('week', CAST(ts AS DATE))) AS cohort_week
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
activity AS (
  SELECT DISTINCT e.user_id,
         f.cohort_week,
         CAST(floor(date_diff('day', f.cohort_week,
              date_trunc('week', CAST(e.ts AS DATE))) / 7) AS BIGINT)
           AS week_offset
  FROM events e JOIN firstweek f ON e.user_id = f.user_id
  WHERE e.user_id IS NOT NULL
),
cohort_size AS (
  SELECT cohort_week, count(*) AS n_users FROM firstweek GROUP BY 1
)
SELECT CAST(a.cohort_week AS DATE) AS cohort_week,
       a.week_offset,
       CAST(count(*) AS BIGINT) AS n_active,
       CAST(floor(CAST(count(*) AS DOUBLE) / any_value(s.n_users)
            * 1000000 + 0.5) AS BIGINT) AS retention_ppm
FROM activity a JOIN cohort_size s ON a.cohort_week = s.cohort_week
GROUP BY 1, 2
""",
    tags=("analytics", "cohort", "retention"),
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle: users are cohorted by the ISO
    week of their first event; each later active week contributes one
    (cohort_week, week_offset) cell; retention is the cell's distinct
    actives over the cohort's size. THE growth-analytics table, and a
    shape every product warehouse materializes daily.

    Week discipline: both engines truncate to the ISO week of the DATE
    (Spark date_trunc('week') and DuckDB agree: Monday start), and the
    offset is exact integer day arithmetic / 7 floored — no timezone
    or epoch-seconds division involved.

    Exactness: counts are integers; retention is one double division
    of exact int64s, ppm-quantized.

    Scale shape: first-touch is one per-user min (shuffle #1, combines
    map-side); the activity join re-shuffles events by user_id — at
    scale both sides arrive hash-clustered on user_id so AQE plans it
    shuffle-free after the first exchange; the DISTINCT collapses to
    |users × active-weeks| before the final tiny matrix aggregate.
    Cohort sizes broadcast."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    wk = lambda c: F.date_trunc("week", c.cast("date")).cast("date")
    firstweek = ev.groupBy("user_id").agg(F.min(wk(F.col("ts"))).alias("cohort_week"))
    activity = (
        ev.join(firstweek, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(wk(F.col("ts")), F.col("cohort_week")) / F.lit(7)
            )
            .cast("long")
            .alias("week_offset"),
        )
        .distinct()
    )
    cohort_size = firstweek.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(cohort_size), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.floor(
                F.col("n_active").cast("double") / F.col("n_users") * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("retention_ppm"),
        )
    )


@register(
    "association_rules_lift",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
),
n AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM items),
supp AS (SELECT item, CAST(count(*) AS BIGINT) AS s FROM items GROUP BY 1),
pair AS (
  SELECT a.item AS part_a, b.item AS part_b, CAST(count(*) AS BIGINT) AS s_ab
  FROM items a JOIN items b
    ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT p.part_a, p.part_b,
       sa.s AS n_a, sb.s AS n_b, p.s_ab AS n_together,
       CAST(floor(CAST(p.s_ab AS DOUBLE) / sa.s * 1000000 + 0.5) AS BIGINT)
         AS conf_ab_ppm,
       CAST(floor(CAST(p.s_ab AS DOUBLE) / sb.s * 1000000 + 0.5) AS BIGINT)
         AS conf_ba_ppm,
       CAST(floor(CAST(p.s_ab AS DOUBLE) * n.n_baskets / (sa.s * sb.s)
            * 10000 + 0.5) AS BIGINT) AS lift_bp
FROM pair p
JOIN supp sa ON sa.item = p.part_a
JOIN supp sb ON sb.item = p.part_b
CROSS JOIN n
""",
    tags=("analytics", "market-basket", "association-rules"),
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket pairs: confidence in both
    directions and LIFT for every part pair co-occurring in ≥2 orders
    — the step after support counting (basket_cooccurrence_pairs) that
    turns co-occurrence into a recommendation signal; lift > 1 (here
    > 10000 bp) is the actionable threshold, and lift is what
    separates genuinely-associated pairs from two independently
    popular items that confidence alone would flag.

    Exactness: basket-level DISTINCT items make every support an
    integer count; confidence and lift are single IEEE divisions of
    exact int64s, ppm/bp-quantized on both sides.

    Scale shape: one distinct (basket, item) collapse; the pair
    self-join keys on basket id (blow-up bounded by per-basket size²,
    ≤7 items in TPC-H); item supports are a |parts|-row aggregate that
    BROADCASTS onto the qualifying pairs; the basket total is a 1-row
    literal cross join. Support ≥2 prunes before the rule math."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        F.col("l_orderkey").alias("basket"), F.col("l_partkey").alias("item")
    ).distinct()
    n_baskets = items.agg(
        F.countDistinct("basket").alias("n_baskets")
    )
    supp = items.groupBy("item").agg(F.count(F.lit(1)).alias("s"))
    a, b = items.alias("a"), items.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.basket") == F.col("b.basket"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("part_a"), F.col("b.item").alias("part_b")
        )
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .filter(F.col("s_ab") >= 2)
    )
    sa = supp.select(F.col("item").alias("part_a"), F.col("s").alias("n_a"))
    sb = supp.select(F.col("item").alias("part_b"), F.col("s").alias("n_b"))
    ppm = lambda num, den: F.floor(
        num.cast("double") / den * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    return (
        pair.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "n_a",
            "n_b",
            F.col("s_ab").alias("n_together"),
            ppm(F.col("s_ab"), F.col("n_a")).alias("conf_ab_ppm"),
            ppm(F.col("s_ab"), F.col("n_b")).alias("conf_ba_ppm"),
            F.floor(
                F.col("s_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("n_a") * F.col("n_b"))
                * F.lit(10000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("lift_bp"),
        )
    )


@register(
    "rfm_user_segments",
    oracle="""
WITH e AS (
  SELECT user_id,
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400.0) AS BIGINT) AS d,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id IS NOT NULL
),
anchor AS (SELECT max(d) AS a FROM e),
u AS (
  SELECT user_id, any_value(a) - max(d) AS recency_d,
         count(*) AS freq,
         CAST(sum(cents) AS BIGINT) AS money
  FROM e CROSS JOIN anchor GROUP BY 1
),
rr AS (
  SELECT u.*,
         row_number() OVER (ORDER BY recency_d, user_id) AS rn_r,
         row_number() OVER (ORDER BY freq, user_id) AS rn_f,
         row_number() OVER (ORDER BY money, user_id) AS rn_m,
         count(*) OVER () AS n
  FROM u
),
cut AS (
  SELECT max(CASE WHEN rn_r = greatest(n // 4, 1) THEN recency_d END) AS r1,
         max(CASE WHEN rn_r = greatest((2 * n) // 4, 1) THEN recency_d END) AS r2,
         max(CASE WHEN rn_r = greatest((3 * n) // 4, 1) THEN recency_d END) AS r3,
         max(CASE WHEN rn_f = greatest(n // 4, 1) THEN freq END) AS f1,
         max(CASE WHEN rn_f = greatest((2 * n) // 4, 1) THEN freq END) AS f2,
         max(CASE WHEN rn_f = greatest((3 * n) // 4, 1) THEN freq END) AS f3,
         max(CASE WHEN rn_m = greatest(n // 4, 1) THEN money END) AS m1,
         max(CASE WHEN rn_m = greatest((2 * n) // 4, 1) THEN money END) AS m2,
         max(CASE WHEN rn_m = greatest((3 * n) // 4, 1) THEN money END) AS m3
  FROM rr
),
coded AS (
  SELECT (CASE WHEN recency_d <= r1 THEN 1 WHEN recency_d <= r2 THEN 2
               WHEN recency_d <= r3 THEN 3 ELSE 4 END) * 100
       + (CASE WHEN freq <= f1 THEN 1 WHEN freq <= f2 THEN 2
               WHEN freq <= f3 THEN 3 ELSE 4 END) * 10
       + (CASE WHEN money <= m1 THEN 1 WHEN money <= m2 THEN 2
               WHEN money <= m3 THEN 3 ELSE 4 END) AS segment,
         money
  FROM u, cut
)
SELECT segment, count(*) AS n_users,
       floor((CAST(sum(money) AS DOUBLE) / count(*)) * 100 + 0.5) / 100
         AS avg_money_cents
FROM coded GROUP BY 1
""",
    tags=("analytics", "rfm", "segmentation", "scale"),
)
def rfm_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartile
    codes, R·100 + F·10 + M) over the per-user activity profile — the
    classic lifecycle-marketing cut, here with ascending-VALUE
    quartile codes in every dimension (1 = lowest quarter) so the
    code is a pure comparison against cut values and both engines
    agree bit-exactly; flip 5−code for the marketing convention.

    Scale discipline: the fact table collapses FIRST to the per-user
    frame (one exact-integer aggregate; the recency anchor rides a
    broadcast single-row crossJoin), that frame is localCheckpointed
    once (three rank probes re-read it — Catalyst has no cross-branch
    CSE), and each dimension's exact quartile cutpoints come from the
    rank-targeted recipe (operators/scale.values_at_global_ranks:
    shard counts + ONE partitioned-window pass per dimension — never
    a global ORDER BY window, never one hot task). Assignment is then
    a pure broadcast-literal comparison and one |segments|-row
    aggregate. Ties at a cutpoint fall to the lower code by value on
    both engines."""
    from firstamerican_etl_spark.operators.scale import (
        concurrent_actions,
        quartile_cutpoints,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    e = ev.select(
        "user_id",
        F.floor(F.unix_timestamp("ts").cast("long") / F.lit(86400.0))
        .cast("long")
        .alias("d"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    anchor = e.agg(F.max("d").alias("a"))
    u = (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            (F.first("a") - F.max("d")).alias("recency_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum("cents").alias("money"),
        )
        .localCheckpoint(eager=True)
    )

    def cuts(col: str) -> tuple[int, int, int] | None:
        vals = quartile_cutpoints(u, [col, "user_id"])
        return None if vals is None else tuple(int(v) for v in vals)

    # The three dimensions' cutpoint passes are INDEPENDENT reads of
    # the checkpointed per-user frame (each: one percentile_approx
    # aggregate, one per-shard count, one windowed rank probe — 9
    # sequential driver jobs total). Submitting them from a small
    # thread pool overlaps the three job chains (guide §2.6 — Spark's
    # scheduler runs concurrent jobs fine; each pass's tasks back-fill
    # the others' tails), folding three job floors into ~one at every
    # scale. Results are unchanged: the passes share no state beyond
    # the materialized checkpoint.
    rcuts, fcuts, mcuts = concurrent_actions(
        lambda: cuts("recency_d"), lambda: cuts("freq"), lambda: cuts("money")
    )
    if rcuts is None:  # zero users: empty report, stable schema
        return spark.createDataFrame(
            [], "segment int, n_users bigint, avg_money_cents double"
        )
    r1, r2, r3 = rcuts
    f1, f2, f3 = fcuts
    m1, m2, m3 = mcuts

    def code(col: str, c1: int, c2: int, c3: int) -> F.Column:
        return (
            F.when(F.col(col) <= F.lit(c1), 1)
            .when(F.col(col) <= F.lit(c2), 2)
            .when(F.col(col) <= F.lit(c3), 3)
            .otherwise(4)
        )

    segment = (
        code("recency_d", r1, r2, r3) * 100
        + code("freq", f1, f2, f3) * 10
        + code("money", m1, m2, m3)
    )
    return (
        u.groupBy(segment.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            stable_round(F.sum("money").cast("double") / F.count(F.lit(1)), 2).alias(
                "avg_money_cents"
            ),
        )
    )


_FUNNEL_GAP_S = 172_800  # 48h per-step conversion window


@register(
    "funnel_time_bounded",
    oracle=f"""
WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS s
  FROM events WHERE user_id IS NOT NULL
),
v AS (
  SELECT user_id, min(s) AS t_view FROM e
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.s) AS t_click
  FROM e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.s >= v.t_view AND e.s <= v.t_view + {_FUNNEL_GAP_S}
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.s) AS t_purchase
  FROM e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.s >= c.t_click AND e.s <= c.t_click + {_FUNNEL_GAP_S}
  GROUP BY 1
)
SELECT count(*) AS n_entered,
       count(c.t_click) AS n_clicked,
       count(p.t_purchase) AS n_purchased,
       floor(CAST(count(c.t_click) AS DOUBLE) / count(*) * 10000 + 0.5)
         / 10000 AS click_rate,
       floor(CAST(count(p.t_purchase) AS DOUBLE)
             / nullif(count(c.t_click), 0) * 10000 + 0.5) / 10000
         AS purchase_rate
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
""",
    tags=("analytics", "funnel", "time-bounded"),
)
def funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-BOUNDED sequential funnel (view → click ≤48h → purchase
    ≤48h): unlike funnel_stage_conversion's whole-history minima, each
    stage must happen within the conversion window of the PREVIOUS
    stage's anchor — the attribution-honest funnel (a purchase a month
    after the click doesn't convert). Skip-ahead semantics: any number
    of other events may sit between stages.

    Shape: stage anchors cascade as per-user aggregates — min view,
    then min qualifying click joined back on user_id, then min
    qualifying purchase — three same-key aggregates and two user-keyed
    joins that all reuse ONE hash partitioning (co-partitioned chain,
    AQE coalesces), then a single global rollup row. Integer epoch
    seconds end-to-end; the only floats are the two final rounded
    rates."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    e = ev.select(
        "user_id", "event_type", F.unix_timestamp("ts").cast("long").alias("s")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("s").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("s") >= F.col("t_view"))
            & (F.col("s") <= F.col("t_view") + _FUNNEL_GAP_S)
        )
        .groupBy("user_id")
        .agg(F.min("s").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("s") >= F.col("t_click"))
            & (F.col("s") <= F.col("t_click") + _FUNNEL_GAP_S)
        )
        .groupBy("user_id")
        .agg(F.min("s").alias("t_purchase"))
    )
    j = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_entered"),
        F.count("t_click").alias("n_clicked"),
        F.count("t_purchase").alias("n_purchased"),
        stable_round(
            F.count("t_click").cast("double") / F.count(F.lit(1)), 4
        ).alias("click_rate"),
        stable_round(
            F.count("t_purchase").cast("double")
            / F.nullif(F.count("t_click"), F.lit(0)).cast("double"),
            4,
        ).alias("purchase_rate"),
    )


@register(
    "audience_overlap_jaccard",
    oracle="""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL
),
sizes AS (
  SELECT event_type, count(*) AS n FROM du GROUP BY 1
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_both
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, i.n_both,
       sa.n AS n_a, sb.n AS n_b,
       floor(CAST(i.n_both AS DOUBLE) / (sa.n + sb.n - i.n_both)
             * 10000 + 0.5) / 10000 AS jaccard
FROM inter i
JOIN sizes sa ON sa.event_type = i.type_a
JOIN sizes sb ON sb.event_type = i.type_b
""",
    tags=("analytics", "audience", "jaccard", "setop"),
)
def audience_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity of the user sets
    behind every pair of event types — the segmentation-sanity readout
    (two event types whose audiences are near-identical measure the
    same behavior; near-disjoint ones partition the user base). The
    |A∪B| denominator comes from |A|+|B|−|A∩B|, so only the
    INTERSECTION is ever joined.

    Shape: the fact table collapses FIRST to distinct (type, user)
    pairs (one map-side-combined aggregate — the frame is ≤
    |types|·|users| and usually far smaller), the self-join runs on
    user_id with the `<` orientation generating each unordered pair
    once, and per-type sizes broadcast back onto the
    |types|²-row intersection frame. Per-user fan-out is bounded by
    |types| (5 here), so the join output is ≤ |types|²/2 rows per
    user — never quadratic in users."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    du = ev.select("event_type", "user_id").distinct()
    sizes = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = du.select(F.col("event_type").alias("type_a"), "user_id")
    b = du.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            stable_round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                4,
            ).alias("jaccard"),
        )
    )
