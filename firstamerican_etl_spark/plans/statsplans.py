"""Distributed statistics and data-quality operators.

`stats_moments_stable` is the load-bearing pattern: variance and
correlation computed from EXACT decimal power sums (n, Σx, Σy, Σxy,
Σx², Σy²) combined in one fixed double-precision expression tree.
Naive `corr()`/`var_samp()` aggregates accumulate in doubles, so a
1000-executor run returns different last bits than a single-node
oracle — power sums in decimal are associative and exact, making the
statistic bit-identical under ANY partitioning. This is also the
mergeable form (each partition's sums combine by addition), i.e. the
same shape a custom UDAF merge() would use.

`dq_constraint_report` promotes the reference's commented-out
validations (fa-etl.py:348-349 duplicate TODO, fa-etl.py:464
validate='m:1') into a one-pass constraint report: FK orphans,
PK duplicates, domain violations, null-rate — each as a named count,
unioned into one small result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from firstamerican_etl_spark.functions.stable import stable_round
from firstamerican_etl_spark.plans.registry import register
from firstamerican_etl_spark.sources.io import load_table, load_table_spread

_DX = "decimal(18,2)"   # quantities (integer-valued) and 2-dec prices: exact


@register(
    "stats_moments_stable",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       floor((sx / n) * 10000 + 0.5) / 10000 AS mean_qty,
       floor(((sxx - sx * (sx / n)) / (n - 1)) * 10000 + 0.5) / 10000 AS var_qty,
       floor(((sxy - sx * (sy / n))
              / sqrt((sxx - sx * (sx / n)) * (syy - sy * (sy / n))))
             * 1000000 + 0.5) / 1000000 AS corr_qty_price
FROM s
""",
    tags=("stats", "agg", "bit-stable"),
)
def stats_moments_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / sample variance / Pearson correlation per return flag
    from exact decimal power sums. The decimal sums shuffle as partial
    aggregates (map-side combine) exactly like any sum; only the final
    single-row-per-group combination runs in floating point, through
    the SAME expression tree the oracle uses — bit-identical on 1 or
    1000 executors. Spark's built-in corr()/var_samp() are kept out of
    the contract surface for exactly this reason."""
    # cpu_spread (r14, guide §2.5): the 6 decimal power-sum partials
    # are the query's CPU, and a low-split lineitem file runs them on
    # one core — spread on the row key first (measured −29% at sf0.1;
    # no-op at scale, see sources/io.cpu_spread). Exact decimal sums:
    # partition layout cannot change any result bit.
    li = load_table_spread(
        spark, sf_dir, "lineitem", "l_orderkey", "l_linenumber"
    )
    x = F.col("l_quantity").cast(_DX)
    y = F.col("l_extendedprice").cast(_DX)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    var_x = (sxx - sx * (sx / n)) / (n - 1)
    cov_n = sxy - sx * (sy / n)
    corr = cov_n / F.sqrt((sxx - sx * (sx / n)) * (syy - sy * (sy / n)))
    return s.select(
        "l_returnflag",
        "n",
        stable_round(sx / n, 4).alias("mean_qty"),
        stable_round(var_x, 4).alias("var_qty"),
        stable_round(corr, 6).alias("corr_qty_price"),
    )


@register(
    "agg_arg_extremes",
    oracle="""
WITH r AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_max,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_min
  FROM orders
)
SELECT o_orderpriority,
       max(CASE WHEN rn_max = 1 THEN o_orderkey END) AS max_price_orderkey,
       max(CASE WHEN rn_min = 1 THEN o_orderkey END) AS min_price_orderkey,
       floor(CAST(max(o_totalprice) AS DOUBLE) * 100 + 0.5) / 100 AS max_price,
       floor(CAST(min(o_totalprice) AS DOUBLE) * 100 + 0.5) / 100 AS min_price
FROM r GROUP BY 1
""",
    tags=("agg", "argmax"),
)
def agg_arg_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (SQL:2023 arg_max/arg_min): the orderkey carrying
    each priority's price extremes in ONE aggregate pass — no
    rank-window, no self-join. The ordering key is struct(price,
    orderkey), NOT the bare price: equal prices within a group are
    real (one tie at sf0.01) and a bare-price arg_max would be
    engine-arbitrary on them."""
    o = load_table(spark, sf_dir, "orders")
    ord_key = F.struct("o_totalprice", "o_orderkey")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", ord_key).alias("max_price_orderkey"),
        F.min_by("o_orderkey", ord_key).alias("min_price_orderkey"),
        stable_round(F.max("o_totalprice")).alias("max_price"),
        stable_round(F.min("o_totalprice")).alias("min_price"),
    )


@register(
    "dq_constraint_report",
    oracle="""
SELECT 'orders_custkey_fk_orphans' AS check_name,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey)) AS n_violations
UNION ALL
SELECT 'lineitem_orderkey_fk_orphans',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'orders_pk_duplicates',
       (SELECT count(*) FROM (
          SELECT o_orderkey FROM orders
          GROUP BY 1 HAVING count(*) > 1))
UNION ALL
SELECT 'lineitem_nonpositive_price',
       (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0)
UNION ALL
SELECT 'events_null_user',
       (SELECT count(*) FROM events WHERE user_id IS NULL)
""",
    tags=("dq", "constraints"),
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality report: FK orphan counts (broadcast
    anti-joins — the key sides are dims or pre-aggregated keys), PK
    duplicate count (two-level aggregate), domain and null-rate
    checks (map-side counts). Promotes fa-etl.py:348-349/:464's
    commented-out validations into an executable contract; the result
    is 5 rows regardless of input scale, so it's safe to alert on."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    def one(name: str, cnt: DataFrame) -> DataFrame:
        return cnt.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    fk_orders = (
        o.join(F.broadcast(c.select("c_custkey")),
               o.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    fk_lineitem = (
        li.join(o.select("o_orderkey"),
                li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pk_dupes = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    neg_price = li.filter(F.col("l_extendedprice") <= 0).agg(
        F.count(F.lit(1)).alias("n")
    )
    null_user = ev.filter(F.col("user_id").isNull()).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        one("orders_custkey_fk_orphans", fk_orders)
        .unionByName(one("lineitem_orderkey_fk_orphans", fk_lineitem))
        .unionByName(one("orders_pk_duplicates", pk_dupes))
        .unionByName(one("lineitem_nonpositive_price", neg_price))
        .unionByName(one("events_null_user", null_user))
    )


@register(
    "linreg_price_on_qty",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       floor(((sxy - sx * (sy / n)) / (sxx - sx * (sx / n))) * 10000 + 0.5) / 10000 AS slope,
       floor((sy / n - ((sxy - sx * (sy / n)) / (sxx - sx * (sx / n))) * (sx / n)) * 10000 + 0.5) / 10000 AS intercept
FROM s
""",
    tags=("stats", "regression", "bit-stable"),
)
def linreg_price_on_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS line (price ~ quantity) from the same exact
    decimal power sums as stats_moments_stable — the mergeable,
    partitioning-invariant form of SQL:2016 regr_slope/regr_intercept
    (the built-ins accumulate in doubles and drift across
    partitionings; these don't). slope = Sxy/Sxx, intercept =
    ȳ − slope·x̄, combined in one fixed double expression tree shared
    with the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast(_DX)
    y = F.col("l_extendedprice").cast(_DX)
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    slope = (sxy - sx * (sy / n)) / (sxx - sx * (sx / n))
    intercept = sy / n - slope * (sx / n)
    return s.select(
        "l_returnflag",
        "n",
        stable_round(slope, 4).alias("slope"),
        stable_round(intercept, 4).alias("intercept"),
    )


@register(
    "event_mix_gini_by_weekday",
    oracle="""
WITH c AS (
  SELECT dayname(CAST(ts AS DATE)) AS weekday,
         count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
         count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
         count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
         count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
         count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
  FROM events GROUP BY 1
)
SELECT weekday, n_click, n_error, n_purchase, n_signup, n_view,
       floor((1.0 - (
           (CAST(n_click AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n_click AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(n_error AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n_error AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(n_purchase AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n_purchase AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(n_signup AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n_signup AS DOUBLE) / CAST(n AS DOUBLE))
         + (CAST(n_view AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(n_view AS DOUBLE) / CAST(n AS DOUBLE))
       )) * 1000000 + 0.5) / 1000000 AS gini_impurity
FROM (SELECT *, n_click + n_error + n_purchase + n_signup + n_view AS n FROM c) t
""",
    tags=("stats", "distribution", "bit-stable"),
)
def event_mix_gini_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-mix diversity profile: event-type distribution per
    weekday plus its Gini impurity 1 − Σp², the class-balance metric
    a training-data pipeline monitors for drift. Deliberately Gini
    and not Shannon entropy: impurity is pure +·/ arithmetic over
    exact integer counts in one fixed expression tree, so it is
    bit-identical across engines and partitionings, where log2's
    libm-vs-JVM last-bit differences can flip a rounding boundary.
    One conditional-aggregate pass (pivot to fixed columns), no
    second shuffle; weekday names (not locale-dependent numbers)
    keep the two engines' day numbering out of the contract."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        F.date_format(F.col("ts").cast("date"), "EEEE").alias("weekday")
    ).agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
            for t in ("click", "error", "purchase", "signup", "view")
        ]
    )
    cols = [F.col(f"n_{t}") for t in ("click", "error", "purchase", "signup", "view")]
    n = cols[0] + cols[1] + cols[2] + cols[3] + cols[4]
    nd = n.cast("double")
    sq = lambda c: (c.cast("double") / nd) * (c.cast("double") / nd)  # noqa: E731
    gini = F.lit(1.0) - (sq(cols[0]) + sq(cols[1]) + sq(cols[2]) + sq(cols[3]) + sq(cols[4]))
    return counts.select(
        "weekday", *[f"n_{t}" for t in ("click", "error", "purchase", "signup", "view")],
        stable_round(gini, 6).alias("gini_impurity"),
    )


@register(
    "salted_skew_agg",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
       max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS max_cents
FROM events
GROUP BY 1
""",
    tags=("agg", "skew", "salting", "scale"),
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/scale.salted_groupby_agg)
    registered as a verified query: phase 1 groups on (event_type,
    salt) so a pathological hot key spreads across 16 reducers; phase 2
    merges the ≤16 partials per key. The oracle is the PLAIN group-by —
    the salted plan must be result-identical under any salt assignment,
    which is exactly the decomposability contract (count→sum, sum→sum,
    max→max) the helper enforces. This is the hand lever for skewed
    aggregations that AQE's skew-join handling cannot touch."""
    from firstamerican_etl_spark.operators.scale import salted_groupby_agg

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return salted_groupby_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": ("count", "sum", "event_type"),
            "total_cents": ("sum", "sum", "cents"),
            "max_cents": ("max", "max", "cents"),
        },
    )


@register(
    "key_skew_report",
    oracle="""
WITH c AS (
  SELECT l_suppkey AS key, count(*) AS n FROM lineitem GROUP BY 1
),
tot AS (
  SELECT sum(n) AS total, count(*) AS n_keys, max(n) AS max_n FROM c
)
SELECT c.key, c.n,
       floor(CAST(c.n AS DOUBLE) / tot.total * 1000000 + 0.5) / 1000000 AS share,
       floor(CAST(c.n AS DOUBLE) * tot.n_keys / tot.total * 10000 + 0.5) / 10000 AS x_mean,
       floor(CAST(tot.max_n AS DOUBLE) * tot.n_keys / tot.total * 10000 + 0.5) / 10000 AS skew_factor
FROM c, tot
ORDER BY c.n DESC, c.key
LIMIT 10
""",
    tags=("diagnostics", "skew", "scale"),
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight skew diagnostic for a join/agg key: the 10 heaviest
    values of l_suppkey with each key's share of all rows, its
    multiple of the mean per-key load, and the table-wide skew factor
    (max/mean) — the number that decides whether a key needs salting
    or AQE skew handling BEFORE a 100 TB shuffle discovers it the hard
    way (operators/scale.py holds the remedies this report picks
    between).

    Scale shape: one map-side-combined count aggregate (|keys| rows),
    a 1-row totals aggregate over it, broadcast back; TakeOrdered for
    the top-10. The fact table is scanned once, key column only."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.agg(
        F.sum("n").alias("total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_n"),
    )
    r6 = lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)  # noqa: E731
    r4 = lambda x: F.floor(x * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)  # noqa: E731
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "n",
            r6(F.col("n").cast("double") / F.col("total")).alias("share"),
            r4(
                F.col("n").cast("double") * F.col("n_keys") / F.col("total")
            ).alias("x_mean"),
            r4(
                F.col("max_n").cast("double") * F.col("n_keys") / F.col("total")
            ).alias("skew_factor"),
        )
        .orderBy(F.col("n").desc(), "key")
        .limit(10)
    )


_CMS_D = 4  # count-min sketch depth (independent hash rows)
_CMS_W = 64  # sketch width (buckets per row)
_CMS_TOPK = 10


def _cms_bucket_sql(j: str, term: str) -> str:
    """DuckDB: md5-derived bucket for hash row ``j`` — 4 hex chars →
    0..65535, reduced mod W. Same formula as the Spark side."""
    return (
        f"CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || {term}), 1, 4)) "
        f"AS BIGINT) % {_CMS_W}"
    )


@register(
    "heavy_hitters_cms",
    oracle=f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
hashed AS (
  SELECT term, j, {_cms_bucket_sql('j', 'term')} AS b
  FROM words CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j) rows
),
counters AS (
  SELECT j, b, CAST(count(*) AS BIGINT) AS c FROM hashed GROUP BY 1, 2
),
exact AS (
  SELECT term, CAST(count(*) AS BIGINT) AS exact_n FROM words GROUP BY 1
  ORDER BY exact_n DESC, term LIMIT {_CMS_TOPK}
),
probe AS (
  SELECT term, exact_n, j, {_cms_bucket_sql('j', 'term')} AS b
  FROM exact CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS j) rows
)
SELECT p.term, any_value(p.exact_n) AS exact_n,
       min(c.c) AS cms_estimate,
       min(c.c) - any_value(p.exact_n) AS overestimate
FROM probe p JOIN counters c ON p.j = c.j AND p.b = c.b
GROUP BY 1
""",
    tags=("sketch", "count-min", "heavy-hitters", "mergeable"),
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) frequency
    estimation, graded against exact truth: build a d×w = 4×64 counter
    sketch over the corpus term stream, then estimate the true top-10
    terms' counts as min over hash rows — reporting estimate and
    (always ≥0) overestimate per term.

    Why CMS and not Misra-Gries here: CMS counters are SUMS, so the
    sketch is mergeable by addition and its content is INDEPENDENT of
    partitioning and merge order — a deterministic result under any
    cluster layout, value-checkable against a single-node SQL oracle.
    (Misra-Gries merges are order-sensitive; its output cannot be
    pinned bit-exactly in a distributed run.)

    Scale shape: the corpus collapses map-side into d·w = 256 counter
    partials per partition before the one tiny exchange (the same
    mergeable-aggregate shape as stats_moments_stable); the exact
    top-k pass is a word count + top-k — also map-side combined. The
    probe joins the 256-row counter frame via broadcast. At 100 TB the
    sketch costs one pass and 2 KB of state per executor; the exact
    pass exists to GRADE it (production keeps only the sketch)."""
    # cpu_spread REVERTED here (r15, VERDICT r14 #3 + guide §1): the
    # r14 probe's −18%/−14% did not reproduce — a clean interleaved
    # 6-sweep A/B at parity calib measured spread min 1.045 / med 1.133
    # vs no-spread min 1.031 / med 1.162 (flat both ways; results
    # verified identical). An exchange that buys nothing reproducible
    # is not kept. The other four r14 spread sites keep their
    # reproduced wins (bootstrap/stats_moments/containment/cdc).
    words = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ", -1)).alias("term")
    )

    def bucket(j: int, col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 4), 16, 10
            ).cast("long")
            % _CMS_W
        )

    hashed = words.select(
        "term",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("long").alias("j"),
                        bucket(j, F.col("term")).alias("b"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("jb"),
    ).select("term", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    counters = hashed.groupBy("j", "b").agg(F.count(F.lit(1)).alias("c"))
    exact = (
        words.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "term")
        .limit(_CMS_TOPK)
    )
    probe = exact.select(
        "term",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("long").alias("j"),
                        bucket(j, F.col("term")).alias("b"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("jb"),
    ).select("term", "exact_n", F.col("jb.j").alias("j"), F.col("jb.b").alias("b"))
    return (
        probe.join(F.broadcast(counters), ["j", "b"])
        .groupBy("term")
        .agg(
            F.any_value("exact_n").alias("exact_n"),
            F.min("c").alias("cms_estimate"),
            (F.min("c") - F.any_value("exact_n")).alias("overestimate"),
        )
    )


@register(
    "corpus_drift_psi",
    oracle="""
WITH c AS (
  SELECT lang, source,
         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM documents GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(na) AS BIGINT) AS ta,
         CAST(sum(nb) AS BIGINT) AS tb,
         CAST(count(*) AS BIGINT) AS k
  FROM c
),
terms AS (
  SELECT lang, na, nb,
         CAST(floor(
           ((na + 1.0) / (ta + k) - (nb + 1.0) / (tb + k))
           * ln(((na + 1.0) / (ta + k)) / ((nb + 1.0) / (tb + k)))
           * 1000000000 + 0.5) AS BIGINT) AS term_scaled
  FROM c CROSS JOIN tot
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(na) AS BIGINT) AS n_a,
       CAST(sum(nb) AS BIGINT) AS n_b,
       CAST(sum(term_scaled) AS BIGINT) AS psi_scaled
FROM terms GROUP BY 1
""",
    tags=("stats", "drift", "psi", "monitoring"),
)
def corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots — the
    standard ingest-drift monitor: compare the (lang, source) mix of
    snapshot A vs snapshot B (here the deterministic even/odd doc_id
    halves, standing in for yesterday's vs today's crawl) with
    Laplace-smoothed probabilities. PSI = Σ (p_a−p_b)·ln(p_a/p_b);
    rule of thumb >0.2 per dimension = investigate the pipeline.

    Exactness: each bucket's PSI term is quantized ONCE to int64 (1e-9
    units) and the per-lang PSI is then an integer sum — associative,
    so any partitioning gives bit-identical results (same discipline
    as DSIR's log-ratio table; a double sum over buckets would be
    merge-order-dependent).

    Scale shape: two map-side-combined aggregates over one scan
    collapse the corpus to |lang × source| rows before anything moves;
    the full-outer bucket join and the PSI sum are metadata-sized."""
    d = load_table(spark, sf_dir, "documents")
    # ONE conditional aggregate, no join: both snapshot counts come out
    # of a single corpus scan, and NULL-keyed (lang, source) buckets
    # group naturally on both engines — a filtered-halves + full-outer
    # formulation double-counted a NULL bucket in the smoothing k
    # (NULL join keys never match) and diverged from the oracle.
    j = d.groupBy("lang", "source").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0)).alias("nb"),
    )
    tot = j.agg(
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
        F.count(F.lit(1)).alias("k"),
    )
    pa = (F.col("na") + 1.0) / (F.col("ta") + F.col("k"))
    pb = (F.col("nb") + 1.0) / (F.col("tb") + F.col("k"))
    term = (
        F.floor((pa - pb) * F.log(pa / pb) * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("term_scaled")
    )
    return (
        j.crossJoin(F.broadcast(tot))
        .select("lang", "na", "nb", term)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("na").alias("n_a"),
            F.sum("nb").alias("n_b"),
            F.sum("term_scaled").alias("psi_scaled"),
        )
    )


@register(
    "pearson_correlation_matrix",
    oracle="""
WITH q AS (
  SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x_qty,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x_price,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x_disc,
         CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS x_tax
  FROM lineitem
),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(x_qty   AS DECIMAL(38,0))) AS DOUBLE) AS s_qty,
         CAST(sum(CAST(x_price AS DECIMAL(38,0))) AS DOUBLE) AS s_price,
         CAST(sum(CAST(x_disc  AS DECIMAL(38,0))) AS DOUBLE) AS s_disc,
         CAST(sum(CAST(x_tax   AS DECIMAL(38,0))) AS DOUBLE) AS s_tax,
         CAST(sum(CAST(x_qty * x_qty     AS DECIMAL(38,0))) AS DOUBLE) AS s_qq,
         CAST(sum(CAST(x_price * x_price AS DECIMAL(38,0))) AS DOUBLE) AS s_pp,
         CAST(sum(CAST(x_disc * x_disc   AS DECIMAL(38,0))) AS DOUBLE) AS s_dd,
         CAST(sum(CAST(x_tax * x_tax     AS DECIMAL(38,0))) AS DOUBLE) AS s_tt,
         CAST(sum(CAST(x_qty * x_price   AS DECIMAL(38,0))) AS DOUBLE) AS s_qp,
         CAST(sum(CAST(x_qty * x_disc    AS DECIMAL(38,0))) AS DOUBLE) AS s_qd,
         CAST(sum(CAST(x_qty * x_tax     AS DECIMAL(38,0))) AS DOUBLE) AS s_qt,
         CAST(sum(CAST(x_price * x_disc  AS DECIMAL(38,0))) AS DOUBLE) AS s_pd,
         CAST(sum(CAST(x_price * x_tax   AS DECIMAL(38,0))) AS DOUBLE) AS s_pt,
         CAST(sum(CAST(x_disc * x_tax    AS DECIMAL(38,0))) AS DOUBLE) AS s_dt
  FROM q
)
SELECT var_x, var_y,
       floor((n * sxy - sx * sy) /
             (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             * 1000000 + 0.5) / 1000000 AS corr
FROM (
  SELECT 'quantity' AS var_x, 'extendedprice' AS var_y,
         n, s_qty AS sx, s_price AS sy, s_qq AS sxx, s_pp AS syy, s_qp AS sxy FROM m
  UNION ALL SELECT 'quantity', 'discount', n, s_qty, s_disc, s_qq, s_dd, s_qd FROM m
  UNION ALL SELECT 'quantity', 'tax', n, s_qty, s_tax, s_qq, s_tt, s_qt FROM m
  UNION ALL SELECT 'extendedprice', 'discount', n, s_price, s_disc, s_pp, s_dd, s_pd FROM m
  UNION ALL SELECT 'extendedprice', 'tax', n, s_price, s_tax, s_pp, s_tt, s_pt FROM m
  UNION ALL SELECT 'discount', 'tax', n, s_disc, s_tax, s_dd, s_tt, s_dt FROM m
)
""",
    tags=("stats", "correlation", "moments"),
)
def pearson_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's four numeric measures
    (quantity, extendedprice, discount, tax) — the 6 upper-triangle
    pairs from ONE pass of exact sufficient statistics. The
    feature-screening primitive: which measures co-move (multivariate
    skew detection, redundant-feature pruning before a model fit).

    Exactness discipline: inputs quantize to exact integer cents;
    every sufficient statistic (Σx, Σx², Σxy) accumulates in
    DECIMAL(38,0) — exact and associative, so any partitioning yields
    the identical total (int64 would overflow: Σ price²·10⁴ ≈ 10²⁰ at
    sf1). Each exact decimal casts to double once (correctly rounded,
    engine-identical), and the corr formula is then a fixed dag of
    IEEE ops on identical doubles — bit-identical cross-engine;
    stable_round(1e-6) guards the display value.

    Scale shape: ONE column-pruned scan → ONE map-side-combined
    aggregate row (15 decimal sums) → a 6-row unpivot of that single
    row. No joins, no windows, no second pass; at 100 TB this is the
    cheapest shape a correlation can take. Adding a measure costs one
    column in the same pass, not a pass."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = lambda c: F.floor(F.col(c) * F.lit(100.0) + F.lit(0.5)).cast("long")
    q = li.select(
        cents("l_quantity").alias("x_qty"),
        cents("l_extendedprice").alias("x_price"),
        cents("l_discount").alias("x_disc"),
        cents("l_tax").alias("x_tax"),
    )
    dec = lambda c: F.sum(c.cast("decimal(38,0)")).cast("double")
    names = {"qty": "x_qty", "price": "x_price", "disc": "x_disc", "tax": "x_tax"}
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for k, c in names.items():
        aggs.append(dec(F.col(c)).alias(f"s_{k}"))
    pairs = [
        ("qty", "price"), ("qty", "disc"), ("qty", "tax"),
        ("price", "disc"), ("price", "tax"), ("disc", "tax"),
    ]
    for k in names:
        aggs.append(dec(F.col(names[k]) * F.col(names[k])).alias(f"s_{k}{k}"))
    for a, b in pairs:
        aggs.append(dec(F.col(names[a]) * F.col(names[b])).alias(f"s_{a}{b}"))
    m = q.agg(*aggs)
    label = {
        "qty": "quantity", "price": "extendedprice",
        "disc": "discount", "tax": "tax",
    }
    rows = []
    for a, b in pairs:
        n, sx, sy = F.col("n"), F.col(f"s_{a}"), F.col(f"s_{b}")
        sxx, syy, sxy = F.col(f"s_{a}{a}"), F.col(f"s_{b}{b}"), F.col(f"s_{a}{b}")
        corr = (n * sxy - sx * sy) / (
            F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
        )
        rows.append(
            m.select(
                F.lit(label[a]).alias("var_x"),
                F.lit(label[b]).alias("var_y"),
                stable_round(corr, 6).alias("corr"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


@register(
    "salted_skew_join",
    oracle="""
SELECT s.s_nationkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
            AS BIGINT) AS revenue_cents
FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1
""",
    tags=("join", "skew", "salting", "scale"),
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join registered as a verified query
    (operators/scale.salted_join): the fact side gets a random salt in
    [0, 16), the dim side is replicated once per salt, and the join
    runs on (key, salt) — a pathological hot supplier's rows now land
    on 16 reducers instead of one. The oracle is the PLAIN join: the
    salted plan must be result-identical under ANY salt assignment
    (salt touches distribution only, never matching), which is the
    invariant that makes the technique safe to drop into a 100 TB
    pipeline when a required distribution blocks AQE's
    OptimizeSkewedJoin and the dim side sits above the broadcast
    threshold. Post-join aggregate is integer-exact cents."""
    from firstamerican_etl_spark.operators.scale import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined = salted_join(
        li.withColumnRenamed("l_suppkey", "s_suppkey"), sup, on="s_suppkey"
    )
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("cents").alias("revenue_cents"),
    )


@register(
    "count_distinct_two_phase",
    oracle="""
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY 1
""",
    tags=("agg", "distinct", "two-phase", "scale"),
)
def count_distinct_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-count at scale without the distinct-aggregate
    Expand: phase 1 collapses to the distinct (event_type, user_id)
    pairs (map-side combined — each partition contributes each pair
    once), phase 2 counts pairs per type; a third tiny aggregate joins
    the plain event count back. Result-identical to COUNT(DISTINCT) —
    the oracle IS the plain distinct aggregate.

    Why it exists: a single agg mixing COUNT(DISTINCT x) with plain
    counts plans an Expand that duplicates every input row per
    aggregate branch — at 100 TB that's the difference between
    shuffling |distinct pairs| vs 2×|rows|. The two-phase shape is
    also the only one that extends to >1 distinct column without
    multiplying the Expand factor, and phase 1's pair frame is
    reusable across downstream distinct metrics (the hll_mergeable_
    rollup is this recipe's approximate sibling; this is the exact
    path when the distinct cardinality is join-able small).

    Scale shape: shuffle #1 carries distinct pairs (map-side
    combined), shuffle #2 carries |types| rows; the plain count rides
    a separate |types|-row aggregate broadcast back. No Expand
    anywhere in the plan."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    # COUNT(DISTINCT user_id) excludes NULLs; counting rows of the
    # distinct pair frame would include one (type, NULL) pair per type
    # — filter before the distinct so semantics match under NULLs.
    pairs = ev.filter(F.col("user_id").isNotNull()).distinct()
    n_users = pairs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    n_events = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    # n_events drives the join: a type whose user_ids are ALL NULL
    # still groups in the oracle (n_users = 0) but has no pair rows.
    return n_events.join(F.broadcast(n_users), "event_type", "left").select(
        "event_type",
        F.coalesce("n_users", F.lit(0)).alias("n_users"),
        "n_events",
    )


#: Poisson(1) inverse-CDF thresholds, as 8-char lowercase-hex strings
#: on the u32 scale (floor(CDF(k) * 2^32) in hex): k = #{t : t <= u}
#: capped at 7 (P(K>7) ~ 1e-5). Fixed-length lowercase hex compares
#: exactly like the integer on BOTH engines (md5 emits lowercase hex
#: in both), so the draw is a string-compare chain directly on the
#: md5 substring — no hex→int conversion in the hot loop (conv()'s
#: per-call BigInteger parsing was ~40% of the aggregate's CPU), no
#: float RNG, no exp()/ln() cross-engine drift.
_POIS_T_HEX = ("5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797",
               "ff1025f5", "ffd90f3b", "fffa8b71")
_BOOT_B = 32  # bootstrap replicates


def _boot_oracle() -> str:
    k_cols, s_cols, means = [], [], []
    for b in range(_BOOT_B):
        u = (f"substr(md5(event_id::VARCHAR || ':' || '{b // 4}'), "
             f"{1 + 8 * (b % 4)}, 8)")
        case = "CASE " + " ".join(
            f"WHEN {u} < '{t}' THEN {i}" for i, t in enumerate(_POIS_T_HEX)
        ) + " ELSE 7 END"
        k_cols.append(f"{case} AS k{b}")
        s_cols.append(f"CAST(sum(k{b}) AS BIGINT) AS n{b},\n"
                      f"         CAST(sum(k{b} * cents) AS BIGINT) AS s{b}")
        means.append(f"CAST(s{b} AS DOUBLE) / nullif(n{b}, 0)")
    sep = ",\n         "
    k_sql, s_sql, m_sql = sep.join(k_cols), sep.join(s_cols), ", ".join(means)
    return f"""
WITH e AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
k AS (
  SELECT event_type, cents,
         {k_sql}
  FROM e
),
s AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(cents) AS BIGINT) AS sy,
         {s_sql}
  FROM k GROUP BY 1
),
m AS (
  SELECT event_type, n, sy,
         list_sort([{m_sql}]) AS rep
  FROM s
)
SELECT event_type, n,
       floor((CAST(sy AS DOUBLE) / n) * 10000 + 0.5) / 10000 AS mean_cents,
       floor(rep[2] * 10000 + 0.5) / 10000 AS ci_lo,
       floor(rep[31] * 10000 + 0.5) / 10000 AS ci_hi
FROM m
"""


@register(
    "bootstrap_mean_ci_poisson",
    oracle=_boot_oracle(),
    tags=("stats", "bootstrap", "deterministic", "ci"),
)
def bootstrap_mean_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence band for the per-type mean — the
    ONLY bootstrap that distributes: classic resampling needs n draws
    with replacement from the full table (a global operation), but for
    large n the multinomial replicate counts converge to iid
    Poisson(1), which is a PURE PER-ROW draw. Each row contributes
    k_{row,b} copies to replicate b, where k is read off a
    precomputed inverse-CDF threshold chain compared DIRECTLY on the
    md5 hex substring (fixed-length lowercase hex orders exactly like
    the u32 it encodes, so no hex→int conversion runs per row) —
    no float RNG, reproducible under retries/partitioning, and one
    md5 yields FOUR u32 replicate draws (8 hashes for B=32).

    Replicates ride the SAME aggregate as the point estimate: the
    groupBy emits 2+2B partial sums (map-side combined, all exact
    int64 — bound: Σ k·cents ≤ 7·10⁵·rows_per_type, safe past 10¹²
    rows/type), so the whole CI costs ONE shuffle of |types|·(2B+2)
    numbers regardless of table size. The band is the middle 30 of 32
    sorted replicate means (≈ 94% coverage); each mean is a single
    IEEE division of exact integers — bit-identical across engines.
    nullif guards the (unreachable past ~30 rows/type) empty-replicate
    case rather than diverging on inf-vs-null division semantics."""
    # cpu_spread (r14, guide §2.5): the 8 md5/row replicate draws are
    # ~90% of this query's CPU and a low-split events file computes
    # them on one core — spread on event_id first (measured −42% at
    # sf0.1; no-op at scale, see sources/io.cpu_spread). Draws are a
    # pure function of event_id and all aggregates are exact int64
    # sums, so partition layout cannot change any result bit.
    ev = load_table_spread(spark, sf_dir, "events", "event_id")
    e = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    # LAYERED projections (r14, guide §1/§4.4 analysis): building every
    # k{b} directly over substring(md5(...)) plans ONE Project whose
    # CASE chains repeat each md5 7× — 224 md5/row in the physical plan
    # (plans/r14/bootstrap_mean_ci_poisson_before.txt), and per-row md5
    # was ~90% of the query's CPU. Materializing the 8 hashes and the
    # 32 substrings as NAMED COLUMNS in their own selects pins them to
    # one evaluation each: CollapseProject refuses to inline an alias
    # that a consumer references more than once unless it is cheap
    # (attribute/literal), and md5/substring are neither — so the three
    # Projects survive optimization and the plan computes 8 md5 + 32
    # substrings per row. Bit-identical draws, same aggregate.
    h = e.select(
        "event_type",
        "cents",
        *[
            F.md5(
                F.concat(F.col("event_id").cast("string"), F.lit(f":{g}"))
            ).alias(f"h{g}")
            for g in range(_BOOT_B // 4)
        ],
    )
    u_cols = h.select(
        "event_type",
        "cents",
        *[
            F.substring(F.col(f"h{b // 4}"), 1 + 8 * (b % 4), 8).alias(f"u{b}")
            for b in range(_BOOT_B)
        ],
    )
    ks = []
    for b in range(_BOOT_B):
        u = F.col(f"u{b}")
        c = F.when(u < _POIS_T_HEX[0], F.lit(0))
        for i in range(1, 7):
            c = c.when(u < _POIS_T_HEX[i], F.lit(i))
        ks.append(c.otherwise(F.lit(7)).alias(f"k{b}"))
    k = u_cols.select("event_type", "cents", *ks)
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sy"),
    ]
    for b in range(_BOOT_B):
        aggs.append(F.sum(F.col(f"k{b}")).alias(f"n{b}"))
        aggs.append(F.sum(F.col(f"k{b}") * F.col("cents")).alias(f"s{b}"))
    s = k.groupBy("event_type").agg(*aggs)
    rep = F.array_sort(
        F.array(
            *[
                F.col(f"s{b}").cast("double")
                / F.nullif(F.col(f"n{b}"), F.lit(0)).cast("double")
                for b in range(_BOOT_B)
            ]
        )
    )
    return s.select(
        "event_type",
        "n",
        stable_round(F.col("sy").cast("double") / F.col("n"), 4).alias("mean_cents"),
        stable_round(F.element_at(rep, 2), 4).alias("ci_lo"),
        stable_round(F.element_at(rep, 31), 4).alias("ci_hi"),
    )


@register(
    "ols_trend_per_group",
    oracle="""
WITH e AS (
  SELECT event_type,
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400.0) AS BIGINT)
           - 18262 AS xd,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
s AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(xd AS DECIMAL(38,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(cents AS DECIMAL(38,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(xd AS DECIMAL(38,6))
                * CAST(cents AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(xd AS DECIMAL(38,6))
                * CAST(xd AS DECIMAL(38,6))) AS DOUBLE) AS sxx
  FROM e GROUP BY 1
)
SELECT event_type, n,
       floor(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 10000 + 0.5)
         / 10000 AS slope_cents_per_day,
       floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
             * 10000 + 0.5) / 10000 AS intercept_cents
FROM s
""",
    tags=("stats", "regression", "bit-stable"),
)
def ols_trend_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend line (value vs time) from EXACT
    power sums — the closed-form slope/intercept need only (n, Σx, Σy,
    Σxy, Σx²), which shuffle as map-side-combined decimal partials:
    the regression of a 100 TB table costs exactly one aggregate, and
    decimal accumulation makes the sums associative-exact, so the one
    final double expression tree (shared verbatim with the oracle) is
    bit-identical on 1 or 1000 executors. x is integer DAYS since
    2020-01-01 (floor(epoch/86400) − 18262): centering near the data
    keeps n·Σxx − (Σx)² well-conditioned in double — raw epoch seconds
    would put ~17 significant digits into the cancellation — and the
    slope lands in interpretable cents/day."""
    ev = load_table(spark, sf_dir, "events")
    dec = "decimal(38,6)"
    e = ev.select(
        "event_type",
        (
            F.floor(F.unix_timestamp("ts").cast("long") / F.lit(86400.0)).cast("long")
            - F.lit(18262)
        ).alias("xd"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    x, y = F.col("xd").cast(dec), F.col("cents").cast(dec)
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    slope = (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)
    return s.select(
        "event_type",
        "n",
        stable_round(slope, 4).alias("slope_cents_per_day"),
        stable_round((sy - slope * sx) / n, 4).alias("intercept_cents"),
    )


@register(
    "winsorized_robust_mean",
    oracle="""
WITH e AS (
  SELECT event_type, event_id,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
st AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(cents) AS BIGINT) AS sy,
         CAST(floor((count(*) + 99) / 100.0) AS BIGINT) AS lo_r,
         CAST(floor((99 * count(*) + 99) / 100.0) AS BIGINT) AS hi_r
  FROM e GROUP BY 1
),
r AS (
  SELECT e.event_type, e.cents, st.n, st.sy, st.lo_r, st.hi_r,
         row_number() OVER (PARTITION BY e.event_type
                            ORDER BY e.cents, e.event_id) AS rn
  FROM e JOIN st USING (event_type)
),
cuts AS (
  SELECT event_type, any_value(n) AS n, any_value(sy) AS sy,
         min(CASE WHEN rn = lo_r THEN cents END) AS lo_cut,
         min(CASE WHEN rn = hi_r THEN cents END) AS hi_cut
  FROM r GROUP BY 1
)
SELECT c.event_type, c.n, c.lo_cut, c.hi_cut,
       CAST(sum(CASE WHEN e.cents < c.lo_cut OR e.cents > c.hi_cut
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       floor((CAST(c.sy AS DOUBLE) / c.n) * 10000 + 0.5) / 10000 AS mean_cents,
       floor((CAST(sum(greatest(c.lo_cut, least(c.hi_cut, e.cents)))
                   AS DOUBLE) / c.n) * 10000 + 0.5) / 10000
         AS mean_winsorized
FROM e JOIN cuts c USING (event_type)
GROUP BY 1, 2, 3, 4, c.sy
""",
    tags=("stats", "robust", "winsorize"),
)
def winsorized_robust_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per type: clamp values into the [p01, p99]
    band before averaging — the robust-location estimate that (unlike
    trimming) keeps n constant, standard for taming fat-tailed metric
    columns before drift monitors. Cutpoints are RANK-defined (value
    at row ceil(n/100) / ceil(99n/100) of the per-type sort, integer
    arithmetic only) — no quantile interpolation, so the cut is a
    value that exists in the data and both engines agree bit-exactly.

    Shape: one per-type sort (single hash exchange — ranks come from a
    row_number window with (cents, event_id) tie-broken order), the
    2-row-per-type cut frame broadcasts back onto a second scan, and
    the winsorized sum is an exact int64 aggregate with one final IEEE
    division. At 100 TB the windowed rank pass is the cost; the
    documented escape hatch for skewed single types is the
    distributed-rank recipe (operators/scale.values_at_global_ranks),
    which finds the two order statistics with aggregates only — same
    cutpoints, no per-type sort."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long").alias("cents"),
    )
    st = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sy"))
        .select(
            "event_type",
            "n",
            "sy",
            F.floor((F.col("n") + 99) / F.lit(100.0)).cast("long").alias("lo_r"),
            F.floor((99 * F.col("n") + 99) / F.lit(100.0)).cast("long").alias("hi_r"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    r = e.withColumn("rn", F.row_number().over(w)).join(F.broadcast(st), "event_type")
    cuts = r.groupBy("event_type").agg(
        F.first("n").alias("n"),
        F.first("sy").alias("sy"),
        F.min(F.when(F.col("rn") == F.col("lo_r"), F.col("cents"))).alias("lo_cut"),
        F.min(F.when(F.col("rn") == F.col("hi_r"), F.col("cents"))).alias("hi_cut"),
    )
    clamped = F.greatest(F.col("lo_cut"), F.least(F.col("hi_cut"), F.col("cents")))
    out_of_band = (F.col("cents") < F.col("lo_cut")) | (F.col("cents") > F.col("hi_cut"))
    return (
        e.join(F.broadcast(cuts), "event_type")
        .groupBy("event_type", "n", "lo_cut", "hi_cut", "sy")
        .agg(
            F.sum(F.when(out_of_band, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_clipped"),
            F.sum(clamped).alias("sw"),
        )
        .select(
            "event_type",
            "n",
            "lo_cut",
            "hi_cut",
            "n_clipped",
            stable_round(F.col("sy").cast("double") / F.col("n"), 4).alias("mean_cents"),
            stable_round(F.col("sw").cast("double") / F.col("n"), 4).alias(
                "mean_winsorized"
            ),
        )
    )


@register(
    "drift_ks_two_sample",
    oracle="""
WITH ab AS (
  SELECT value,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt
  FROM events
  WHERE event_type IN ('click', 'error') AND value IS NOT NULL
  GROUP BY value
),
tot AS (
  SELECT CAST(sum(a_cnt) AS BIGINT) AS na, CAST(sum(b_cnt) AS BIGINT) AS nb FROM ab
),
cum AS (
  SELECT sum(a_cnt * nb - b_cnt * na) OVER (ORDER BY value) AS d, na, nb
  FROM ab, tot
)
SELECT na AS n_a,
       nb AS n_b,
       CAST(count(*) AS BIGINT) AS n_values,
       CASE WHEN na > 0 AND nb > 0
            THEN CAST(floor(max(abs(d)) / na / nb * 1000000 + 0.5) AS BIGINT)
            ELSE NULL END AS ks_ppm
FROM cum
GROUP BY na, nb
""",
    tags=("stats", "drift", "scale-recipe", "training-data"),
)
def drift_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    `value` distributions of two event populations (click vs error) —
    the unbinned complement to `corpus_drift_psi`'s binned PSI: KS
    needs no bin design and catches shape drift PSI's fixed bins
    smear out. Emits sample sizes, distinct evaluation points, and the
    KS statistic in ppm.

    The classic formulation needs ECDFs — a running sum over ALL
    distinct values in value order, which `sum() OVER (ORDER BY ...)`
    plans as a single-task global window (the 100 TB faceplant). Two
    moves make it scale:

    - integerize: max|cumA/nA − cumB/nB| = max|cum(a·nB − b·nA)|/(nA·nB),
      so ONE int64 running sum replaces two double ECDFs (and the
      cross-engine hash can't be bent by float summation order — the
      only doubles appear in the final scalar division, mirrored
      expression-for-expression in the oracle);
    - distribute: that running sum rides the measured distributed
      prefix-sum recipe (`operators/scale.global_running_sum`:
      literal-cutpoint shards, per-shard int64 totals prefix-summed
      driver-side as metadata, one hash-clustered exchange + per-shard
      vectorized cumsum) instead of the single-partition window.

    nA/nB are a 2-scalar metadata collect (the sanctioned pattern —
    same as the percentile cutpoints). Per-point products stay far
    inside int64: |d| ≤ nA·nB, so two samples of 3e9 rows each sit at
    the 9.2e18 ceiling — documented headroom, checked nowhere cheaper
    than here. The points frame is the DISTINCT value grid (sub-linear
    in corpus size for fixed-precision measures, linear worst case —
    either way sharded, never single-task)."""
    from firstamerican_etl_spark.operators.scale import global_running_sum

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
        & F.col("value").isNotNull()
    )
    ab = ev.groupBy("value").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).alias("a_cnt"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("b_cnt"),
    )
    tot = ab.agg(
        F.sum("a_cnt").alias("na"), F.sum("b_cnt").alias("nb")
    ).collect()[0]
    # sum over zero groups is None (empty input / one-sided sample):
    # treat as 0 and null the statistic instead of dividing by zero
    # (ANSI-on would otherwise raise DIVIDE_BY_ZERO; the oracle's
    # CASE WHEN mirrors this)
    na, nb = int(tot["na"] or 0), int(tot["nb"] or 0)
    pts = ab.withColumn(
        "d", F.col("a_cnt") * F.lit(nb) - F.col("b_cnt") * F.lit(na)
    )
    cum = global_running_sum(pts, "value", "d", out_col="cum_d")
    ks = (
        F.floor(
            F.col("mx") / F.lit(na) / F.lit(nb) * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long")
        if na > 0 and nb > 0
        else F.lit(None).cast("long")
    )
    return (
        cum.agg(
            F.max(F.abs(F.col("cum_d"))).alias("mx"),
            F.count(F.lit(1)).alias("n_values"),
        )
        .select(
            F.lit(na).cast("long").alias("n_a"),
            F.lit(nb).cast("long").alias("n_b"),
            "n_values",
            ks.alias("ks_ppm"),
        )
        # the oracle's GROUP BY over an empty points frame yields zero
        # rows; the ungrouped agg here yields one — align on empty
        .filter(F.col("n_values") > 0)
    )
