"""Geospatial operators: haversine KNN (brute baseline), grid-bucketed
KNN (the scale path), and Morton / Z-order layout bucketing.

The reference's domain is property data with situs coordinates
(fa-etl.py:168-169 filters SitusLatitude/SitusLongitude != 0), so
nearest-property / within-area queries are the natural analytic layer
on top of it. The driver tables carry no coordinates, so each query
derives a deterministic synthetic (lat, lon) from ``c_custkey`` via
exact integer arithmetic — identical in both engines, which keeps the
oracles full value checks (the operator under test is the spatial
plan, not the data).

Scale notes:
- Brute haversine is O(n·q) with the q query points broadcast — the
  exact baseline, same role as cosine_topk_bruteforce in the ANN
  family.
- The grid path buckets points into _CELL_DEG° cells and probes only
  the 3×3 neighborhood around each query point: candidate generation becomes
  an equi-join on cell id, cost O(q · cell-occupancy) instead of
  O(n·q). Same design as IVF/LSH: a cheap partition function bounds
  the candidate set; the exact metric runs only on candidates. The
  oracle replicates the grid semantics, so parity is exact by
  construction.
- Morton codes linearize 2-D locality into one integer: a layout
  range-clustered by it (repartitionByRange + sortWithinPartitions)
  lets parquet min/max footers prune 2-D bbox queries from a 1-D sort
  — the standard spatial layout trick at 100 TB. The unrolled bit-interleave is pure
  integer ops, fully codegen'd, identical in every engine.

Trig note: sin/cos/asin may differ in the last ulp between JVM and C
libm, so distances are stably ROUNDED (floor(x·10³+½)/10³ — sub-meter)
before ranking, and every rank tie-breaks on the point id — rank
assignment is engine-exact (same recipe as BM25's rounded idf).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from firstamerican_etl_spark.functions.stable import stable_round
from firstamerican_etl_spark.plans.registry import register
from firstamerican_etl_spark.sources.io import load_table, local_df

#: Deterministic synthetic coordinates: exact integer arithmetic on
#: the key, identical in Spark and DuckDB (no float modulo involved).
_LAT_SQL = "(c_custkey * 7919 % 18000) / 100.0 - 90.0"
_LON_SQL = "(c_custkey * 104729 % 36000) / 100.0 - 180.0"

#: Fixed query points (id, lat, lon) — literal on both sides.
_QPOINTS = ((1, 10.0, 20.0), (2, -45.5, 120.25), (3, 71.0, -30.0))

#: Grid-KNN cell edge in degrees. Sized to the *synthetic* density so
#: the demo is meaningful at the test SFs (10° ⇒ a 3×3 probe covers a
#: 30°×30° window); at real property density this would be ~0.01°.
#: The cell size is a tuning knob, not a semantics change — the oracle
#: derives from the same constant.
_CELL_DEG = 10.0

_EARTH_KM = 6371.0


def _syn_lat() -> Column:
    return (F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0


def _syn_lon() -> Column:
    return (F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0


def _haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (haversine form — numerically stable
    for small angles, unlike the spherical law of cosines)."""
    dphi = F.radians(lat2 - lat1)
    dlam = F.radians(lon2 - lon1)
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(dlam / 2)
        * F.sin(dlam / 2)
    )
    return 2.0 * _EARTH_KM * F.asin(F.sqrt(a))


def _sql_haversine(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"2.0 * {_EARTH_KM} * asin(sqrt("
        f"sin(radians(({lat2}) - ({lat1})) / 2) * sin(radians(({lat2}) - ({lat1})) / 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * sin(radians(({lon2}) - ({lon1})) / 2) * sin(radians(({lon2}) - ({lon1})) / 2)"
        f"))"
    )


def _qpoints_sql() -> str:
    rows = ", ".join(f"({i}, {la}, {lo})" for i, la, lo in _QPOINTS)
    return f"(VALUES {rows}) AS q(q_id, q_lat, q_lon)"


def _qpoints_df(spark: SparkSession) -> DataFrame:
    return local_df(
        spark,
        [(i, la, lo) for i, la, lo in _QPOINTS],
        "q_id INT, q_lat DOUBLE, q_lon DOUBLE",
    )


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", _syn_lat().alias("lat"), _syn_lon().alias("lon")
    )


_POINTS_SQL = f"""
SELECT c_custkey, {_LAT_SQL} AS lat, {_LON_SQL} AS lon FROM customer
"""


@register(
    "geo_haversine_knn",
    oracle=f"""
WITH pts AS ({_POINTS_SQL}),
d AS (
  SELECT q_id, c_custkey,
         floor({_sql_haversine("q_lat", "q_lon", "lat", "lon")} * 1000 + 0.5) / 1000
           AS dist_km
  FROM pts CROSS JOIN {_qpoints_sql()}
)
SELECT q_id, c_custkey, dist_km FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY dist_km, c_custkey
  ) AS rn FROM d
) WHERE rn <= 5
""",
    tags=("geo", "knn", "bruteforce"),
)
def geo_haversine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact geo-KNN baseline: 5 nearest points per query point by
    haversine distance. The 3-row query side broadcasts; the point set
    streams through one map stage (no point-set shuffle except the
    per-query top-k) — the spatial twin of cosine_topk_bruteforce."""
    pts = _points(spark, sf_dir)
    d = pts.crossJoin(F.broadcast(_qpoints_df(spark))).select(
        "q_id",
        "c_custkey",
        stable_round(
            _haversine_km(F.col("q_lat"), F.col("q_lon"), F.col("lat"), F.col("lon")),
            3,
        ).alias("dist_km"),
    )
    w = Window.partitionBy("q_id").orderBy("dist_km", "c_custkey")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "c_custkey", "dist_km")
    )


@register(
    "geo_knn_grid_bucketed",
    oracle=f"""
WITH pts AS ({_POINTS_SQL}),
cells AS (
  SELECT c_custkey, lat, lon,
         CAST(floor(lat / {_CELL_DEG}) AS BIGINT) AS cy,
         CAST(floor(lon / {_CELL_DEG}) AS BIGINT) AS cx
  FROM pts
),
probes AS (
  SELECT q_id, q_lat, q_lon,
         CAST(floor(q_lat / {_CELL_DEG}) AS BIGINT) + dy.d AS cy,
         CAST(floor(q_lon / {_CELL_DEG}) AS BIGINT) + dx.d AS cx
  FROM {_qpoints_sql()}
  CROSS JOIN (VALUES (-1), (0), (1)) AS dy(d)
  CROSS JOIN (VALUES (-1), (0), (1)) AS dx(d)
),
cand AS (
  SELECT q_id, c_custkey,
         floor({_sql_haversine("q_lat", "q_lon", "lat", "lon")} * 1000 + 0.5) / 1000
           AS dist_km
  FROM probes JOIN cells USING (cy, cx)
)
SELECT q_id, c_custkey, dist_km FROM (
  SELECT *, row_number() OVER (
    PARTITION BY q_id ORDER BY dist_km, c_custkey
  ) AS rn FROM cand
) WHERE rn <= 5
""",
    tags=("geo", "knn", "grid"),
)
def geo_knn_grid_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path geo-KNN: _CELL_DEG° grid cells as the partition
    function;
    each query point probes only its 3×3 cell neighborhood, so
    candidate generation is an equi-join on (cell_y, cell_x) — cost
    follows cell occupancy, not the point count. Same structure as the
    IVF/LSH ANN paths: cheap bucketing bounds candidates, the exact
    metric runs on candidates only. (Points beyond the neighborhood
    are out of scope by GRID semantics — the oracle replicates the
    same candidate rule, so the check is exact.)"""
    pts = _points(spark, sf_dir).select(
        "c_custkey",
        "lat",
        "lon",
        F.floor(F.col("lat") / _CELL_DEG).alias("cy"),
        F.floor(F.col("lon") / _CELL_DEG).alias("cx"),
    )
    # the 27 probe rows (3 query points × 3×3 neighborhood) are
    # constant metadata — expanded driver-side, no join to plan
    import math

    probe_rows = [
        (
            i,
            la,
            lo,
            int(math.floor(la / _CELL_DEG)) + dy,
            int(math.floor(lo / _CELL_DEG)) + dx,
        )
        for i, la, lo in _QPOINTS
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
    ]
    probes = local_df(
        spark, probe_rows, "q_id INT, q_lat DOUBLE, q_lon DOUBLE, cy BIGINT, cx BIGINT"
    )
    cand = pts.join(F.broadcast(probes), ["cy", "cx"]).select(
        "q_id",
        "c_custkey",
        stable_round(
            _haversine_km(F.col("q_lat"), F.col("q_lon"), F.col("lat"), F.col("lon")),
            3,
        ).alias("dist_km"),
    )
    w = Window.partitionBy("q_id").orderBy("dist_km", "c_custkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "c_custkey", "dist_km")
    )


def morton_code(ybin: Column, xbin: Column, bits: int = 8) -> Column:
    """Interleave ``bits`` low bits of two non-negative ints into a
    Z-order (Morton) code — unrolled shifts/masks, fully codegen'd."""
    code: Column = F.lit(0).cast("long")
    for i in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(xbin, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(ybin, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return code


def _sql_morton(ybin: str, xbin: str, bits: int = 8) -> str:
    # every shift term fully parenthesized: DuckDB follows PostgreSQL
    # operator precedence where | binds TIGHTER than <<, so a bare
    # `a << 0 | b << 1` chain parses as nested shifts and overflows
    parts = []
    for i in range(bits):
        parts.append(f"(((({xbin}) >> {i}) & 1) << {2 * i})")
        parts.append(f"(((({ybin}) >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(parts)


@register(
    "geo_morton_bucket",
    oracle=f"""
WITH pts AS ({_POINTS_SQL}),
bins AS (
  SELECT c_custkey,
         CAST(floor((lat + 90.0) / 180.0 * 256.0) AS BIGINT) AS ybin,
         CAST(floor((lon + 180.0) / 360.0 * 256.0) AS BIGINT) AS xbin
  FROM pts
),
codes AS (
  SELECT c_custkey,
         ({_sql_morton("CASE WHEN ybin > 255 THEN 255 ELSE ybin END",
                       "CASE WHEN xbin > 255 THEN 255 ELSE xbin END")}) AS morton
  FROM bins
)
SELECT morton >> 10 AS z_block,
       count(*) AS n_points,
       min(morton) AS min_code,
       max(morton) AS max_code
FROM codes
GROUP BY 1
ORDER BY 1
""",
    tags=("geo", "layout", "zorder"),
)
def geo_morton_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout bucketing: 8-bit lat/lon bins interleaved into a
    16-bit Morton code, aggregated per 64-code block. A layout
    range-clustered by this code (repartitionByRange +
    sortWithinPartitions) gives parquet footers whose min/max bound
    BOTH dimensions at once, so a 2-D bbox scan prunes files from a
    1-D sort — the spatial layout recipe at 100 TB. The interleave is unrolled integer ops (no UDF),
    and the aggregate doubles as the layout-quality report (points per
    Z-block, code span per block)."""
    clamp = lambda c: F.least(c, F.lit(255))  # noqa: E731 — edge bin (lat=+90)
    bins = _points(spark, sf_dir).select(
        "c_custkey",
        clamp(F.floor((F.col("lat") + 90.0) / 180.0 * 256.0).cast("long")).alias(
            "ybin"
        ),
        clamp(F.floor((F.col("lon") + 180.0) / 360.0 * 256.0).cast("long")).alias(
            "xbin"
        ),
    )
    codes = bins.select(
        "c_custkey", morton_code(F.col("ybin"), F.col("xbin")).alias("morton")
    )
    return (
        codes.groupBy(F.shiftrightunsigned(F.col("morton"), 10).alias("z_block"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("morton").alias("min_code"),
            F.max("morton").alias("max_code"),
        )
        .orderBy("z_block")
    )


# ---------------------------------------------------------------------------
# Point-in-polygon spatial join — the geographic VALIDATION step the
# reference promises but never implements ("validates/standardizes the
# geographic elements using spatil [sic] join", fa-etl.py:492). Synthetic
# census-tract polygons in integer CENTIDEGREES; containment is the
# ray-cast crossing number evaluated with cross-multiplied int64
# arithmetic only (no division, no floats), so Spark and DuckDB agree
# bit-for-bit on every point including edge-adjacent ones.
# ---------------------------------------------------------------------------


def _pip_tracts() -> list[tuple[int, list[tuple[int, int]]]]:
    """Deterministic star-shaped "census tract" polygons: 12 hexagons
    with angle-ordered integer vertices (star-shaped about their
    center ⇒ simple/non-self-intersecting by construction). Vertices
    are computed once at import with float trig but STORED as integer
    literals — both engines consume the same literal table, so the
    trig never touches the comparison arithmetic."""
    import math as _math

    tracts = []
    for i in range(12):
        cx = ((i * 5 + 2) % 12) * 3000 - 18000 + 1500   # lon centideg
        cy = ((i * 7 + 3) % 12) * 1500 - 9000 + 750     # lat centideg
        verts = []
        for v in range(6):
            ang = _math.radians(60.0 * v + 11.0 * i)
            r = 1100 + 600 * ((i * 7 + v * 3) % 4)
            verts.append(
                (cx + round(r * _math.cos(ang)), cy + round(r * _math.sin(ang)))
            )
        tracts.append((i, verts))
    return tracts


_PIP_TRACTS = _pip_tracts()
_PIP_CELL = 1000  # candidate grid edge, centidegrees (10 deg)

#: (tract_id, x1, y1, x2, y2) closed-ring edge literals.
_PIP_EDGES = [
    (t, vs[k][0], vs[k][1], vs[(k + 1) % len(vs)][0], vs[(k + 1) % len(vs)][1])
    for t, vs in _PIP_TRACTS
    for k in range(len(vs))
]

#: (cell_x, cell_y, tract_id) — every grid cell intersecting the
#: tract's bbox. A contained point lies inside the bbox, hence its
#: cell is listed: the candidate join loses no true containment.
_PIP_CELLS = sorted(
    {
        (cx, cy, t)
        for t, vs in _PIP_TRACTS
        for cx in range(
            min(x for x, _ in vs) // _PIP_CELL,
            max(x for x, _ in vs) // _PIP_CELL + 1,
        )
        for cy in range(
            min(y for _, y in vs) // _PIP_CELL,
            max(y for _, y in vs) // _PIP_CELL + 1,
        )
    }
)

#: Integer synthetic point coordinates in centidegrees — the same
#: distribution as _syn_lat/_syn_lon scaled by 100, kept integral.
_PIP_PX_SQL = "(c_custkey * 104729 % 36000) - 18000"
_PIP_PY_SQL = "(c_custkey * 7919 % 18000) - 9000"


def _pip_edges_sql() -> str:
    rows = ", ".join(
        f"({t}, {x1}, {y1}, {x2}, {y2})" for t, x1, y1, x2, y2 in _PIP_EDGES
    )
    return f"(VALUES {rows}) AS e(tract_id, x1, y1, x2, y2)"


#: Ray cast to +x: edge straddles the horizontal line through the
#: point, and the intersection lies strictly right of the point.
#: px < x1 + (x2-x1)(py-y1)/(y2-y1) cross-multiplied by (y2-y1) whose
#: sign flips the inequality — both cases collapse to t·(y2-y1) > 0
#: with t = (x2-x1)(py-y1) − (px-x1)(y2-y1). Worst magnitude
#: |t|·|dy| < 1.4e8·2.7e4 ≈ 4e12 ≪ 2^63: exact under ANSI.
_PIP_CROSS_SQL = """
    (y1 > py) <> (y2 > py)
    AND ((x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)) * (y2 - y1) > 0
"""


@register(
    "geo_point_in_polygon_join",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey, {_PIP_PX_SQL} AS px, {_PIP_PY_SQL} AS py FROM customer
),
hits AS (
  SELECT p.c_custkey, e.tract_id,
         sum(CASE WHEN {_PIP_CROSS_SQL} THEN 1 ELSE 0 END) AS k
  FROM pts p CROSS JOIN {_pip_edges_sql()}
  GROUP BY 1, 2
)
SELECT c_custkey, CAST(tract_id AS BIGINT) AS tract_id
FROM hits WHERE k % 2 = 1
""",
    tags=("geo", "spatial-join", "point-in-polygon", "validation"),
)
def geo_point_in_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon spatial join: assign every synthetic customer
    point the census-tract polygon(s) containing it — the spatial-join
    validation step fa-etl.py:492 documents as part of unification but
    leaves unimplemented.

    Physical shape (the 100 TB plan): polygons are a DIMENSION —
    metadata-sized — so both derived tables broadcast. Candidate
    generation is a broadcast HASH join of points against the
    (cell → tract) coverage table on the point's grid cell (each point
    probes exactly one cell key; no point-set shuffle, no nested
    loop), then the exact ray cast runs only on candidates via a
    second broadcast join on tract_id. The only exchange is the final
    (point, tract) crossing-count aggregate, and map-side partial agg
    collapses the ≤6-edge fan-out in-task. The oracle skips the grid
    (plain cross join) — pruning is physical only: a contained point
    is inside the tract bbox, so its cell is always in the coverage
    table."""
    pts = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") * 104729 % 36000 - 18000).alias("px"),
        (F.col("c_custkey") * 7919 % 18000 - 9000).alias("py"),
    )
    cells = local_df(spark, _PIP_CELLS, "cell_x INT, cell_y INT, tract_id INT")
    edges = local_df(
        spark, _PIP_EDGES, "tract_id INT, x1 INT, y1 INT, x2 INT, y2 INT"
    )
    cand = pts.withColumn(
        "cell_x", F.floor(F.col("px") / _PIP_CELL).cast("int")
    ).withColumn(
        "cell_y", F.floor(F.col("py") / _PIP_CELL).cast("int")
    ).join(F.broadcast(cells), ["cell_x", "cell_y"])
    straddle = (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    t = (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1")) - (
        F.col("px") - F.col("x1")
    ) * (F.col("y2") - F.col("y1"))
    crossing = straddle & (t * (F.col("y2") - F.col("y1")) > 0)
    return (
        cand.join(F.broadcast(edges), "tract_id")
        .groupBy("c_custkey", "tract_id")
        .agg(F.sum(F.when(crossing, 1).otherwise(0)).alias("k"))
        .filter(F.col("k") % 2 == 1)
        .select("c_custkey", F.col("tract_id").cast("long").alias("tract_id"))
    )
