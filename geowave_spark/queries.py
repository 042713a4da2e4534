"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame with
a paired DuckDB oracle SQL string.

Design rules (learned via the driver contract + verification):
- column names identical between Spark result and oracle (explicit aliases)
- float aggregates integerized (cents / micro-degrees) so sums are
  order-independent and hash-stable across engines
- all derived spatial columns come from `table/geo.py` SQL fragments shared
  verbatim by both engines
- spatial operators run the REAL engine path (cover -> broadcast equi-join on
  cell -> exact refine) while the oracle is the brute-force formulation —
  the indexed-vs-brute equivalence test of the reference
  (`test/.../spark/GeoWaveSparkSpatialJoinIT.java:98-176`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .join import spatial
from .knn import knn as knn_mod
from .table import geo

# ---------------------------------------------------------------------------
# helpers

from .table.views import TABLES, register_views  # noqa: E402,F401


def _parquet_num_rows(path: str) -> int:
    """Row count from parquet footer metadata only — no Spark job, no
    data scan.  Handles both a single .parquet file and a directory of
    part files (Spark-written datasets)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path) if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


DIST_MICRO = "cast(floor(sqrt((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)) * 1000000) as bigint)"


# ---------------------------------------------------------------------------
# relational coverage (scans, filters, aggs, joins, windows, limits)

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + groupBy agg (integer-cent sums)."""
    register_views(spark, sf_dir)
    return (
        spark.table("lineitem")
        .filter(F.col("l_shipdate") <= F.expr("timestamp '2024-06-01 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(F.expr("cast(round(l_extendedprice * 100) as bigint)")).alias("sum_base_cents"),
            F.sum(F.expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")).alias("sum_disc_cents"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as bigint)) as bigint) AS sum_qty,
       cast(sum(cast(round(l_extendedprice * 100) as bigint)) as bigint) AS sum_base_cents,
       cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)) as bigint) AS sum_disc_cents,
       cast(count(*) as bigint) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '2024-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q02_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-N (shuffle-join coverage)."""
    register_views(spark, sf_dir)
    rev = (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)")).alias("revenue_cents"))
    )
    return (
        spark.table("orders")
        .join(rev, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderkey", "o_orderpriority", "revenue_cents")
        .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
        .limit(20)
    )


Q02_SQL = """
SELECT o_orderkey, o_orderpriority, revenue_cents
FROM orders
JOIN (
  SELECT l_orderkey, cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)) as bigint) AS revenue_cents
  FROM lineitem GROUP BY l_orderkey
) r ON o_orderkey = l_orderkey
ORDER BY revenue_cents DESC, o_orderkey ASC
LIMIT 20
"""


def q03_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function: rank customers by acctbal within nation."""
    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT n_name, c_custkey, acctbal_cents, rnk FROM (
          SELECT n.n_name, c.c_custkey,
                 cast(round(c.c_acctbal * 100) as bigint) AS acctbal_cents,
                 row_number() OVER (PARTITION BY n.n_nationkey
                                    ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rnk
          FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        ) WHERE rnk <= 3
    """)


Q03_SQL = """
SELECT n_name, c_custkey, acctbal_cents, rnk FROM (
  SELECT n.n_name, c.c_custkey,
         cast(round(c.c_acctbal * 100) as bigint) AS acctbal_cents,
         row_number() OVER (PARTITION BY n.n_nationkey
                            ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS rnk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
) t WHERE rnk <= 3
"""


def q04_part_text_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text predicates (StartsWith/Contains/Between — reference filter
    expression tree `.../filter/expression/text/*.java`)."""
    register_views(spark, sf_dir)
    return (
        spark.table("part")
        .filter(
            (F.col("p_size").between(10, 30))
            & F.col("p_type").contains("O")
            & ~F.col("p_brand").startswith("Brand#1")
        )
        .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
    )


Q04_SQL = """
SELECT p_partkey, p_name, p_brand, p_type, p_size
FROM part
WHERE p_size BETWEEN 10 AND 30
  AND p_type LIKE '%O%'
  AND p_brand NOT LIKE 'Brand#1%'
"""


def q52_filter_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-expression algebra: And/Or/Not/IsNull/Between over typed
    expressions + numeric Add/Subtract/Multiply/Divide/Abs (reference
    `core/store/.../query/filter/expression/{*,numeric/*}.java`, §2.2).
    NULLs are manufactured with nullif so IS NULL has real work to do."""
    register_views(spark, sf_dir)
    return (
        spark.table("orders")
        .withColumn("prio_nulled", F.expr("nullif(o_orderpriority, '1-URGENT')"))
        .filter(
            (F.col("o_totalprice").between(1000.0, 400000.0)
             | F.col("prio_nulled").isNull())
            & ~(F.col("o_orderstatus") == "X")
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("case when prio_nulled is null then 1 else 0 end")
                  .cast("bigint")).alias("n_null_prio"),
            F.sum(F.expr(
                "cast(round(abs(o_totalprice - 150000.0) * 100) as bigint)"
            )).alias("sum_absdev_cents"),
            F.sum(F.expr(
                "cast(round((o_totalprice * 2.0 / 4.0 + 10.0 - 5.0) * 100) as bigint)"
            )).alias("sum_arith_cents"),
        )
        .orderBy("o_orderstatus")
    )


Q52_SQL = """
SELECT o_orderstatus,
       cast(count(*) as bigint) AS n,
       cast(sum(case when nullif(o_orderpriority, '1-URGENT') is null then 1 else 0 end) as bigint) AS n_null_prio,
       cast(sum(cast(round(abs(o_totalprice - 150000.0) * 100) as bigint)) as bigint) AS sum_absdev_cents,
       cast(sum(cast(round((o_totalprice * 2.0 / 4.0 + 10.0 - 5.0) * 100) as bigint)) as bigint) AS sum_arith_cents
FROM orders
WHERE (o_totalprice BETWEEN 1000.0 AND 400000.0
       OR nullif(o_orderpriority, '1-URGENT') IS NULL)
  AND NOT (o_orderstatus = 'X')
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# spatial operators (the engine path)

def q05_pip_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-rectangle-set join via cell cover + broadcast equi-join.

    Engine path: adaptive cover of rect set, broadcast, JVM range refine.
    Oracle: brute-force BETWEEN join.
    """
    register_views(spark, sf_dir)
    pts = spark.sql(geo.lineitem_points_sql())
    rects = spark.sql(geo.supplier_rects_sql()).toPandas()
    return spatial.point_in_rects_join(spark, pts, rects, res=8).orderBy("pid", "rid")


Q05_SQL = f"""
WITH p AS ({geo.lineitem_points_sql()}), r AS ({geo.supplier_rects_sql()})
SELECT p.pid, r.rid
FROM p JOIN r
  ON p.lon BETWEEN r.lon0 AND r.lon1 AND p.lat BETWEEN r.lat0 AND r.lat1
ORDER BY p.pid, r.rid
"""


def q06_pip_rect_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over the spatial join (count + integer-cent sum per region)."""
    register_views(spark, sf_dir)
    pts = spark.sql(geo.lineitem_points_sql())
    rects = spark.sql(geo.supplier_rects_sql()).toPandas()
    # qty rides through the join (keep_cols) — no second join back to the
    # point table, so the only shuffle left is the final tiny agg
    pairs = spatial.point_in_rects_join(
        spark, pts, rects, res=8, keep_cols=["qty"]
    )
    return (
        pairs.groupBy("rid")
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.col("qty").cast("bigint")).alias("sum_qty"),
        )
        .orderBy("rid")
    )


Q06_SQL = f"""
WITH p AS ({geo.lineitem_points_sql()}), r AS ({geo.supplier_rects_sql()})
SELECT r.rid, cast(count(*) as bigint) AS n_points, cast(sum(cast(p.qty as bigint)) as bigint) AS sum_qty
FROM p JOIN r
  ON p.lon BETWEEN r.lon0 AND r.lon1 AND p.lat BETWEEN r.lat0 AND r.lat1
GROUP BY r.rid ORDER BY r.rid
"""


def _flagship_polys() -> dict:
    """27 deterministic geometries spread over the globe (the polygon-set
    analog of GeoWaveSparkSpatialJoinIT's query geometries): 25 hexagons
    plus one polygon-with-hole and one MultiPolygon — the full JTS
    geometry surface of the reference's join predicates
    (`analytics/spark/.../udf/GeomFunction.java:17-35`), handled by the
    even-odd edge-list raycast."""
    import numpy as np

    from .geom import core as geom_core

    out = {}
    for i in range(25):
        cx = ((i * 7919) % 340) - 170.0
        cy = ((i * 104729) % 160) - 80.0
        out[i] = np.asarray(
            geom_core.regular_polygon(cx, cy, 3.0 + (i % 5), 6, phase=i)
        )
    # 25: hexagon with a square hole (points in the hole must NOT match)
    out[25] = [
        geom_core.regular_polygon(40.0, 20.0, 6.0, 6, phase=0.5),
        np.asarray([38.0, 18.0, 42.0, 18.0, 42.0, 22.0, 38.0, 22.0]),
    ]
    # 26: MultiPolygon — two disjoint triangles joined as one geometry
    out[26] = [
        np.asarray([-60.0, -40.0, -52.0, -40.0, -56.0, -33.0]),
        np.asarray([-60.0, -20.0, -52.0, -20.0, -56.0, -13.0]),
    ]
    return out


def q54_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship point-in-POLYGON-set join (non-rect geometry): single-tier
    broadcast cover + interior/boundary split + codegen raycast refine
    (`join/spatial.py`).  Oracle: brute-force crossJoin with the SAME flat
    ray-cast formula evaluated by DuckDB — bit-identical IEEE doubles, so
    the match is exact, the indexed-vs-independent-formulation pattern of
    `GeoWaveSparkSpatialJoinIT.java:160-172` (/root/reference)."""
    register_views(spark, sf_dir)
    pts = spark.sql(geo.lineitem_points_sql())
    return spatial.point_in_polygon_join(
        spark, pts, _flagship_polys(), data_res=10
    ).orderBy("pid", "poly_id")


def _poly_values_sql() -> tuple[str, str]:
    """(VALUES rows, column list) for the flagship geometry set as padded
    EDGE columns — shared by the q54/q55 oracles; `geom.pack_polygons`
    produces the identical padding the engine broadcasts."""
    from .geom import core as geom_core

    polys = _flagship_polys()
    ids, eax, eay, ebx, eby = geom_core.pack_polygons(polys)
    max_ne = eax.shape[1]
    rows = []
    for r, pid_ in enumerate(ids):
        vals = ", ".join(
            f"{eax[r, i]!r}, {eay[r, i]!r}, {ebx[r, i]!r}, {eby[r, i]!r}"
            for i in range(max_ne)
        )
        rows.append(f"({int(pid_)}, {vals})")
    cols = ", ".join(
        f"eax{i}, eay{i}, ebx{i}, eby{i}" for i in range(max_ne)
    )
    return ", ".join(rows), cols


def _q54_sql() -> str:
    from .geom import core as geom_core

    polys = _flagship_polys()
    max_ne = max(len(geom_core.rings_edges(v)[0]) for v in polys.values())
    rows, cols = _poly_values_sql()
    raycast = spatial.raycast_edges_sql("p.lon", "p.lat", max_ne)
    return f"""
WITH p AS ({geo.lineitem_points_sql()}),
poly (poly_id, {cols}) AS (VALUES {rows})
SELECT p.pid, cast(poly.poly_id as bigint) AS poly_id
FROM p JOIN poly ON {raycast}
ORDER BY pid, poly_id
"""


def q55_image_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule input shape verbatim: the flagship polygon join run
    over the IMAGE table's geo footprints (centroid of each image's bbox),
    keyed by image_id.  Engine path identical to q54; oracle recomputes the
    centroids and the flat ray-cast in DuckDB from the shared
    `images_base_sql` fragment."""
    from .table import images as images_mod

    register_views(spark, sf_dir)
    pts = spark.sql(images_mod.images_base_sql()).selectExpr(
        "image_id AS pid",
        "(lon0 + lon1) / 2 AS lon",
        "(lat0 + lat1) / 2 AS lat",
    )
    return spatial.point_in_polygon_join(
        spark, pts, _flagship_polys(), data_res=10
    ).orderBy("pid", "poly_id")


def _q55_sql() -> str:
    from .geom import core as geom_core
    from .table import images as images_mod

    polys = _flagship_polys()
    max_ne = max(len(geom_core.rings_edges(v)[0]) for v in polys.values())
    rows, cols = _poly_values_sql()
    raycast = spatial.raycast_edges_sql("p.lon", "p.lat", max_ne)
    return f"""
WITH base AS ({images_mod.images_base_sql()}),
p AS (SELECT image_id AS pid, (lon0 + lon1) / 2 AS lon, (lat0 + lat1) / 2 AS lat FROM base),
poly (poly_id, {cols}) AS (VALUES {rows})
SELECT p.pid, cast(poly.poly_id as bigint) AS poly_id
FROM p JOIN poly ON {raycast}
ORDER BY pid, poly_id
"""




def _hex_a_sql() -> str:
    return geo.hex_a_sql()


def q58_polygon_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed polygon x polygon intersects join: 500 image-footprint
    hexagons (a DataFrame side, covered distributed) x the 27 flagship
    geometries (holes + MultiPolygon included).  Engine: cell cover
    equi-join + dedup + the shared `poly_intersect_pred_sql` refine inside
    a broadcast join (zero Python).  Oracle: brute-force cross join on the
    IDENTICAL predicate SQL — bit-exact parity
    (`GeoWaveSparkSpatialJoinIT.java:98-176` semantics)."""
    register_views(spark, sf_dir)
    a_df = spark.sql(_hex_a_sql())
    return spatial.polygon_polygon_join(
        spark, a_df, _flagship_polys(), aid_col="aid", ka=6, res=6
    ).orderBy("aid", "bid")


def _q58_sql() -> str:
    from .geom import core as geom_core

    polys = _flagship_polys()
    ne_b = max(len(geom_core.rings_edges(v)[0]) for v in polys.values())
    rows, cols = _poly_values_sql()
    pred = spatial.poly_intersect_pred_sql(6, ne_b)
    return f"""
WITH a AS ({_hex_a_sql()}),
poly (bid, {cols}) AS (VALUES {rows})
SELECT a.aid, cast(poly.bid as bigint) AS bid
FROM a JOIN poly ON {pred}
ORDER BY aid, bid
"""


def q56_bigbig_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big spatial join: lineitem points x image-footprint rectangles
    with NEITHER side broadcast or collected — the 100 TB shape where the
    query-region side is itself a large table.  Cover is computed
    distributed (`rect_cover_df`: Arrow UDF + explode), both sides are
    salted, and the join is a ShuffledHashJoin on (cell, salt) — the plan
    is pinned in tests/test_plans.py (no LocalTableScan, no
    BroadcastHashJoin on the candidate join).  Reference:
    `TieredSpatialJoin.java:168-172` hash-partitions both indexed RDDs.
    """
    from .table import images as images_mod

    register_views(spark, sf_dir)
    pts = spark.sql(geo.lineitem_points_sql())
    rects = spark.sql(images_mod.images_base_sql()).selectExpr(
        "image_id AS rid", "lon0", "lat0", "lon1", "lat1"
    )
    pairs = spatial.point_in_rects_join_salted(
        spark, pts, rects, res=7, keep_cols=["qty"]
    )
    return (
        pairs.groupBy("rid")
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.col("qty").cast("bigint")).alias("sum_qty"),
        )
        .orderBy("rid")
    )


def _q56_sql() -> str:
    from .table import images as images_mod

    return f"""
WITH p AS ({geo.lineitem_points_sql()}),
r AS (SELECT image_id AS rid, lon0, lat0, lon1, lat1 FROM ({images_mod.images_base_sql()}) b)
SELECT r.rid, cast(count(*) as bigint) AS n_points,
       cast(sum(cast(p.qty as bigint)) as bigint) AS sum_qty
FROM p JOIN r
  ON p.lon BETWEEN r.lon0 AND r.lon1 AND p.lat BETWEEN r.lat0 AND r.lat1
GROUP BY r.rid ORDER BY r.rid
"""


# --- hot-cell skew stress (VERDICT r2 #5) ---------------------------------
# A Zipf-hot spatial distribution: 30% of all points land inside ONE
# res-7 cell (a dense city against empty ocean), and half the query
# rects stack on the same cell, so the candidate join concentrates ~x00k
# pairs on a single (cell) key.  q302 runs the engine's salted big-big
# join (16-way hot-cell split); q303 is the IDENTICAL join with
# salt_buckets=1 — the unsalted control the skew bench compares against
# (reference analog: statistics-driven split balancing,
# `SplitsProvider.java:284-325`, and the HashKeyIndexStrategy partition
# prefix).  Same oracle for both: the brute-force interval join.

# centers chosen so the full point spread (lon ±0.5, lat ±0.3) stays
# strictly inside ONE res-7 cell (res-7 lon boundaries are multiples of
# 2.8125°): lon cell [8.4375, 11.25), lat cell [43.59375, 45.0) — the
# old 45.15 center straddled the exact lat boundary at 45.0 and split
# the hot mass over two cells
_SKEW_HOT_LON = 10.55
_SKEW_HOT_LAT = 44.3


def _skew_pts_sql() -> str:
    """Lineitem points, 4x amplified with distinct ids, with a 30% hot
    cluster inside one res-7 cell; pure integer arithmetic, identical in
    Spark SQL and DuckDB."""
    hot_lon = f"({_SKEW_HOT_LON!r} + ((((pid % 250000) * 4 + k) * 37) % 1000) / 1e3 - 0.5e0)"
    hot_lat = f"({_SKEW_HOT_LAT!r} + ((((pid % 250000) * 4 + k) * 59) % 600) / 1e3 - 0.3e0)"
    return f"""
SELECT pid * 4 + k AS pid, qty,
       CASE WHEN pid % 10 < 3 THEN {hot_lon} ELSE lon END AS lon,
       CASE WHEN pid % 10 < 3 THEN {hot_lat} ELSE lat END AS lat
FROM ({geo.lineitem_points_sql()}) p
CROSS JOIN (VALUES (0), (1), (2), (3)) amp(k)
"""


def _skew_rects_sql() -> str:
    """Supplier rects: 80% of the first 1000 rids are small windows
    stacked on the hot cell (the count is CAPPED so the hot candidate
    volume scales linearly with the point side across scale factors —
    uncapped, points x rects both grow with sf and the hot cell goes
    quadratic BY INPUT CONSTRUCTION, which is a generator artifact, not
    a join property; the sf1 run hit exactly that); the rest are the
    globe-spread decorrelated rects."""
    hot_cx = f"({_SKEW_HOT_LON!r} + ((s_suppkey * 53) % 100) / 1e2 - 0.5e0)"
    hot_cy = f"({_SKEW_HOT_LAT!r} + ((s_suppkey * 71) % 60) / 1e2 - 0.3e0)"
    hw = "(0.05e0 + (s_suppkey % 20) / 1e2)"
    cold_cx = geo.lon_sql("s_suppkey * 104729 + 31")
    cold_cy = geo.lat_sql("s_suppkey * 7919 + 101")
    cw = "(2e0 + (s_suppkey % 700) / 1e2)"
    ch = "(1e0 + (s_suppkey % 500) / 1e2)"
    return f"""
SELECT s_suppkey AS rid,
  CASE WHEN s_suppkey % 5 <> 0 AND s_suppkey < 1000 THEN {hot_cx} - {hw}
       ELSE greatest({cold_cx} - {cw}, -180e0) END AS lon0,
  CASE WHEN s_suppkey % 5 <> 0 AND s_suppkey < 1000 THEN {hot_cy} - {hw}
       ELSE greatest({cold_cy} - {ch}, -90e0) END AS lat0,
  CASE WHEN s_suppkey % 5 <> 0 AND s_suppkey < 1000 THEN {hot_cx} + {hw}
       ELSE least({cold_cx} + {cw}, 180e0) END AS lon1,
  CASE WHEN s_suppkey % 5 <> 0 AND s_suppkey < 1000 THEN {hot_cy} + {hw}
       ELSE least({cold_cy} + {ch}, 90e0) END AS lat1
FROM supplier
"""


def _skew_join(spark: SparkSession, sf_dir: str,
               salt_buckets: int) -> DataFrame:
    register_views(spark, sf_dir)
    pts = spark.sql(_skew_pts_sql())
    rects = spark.sql(_skew_rects_sql())
    pairs = spatial.point_in_rects_join_salted(
        spark, pts, rects, res=7, salt_buckets=salt_buckets,
        keep_cols=["qty"])
    return (
        pairs.groupBy("rid")
        .agg(F.count("*").alias("n_points"),
             F.sum(F.col("qty").cast("bigint")).alias("sum_qty"))
        .orderBy("rid")
    )


def q302_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-cell big-big join WITH 16-way salting (see module comment)."""
    return _skew_join(spark, sf_dir, salt_buckets=16)


def q303_skew_unsalted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q302 join with salt_buckets=1 — the unsalted straggler
    control; identical output, one reducer owns the whole hot cell."""
    return _skew_join(spark, sf_dir, salt_buckets=1)


def _q302_sql() -> str:
    return f"""
WITH p AS ({_skew_pts_sql()}), r AS ({_skew_rects_sql()})
SELECT r.rid, cast(count(*) as bigint) AS n_points,
       cast(sum(cast(p.qty as bigint)) as bigint) AS sum_qty
FROM p JOIN r
  ON p.lon BETWEEN r.lon0 AND r.lon1 AND p.lat BETWEEN r.lat0 AND r.lat1
GROUP BY r.rid ORDER BY r.rid
"""


def _hex_b_sql() -> str:
    return geo.hex_b_sql()


def q65_polygon_bigbig_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon x polygon with BOTH sides DataFrames (neither collected
    nor broadcast): the q58 hexagons x a second derived hexagon table,
    through `polygon_polygon_join_bigbig` — distributed covers on both
    sides, salted ShuffledHashJoin candidates, id-join refine with the
    shared chunked codegen intersects predicate.  Completes the join
    matrix the broadcast-path docstring defers to (reference:
    `TieredSpatialJoin.java:168-172` hash-partitions both indexed RDDs).
    Oracle: brute-force cross join on the IDENTICAL predicate SQL."""
    register_views(spark, sf_dir)
    a_df = spark.sql(_hex_a_sql())
    b_df = spark.sql(_hex_b_sql())
    pairs = spatial.polygon_polygon_join_bigbig(
        spark, a_df, b_df, ka=6, kb=6, res=6)
    # numeric marker: min over the parsed BIGINT doc id keeps the rollup a
    # HashAggregate (min over the 'img…' string demoted it to SortAggregate)
    return (
        pairs.groupBy("aid")
        .agg(F.count("*").alias("n_b"),
             F.expr("min(cast(substr(bid, 4, 10) as bigint))").alias("min_bdoc"))
        .orderBy("aid")
    )


def _q65_sql() -> str:
    pred = spatial.poly_intersect_pred_sql(6, 6)
    # B's edge columns per the pack_polygons layout: edge i = v[i-1] -> v[i]
    edges = ", ".join(
        f"vx{i} AS eax{i}, vy{i} AS eay{i}, "
        f"vx{(i - 1) % 6} AS ebx{i}, vy{(i - 1) % 6} AS eby{i}"
        for i in range(6)
    )
    return f"""
WITH a AS ({_hex_a_sql()}),
b0 AS ({_hex_b_sql()}),
b AS (SELECT bid, {edges} FROM b0)
SELECT a.aid, cast(count(*) as bigint) AS n_b,
       cast(min(cast(substr(b.bid, 4, 10) as bigint)) as bigint) AS min_bdoc
FROM a JOIN b ON {pred}
GROUP BY a.aid ORDER BY a.aid
"""


def q07_distance_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance join (grid_disk candidates), aggregated per query point."""
    register_views(spark, sf_dir)
    pts = spark.sql(geo.lineitem_points_sql())
    qs = spark.sql(geo.customer_points_sql()).withColumnRenamed("cid", "qid")
    # the footer row count picks the join tier without a job: the customer
    # cover (~35 MB at sf0.1) broadcasts, and at sf10 (~3.5 GB) it
    # sort-merges instead of dying of GC overhead in a broadcast
    n_q = _parquet_num_rows(os.path.join(sf_dir, "customer.parquet"))
    pairs = spatial.within_distance_join(spark, pts, qs, radius=2.0, qid_col="qid",
                                         res=8, query_rows=n_q)
    return (
        pairs.groupBy("qid")
        .agg(
            F.count("*").alias("n_within"),
            F.min(F.expr("cast(floor(dist * 1000000) as bigint)")).alias("min_dist_micro"),
        )
        .orderBy("qid")
    )


Q07_SQL = f"""
WITH p AS ({geo.lineitem_points_sql()}),
     q AS (SELECT cid AS qid, lon AS qlon, lat AS qlat FROM ({geo.customer_points_sql()}) c)
SELECT qid, cast(count(*) as bigint) AS n_within,
       min({DIST_MICRO}) AS min_dist_micro
FROM p JOIN q
  ON sqrt((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)) <= 2.0
GROUP BY qid ORDER BY qid
"""


def q57_geodesic_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic (haversine km) within-distance join: 'all points within
    800 km of each sampled customer' — the meter-radius query the planar
    operators cannot express (reference metric:
    `OrthodromicDistancePartitioner.java`).  Engine: latitude-aware
    geodesic disk candidates + exact haversine refine in pure JVM SQL;
    oracle: brute-force haversine join on the identical formula."""
    register_views(spark, sf_dir)
    pts = spark.sql(geo.lineitem_points_sql())
    qs = (
        spark.sql(geo.customer_points_sql())
        .filter(F.col("cid") % 15 == 0)
        .withColumnRenamed("cid", "qid")
    )
    pairs = spatial.within_distance_join_geodesic(
        spark, pts, qs, radius_km=800.0, qid_col="qid", res=7
    )
    return (
        pairs.groupBy("qid")
        .agg(
            F.count("*").alias("n_within"),
            F.min(F.expr("cast(floor(dist_km * 1000) as bigint)")).alias("min_dist_m"),
        )
        .orderBy("qid")
    )


def _q57_sql() -> str:
    hav = spatial.haversine_km_sql("lon", "lat", "qlon", "qlat")
    return f"""
WITH p AS ({geo.lineitem_points_sql()}),
     q AS (SELECT cid AS qid, lon AS qlon, lat AS qlat
           FROM ({geo.customer_points_sql()}) c WHERE cid % 15 = 0)
SELECT qid, cast(count(*) as bigint) AS n_within,
       min(cast(floor({hav} * 1000) as bigint)) AS min_dist_m
FROM p JOIN q ON {hav} <= 800.0
GROUP BY qid ORDER BY qid
"""


def q08_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join: 5 nearest lineitem points per sampled customer point.

    The cell resolution SCALES with point density (one extra level per
    4x rows past the sf0.1 size) — exact kNN output is res-invariant
    (the ring-expansion guard proves completeness at any res), but a
    FIXED res lets points-per-cell grow linearly with the corpus and
    the candidate join goes quadratic: the sf3 scale run measured 62x
    wall at 30x data on res=6 (4,400 points/cell); adaptive res keeps
    ~150/cell and the ratio linear.  Row count comes from the parquet
    footer via pyarrow (a `df.count()` here would run a real scan job,
    breaking the audit invariant that queries() builds plans without
    executing actions)."""
    register_views(spark, sf_dir)
    import math

    n_raw = _parquet_num_rows(os.path.join(sf_dir, "lineitem.parquet"))
    res_knn = 6 + max(0, math.ceil(math.log(max(n_raw / 600_000, 1.0), 4)))
    pts = spark.sql(geo.lineitem_points_sql())
    qs = (
        spark.sql(geo.customer_points_sql())
        .filter(F.col("cid") % 15 == 0)
        .withColumnRenamed("cid", "qid")
    )
    res = knn_mod.knn_join(spark, pts, qs, k=5, qid_col="qid", res=res_knn)
    return res.select(
        "qid", "pid",
        F.expr("cast(floor(dist * 1000000) as bigint)").alias("dist_micro"),
        "rank",
    ).orderBy("qid", "rank")


Q08_SQL = f"""
WITH p AS ({geo.lineitem_points_sql()}),
     q AS (SELECT cid AS qid, lon AS qlon, lat AS qlat FROM ({geo.customer_points_sql()}) c WHERE cid % 15 = 0)
SELECT qid, pid, cast(floor(dist * 1000000) as bigint) AS dist_micro, rank FROM (
  SELECT q.qid, p.pid,
         sqrt((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)) AS dist,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY sqrt((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)) ASC, p.pid ASC
         ) AS rank
  FROM p CROSS JOIN q
) t WHERE rank <= 5
ORDER BY qid, rank
"""


def q60_knn_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic kNN: 5 nearest lineitem points per sampled customer under
    the haversine-km metric (the reference's orthodromic kNN)."""
    register_views(spark, sf_dir)
    pts = spark.sql(geo.lineitem_points_sql())
    qs = (
        spark.sql(geo.customer_points_sql())
        .filter(F.col("cid") % 101 == 0)
        .withColumnRenamed("cid", "qid")
    )
    res = knn_mod.knn_join_geodesic(spark, pts, qs, k=5, qid_col="qid", res=6)
    return res.select(
        "qid", "pid",
        F.expr("cast(floor(dist * 1000) as bigint)").alias("dist_m"),
        "rank",
    ).orderBy("qid", "rank")


def _q60_sql() -> str:
    hav = spatial.haversine_km_sql("lon", "lat", "qlon", "qlat")
    return f"""
WITH p AS ({geo.lineitem_points_sql()}),
     q AS (SELECT cid AS qid, lon AS qlon, lat AS qlat
           FROM ({geo.customer_points_sql()}) c WHERE cid % 101 = 0)
SELECT qid, pid, cast(floor(dist * 1000) as bigint) AS dist_m, rank FROM (
  SELECT q.qid, p.pid, {hav} AS dist,
         row_number() OVER (
           PARTITION BY q.qid ORDER BY {hav} ASC, p.pid ASC
         ) AS rank
  FROM p CROSS JOIN q
) t WHERE rank <= 5
ORDER BY qid, rank
"""


def _q88_body(micros: str) -> str:
    """Shared q88 SQL (Spark and DuckDB differ only in the
    timestamp→microseconds function).  Per-user trajectory rollup:
    one window pass (lag over ts) turns the point stream into geodesic
    segments, then a keyed aggregate — the standard track-statistics
    shape (total distance, longest hop, top speed) of GPX/T-Drive-style
    trajectory data (reference analog: the STANAG 4676 track rollup and
    orthodromic distance `OrthodromicDistancePartitioner.java` in
    /root/reference).

    Scale: the window and the aggregate share the user_id hash partition —
    AQE plans ONE shuffle; segment math is codegen floats.  Distances
    floor to integer meters and speeds to micro-m/s before output, so the
    DuckDB twin hashes identically."""
    hav = spatial.haversine_km_sql("plon", "plat", "lon", "lat")
    return f"""
WITH t AS (
  SELECT user_id, ts, {micros} AS us, event_id,
         {geo.lon_sql('event_id')} AS lon, {geo.lat_sql('event_id')} AS lat
  FROM events
),
seg AS (
  SELECT user_id, us, lon, lat,
         lag(lon) OVER (PARTITION BY user_id ORDER BY us, event_id) AS plon,
         lag(lat) OVER (PARTITION BY user_id ORDER BY us, event_id) AS plat,
         lag(us)  OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
  FROM t
),
d AS (
  SELECT user_id,
         cast(floor({hav} * 1000) as bigint) AS seg_m,
         us - pus AS dt_us
  FROM seg WHERE plon IS NOT NULL
)
SELECT user_id,
       cast(count(*) + 1 as bigint) AS n_points,
       cast(sum(seg_m) as bigint) AS total_dist_m,
       cast(max(seg_m) as bigint) AS max_seg_m,
       cast(max(CASE WHEN dt_us > 0
                     THEN floor((seg_m * 1000000.0) / dt_us) ELSE 0 END) as bigint)
         AS max_speed_mps
FROM d GROUP BY user_id ORDER BY user_id
"""


def q88_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    # ts is TIMESTAMP_NTZ in the parquet; the session TZ is pinned UTC
    # everywhere (tests, bench, the driver gate), so the cast is identity
    return spark.sql(_q88_body("unix_micros(cast(ts as timestamp))"))


q88_trajectory_stats.__doc__ = _q88_body.__doc__


_RESAMPLE_US = 6 * 3600 * 1000000  # 6-hour grid step in microseconds


def _q113_body(d, micros: str) -> str:
    """Trajectory resampling: linearly interpolate each user's position
    onto a fixed 6-hour time grid — the regularization step before
    track analytics (fixed-rate comparison, gap detection, ML feature
    windows).  Reference analog: the track reassembly + per-track rollup
    shape of the GPX/STANAG ingest (`GPXConsumer.java`, `Stanag4676
    IngestPlugin.java:235-470` in /root/reference) which consumes
    irregular fixes; resampling is the canonical next operator over them.

    Scale shape: ONE window pass (lead over ts inside the user_id hash
    partition) turns fixes into segments; each segment emits only the
    grid instants it covers (a bounded explode, like the KDE splat) and
    interpolation is codegen double arithmetic in the exact op order of
    the oracle, floored to integer micro-degrees — no joins at all.
    The 100 TB contract: output volume = grid instants covered, and the
    only shuffle is the window's keyed sort."""
    H = _RESAMPLE_US
    h0 = d.intdiv(f"(us + {H} - 1)", str(H))
    h1 = d.intdiv("(nus - 1)", str(H))
    frac = f"((h * {H} - us) * 1.0 / (nus - us))"
    return f"""
WITH t AS (
  SELECT user_id, {micros} AS us, event_id,
         {geo.lon_sql('event_id')} AS lon, {geo.lat_sql('event_id')} AS lat
  FROM events
),
seg AS (
  SELECT user_id, us, lon, lat,
         lead(us)  OVER (PARTITION BY user_id ORDER BY us, event_id) AS nus,
         lead(lon) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nlon,
         lead(lat) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nlat
  FROM t
),
grid AS (
  SELECT user_id, us, lon, lat, nus, nlon, nlat,
         {d.explode(d.seq(h0, h1))} AS h
  FROM seg
  WHERE nus IS NOT NULL AND nus > us AND {h0} <= {h1}
)
SELECT user_id, cast(h as bigint) AS grid_idx,
       cast(floor(1000000.0 * (lon + (nlon - lon) * {frac})) as bigint)
         AS lon_micro,
       cast(floor(1000000.0 * (lat + (nlat - lat) * {frac})) as bigint)
         AS lat_micro
FROM grid ORDER BY user_id, grid_idx
"""


def q113_trajectory_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions import sqlgen as G

    register_views(spark, sf_dir)
    return spark.sql(
        _q113_body(G.SPARK, "unix_micros(cast(ts as timestamp))")
    )


def _q113_duck_sql() -> str:
    from .functions import sqlgen as G

    return _q113_body(G.DUCK, "epoch_us(ts)")


q113_trajectory_resample.__doc__ = _q113_body.__doc__


_TREND_SIZE_US = 6 * 3600 * 1000000   # 6-hour windows
_TREND_SLIDE_US = 2 * 3600 * 1000000  # sliding by 2 hours
_TREND_RES = 2                        # 4x4 grid -> meaningful per-cell counts


def q117_trending_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending hot cells over sliding time windows: per 6-hour window
    (sliding every 2 hours), the top-3 grid cells by event count plus the
    count delta against the same cell one slide earlier — the continuous
    monitoring twin of the binned aggregation q09 (reference analog:
    `SpatialSimpleFeatureBinningStrategy.java` bins + the temporal bins of
    `TemporalBinningStrategy.java`; the reference has no windowing at all,
    SURVEY §2.9).

    Spark-first shape: the SLIDING window explode is Spark's native
    `window(ts, size, slide)` generator — the exact operator Structured
    Streaming runs incrementally with watermark state, so this batch query
    is streaming-portable as-is.  One keyed aggregate on (window, cell),
    the trend delta is a self-join one slide back (broadcastable: the
    aggregate is windows x cells, collapsed from the event stream), and
    the top-k is a row_number inside the window-start hash partition.
    The DuckDB oracle derives window membership independently via integer
    k-range arithmetic (epoch-aligned, the same instants Spark emits)."""
    register_views(spark, sf_dir)
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _TREND_RES)
    agg = spark.sql(f"""
        SELECT unix_micros(w.start) AS ws, cell, count(*) AS n
        FROM (
          SELECT window(cast(ts as timestamp), '6 hours', '2 hours') AS w,
                 {cell} AS cell
          FROM events
        ) t GROUP BY 1, 2
    """)
    agg.createOrReplaceTempView("_trend_agg")
    return spark.sql(f"""
        SELECT ws, cell, n, delta, rnk FROM (
          SELECT a.ws, a.cell, cast(a.n as bigint) AS n,
                 cast(a.n - coalesce(p.n, 0) as bigint) AS delta,
                 cast(row_number() OVER (
                   PARTITION BY a.ws ORDER BY a.n DESC, a.cell) as bigint)
                   AS rnk
          FROM _trend_agg a
          LEFT JOIN _trend_agg p
            ON p.cell = a.cell AND p.ws = a.ws - {_TREND_SLIDE_US}
        ) r WHERE rnk <= 3 ORDER BY ws, rnk
    """)


def _q117_duck_sql() -> str:
    sz, sl = _TREND_SIZE_US, _TREND_SLIDE_US
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _TREND_RES)
    return f"""
WITH e AS (
  SELECT epoch_us(ts) AS us, {cell} AS cell FROM events
),
inst AS (
  SELECT cell, k * {sl} AS ws
  FROM e, LATERAL (
    SELECT unnest(generate_series((us - {sz}) // {sl} + 1, us // {sl})) AS k
  ) ks
),
agg AS (SELECT ws, cell, count(*) AS n FROM inst GROUP BY ws, cell)
SELECT ws, cell, n, delta, rnk FROM (
  SELECT a.ws, a.cell, cast(a.n as bigint) AS n,
         cast(a.n - coalesce(p.n, 0) as bigint) AS delta,
         cast(row_number() OVER (
           PARTITION BY a.ws ORDER BY a.n DESC, a.cell) as bigint) AS rnk
  FROM agg a
  LEFT JOIN agg p ON p.cell = a.cell AND p.ws = a.ws - {sl}
) r WHERE rnk <= 3 ORDER BY ws, rnk
"""


def _q89_body(d) -> str:
    """Inverse-distance-weighted (IDW) spatial interpolation onto the
    res-6 grid — the standard scattered-points→surface operator (sensor
    readings → continuous field; the smooth sibling of the KDE heatmap
    q24; reference analog: the KDE raster pipeline
    `analytics/mapreduce/.../kde/KDEJobRunner.java` in /root/reference).

    Scale shape: ZERO joins — every event fans out to its 9 neighboring
    grid cells (a bounded explode, exactly the KDE splat pattern), the
    radius cutoff filters in codegen, and one keyed hash aggregate sums
    integer-floored weight terms.  Per-term flooring makes both sums
    order-independent int64s, so the DuckDB twin is bit-exact (a float
    IDW would hash-diverge on summation order).
    """
    n = 64
    x, y = geo.grid_xy_sql("lon", "lat", n)
    off = d.explode(d.seq("-1", "1"))
    off2 = d.explode(d.seq("-1", "1"))
    cx = f"((tx + 0.5e0) * 360e0 / {n} - 180e0)"
    cy = f"((ty + 0.5e0) * 180e0 / {n} - 90e0)"
    d2 = f"((lon - {cx}) * (lon - {cx}) + (lat - {cy}) * (lat - {cy}))"
    return f"""
WITH e AS (
  SELECT event_id AS eid, value,
         {geo.lon_sql('event_id')} AS lon, {geo.lat_sql('event_id')} AS lat,
         {x} AS x, {y} AS y
  FROM events
),
c1 AS (SELECT eid, value, lon, lat, x, y, {off} AS gx FROM e),
cand AS (
  SELECT eid, value, lon, lat, x + gx AS tx, y + gy AS ty
  FROM (SELECT eid, value, lon, lat, x, y, gx, {off2} AS gy FROM c1)
  WHERE x + gx BETWEEN 0 AND {n - 1} AND y + gy BETWEEN 0 AND {n - 1}
),
terms AS (
  SELECT ty * {n} + tx AS cell,
         cast(floor(1000000e0 * value / ({d2} + 1e-2)) as bigint) AS wnum,
         cast(floor(1000000e0 / ({d2} + 1e-2)) as bigint) AS wden
  FROM cand WHERE {d2} <= 9e0
)
SELECT cell, cast(count(*) as bigint) AS n_pts,
       cast({d.intdiv('(1000 * sum(wnum))', 'sum(wden)')} as bigint)
         AS idw_milli
FROM terms GROUP BY cell HAVING sum(wden) > 0 ORDER BY cell
"""


def q89_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    from .functions import sqlgen as G

    return spark.sql(_q89_body(G.SPARK))


def _q89_duck_sql() -> str:
    from .functions import sqlgen as G

    return _q89_body(G.DUCK)


q89_idw_interpolation.__doc__ = _q89_body.__doc__


def _q90_sql() -> str:
    """Temporal change detection: per-cell activity deltas between two time
    windows in ONE conditional aggregation pass — no self-join of the two
    periods, no second scan (the before/after split is a CASE inside the
    partial aggregate).  The hot-spot/cold-spot report every monitoring
    pipeline runs (reference analog: time-range binned statistics,
    `core/geotime/.../binning/TemporalBinningStrategy.java` in
    /root/reference).  `day(ts)` is dialect-shared; deltas are integers.
    """
    cell = geo.rowmajor_cell_sql("lon", "lat", 6)
    return f"""
WITH e AS (
  SELECT day(ts) AS d, value,
         {geo.lon_sql('event_id')} AS lon, {geo.lat_sql('event_id')} AS lat
  FROM events
),
c AS (
  SELECT {cell} AS cell,
         sum(CASE WHEN d <= 15 THEN 1 ELSE 0 END) AS n_before,
         sum(CASE WHEN d > 15 THEN 1 ELSE 0 END) AS n_after,
         sum(CASE WHEN d <= 15 THEN cast(round(value * 100) as bigint)
                  ELSE 0 END) AS cents_before,
         sum(CASE WHEN d > 15 THEN cast(round(value * 100) as bigint)
                  ELSE 0 END) AS cents_after
  FROM e GROUP BY 1
)
SELECT cell, cast(n_before as bigint) AS n_before,
       cast(n_after as bigint) AS n_after,
       cast(n_after - n_before as bigint) AS delta_n,
       cast(cents_after - cents_before as bigint) AS delta_cents
FROM c WHERE abs(n_after - n_before) >= 3
ORDER BY delta_n, cell
"""


def q90_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_q90_sql())


q90_change_detection.__doc__ = _q90_sql.__doc__


def _q93_body(d) -> str:
    """Spatial autocorrelation (Moran's I components) over res-6 cell
    counts — the hot-spot statistic of exploratory spatial analysis
    (reference analog: the binned statistics the reference exposes per
    spatial bin, `SpatialSimpleFeatureBinningStrategy.java`, taken one
    step further to NEIGHBOR covariance).

    Shape: one binned aggregate, then the 8-neighbor link set comes from
    an offset explode + equi-join of the cell table with itself (keys are
    well-spread cell ids; fan-out bounded at 8).  All outputs are raw
    integer sums (milli-deviations) — the final I ratio is left
    unreduced because Spark's `div` truncates toward zero while DuckDB's
    `//` floors, and deviation products go negative.
    """
    n = 64
    x, y = geo.grid_xy_sql("lon", "lat", n)
    off = d.explode(d.seq("-1", "1"))
    off2 = d.explode(d.seq("-1", "1"))
    return f"""
WITH e AS (
  SELECT {x} AS x, {y} AS y
  FROM (SELECT {geo.lon_sql('event_id')} AS lon,
               {geo.lat_sql('event_id')} AS lat FROM events) p
),
cells AS (SELECT x, y, cast(count(*) as bigint) AS cnt FROM e GROUP BY x, y),
mu AS (
  SELECT cast(count(*) as bigint) AS n_cells,
         cast({d.intdiv('(1000 * sum(cnt))', 'count(*)')} as bigint) AS mu_milli
  FROM cells
),
dev AS (SELECT x, y, 1000 * cnt - mu_milli AS dv
        FROM cells CROSS JOIN mu),
links AS (
  SELECT a.dv AS da, b.dv AS db
  FROM (
    SELECT x, y, dv, x + gx AS nx, y + gy AS ny, gx, gy
    FROM (SELECT x, y, dv, gx, {off2} AS gy
          FROM (SELECT x, y, dv, {off} AS gx FROM dev))
    WHERE NOT (gx = 0 AND gy = 0)
  ) a
  JOIN dev b ON b.x = a.nx AND b.y = a.ny
)
SELECT (SELECT n_cells FROM mu) AS n_cells,
       cast(count(*) as bigint) AS w_links,
       cast(sum(da * db) as bigint) AS i_num_milli2,
       (SELECT cast(sum(dv * dv) as bigint) FROM dev) AS i_den_milli2
FROM links
"""


def q93_spatial_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    from .functions import sqlgen as G

    return spark.sql(_q93_body(G.SPARK))


q93_spatial_autocorrelation.__doc__ = _q93_body.__doc__


def _q93_duck_sql() -> str:
    from .functions import sqlgen as G

    return _q93_body(G.DUCK)


def _q100_body(d) -> str:
    """Getis-Ord Gi* hot-spot components over res-6 cell counts — the
    companion statistic to q93's Moran's I (global autocorrelation tells
    you THAT clustering exists; Gi* tells you WHERE).  Per occupied cell:
    the 3x3 local sum (self + up to 8 occupied neighbors), the local
    weight count, and the raw Gi* numerator 1000*local_sum -
    mu_milli*n_nb, unreduced for the same Spark-div-vs-DuckDB-floor
    reason as q93.  Empty cells contribute 0 and are not counted in n_nb
    (occupied-cell neighborhood semantics, documented).

    Shape: one binned aggregate, an 8+1-offset explode + self equi-join
    (fan-out bounded at 9), one keyed re-aggregate — two shuffles total,
    both on well-spread cell keys.  Top 25 by numerator with (x, y)
    tiebreak keeps the LIMIT deterministic in both engines."""
    n = 64
    x, y = geo.grid_xy_sql("lon", "lat", n)
    off = d.explode(d.seq("-1", "1"))
    off2 = d.explode(d.seq("-1", "1"))
    return f"""
WITH e AS (
  SELECT {x} AS x, {y} AS y
  FROM (SELECT {geo.lon_sql('event_id')} AS lon,
               {geo.lat_sql('event_id')} AS lat FROM events) p
),
cells AS (SELECT x, y, cast(count(*) as bigint) AS cnt FROM e GROUP BY x, y),
mu AS (
  SELECT cast({d.intdiv('(1000 * sum(cnt))', 'count(*)')} as bigint) AS mu_milli
  FROM cells
),
nb AS (
  SELECT a.x, a.y, b.cnt
  FROM (
    SELECT x, y, x + gx AS nx, y + gy AS ny
    FROM (SELECT x, y, gx, {off2} AS gy
          FROM (SELECT x, y, {off} AS gx FROM cells))
  ) a
  JOIN cells b ON b.x = a.nx AND b.y = a.ny
),
loc AS (
  SELECT x, y, cast(count(*) as bigint) AS n_nb,
         cast(sum(cnt) as bigint) AS local_sum
  FROM nb GROUP BY x, y
)
SELECT cast(x as bigint) AS x, cast(y as bigint) AS y, n_nb, local_sum,
       cast(1000 * local_sum - (SELECT mu_milli FROM mu) * n_nb as bigint)
         AS gi_num_milli
FROM loc
ORDER BY gi_num_milli DESC, x, y
LIMIT 25
"""


def q100_hotspots_gi(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    from .functions import sqlgen as G

    return spark.sql(_q100_body(G.SPARK))


q100_hotspots_gi.__doc__ = _q100_body.__doc__


def _q100_duck_sql() -> str:
    from .functions import sqlgen as G

    return _q100_body(G.DUCK)


def _q102_body() -> str:
    """Emerging hot-spot analysis (space-time cube): per grid cell, the
    Mann-Kendall trend statistic S = sum over period pairs t1<t2 of
    sign(cnt_t2 - cnt_t1) — ESRI's EmergingHotSpotAnalysis on top of the
    binning the reference exposes
    (`SpatialSimpleFeatureBinningStrategy.java` +
    `TemporalBinningStrategy.java` in /root/reference, composed).

    Shape: ONE (cell, month) aggregate collapses the event stream (the
    100 TB reduction step), then a per-cell self-join whose fan-out is
    bounded by C(months, 2) — months is a constant (12 here), so the
    pair stage is O(cells), not O(events).  Sign via CASE (portable
    integers; Spark's sign() returns DOUBLE).  Observed-period semantics:
    periods with zero events in a cell are absent, not zero (documented).
    The driver testdata spans one month, so periods are DAYS on a 16x16
    grid (a real deployment would pass months on res 6 — the statistic is
    bin-agnostic).  Deterministic top-25 by (S desc, x, y)."""
    n = 16
    x, y = geo.grid_xy_sql("lon", "lat", n)
    return f"""
WITH e AS (
  SELECT {x} AS x, {y} AS y,
         cast(year(ts) * 10000 + month(ts) * 100 + day(ts) as bigint) AS m
  FROM (SELECT ts, {geo.lon_sql('event_id')} AS lon,
               {geo.lat_sql('event_id')} AS lat FROM events) p
),
cm AS (
  SELECT x, y, m, cast(count(*) as bigint) AS cnt
  FROM e GROUP BY x, y, m
),
pairs AS (
  SELECT a.x, a.y,
         CASE WHEN b.cnt > a.cnt THEN 1
              WHEN b.cnt < a.cnt THEN -1 ELSE 0 END AS sgn
  FROM cm a JOIN cm b ON b.x = a.x AND b.y = a.y AND b.m > a.m
),
per AS (
  SELECT x, y, cast(count(DISTINCT m) as bigint) AS n_periods
  FROM cm GROUP BY x, y
),
s AS (
  SELECT x, y, cast(sum(sgn) as bigint) AS s_stat
  FROM pairs GROUP BY x, y
)
SELECT cast(s.x as bigint) AS x, cast(s.y as bigint) AS y,
       per.n_periods, s.s_stat
FROM s JOIN per ON per.x = s.x AND per.y = s.y
ORDER BY s_stat DESC, x, y
LIMIT 25
"""


def q102_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_q102_body())


q102_emerging_hotspots.__doc__ = _q102_body.__doc__


def _q94_sql() -> str:
    """Coverage-gap analysis: grid cells inside a study region with ZERO
    events — the data-completeness audit of any collection pipeline
    (which tiles have no imagery? which areas lack sensor readings?).
    The full region grid comes from two bounded sequence explodes (no
    table), occupied cells from one binned aggregate, and the gaps from a
    broadcastable anti-join (LEFT JOIN ... IS NULL keeps the one-text
    oracle).  Dialect-shared SQL."""
    n = 64
    cell = geo.rowmajor_cell_sql("lon", "lat", 6)
    # study region: lon [-30, 60), lat [0, 45) -> x 26..42, y 32..47
    return f"""
WITH occupied AS (
  SELECT {cell} AS cell, cast(count(*) as bigint) AS cnt
  FROM (SELECT {geo.lon_sql('event_id')} AS lon,
               {geo.lat_sql('event_id')} AS lat FROM events) p
  GROUP BY 1
),
region AS (
  SELECT ys.g * {n} + xs.g AS cell
  FROM (SELECT 1 AS one) t,
       LATERAL (SELECT unnest(generate_series(26, 42)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(32, 47)) AS g) ys
)
SELECT r.cell
FROM region r LEFT JOIN occupied o ON o.cell = r.cell
WHERE o.cell IS NULL
ORDER BY r.cell
"""


def q94_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    n = 64
    cell = geo.rowmajor_cell_sql("lon", "lat", 6)
    return spark.sql(f"""
WITH occupied AS (
  SELECT {cell} AS cell, cast(count(*) as bigint) AS cnt
  FROM (SELECT {geo.lon_sql('event_id')} AS lon,
               {geo.lat_sql('event_id')} AS lat FROM events) p
  GROUP BY 1
),
region AS (
  SELECT ys * {n} + xs AS cell
  FROM (SELECT xs, explode(sequence(32, 47)) AS ys
        FROM (SELECT explode(sequence(26, 42)) AS xs))
)
SELECT r.cell
FROM region r LEFT JOIN occupied o ON o.cell = r.cell
WHERE o.cell IS NULL
ORDER BY r.cell
""")


q94_coverage_gaps.__doc__ = _q94_sql.__doc__


def _q101_zones_sql() -> str:
    """Overlay zone rectangles (aid, alon0..alat1) — supplier-keyed lattice
    with LCG multipliers distinct from the image footprints' 7919 (the
    aligned-lattice degeneracy of `_q87_zones_sql`'s docstring), unfiltered
    so the overlay has real density."""
    cx = geo.lon_sql("s_suppkey * 6007 + 29")
    cy = geo.lat_sql("s_suppkey * 3001 + 11")
    w = "(2e0 + (s_suppkey % 700) / 1e2)"
    h = "(1e0 + (s_suppkey % 500) / 1e2)"
    return (
        f"SELECT s_suppkey AS aid, "
        f"greatest({cx} - {w}, -180e0) AS lon0, "
        f"greatest({cy} - {h}, -90e0) AS lat0, "
        f"least({cx} + {w}, 180e0) AS lon1, "
        f"least({cy} + {h}, 90e0) AS lat1 "
        f"FROM supplier"
    )


def q101_rect_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector overlay join: intersection AREA of every (zone, image
    footprint) pair — see `join.spatial.rect_overlay_join` for the
    shuffle-free SW-corner dedup and the distributed cover."""
    from .table import images as images_mod

    register_views(spark, sf_dir)
    zones = spark.sql(_q101_zones_sql())
    fps = spark.sql(
        f"SELECT doc_id AS bid, lon0, lat0, lon1, lat1 "
        f"FROM ({images_mod.images_base_sql()})")
    return spatial.rect_overlay_join(
        spark, fps, zones, res=7, aid_col="bid", bid_col="aid",
    ).select("aid", "bid", "area_micro").orderBy("aid", "bid")


def _q101_sql() -> str:
    from .table import images as images_mod

    area = ("cast(floor(1000000.0 * (least(a.lon1, b.lon1) - greatest(a.lon0, b.lon0))"
            " * (least(a.lat1, b.lat1) - greatest(a.lat0, b.lat0))) as bigint)")
    return f"""
WITH a AS ({_q101_zones_sql()}), b AS ({images_mod.images_base_sql()})
SELECT a.aid, b.doc_id AS bid, {area} AS area_micro
FROM a JOIN b
  ON a.lon0 < b.lon1 AND b.lon0 < a.lon1
 AND a.lat0 < b.lat1 AND b.lat0 < a.lat1
ORDER BY aid, bid
"""


def _q97_body(json_k: str) -> str:
    """Semi-structured (JSON) property extraction + rollup: parse the
    events `props` JSON column, bucket the extracted numeric field, and
    aggregate per (event_type, bucket) — the schema-on-read path every
    telemetry/feature table needs (the reference stores free-form
    SimpleFeature attributes; Spark-first this is `get_json_object`
    inside whole-stage codegen, no UDF, with the parse + filter pushed
    into the same scan stage).  Only the JSON accessor differs by
    dialect (`get_json_object` vs `json_extract_string`)."""
    return f"""
WITH e AS (
  SELECT event_type, cast({json_k} as bigint) AS k,
         cast(round(value * 100) as bigint) AS cents
  FROM events
)
SELECT event_type, cast({{bkt}} as bigint) AS k_bucket,
       cast(count(*) as bigint) AS n,
       cast(sum(cents) as bigint) AS sum_cents,
       cast(min(k) as bigint) AS min_k, cast(max(k) as bigint) AS max_k
FROM e WHERE k IS NOT NULL AND k >= 10
GROUP BY event_type, {{bkt}}
ORDER BY event_type, k_bucket
""".replace("{bkt}", "(k - k % 20)")


def q97_json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_q97_body("get_json_object(props, '$.k')"))


q97_json_props_rollup.__doc__ = _q97_body.__doc__


def q09_binned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned aggregation: group events by grid cell (reference:
    `BinningAggregation.java` + `SpatialSimpleFeatureBinningStrategy.java`).

    Uses the row-major curve so the oracle can compute the identical cell id
    in closed form; count + integer-cent sum per cell.
    """
    register_views(spark, sf_dir)
    ev = spark.sql(geo.events_points_sql())
    cell = geo.rowmajor_cell_sql("lon", "lat", 7)
    return (
        ev.withColumn("cell", F.expr(cell))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("sum_value_cents"),
        )
        .orderBy("cell")
    )


Q09_SQL = f"""
WITH e AS ({geo.events_points_sql()})
SELECT {geo.rowmajor_cell_sql('lon', 'lat', 7)} AS cell,
       cast(count(*) as bigint) AS n_events,
       cast(sum(cast(round(value * 100) as bigint)) as bigint) AS sum_value_cents
FROM e GROUP BY 1 ORDER BY cell
"""


def q10_bbox_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box aggregation per nation (reference:
    `BoundingBoxAggregation.java` — envelope union as 4 scalar aggs)."""
    register_views(spark, sf_dir)
    return spark.sql(f"""
        WITH c AS ({geo.customer_points_sql()})
        SELECT cu.c_nationkey AS nationkey,
               min(cast(floor(c.lon * 1000000) as bigint)) AS min_lon_micro,
               max(cast(floor(c.lon * 1000000) as bigint)) AS max_lon_micro,
               min(cast(floor(c.lat * 1000000) as bigint)) AS min_lat_micro,
               max(cast(floor(c.lat * 1000000) as bigint)) AS max_lat_micro,
               cast(count(*) as bigint) AS n
        FROM c JOIN customer cu ON c.cid = cu.c_custkey
        GROUP BY cu.c_nationkey ORDER BY nationkey
    """)


Q10_SQL = f"""
WITH c AS ({geo.customer_points_sql()})
SELECT cu.c_nationkey AS nationkey,
       min(cast(floor(c.lon * 1000000) as bigint)) AS min_lon_micro,
       max(cast(floor(c.lon * 1000000) as bigint)) AS max_lon_micro,
       min(cast(floor(c.lat * 1000000) as bigint)) AS min_lat_micro,
       max(cast(floor(c.lat * 1000000) as bigint)) AS max_lat_micro,
       cast(count(*) as bigint) AS n
FROM c JOIN customer cu ON c.cid = cu.c_custkey
GROUP BY cu.c_nationkey ORDER BY nationkey
"""


def q119_spatiotemporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal composite-index window join — the reference's
    SpatialTemporalQuery (bbox AND time range) answered through ONE hash
    equi-join on the composite (cell, tbin) key
    (`core/geotime/.../index/SpatialTemporalDimensionalityTypeProvider.java`,
    `CompositeBinningStrategy.java`).  Count + value sum per window.

    Oracle: brute-force bbox x BETWEEN join (no cells, no bins).
    """
    register_views(spark, sf_dir)
    pts = spark.sql(
        f"SELECT p.eid, p.lon, p.lat, p.tsec, e.value "
        f"FROM ({geo.events_points_ts_sql(dialect='spark')}) p "
        f"JOIN events e ON e.event_id = p.eid"
    )
    wins = spark.sql(geo.supplier_windows_sql())
    pairs = spatial.spatiotemporal_window_join(
        spark, pts, wins, pid_col="eid", ts="tsec", wid_col="wid",
        res=7, keep_cols=["value"])
    return (
        pairs.groupBy("wid")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("sum_cents"),
        )
        .orderBy("wid")
    )


Q119_SQL = f"""
WITH p AS ({geo.events_points_ts_sql(dialect="duckdb")}),
e AS (SELECT p.eid, p.lon, p.lat, p.tsec, ev.value
      FROM p JOIN events ev ON ev.event_id = p.eid),
w AS ({geo.supplier_windows_sql()})
SELECT w.wid, cast(count(*) as bigint) AS n_events,
       cast(sum(cast(round(value * 100) as bigint)) as bigint) AS sum_cents
FROM e JOIN w
  ON e.lon BETWEEN w.lon0 AND w.lon1 AND e.lat BETWEEN w.lat0 AND w.lat1
 AND e.tsec BETWEEN w.t0 AND w.t1
GROUP BY w.wid ORDER BY w.wid
"""


def q120_map_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching: snap every non-track event point to its nearest track
    segment within 3 deg (`spatial.snap_to_segments` — the NN family of
    `analytics/mapreduce/.../nn/NNMapReduce.java` with a point-to-segment
    distance).  Oracle: brute-force cross join + the identical encoded
    argmin."""
    register_views(spark, sf_dir)
    pts = spark.sql(
        f"SELECT event_id AS eid, {geo.lon_sql('event_id')} AS lon, "
        f"{geo.lat_sql('event_id')} AS lat FROM events WHERE user_id % 20 <> 0"
    )
    segs = spark.sql(geo.track_segments_sql())
    return spatial.snap_to_segments(
        spark, pts, segs, 3.0, pid_col="eid", res=6
    ).orderBy("eid")


def _q120_sql() -> str:
    d2 = spatial.seg_dist2_sql("p.lon", "p.lat", "s.ax", "s.ay", "s.bx", "s.by")
    return f"""
WITH p AS (SELECT event_id AS eid, {geo.lon_sql('event_id')} AS lon,
                  {geo.lat_sql('event_id')} AS lat
           FROM events WHERE user_id % 20 <> 0),
s AS ({geo.track_segments_sql()}),
c AS (SELECT p.eid,
             min(cast(floor(({d2}) * 1000000e0) as bigint) * 68719476736 + s.sid)
               AS enc
      FROM p JOIN s ON {d2} <= 9.0
      GROUP BY p.eid)
SELECT eid, cast(enc % 68719476736 as bigint) AS sid,
       cast(enc // 68719476736 as bigint) AS d2_micro
FROM c ORDER BY eid
"""


def q126_rasterize_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster burn (rasterization): each hexagon footprint burns
    into the res-6 analysis lattice — per cell, how many polygons cover
    its CENTER (the inverse of q104's raster→vector contour extraction;
    the reference renders rasters from vectors only through its KDE path).

    Engine: bounded bbox explode per polygon (pure JVM sequence explode,
    no cover UDF — a convex polygon's cell fan-out is O(area)), exact
    center-in-convex-polygon half-plane refine in codegen, one keyed
    count.  Oracle: full-lattice cross join with the identical inside
    test — no bbox, no cover, independently derived membership.
    """
    register_views(spark, sf_dir)
    res, n = 6, 64
    xs = ", ".join(f"vx{k}" for k in range(6))
    ys = ", ".join(f"vy{k}" for k in range(6))
    x0, y0 = geo.grid_xy_sql(f"least({xs})", f"least({ys})", n)
    x1, y1 = geo.grid_xy_sql(f"greatest({xs})", f"greatest({ys})", n)
    cx, cy = geo.cell_center_sql(res)
    hx = spark.sql(geo.hex_a_sql())
    cov = (
        hx.withColumn("gx", F.expr(f"explode(sequence({x0}, {x1}))"))
        .withColumn("gy", F.expr(f"explode(sequence({y0}, {y1}))"))
        .withColumn("cx", F.expr(cx))
        .withColumn("cy", F.expr(cy))
    )
    # numeric marker (doc id parsed from the image id): min over a BIGINT
    # keeps the aggregate a HashAggregate — min(string) would demote the
    # whole burn to SortAggregate (immutable agg buffer)
    return (
        cov.filter(F.expr(geo.convex_inside_cols_sql(6, "cx", "cy")))
        .groupBy(F.expr(f"cast(gy * {n} + gx as bigint)").alias("cell"))
        .agg(F.count("*").alias("n_polys"),
             F.expr("min(cast(substr(aid, 4, 10) as bigint))").alias("min_doc"))
        .orderBy("cell")
    )


def _q126_sql() -> str:
    cx, cy = geo.cell_center_sql(6)
    inside = geo.convex_inside_cols_sql(6, "c.cx", "c.cy", vx="h.vx", vy="h.vy")
    return f"""
WITH h AS ({geo.hex_a_sql()}),
g AS (SELECT gxs.g AS gx, gys.g AS gy
      FROM (SELECT unnest(generate_series(0, 63)) AS g) gxs,
           (SELECT unnest(generate_series(0, 63)) AS g) gys),
c AS (SELECT gx, gy, {cx} AS cx, {cy} AS cy FROM g),
m AS (SELECT c.gx, c.gy, h.aid FROM c JOIN h ON {inside})
SELECT cast(gy * 64 + gx as bigint) AS cell,
       cast(count(*) as bigint) AS n_polys,
       cast(min(cast(substr(aid, 4, 10) as bigint)) as bigint) AS min_doc
FROM m GROUP BY 1 ORDER BY cell
"""


Q130_SQL = f"""
WITH sp AS (
  SELECT s_suppkey, s_nationkey, lon, lat FROM (
    SELECT s_suppkey, s_nationkey,
           {geo.lon_sql('s_suppkey * 7919 + 13')} AS lon,
           {geo.lat_sql('s_suppkey * 104729 + 7')} AS lat
    FROM supplier) t
  WHERE lon BETWEEN -120 AND 60 AND lat BETWEEN -50 AND 50
)
SELECT n.n_name AS nation,
       cast(count(*) as bigint) AS n_items,
       cast(sum(cast(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                as bigint)) as bigint) AS revenue_cents
FROM lineitem l
JOIN orders o    ON o.o_orderkey = l.l_orderkey
JOIN customer cu ON cu.c_custkey = o.o_custkey
JOIN sp          ON sp.s_suppkey = l.l_suppkey
JOIN nation n    ON n.n_nationkey = sp.s_nationkey
WHERE cu.c_nationkey = sp.s_nationkey
  AND o.o_orderdate >= date '1994-01-01'
GROUP BY n.n_name ORDER BY nation
"""


def q130_local_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped composite with a spatial twist: revenue served by
    suppliers LOCATED INSIDE a bbox to customers of the supplier's own
    nation — a 5-table join where the spatial predicate prunes the
    supplier dimension before it drives three broadcast joins.  One SQL
    text (Catalyst reorders the joins and broadcasts every dimension —
    pinned in tests/test_plans.py); exercises the optimizer breadth the
    reference delegates to GeoServer/SQL engines."""
    register_views(spark, sf_dir)
    return spark.sql(Q130_SQL)


def _q129_queries_sql(sf_dir: str | None = None) -> str:
    """Query side: every 5th customer point with a deterministic ask-time
    staggered over the events span."""
    return (
        f"SELECT cid, lon, lat, cast(1704067200 + (cid % 28) * 86400 "
        f"+ (cid % 24) * 3600 as bigint) AS qsec "
        f"FROM ({geo.customer_points_sql(sf_dir)}) c WHERE cid % 5 = 0"
    )


def q129_spatiotemporal_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded spatiotemporal kNN: 3 nearest events within 6 deg AND
    2 days of each query (point, time) — see
    `spatial.spatiotemporal_knn`.  Oracle: brute-force cross join +
    identical integer-keyed rank."""
    register_views(spark, sf_dir)
    q = spark.sql(_q129_queries_sql())
    pts = spark.sql(
        f"SELECT eid AS pid, lon, lat, tsec "
        f"FROM ({geo.events_points_ts_sql(dialect='spark')}) e")
    return spatial.spatiotemporal_knn(
        spark, pts, q, k=3, radius=6.0, lag_s=172_800,
        qid_col="cid", res=5,
    ).orderBy("cid", "rank")


Q129_SQL = f"""
WITH q AS ({_q129_queries_sql()}),
e AS ({geo.events_points_ts_sql(dialect="duckdb")}),
c AS (
  SELECT q.cid, e.eid,
         cast(floor(((q.lon - e.lon) * (q.lon - e.lon)
                   + (q.lat - e.lat) * (q.lat - e.lat)) * 1e10) as bigint)
           AS d2p
  FROM q JOIN e
    ON (q.lon - e.lon) * (q.lon - e.lon)
     + (q.lat - e.lat) * (q.lat - e.lat) <= 36.0
   AND abs(e.tsec - q.qsec) <= 172800
),
r AS (SELECT cid, eid, d2p,
             row_number() OVER (PARTITION BY cid ORDER BY d2p, eid) AS rank
      FROM c)
SELECT cid, cast(rank as int) AS rank, eid AS pid, d2p
FROM r WHERE rank <= 3 ORDER BY cid, rank
"""


_Q128_RES = 6
_Q128_ROUNDS = 8


def _q128_cells_sql(intdiv: str) -> str:
    """Occupied-cell cost raster + source cell (events binned at res 6;
    cost = 1 + count; source = the cell of the smallest event_id)."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q128_RES)
    del intdiv  # the cell expression is dialect-free (no integer division)
    return (
        f"cells AS (SELECT {cell} AS cell, cast(1 + count(*) as bigint) AS cost "
        f"FROM events GROUP BY 1), "
        f"src AS (SELECT {cell} AS cell FROM events "
        f"ORDER BY event_id LIMIT 1)"
    )


def _q128_round_sql(i: int, intdiv: str) -> str:
    """One relaxation round: d_i(c) = min(d_{i-1}(c), min over 8-neighbors
    b of d_{i-1}(b) + cost(c)), over occupied cells only."""
    n = 1 << _Q128_RES
    return f"""d{i} AS (
  SELECT cell, min(dist) AS dist FROM (
    SELECT cell, dist FROM d{i - 1}
    UNION ALL
    SELECT c.cell, p.dist + c.cost AS dist
    FROM d{i - 1} p
    JOIN o ON 1 = 1
    JOIN cells c
      ON c.cell = (p.cell {intdiv} {n} + o.dy) * {n} + (p.cell % {n} + o.dx)
    WHERE p.cell % {n} + o.dx BETWEEN 0 AND {n - 1}
      AND p.cell {intdiv} {n} + o.dy BETWEEN 0 AND {n - 1}
  ) u GROUP BY cell
)"""


_Q128_OFFSETS = ("o(dx, dy) AS (VALUES (-1,-1), (-1,0), (-1,1), (0,-1), "
                 "(0,1), (1,-1), (1,0), (1,1))")


def q128_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-distance transform (least-cost path cost over a cost raster,
    bounded at 8 hops) — the GRASS/ArcGIS cost-surface staple the
    reference lacks; third iterative graph operator after q64's
    connected components and q118's PageRank.

    The cost raster is the res-6 event-density grid (cost = 1 + count,
    integer-exact); dist(source) = 0 and entering a cell pays its cost.
    Each relaxation round is ONE 8-offset equi-join + keyed min — the
    shape scales as O(occupied cells), never O(lattice^2); eight unrolled
    rounds bound the horizon (documented k-hop contract, same bounded-
    iteration style as q118).  The engine materializes each round
    (persist) so lineage stays flat; the oracle runs the identical
    unrolled chain as one CTE text."""
    register_views(spark, sf_dir)
    rounds = _Q128_ROUNDS
    pre = f"WITH {_q128_cells_sql('div')} "
    cur = spark.sql(
        f"{pre}, d0 AS (SELECT cell, cast(0 as bigint) AS dist FROM src) "
        "SELECT * FROM d0")
    cells = spark.sql(f"{pre} SELECT cell, cost FROM cells").persist()
    cells.createOrReplaceTempView("q128_cells")
    n = 1 << _Q128_RES
    offs = ", ".join(f"({dx}, {dy})"
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                     if (dx, dy) != (0, 0))
    for _ in range(rounds):
        cur.createOrReplaceTempView("q128_d")
        cur = spark.sql(f"""
            SELECT cell, min(dist) AS dist FROM (
              SELECT cell, dist FROM q128_d
              UNION ALL
              SELECT c.cell, p.dist + c.cost AS dist
              FROM q128_d p
              JOIN (VALUES {offs}) AS o(dx, dy) ON 1 = 1
              JOIN q128_cells c
                ON c.cell = (p.cell div {n} + o.dy) * {n} + (p.cell % {n} + o.dx)
              WHERE p.cell % {n} + o.dx BETWEEN 0 AND {n - 1}
                AND p.cell div {n} + o.dy BETWEEN 0 AND {n - 1}
            ) u GROUP BY cell
        """).persist()
        cur.count()   # materialize this round, keep lineage flat
    return cur.orderBy("cell")


def _q128_sql() -> str:
    parts = [_q128_cells_sql("//"), _Q128_OFFSETS,
             "d0 AS (SELECT cell, cast(0 as bigint) AS dist FROM src)"]
    parts += [_q128_round_sql(i, "//") for i in range(1, _Q128_ROUNDS + 1)]
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT cell, dist FROM d{_Q128_ROUNDS} ORDER BY cell")


def _q133_edges_sql(intdiv: str) -> str:
    """Drainage edges over the occupied res-6 density grid: each cell's
    out-edge points to its strictly-lower occupied D8 neighbor (steepest
    descent by count, ties to the smallest code; pits keep no edge).
    Same encoded-argmin trick as q132, +4096 offset bounds any count."""
    n = 1 << _Q128_RES
    return f"""o(dx, dy, code) AS (VALUES (1,0,1), (1,1,2), (0,1,3), (-1,1,4),
                          (-1,0,5), (-1,-1,6), (0,-1,7), (1,-1,8)),
enc AS (
  SELECT c.cell,
         min((b.cost - c.cost + 4096) * 16 + o.code) AS e
  FROM cells c
  JOIN o ON 1 = 1
  JOIN cells b
    ON b.cell = (c.cell {intdiv} {n} + o.dy) * {n} + (c.cell % {n} + o.dx)
  WHERE c.cell % {n} + o.dx BETWEEN 0 AND {n - 1}
    AND c.cell {intdiv} {n} + o.dy BETWEEN 0 AND {n - 1}
  GROUP BY c.cell
),
edges AS (
  SELECT e.cell AS src,
         ((e.cell {intdiv} {n}) + o.dy) * {n} + (e.cell % {n} + o.dx) AS dst
  FROM (SELECT cell, e FROM enc WHERE e {intdiv} 16 - 4096 < 0) e
  JOIN o ON o.code = e.e % 16
)"""


def _q133_round_sql(i: int) -> str:
    return f"""a{i} AS (
  SELECT c.cell, cast(1 + coalesce(t.s, 0) as bigint) AS acc
  FROM cells c
  LEFT JOIN (SELECT e.dst AS cell, sum(a.acc) AS s
             FROM a{i - 1} a JOIN edges e ON e.src = a.cell
             GROUP BY e.dst) t ON t.cell = c.cell
)"""


def q133_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flow accumulation over the density surface's drainage graph
    (hydrology step 2, after q132's per-pixel flow direction): every
    occupied res-6 cell drains to its strictly-lower D8 neighbor, and
    acc(c) after 8 rounds counts the cells whose drainage path reaches c
    within 8 steps (incl. itself) — the bounded-horizon accumulation,
    same contract style as q128.

    Scale shape: the edge set is ONE 8-offset equi-join (each cell has at
    most one out-edge, so |edges| <= |cells|), and each round is one hash
    join + keyed sum + left join — all O(occupied cells), materialized
    per round so lineage stays flat."""
    register_views(spark, sf_dir)
    n = 1 << _Q128_RES
    pre = f"WITH {_q128_cells_sql('div')}, {_q133_edges_sql('div')}"
    spark.sql(f"{pre} SELECT src, dst FROM edges").persist() \
        .createOrReplaceTempView("q133_edges")
    cells = spark.sql(f"{pre} SELECT cell, cost FROM cells").persist()
    cells.createOrReplaceTempView("q133_cells")
    cur = spark.sql(
        "SELECT cell, cast(1 as bigint) AS acc FROM q133_cells")
    del n
    for _ in range(_Q128_ROUNDS):
        cur.createOrReplaceTempView("q133_a")
        cur = spark.sql("""
            SELECT c.cell, cast(1 + coalesce(t.s, 0) as bigint) AS acc
            FROM q133_cells c
            LEFT JOIN (SELECT e.dst AS cell, sum(a.acc) AS s
                       FROM q133_a a JOIN q133_edges e ON e.src = a.cell
                       GROUP BY e.dst) t ON t.cell = c.cell
        """).persist()
        cur.count()
    return cur.orderBy("cell")


def _q133_sql() -> str:
    parts = [_q128_cells_sql("//"), _q133_edges_sql("//"),
             "a0 AS (SELECT cell, cast(1 as bigint) AS acc FROM cells)"]
    parts += [_q133_round_sql(i) for i in range(1, _Q128_ROUNDS + 1)]
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT cell, acc FROM a{_Q128_ROUNDS} ORDER BY cell")


_Q134_DOUBLINGS = 4


def q134_watershed_basins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watershed basin labeling by POINTER DOUBLING over the drainage
    forest (hydrology step 3): every cell follows its q133 out-edge chain
    to its pit, and 4 doubling rounds — p_i(c) = p_{i-1}(p_{i-1}(c)) —
    jump 2^4 = 16 steps, enough to fully converge here since each drainage
    step strictly decreases the cell count (path length <= max density).
    Output: per-basin (pit cell) drained-cell counts.

    Pointer doubling is the third distributed-graph primitive in the
    engine after large-star/small-star contraction (q64) and bounded
    relaxation (q128/q133): O(log diameter) rounds, each ONE self-join on
    the pointer — the classic parallel list-ranking shape, shuffle count
    independent of path length."""
    register_views(spark, sf_dir)
    pre = f"WITH {_q128_cells_sql('div')}, {_q133_edges_sql('div')}"
    spark.sql(
        f"{pre} SELECT c.cell, coalesce(e.dst, c.cell) AS ptr "
        f"FROM cells c LEFT JOIN edges e ON e.src = c.cell"
    ).persist().createOrReplaceTempView("q134_p")
    for _ in range(_Q134_DOUBLINGS):
        nxt = spark.sql(
            "SELECT a.cell, b.ptr FROM q134_p a "
            "JOIN q134_p b ON a.ptr = b.cell").persist()
        nxt.count()
        nxt.createOrReplaceTempView("q134_p")
    return spark.sql(
        "SELECT ptr AS basin, cast(count(*) as bigint) AS n_cells "
        "FROM q134_p GROUP BY 1 ORDER BY basin")


def _q134_sql() -> str:
    parts = [
        _q128_cells_sql("//"), _q133_edges_sql("//"),
        "p0 AS (SELECT c.cell, coalesce(e.dst, c.cell) AS ptr "
        "FROM cells c LEFT JOIN edges e ON e.src = c.cell)",
    ]
    for i in range(1, _Q134_DOUBLINGS + 1):
        parts.append(
            f"p{i} AS (SELECT a.cell, b.ptr FROM p{i - 1} a "
            f"JOIN p{i - 1} b ON a.ptr = b.cell)")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT ptr AS basin, cast(count(*) as bigint) AS n_cells "
              f"FROM p{_Q134_DOUBLINGS} GROUP BY 1 ORDER BY basin")


_Q136_GAP_US = 28_800_000_000  # 8 h — near the median inter-event spacing


def q136_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the per-user event stream (the
    trajectory/visit segmentation every telemetry pipeline needs; the
    reference bins time only into fixed periods —
    `core/geotime/.../binning/TemporalBinningStrategy.java` — and has no
    data-driven session concept).

    Spark-first: the engine runs the NATIVE `session_window(ts, gap)`
    aggregate — one hash shuffle on user_id, sessions merged inside the
    partition, and the same aggregate runs under Structured Streaming with
    a watermark.  The oracle derives
    the same sessions independently via the gap-flag running sum — a
    formulation Spark could also run, but the point is the built-in.

    Session duration = last−first event (session_window.end includes the
    trailing gap, subtracted here); all outputs integer micros."""
    register_views(spark, sf_dir)
    ev = spark.sql("SELECT user_id, cast(ts as timestamp) AS ts FROM events")
    gap_s = _Q136_GAP_US // 1_000_000
    return (
        ev.groupBy("user_id", F.session_window("ts", f"{gap_s} seconds"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.expr("unix_micros(session_window.start)").alias("sess_start_us"),
            F.expr(f"unix_micros(session_window.end) - "
                   f"unix_micros(session_window.start) - {_Q136_GAP_US}")
            .alias("dur_us"),
            "n_events",
        )
        .orderBy("user_id", "sess_start_us")
    )


_Q136_SQL = f"""
WITH t AS (SELECT user_id, epoch_us(ts) AS us FROM events),
f AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w >= {_Q136_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
s AS (
  SELECT user_id, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
)
SELECT user_id,
       cast(min(us) as bigint) AS sess_start_us,
       cast(max(us) - min(us) as bigint) AS dur_us,
       cast(count(*) as bigint) AS n_events
FROM s GROUP BY user_id, sess
ORDER BY user_id, sess_start_us
"""


_Q144_RES = 3            # 64 cells: coarse enough that revisits happen
_Q144_GAP_US = 86_400_000_000  # 24 h


def _q144_sql(epoch_us: str) -> str:
    """Stay-point / dwell-episode detection over the per-user event
    stream: split each user's timeline where the grid CELL changes OR the
    time gap >= 24 h (q136 segments on time only; this is the spatial
    visit op — Li et al. 2008 stay points, grid-quantized so the engines
    agree exactly), keep episodes of >= 2 events.  One window pass + one
    keyed aggregate; ``epoch_us`` is the only dialect split."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q144_RES)
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
f AS (
  SELECT user_id, us, cell,
         CASE WHEN lag(cell) OVER w IS NULL
                   OR lag(cell) OVER w <> cell
                   OR us - lag(us) OVER w >= {_Q144_GAP_US}
              THEN 1 ELSE 0 END AS new_e
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
s AS (
  SELECT user_id, us, cell,
         sum(new_e) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS ep
  FROM f
)
SELECT user_id, cast(min(cell) as bigint) AS cell,
       cast(min(us) as bigint) AS start_us,
       cast(max(us) - min(us) as bigint) AS dur_us,
       cast(count(*) as bigint) AS n_events
FROM s GROUP BY user_id, ep
HAVING count(*) >= 2
ORDER BY user_id, start_us
"""


def q144_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q144_sql`.  Pure window + keyed aggregate — one hash shuffle
    on user_id; at 100 TB the window partitions by user (no global sort)
    and the aggregate is map-side combinable.  Reference analog: none —
    `TemporalBinningStrategy.java` bins fixed periods; stay points are
    data-driven spatial visits."""
    register_views(spark, sf_dir)
    return spark.sql(_q144_sql("unix_micros(cast(ts as timestamp))"))


def _q145_sql(epoch_us: str, intdiv: str) -> str:
    """Origin-destination cell transition matrix (the mobility-model /
    next-location primitive): consecutive same-user events within 24 h
    become a (from_cell -> to_cell) transition; output counts and the
    row-normalized probability in integer micro (n * 1e6 // row_total).
    One window lag per user + one keyed aggregate + one per-origin
    window over the (tiny) matrix — at 100 TB the token stream never
    globally sorts, and the matrix is at most n_cells^2 rows."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q144_RES)
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
e AS (
  SELECT lag(cell) OVER w AS from_cell, cell AS to_cell,
         us - lag(us) OVER w AS dt
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
m AS (
  SELECT from_cell, to_cell, cast(count(*) as bigint) AS n_trans
  FROM e WHERE from_cell IS NOT NULL AND dt < {_Q144_GAP_US}
  GROUP BY 1, 2
)
SELECT cast(from_cell as bigint) AS from_cell,
       cast(to_cell as bigint) AS to_cell, n_trans,
       cast(n_trans * 1000000 {intdiv} sum(n_trans) OVER (PARTITION BY from_cell)
            as bigint) AS p_micro
FROM m ORDER BY from_cell, to_cell
"""


def q145_od_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q145_sql` (Spark spells integer division `div`)."""
    register_views(spark, sf_dir)
    return spark.sql(_q145_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q149_sql(epoch_us: str, intdiv: str) -> str:
    """Heading-reversal trajectory segmentation: consecutive displacement
    vectors v1, v2 of a user's track turn 'sharply' when dot(v1, v2) < 0
    (angle > 90°) — an INTEGER-exact test (micro-degree coords, |dot| <
    2^60), no atan2/trig, so both engines agree bit-for-bit.  Output per
    user: points, reversal count, reversal share in micro — the track-
    smoothness quality gate run before map matching (q120) trusts a
    trajectory.  One window pass (two lags) + one aggregate."""
    lon = f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint)"
    lat = f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint)"
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {lon} AS x, {lat} AS y FROM events
),
v AS (
  SELECT user_id,
         x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy,
         lag(x) OVER w - lag(x, 2) OVER w AS pdx,
         lag(y) OVER w - lag(y, 2) OVER w AS pdy
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
r AS (
  SELECT user_id,
         CASE WHEN pdx IS NOT NULL
                   AND pdx * dx + pdy * dy < 0 THEN 1 ELSE 0 END AS rev,
         CASE WHEN pdx IS NOT NULL THEN 1 ELSE 0 END AS turn
  FROM v
)
SELECT user_id, cast(count(*) as bigint) AS n_points,
       cast(sum(rev) as bigint) AS n_reversals,
       cast(sum(rev) * 1000000 {intdiv} sum(turn) as bigint) AS rev_share_micro
FROM r GROUP BY user_id HAVING sum(turn) > 0
ORDER BY user_id
"""


def q149_heading_reversals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q149_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q149_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q154_sql(intdiv: str, seq) -> str:
    """8-ray line-of-sight (viewshed along the principal directions) over
    the event-density raster: from the observer cell (the densest cell,
    ties to smallest id), walk each of the 8 rays to the grid edge; a
    cell is VISIBLE when its density strictly exceeds every closer cell
    on its ray (the flat-terrain occlusion rule — integer-exact, no
    angle arithmetic).  The observer is the grid-center cell, so all 8
    rays run their full length — each visible set is the ray's
    strictly-increasing running-max subsequence.  One window running-max per ray; rays fan out
    from a 1-row broadcast observer, so the only real shuffle is the
    density aggregate.  Reference analog: none (its raster layer stops
    at merge/resize); GRASS r.viewshed is the classic form."""
    n = 1 << _Q153_RES
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q153_RES)
    dirs = ", ".join(f"({dx}, {dy})" for dx, dy in _Q147_DIRS)
    return f"""
WITH cells AS (
  SELECT {cell} AS cell, cast(count(*) as bigint) AS e
  FROM events GROUP BY 1
),
obs AS (SELECT {n // 2} AS ox, {n // 2} AS oy),
d(dx, dy) AS (VALUES {dirs}),
ray AS (
  SELECT d.dx, d.dy, s.g AS step,
         o.ox + s.g * d.dx AS cx, o.oy + s.g * d.dy AS cy
  FROM obs o CROSS JOIN d
  CROSS JOIN ({seq}) s
),
rv AS (
  SELECT dx, dy, step, cy * {n} + cx AS cell,
         cx, cy
  FROM ray WHERE cx >= 0 AND cx < {n} AND cy >= 0 AND cy < {n}
),
re AS (
  SELECT rv.dx, rv.dy, rv.step, rv.cell, coalesce(c.e, 0) AS e
  FROM rv LEFT JOIN cells c ON c.cell = rv.cell
),
vis AS (
  SELECT dx, dy, step, cell, e,
         coalesce(max(e) OVER (PARTITION BY dx, dy ORDER BY step
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), -1) AS horizon
  FROM re
)
SELECT cast(dx as int) AS dx, cast(dy as int) AS dy,
       cast(step as bigint) AS step, cast(cell as bigint) AS cell,
       e AS density
FROM vis WHERE e > horizon
ORDER BY dx, dy, step
"""


def q154_viewshed_rays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q154_sql`."""
    register_views(spark, sf_dir)
    n = 1 << _Q153_RES
    return spark.sql(_q154_sql(
        "div", f"SELECT explode(sequence(1, {n - 1})) AS g"))


def _q157_sql() -> str:
    """Directional empirical semivariogram over the res-6 density raster
    (the kriging-prep geostatistic; completes the interpolation pair with
    q89's IDW): gamma(dir, h) = sum((z1 - z2)^2) / (2 * pairs) for lags
    h = 1..8 along E and N, computed over OCCUPIED cell pairs.  Integer
    outputs: sum of squared diffs and the pair count (the ratio is the
    reader's division — keeping both sides exact avoids any float
    aggregate).  One self-equi-join per direction batch on the shifted
    cell id — a keyed hash join, no window, no sort."""
    n = 1 << _Q153_RES
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q153_RES)
    return f"""
WITH cells AS (
  SELECT {cell} AS cell, cast(count(*) as bigint) AS z
  FROM events GROUP BY 1
),
lags(dir, dx, dy, h) AS (
  VALUES {", ".join(f"('E', {h}, 0, {h}), ('N', 0, {h}, {h})"
                    for h in range(1, 9))}
),
-- shifted partner must stay on the same row (E) / same column (N)
pairs AS (
  SELECT l.dir, l.h, a.z AS z1, b.z AS z2
  FROM cells a
  CROSS JOIN lags l
  JOIN cells b
    ON b.cell = a.cell + l.dy * {n} + l.dx
  WHERE (l.dir = 'N' OR a.cell % {n} + l.dx < {n})
),
g AS (
  SELECT dir, h, cast(sum((z1 - z2) * (z1 - z2)) as bigint) AS sq_sum,
         cast(count(*) as bigint) AS n_pairs
  FROM pairs GROUP BY dir, h
)
SELECT dir, cast(h as int) AS h, sq_sum, n_pairs
FROM g ORDER BY dir, h
"""


def q157_semivariogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q157_sql` (dialect-free SQL)."""
    register_views(spark, sf_dir)
    return spark.sql(_q157_sql())


def _q158_sql(epoch_us: str, intdiv: str) -> str:
    """Pairwise event-type co-occurrence with lift (the association-rule
    primitive over telemetry baskets): a basket is one (user, day); for
    every type pair, support counts and lift_micro = 1e6 * N * n_ab /
    (n_a * n_b) in trunc-division integers.  Scale shape: one distinct
    (basket, type) projection, a self-equi-join ON BASKET (baskets are
    small — the join fan-out is types-per-basket squared, never rows
    squared), and the type-marginal join is over the tiny type
    vocabulary."""
    day = f"({epoch_us}) {intdiv} 86400000000"
    return f"""
WITH b AS (
  SELECT DISTINCT user_id, {day} AS day, event_type FROM events
),
nb AS (SELECT cast(count(DISTINCT (user_id, day)) as bigint) AS n FROM b),
marg AS (
  SELECT event_type, cast(count(*) as bigint) AS n_t FROM b GROUP BY 1
),
p AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b,
         cast(count(*) as bigint) AS n_ab
  FROM b a JOIN b c
    ON c.user_id = a.user_id AND c.day = a.day
   AND a.event_type < c.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       cast(p.n_ab * nb.n * 1000000 {intdiv} (ma.n_t * mb.n_t) as bigint)
         AS lift_micro
FROM p JOIN marg ma ON ma.event_type = p.type_a
       JOIN marg mb ON mb.event_type = p.type_b
       CROSS JOIN nb
ORDER BY type_a, type_b
"""


def q158_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q158_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q158_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q159_sql(intdiv: str) -> str:
    """Exact per-group lower median (no approximation — the distributed
    exact-quantile op `percentile_approx` users actually want for
    correctness checks): integer cents, deterministic tie order
    (cents, event_id), element at rank (n+1)//2 via one window.  At
    100 TB the window partitions by group; no global sort."""
    return f"""
WITH v AS (
  SELECT event_type, event_id,
         cast(floor(value * 100) as bigint) AS cents
  FROM events
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
)
SELECT event_type, cast(n as bigint) AS n_events,
       cents AS median_cents
FROM r WHERE rn = (n + 1) {intdiv} 2
ORDER BY event_type
"""


def q159_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q159_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q159_sql("div"))


def _q160_sql(epoch_us: str, intdiv: str) -> str:
    """Half-life-decayed visit counts per cell (recency weighting for
    freshness-aware training-data selection / cache scoring): weight =
    1e6 >> (age_days // half_life) — a pure INTEGER exponential decay
    (binary half-life of 4 days), so the aggregate is exact and
    map-side combinable, unlike a float pow() decay.  The corpus 'now'
    is the global max timestamp (one scalar subquery, broadcast)."""
    day = f"86400000000"
    age = f"((mx.us - t.us) {intdiv} {day}) {intdiv} 4"
    return f"""
WITH t AS (
  SELECT {geo.rowmajor_cell_sql(geo.lon_sql("event_id"), geo.lat_sql("event_id"), _Q153_RES)} AS cell,
         {epoch_us} AS us
  FROM events
),
mx AS (SELECT max(us) AS us FROM t),
w AS (
  SELECT t.cell,
         1000000 {intdiv} cast(pow(2, {age}) as bigint) AS wt
  FROM t CROSS JOIN mx
)
SELECT cell, cast(count(*) as bigint) AS n_events,
       cast(sum(wt) as bigint) AS decayed_micro
FROM w GROUP BY cell
ORDER BY cell
"""


def q160_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q160_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q160_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q161_sql(intdiv: str) -> str:
    """Per-cell Poisson anomaly z-scores: lambda = events / occupied
    cells (trunc-division milli-rate), z_milli = floor(1000 * (x -
    lambda) / sqrt(lambda)) — the hot-cell anomaly gate (q100's Gi* uses
    neighborhoods; this is the global-rate screen).  sqrt/floor are the
    only float ops (both engines' libm sqrt agrees on these magnitudes —
    same contract as q45's rms_milli)."""
    return f"""
WITH c AS (
  SELECT {geo.rowmajor_cell_sql(geo.lon_sql("event_id"), geo.lat_sql("event_id"), _Q153_RES)} AS cell,
         cast(count(*) as bigint) AS x
  FROM events GROUP BY 1
),
lam AS (
  SELECT cast(sum(x) * 1000 {intdiv} count(*) as bigint) AS l_milli FROM c
)
SELECT c.cell, c.x,
       cast(floor((c.x * 1000 - l.l_milli) /
                  sqrt(cast(l.l_milli as double))) as bigint)
         AS z_scaled
FROM c CROSS JOIN lam l
ORDER BY cell
"""


def q161_poisson_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q161_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q161_sql("div"))


_Q162_ROUNDS = 4


def _q162_edges_sql(epoch_us: str) -> str:
    """Shared q162 prefix: the q145 OD transition counts plus per-origin
    totals — e(from_cell, to_cell, n_trans, row_tot)."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q144_RES)
    return f"""t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
tr AS (
  SELECT lag(cell) OVER w AS f, cell AS g, us - lag(us) OVER w AS dt
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
m AS (
  SELECT f, g, cast(count(*) as bigint) AS n_trans
  FROM tr WHERE f IS NOT NULL AND dt < {_Q144_GAP_US}
  GROUP BY 1, 2
),
e AS (
  SELECT f AS from_cell, g AS to_cell, n_trans,
         sum(n_trans) OVER (PARTITION BY f) AS row_tot
  FROM m
),
nodes AS (SELECT DISTINCT from_cell AS cell FROM e)"""


def _q162_round_sql(i: int, intdiv: str) -> str:
    """One power-iteration round: pi_i(c) = sum over origins f of
    pi_{i-1}(f) * n(f->c) / row_tot(f), trunc-division inside the sum
    (deterministic mass loss — NOT renormalized, both engines drift
    identically).  Destinations outside `nodes` (sink cells with no
    out-edges) drop their mass, the standard absorbing-leak variant."""
    return f"""p{i} AS MATERIALIZED (
  SELECT e.to_cell AS cell,
         cast(sum((p.pi * e.n_trans) {intdiv} e.row_tot) as bigint) AS pi
  FROM p{i - 1} p JOIN e ON e.from_cell = p.cell
  GROUP BY e.to_cell
)"""


def q162_stationary_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary visit distribution over the OD transition graph (q145's
    matrix driven to its fixed point): 4 bounded power-iteration rounds
    from a uniform micro distribution — the 'where does traffic
    concentrate' primitive (PageRank's teleport-free core; the engine's
    6th distributed-iterative op after q33/q64/q118/q128/q133).

    Scale shape per round: ONE keyed hash join of the (tiny) state
    vector against the edge relation + one keyed sum — all
    O(|edges|), rounds cut with localCheckpoint."""
    register_views(spark, sf_dir)
    pre = f"WITH {_q162_edges_sql('unix_micros(cast(ts as timestamp))')}"
    spark.sql(f"{pre} SELECT from_cell, to_cell, n_trans, row_tot FROM e") \
        .persist().createOrReplaceTempView("q162_e")
    cur = spark.sql(
        f"{pre} SELECT cell, cast(1000000 as bigint) AS pi FROM nodes"
    ).localCheckpoint()
    for _ in range(_Q162_ROUNDS):
        cur.createOrReplaceTempView("q162_p")
        cur = spark.sql("""
            SELECT e.to_cell AS cell,
                   cast(sum((p.pi * e.n_trans) div e.row_tot) as bigint) AS pi
            FROM q162_p p JOIN q162_e e ON e.from_cell = p.cell
            GROUP BY e.to_cell
        """).localCheckpoint()
    return cur.filter("pi > 0").orderBy("cell")


def _q162_sql() -> str:
    parts = [_q162_edges_sql("epoch_us(ts)"),
             "p0 AS MATERIALIZED (SELECT cell, cast(1000000 as bigint) "
             "AS pi FROM nodes)"]
    parts += [_q162_round_sql(i, "//") for i in range(1, _Q162_ROUNDS + 1)]
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT cell, pi FROM p{_Q162_ROUNDS} WHERE pi > 0 "
              f"ORDER BY cell")


def _q163_eu_sql(epoch_us: str) -> str:
    """Canonical oriented OD edge relation eu(u, v) with u < v."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q144_RES)
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
tr AS (
  SELECT lag(cell) OVER w AS f, cell AS g, us - lag(us) OVER w AS dt
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
)
SELECT DISTINCT least(f, g) AS u, greatest(f, g) AS v
FROM tr WHERE f IS NOT NULL AND dt < {_Q144_GAP_US} AND f <> g
"""


def _q163_tail_sql(eu: str, intdiv: str) -> str:
    """Wedge-closure triangle count + clustering over an eu view."""
    return f"""
deg AS (
  SELECT node, cast(count(*) as bigint) AS d
  FROM (SELECT u AS node FROM {eu} UNION ALL SELECT v AS node FROM {eu})
  GROUP BY node
),
wedge AS (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM {eu} a JOIN {eu} b ON b.u = a.v
),
tri AS (
  SELECT w.x, w.y, w.z
  FROM wedge w JOIN {eu} c ON c.u = w.x AND c.v = w.z
),
per_node AS (
  SELECT node, cast(count(*) as bigint) AS n_tri
  FROM (SELECT x AS node FROM tri UNION ALL
        SELECT y AS node FROM tri UNION ALL
        SELECT z AS node FROM tri)
  GROUP BY node
)
SELECT d.node AS cell, d.d AS degree,
       cast(coalesce(p.n_tri, 0) as bigint) AS n_triangles,
       cast(CASE WHEN d.d >= 2
                 THEN coalesce(p.n_tri, 0) * 2000000 {intdiv} (d.d * (d.d - 1))
                 ELSE 0 END as bigint) AS clustering_micro
FROM deg d LEFT JOIN per_node p ON p.node = d.node
ORDER BY cell
"""


def _q163_sql(epoch_us: str, intdiv: str) -> str:
    """Triangle counting + local clustering coefficient over the
    undirected OD mobility graph (q145's transitions, direction
    dropped): the community-structure primitive (triangles are what
    separates real mobility graphs from random ones).  Canonical
    oriented edges (u < v) make each triangle counted exactly once via
    the standard two-join wedge-closure plan: edges(u,v) JOIN edges(v,w)
    gives wedges u<v<w, closed by edges(u,w).  Per-node coefficient =
    1e6 * 2 * tri / (deg * (deg - 1)), trunc division.  Scale shape:
    two keyed equi-joins over the edge relation (the standard
    distributed triangle plan; degree-ordering bounds wedge fan-out).
    This one-text form is the ORACLE; the Spark path materializes eu
    once (CTE inlining would re-run the window 4x)."""
    return (f"WITH eu AS ({_q163_eu_sql(epoch_us)}),\n"
            + _q163_tail_sql("eu", intdiv))


def q163_triangle_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q163_sql`; eu materialized once via `mat_view`."""
    from .table.views import mat_view

    register_views(spark, sf_dir)
    mat_view(spark, "q163_eu",
             _q163_eu_sql("unix_micros(cast(ts as timestamp))"))
    return spark.sql("WITH " + _q163_tail_sql("q163_eu", "div"))


def _q165_sql(intdiv: str) -> str:
    """Exact 10%-trimmed mean per event_type (robust central tendency —
    the outlier-resistant sibling of q159's exact median): drop the
    lowest and highest n//10 values by deterministic (cents, event_id)
    rank, trunc-division mean of the rest.  One window pass + one keyed
    aggregate, no global sort."""
    return f"""
WITH v AS (
  SELECT event_type, event_id,
         cast(floor(value * 100) as bigint) AS cents
  FROM events
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
)
SELECT event_type, cast(count(*) as bigint) AS n_kept,
       cast(sum(cents) {intdiv} count(*) as bigint) AS trimmed_mean_cents
FROM r
WHERE rn > n {intdiv} 10 AND rn <= n - n {intdiv} 10
GROUP BY event_type
ORDER BY event_type
"""


def _q167_sql(intdiv: str) -> str:
    """Exact MAD (median absolute deviation) per event_type — the robust
    dispersion triple-completion after q159's median and q165's trimmed
    mean: med = lower median of cents; MAD = lower median of |x - med|,
    both with deterministic (value, event_id) tie order.  Two window
    passes partitioned by group (the second over the residuals), no
    global sort, no approximation."""
    return f"""
WITH v AS (
  SELECT event_type, event_id,
         cast(floor(value * 100) as bigint) AS cents
  FROM events
),
r1 AS (
  SELECT event_type, event_id, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
med AS (
  SELECT event_type, cents AS med
  FROM r1 WHERE rn = (n + 1) {intdiv} 2
),
d AS (
  SELECT v.event_type, v.event_id, abs(v.cents - m.med) AS dev, m.med
  FROM v JOIN med m ON m.event_type = v.event_type
),
r2 AS (
  SELECT event_type, dev, med,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY dev, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM d
)
SELECT event_type, med AS median_cents, dev AS mad_cents
FROM r2 WHERE rn = (n + 1) {intdiv} 2
ORDER BY event_type
"""


def _q168_sql(epoch_us: str) -> str:
    """Movement rose: 8-sector direction histogram of per-user
    displacements, grouped by origin cell (the flow-visualization
    aggregate of movement analytics).  Sectors use the RATIONAL
    quantization of q138's NMS (5|dy| <= 2|dx| -> E/W band, etc.) — no
    atan2, so both engines bin identically; sector ids 0..7 follow the
    q147 direction order.  One window lag + one keyed count."""
    lon = f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint)"
    lat = f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint)"
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q144_RES)
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {lon} AS x, {lat} AS y,
         {cell} AS cell
  FROM events
),
v AS (
  SELECT lag(cell) OVER w AS from_cell,
         x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy,
         us - lag(us) OVER w AS dt
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
s AS (
  SELECT from_cell,
         CASE
           WHEN 5 * abs(dy) <= 2 * abs(dx) THEN
                CASE WHEN dx > 0 THEN 0 ELSE 4 END
           WHEN 5 * abs(dx) <= 2 * abs(dy) THEN
                CASE WHEN dy > 0 THEN 2 ELSE 6 END
           WHEN dx > 0 AND dy > 0 THEN 1
           WHEN dx < 0 AND dy > 0 THEN 3
           WHEN dx < 0 AND dy < 0 THEN 5
           ELSE 7
         END AS sector
  FROM v
  WHERE from_cell IS NOT NULL AND dt < {_Q144_GAP_US}
    AND (dx <> 0 OR dy <> 0)
)
SELECT cast(from_cell as bigint) AS from_cell, cast(sector as int) AS sector,
       cast(count(*) as bigint) AS n_moves
FROM s GROUP BY 1, 2 ORDER BY from_cell, sector
"""


def q168_movement_rose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q168_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q168_sql("unix_micros(cast(ts as timestamp))"))


_Q169_TBIN_US = 86_400_000_000  # 24 h


def _q169_sql(epoch_us: str, intdiv: str) -> str:
    """Knox space-time interaction statistic (epidemiology / crime
    analytics: are events that are close in space ALSO close in time
    more often than chance?): over all event pairs, count close-in-space
    (same res-3 cell), close-in-time (|dt| < 24 h), and close-in-both;
    the excess ratio both/(expected) is left to the reader as exact
    integers (n_pairs, n_space, n_time, n_both).  Scale shape: the
    space count is a per-cell C(n,2) aggregate (never materializes
    pairs); the time count likewise per 24-h bin PLUS an adjacent-bin
    equi-join for cross-bin pairs; n_both materializes only same-cell
    pairs (bounded by cell occupancy, the q164 blocking argument)."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q144_RES)
    b = _Q169_TBIN_US
    return f"""
WITH t AS (
  SELECT event_id, {epoch_us} AS us, {cell} AS cell,
         ({epoch_us}) {intdiv} {b} AS tbin
  FROM events
),
n AS (SELECT cast(count(*) as bigint) AS n FROM t),
sp AS (
  SELECT cast(sum(c * (c - 1) {intdiv} 2) as bigint) AS n_space
  FROM (SELECT count(*) AS c FROM t GROUP BY cell)
),
tm_same AS (
  SELECT a.event_id AS i1, b.event_id AS i2
  FROM t a JOIN t b ON b.tbin = a.tbin AND a.event_id < b.event_id
  WHERE abs(a.us - b.us) < {b}
),
tm_adj AS (
  SELECT a.event_id AS i1, b.event_id AS i2
  FROM t a JOIN t b ON b.tbin = a.tbin + 1
  WHERE abs(a.us - b.us) < {b}
),
tm AS (
  SELECT cast((SELECT count(*) FROM tm_same)
              + (SELECT count(*) FROM tm_adj) as bigint) AS n_time
),
bo AS (
  SELECT cast(count(*) as bigint) AS n_both
  FROM t a JOIN t b ON b.cell = a.cell AND a.event_id < b.event_id
  WHERE abs(a.us - b.us) < {b}
)
SELECT cast(n.n * (n.n - 1) {intdiv} 2 as bigint) AS n_pairs,
       sp.n_space, tm.n_time, bo.n_both
FROM n CROSS JOIN sp CROSS JOIN tm CROSS JOIN bo
"""


def q169_knox_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q169_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q169_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q170_sql(intdiv: str) -> str:
    """Co-location participation index (Shekhar & Huang): for each
    ordered event-type pair (a, b), the fraction of type-a events whose
    res-6 cell ALSO hosts a type-b event — the spatial association-rule
    primitive (q158 is its temporal-basket sibling).  Scale shape: one
    distinct (cell, type) projection, one self-equi-join ON CELL
    (fan-out = types-per-cell^2, bounded by the type vocabulary), one
    distinct-count per pair against the per-type event totals."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q153_RES)
    return f"""
WITH t AS (
  SELECT event_id, event_type, {cell} AS cell FROM events
),
tot AS (
  SELECT event_type, cast(count(*) as bigint) AS n_t FROM t GROUP BY 1
),
ct AS (SELECT DISTINCT cell, event_type FROM t),
part AS (
  SELECT a.event_type AS type_a, c.event_type AS type_b,
         cast(count(*) as bigint) AS n_part
  FROM t a JOIN ct c ON c.cell = a.cell AND c.event_type <> a.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_part,
       cast(p.n_part * 1000000 {intdiv} t.n_t as bigint) AS pi_micro
FROM part p JOIN tot t ON t.event_type = p.type_a
ORDER BY type_a, type_b
"""


def q170_colocation_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q170_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q170_sql("div"))


def _q171_sql(intdiv: str) -> str:
    """Per-user mobility profile (the González-et-al human-mobility
    summary): radius of gyration (squared, integer micro²) around the
    trunc-division centroid, location diversity (distinct res-6 cells),
    and the top-cell visit share in micro (integer-encoded argmax picks
    the most-visited cell, ties to the smallest cell id).  Two keyed
    aggregates over the same user partition — no window, no sort."""
    lon = f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint)"
    lat = f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint)"
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q153_RES)
    return f"""
WITH t AS (
  SELECT user_id, event_id, {lon} AS x, {lat} AS y, {cell} AS cell
  FROM events
),
c AS (
  SELECT user_id, cast(count(*) as bigint) AS n,
         sum(x) {intdiv} count(*) AS cx, sum(y) {intdiv} count(*) AS cy,
         cast(count(DISTINCT cell) as bigint) AS n_cells
  FROM t GROUP BY user_id
),
vc AS (
  SELECT user_id, cast(count(*) as bigint) AS visits
  FROM t GROUP BY user_id, cell
),
top AS (
  SELECT user_id, cast(max(visits) as bigint) AS top_visits
  FROM vc GROUP BY user_id
),
rog AS (
  SELECT t.user_id,
         sum((t.x - c.cx) * (t.x - c.cx)
             + (t.y - c.cy) * (t.y - c.cy)) {intdiv} c.n AS rog2
  FROM t JOIN c ON c.user_id = t.user_id
  GROUP BY t.user_id, c.n
)
SELECT c.user_id, c.n AS n_points, cast(r.rog2 as bigint) AS rog2_micro2,
       c.n_cells,
       cast(tp.top_visits * 1000000 {intdiv} c.n as bigint)
         AS top_share_micro
FROM c JOIN rog r ON r.user_id = c.user_id
       JOIN top tp ON tp.user_id = c.user_id
ORDER BY c.user_id
"""


def q171_mobility_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q171_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q171_sql("div"))


def _q172_sql(epoch_us: str, intdiv: str) -> str:
    """Inter-event time moments per user (burstiness diagnostics): gap
    count, trunc-division mean gap, and the EXACT second central moment
    M2 = sum((dt - mean)^2) as integers — the reader derives burstiness
    (sigma - mu)/(sigma + mu) without the engine ever computing a float.
    Gaps are in SECONDS (micros squared would overflow int64: a 26-day
    gap is 2.2e12 us and its square 5e24; in seconds the worst M2 term
    is ~5e12).  One window lag + two keyed aggregates."""
    return f"""
WITH t AS (SELECT user_id, {epoch_us} AS us FROM events),
g AS (
  SELECT user_id, (us - lag(us) OVER (PARTITION BY user_id ORDER BY us))
           {intdiv} 1000000 AS dt
  FROM t
),
d AS (SELECT user_id, dt FROM g WHERE dt IS NOT NULL),
m AS (
  SELECT user_id, cast(count(*) as bigint) AS n_gaps,
         sum(dt) {intdiv} count(*) AS mean_dt
  FROM d GROUP BY user_id
)
SELECT d.user_id, m.n_gaps, cast(m.mean_dt as bigint) AS mean_dt_s,
       cast(sum((d.dt - m.mean_dt) * (d.dt - m.mean_dt)) as bigint) AS m2
FROM d JOIN m ON m.user_id = d.user_id
GROUP BY d.user_id, m.n_gaps, m.mean_dt
ORDER BY d.user_id
"""


def q172_interevent_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q172_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q172_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q173_sql(epoch_us: str, intdiv: str) -> str:
    """Weekly retention cohorts (product-analytics classic): per week w,
    the active-user count and how many of them were also active in week
    w+1, with the retention rate in micro.  One distinct (user, week)
    projection, one self-equi-join on (user, week + 1) — both keyed,
    map-side combinable."""
    week = f"({epoch_us}) {intdiv} 604800000000"
    return f"""
WITH uw AS (SELECT DISTINCT user_id, {week} AS week FROM events),
act AS (
  SELECT week, cast(count(*) as bigint) AS n_active FROM uw GROUP BY week
),
ret AS (
  SELECT a.week, cast(count(*) as bigint) AS n_retained
  FROM uw a JOIN uw b ON b.user_id = a.user_id AND b.week = a.week + 1
  GROUP BY a.week
)
SELECT a.week AS week, a.n_active,
       cast(coalesce(r.n_retained, 0) as bigint) AS n_retained,
       cast(coalesce(r.n_retained, 0) * 1000000 {intdiv} a.n_active
            as bigint) AS retention_micro
FROM act a LEFT JOIN ret r ON r.week = a.week
ORDER BY week
"""


def q173_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q173_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q173_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q176_sql(epoch_us: str, intdiv: str) -> str:
    """Home/work anchor detection per user (the mobility-inference
    classic): the most-visited res-6 cell in NIGHT hours (22-06 UTC) vs
    DAY hours (08-18 UTC), integer-encoded argmax (visits * BIG - cell:
    max visits, ties to the SMALLEST cell), plus each anchor's visit
    count.  One conditional keyed aggregate — no window, no sort."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q153_RES)
    hour = f"(({epoch_us}) {intdiv} 3600000000) % 24"
    big = 1 << 30
    return f"""
WITH t AS (
  SELECT user_id, {cell} AS cell,
         CASE WHEN {hour} >= 22 OR {hour} < 6 THEN 'night'
              WHEN {hour} >= 8 AND {hour} < 18 THEN 'day'
              ELSE NULL END AS band
  FROM events
),
v AS (
  SELECT user_id, band, cell, cast(count(*) as bigint) AS visits
  FROM t WHERE band IS NOT NULL GROUP BY 1, 2, 3
),
m AS (
  SELECT user_id, band, max(visits * {big} + ({big} - 1 - cell)) AS enc
  FROM v GROUP BY 1, 2
)
SELECT user_id, band,
       cast({big} - 1 - enc % {big} as bigint) AS anchor_cell,
       cast(enc {intdiv} {big} as bigint) AS visits
FROM m ORDER BY user_id, band
"""


def q176_home_work_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q176_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q176_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q177_sql(epoch_us: str, intdiv: str) -> str:
    """Hour-of-day seasonality profile per event type: counts per
    (type, hour) plus each type's peak hour by integer-encoded argmax
    (ties to the earliest hour) and its share in micro — the diurnal
    rhythm screen run before any temporal anomaly model."""
    hour = f"(({epoch_us}) {intdiv} 3600000000) % 24"
    big = 1 << 20
    return f"""
WITH t AS (SELECT event_type, {hour} AS hour FROM events),
h AS (
  SELECT event_type, hour, cast(count(*) as bigint) AS n
  FROM t GROUP BY 1, 2
),
m AS (
  SELECT event_type, max(n * {big} + (23 - hour)) AS enc,
         sum(n) AS tot
  FROM h GROUP BY event_type
)
SELECT h.event_type AS event_type, cast(h.hour as int) AS hour, h.n,
       cast(23 - m.enc % {big} as int) AS peak_hour,
       cast((m.enc {intdiv} {big}) * 1000000 {intdiv} m.tot as bigint)
         AS peak_share_micro
FROM h JOIN m ON m.event_type = h.event_type
ORDER BY h.event_type, hour
"""


def q177_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q177_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q177_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q178_sql(epoch_us: str, intdiv: str) -> str:
    """Conversion funnel (view -> click -> purchase, strictly ordered in
    time per user, each step within 24 h of the previous): stage
    timestamps chain by strict inequality + a step deadline — the
    product-analytics primitive.  Three conditional aggregates chained
    through two tiny per-user joins (never a row-level pattern scan);
    output is the per-stage user count + micro conversion vs stage 1."""
    return f"""
WITH t AS (SELECT user_id, event_type, {epoch_us} AS us FROM events),
s1 AS (
  SELECT user_id, min(us) AS t1 FROM t WHERE event_type = 'view'
  GROUP BY user_id
),
s2 AS (
  SELECT t.user_id, min(t.us) AS t2
  FROM t JOIN s1 ON s1.user_id = t.user_id
  WHERE t.event_type = 'click' AND t.us > s1.t1
    AND t.us < s1.t1 + 86400000000
  GROUP BY t.user_id
),
s3 AS (
  SELECT t.user_id, min(t.us) AS t3
  FROM t JOIN s2 ON s2.user_id = t.user_id
  WHERE t.event_type = 'purchase' AND t.us > s2.t2
    AND t.us < s2.t2 + 86400000000
  GROUP BY t.user_id
),
c AS (
  SELECT cast((SELECT count(*) FROM s1) as bigint) AS n1,
         cast((SELECT count(*) FROM s2) as bigint) AS n2,
         cast((SELECT count(*) FROM s3) as bigint) AS n3
)
SELECT stage, n_users,
       cast(n_users * 1000000 {intdiv} first_n as bigint) AS conv_micro
FROM (
  SELECT 1 AS stage, n1 AS n_users, n1 AS first_n FROM c
  UNION ALL SELECT 2, n2, n1 FROM c
  UNION ALL SELECT 3, n3, n1 FROM c
) u ORDER BY stage
"""


def q178_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q178_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q178_sql("unix_micros(cast(ts as timestamp))", "div"))


_Q180_BIG = 1 << 20


def _q180_sql(intdiv: str) -> str:
    """Nearest-facility catchment assignment (discrete Voronoi): every
    event assigned to its nearest of 8 facility sites (derived from the
    first 8 suppliers' hash coordinates), then per-facility catchment
    stats — the logistics/coverage primitive (the reference's kNN keys
    point pairs; this partitions the plane).  The facility set is a
    broadcast-size dimension: one cross join of events x 8 rows with an
    integer-encoded argmin (d2-major, facility-id minor for ties), then
    one keyed aggregate.  Distances are squared CENTI-degree integers
    (micro^2 would overflow the argmin encode: 2.7e17 * 2^20 > 2^63;
    centi keeps d2 <= 2.6e9 and the encode <= 2.8e15)."""
    elon = f"cast(floor(({geo.lon_sql('event_id')}) * 100) as bigint)"
    elat = f"cast(floor(({geo.lat_sql('event_id')}) * 100) as bigint)"
    slon = f"cast(floor(({geo.lon_sql('s_suppkey')}) * 100) as bigint)"
    slat = f"cast(floor(({geo.lat_sql('s_suppkey')}) * 100) as bigint)"
    return f"""
WITH f AS (
  SELECT s_suppkey AS fac_id, {slon} AS fx, {slat} AS fy
  FROM supplier WHERE s_suppkey < 8
),
e AS (SELECT event_id, {elon} AS x, {elat} AS y FROM events),
a AS (
  SELECT e.event_id,
         min(((e.x - f.fx) * (e.x - f.fx) + (e.y - f.fy) * (e.y - f.fy))
             * {_Q180_BIG} + f.fac_id) AS enc
  FROM e CROSS JOIN f
  GROUP BY e.event_id
)
SELECT cast(enc % {_Q180_BIG} as bigint) AS fac_id,
       cast(count(*) as bigint) AS n_assigned,
       cast(sum(enc {intdiv} {_Q180_BIG}) as bigint) AS sum_d2_centi,
       cast(max(enc {intdiv} {_Q180_BIG}) as bigint) AS max_d2_centi
FROM a GROUP BY 1 ORDER BY fac_id
"""


def q180_nearest_facility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q180_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q180_sql("div"))


def _q181_sql() -> str:
    """Benford first-significant-digit audit of the value column per
    event type (data-forensics screen for fabricated/corrupted numeric
    feeds): digit extracted ARITHMETICALLY from integer cents (a CASE
    ladder over magnitude — string formatting of floats differs between
    engines, integers don't), counts per (type, digit)."""
    return """
WITH v AS (
  SELECT event_type, cast(floor(value * 100) as bigint) AS c
  FROM events WHERE value > 0
),
d AS (
  SELECT event_type,
         CASE WHEN c >= 100000 THEN c / 100000
              WHEN c >= 10000 THEN c / 10000
              WHEN c >= 1000 THEN c / 1000
              WHEN c >= 100 THEN c / 100
              WHEN c >= 10 THEN c / 10
              ELSE c END AS draw
  FROM v
)
SELECT event_type, cast(floor(draw) as int) AS digit,
       cast(count(*) as bigint) AS n
FROM d GROUP BY 1, 2 ORDER BY event_type, digit
"""


def q181_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q181_sql` (dialect-free: `/` on integers is float division
    in BOTH engines, then floor)."""
    register_views(spark, sf_dir)
    return spark.sql(_q181_sql())


def _q182_sql(epoch_us: str, intdiv: str) -> str:
    """CUSUM changepoint detection over each type's daily count series
    (monitoring primitive: WHEN did the rate shift?): the classic
    statistic max_d |sum_{i<=d}(x_i - mean)| computed EXACTLY in
    integers by scaling — cum_d = sum_{i<=d}(x_i * D - T) where D = the
    series length and T = the series total, so mean never becomes a
    fraction.  Argmax day by integer encode (max |cum|, ties to the
    EARLIEST day).  One day aggregate + one window cumsum + one keyed
    argmax."""
    day = f"({epoch_us}) {intdiv} 86400000000"
    big = 1 << 20
    return f"""
WITH daily AS (
  SELECT event_type, {day} AS day, cast(count(*) as bigint) AS x
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type, cast(count(*) as bigint) AS dd,
         cast(sum(x) as bigint) AS tot
  FROM daily GROUP BY 1
),
c AS (
  SELECT d.event_type, d.day,
         sum(d.x * m.dd - m.tot) OVER (PARTITION BY d.event_type
                                       ORDER BY d.day
                                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM daily d JOIN m ON m.event_type = d.event_type
),
e AS (
  SELECT event_type,
         max(abs(cum) * {big} + ({big} - 1 - day)) AS enc
  FROM c GROUP BY event_type
)
SELECT event_type,
       cast({big} - 1 - enc % {big} as bigint) AS cp_day,
       cast(enc {intdiv} {big} as bigint) AS max_cusum_scaled
FROM e ORDER BY event_type
"""


def q182_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q182_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q182_sql("unix_micros(cast(ts as timestamp))", "div"))


def q167_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q167_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q167_sql("div"))


def q165_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q165_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q165_sql("div"))


_Q164_HOME_RES = 2   # base blocking grid (4x4); doubles per 4x users


def _q164_sql() -> str:
    """Blocked symmetric Hausdorff distance between user point sets (the
    track-similarity measure of movement analytics; the reference's NN
    machinery compares points, never whole tracks).  Blocking: a user's
    HOME cell is the home-grid cell of their first event (min event_id);
    only same-home pairs are compared — the candidate contract of every
    engine join (q16/q46/q156).  Directed h(A,B) = max over a of min
    over b of the squared micro-degree distance; symmetric H = max of
    both directions, all integer.

    Scale shape: the cross join runs INSIDE home-cell blocks only
    (fan-out = points-per-block^2, never corpus^2); two keyed
    aggregates (min per (pair, a-point), then max per pair).  The home
    GRID SCALES with the fleet: per-axis width
    n = max(4, ceil(sqrt(users / 8))) (a shared params CTE on
    count(DISTINCT user_id)) holds users-per-cell ~8, so same-home
    pairs — and with constant points-per-user the whole candidate
    mass — grow LINEARLY and SMOOTHLY with the corpus (no power-of-4
    step lumpiness; sqrt of the rare perfect-square boundary is exact
    in IEEE, so the dual texts agree everywhere).  The r5 full-registry
    scale sweep forced this: at the old FIXED 16-cell grid, sf0.1's
    1500 users meant ~94 users/cell and 314M candidate rows (145 s,
    the single heaviest registry query), and sf1's 15000 users would
    have been ~31B rows — quadratic in users.  At <= 128 users (the
    sf0.001 gate) n = 4, the original grid size; blocks match the
    original ones except for coordinates exactly on a cell boundary or
    at lat = 90, because this formula is an unclamped floor(c*n) and
    the original was the clamped ceil(c*n)-1."""
    lon = f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint)"
    lat = f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint)"
    n = "(SELECT n FROM params)"
    lon0, lat0 = geo.lon_sql("min_eid"), geo.lat_sql("min_eid")
    home = (f"cast(floor((({lat0}) + 90e0) / 180e0 * {n}) as bigint) * {n} "
            f"+ cast(floor((({lon0}) + 180e0) / 360e0 * {n}) as bigint)")
    return f"""
WITH params AS (
  SELECT greatest(cast(4 as bigint),
           cast(ceil(sqrt(cast(count(DISTINCT user_id) as double) / 8e0))
                as bigint)) AS n
  FROM events
),
p AS (
  SELECT user_id, event_id, {lon} AS x, {lat} AS y FROM events
),
h AS (
  SELECT user_id, {home} AS home
  FROM (SELECT user_id, min(event_id) AS min_eid FROM events GROUP BY 1)
),
pts AS (
  SELECT p.user_id, h.home, p.x, p.y FROM p JOIN h ON h.user_id = p.user_id
),
cand AS (
  SELECT a.user_id AS u1, b.user_id AS u2, a.home,
         a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM pts a JOIN pts b ON b.home = a.home AND a.user_id < b.user_id
),
mins AS (
  SELECT u1, u2, ax, ay,
         min((ax - bx) * (ax - bx) + (ay - by) * (ay - by)) AS d2
  FROM cand GROUP BY u1, u2, ax, ay
),
dir1 AS (SELECT u1, u2, max(d2) AS h12 FROM mins GROUP BY u1, u2),
mins2 AS (
  SELECT u1, u2, bx, by,
         min((ax - bx) * (ax - bx) + (ay - by) * (ay - by)) AS d2
  FROM cand GROUP BY u1, u2, bx, by
),
dir2 AS (SELECT u1, u2, max(d2) AS h21 FROM mins2 GROUP BY u1, u2)
SELECT d1.u1 AS u1, d1.u2 AS u2,
       cast(greatest(d1.h12, d2.h21) as bigint) AS hausdorff_sq
FROM dir1 d1 JOIN dir2 d2 ON d2.u1 = d1.u1 AND d2.u2 = d1.u2
ORDER BY d1.u1, d1.u2
"""


def q164_track_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q164_sql` (dialect-free SQL)."""
    register_views(spark, sf_dir)
    return spark.sql(_q164_sql())


_Q153_RES = 6       # finest level: events binned at res 6 (q128's grid)
_Q153_ROUNDS = 4    # compact res 6 -> 5 -> 4 -> 3 -> 2


def _q153_parent(cell: str, r: int, intdiv: str) -> str:
    """Row-major parent: cell at grid 2^r -> parent at 2^(r-1)."""
    n = 1 << r
    d = intdiv
    return (f"((({cell}) {d} {n}) {d} 2) * {n // 2} "
            f"+ (({cell}) % {n}) {d} 2")


def _q153_round_sql(i: int, intdiv: str) -> str:
    r = _Q153_RES - i + 1
    parent = _q153_parent("cell", r, intdiv)
    return f"""full{i} AS MATERIALIZED (
  SELECT {parent} AS pcell
  FROM s{i - 1} WHERE res = {r}
  GROUP BY 1 HAVING count(*) = 4
),
s{i} AS MATERIALIZED (
  SELECT res, cell FROM s{i - 1} WHERE res <> {r}
  UNION ALL
  SELECT s.res, s.cell
  FROM s{i - 1} s LEFT JOIN full{i} f ON f.pcell = {_q153_parent('s.cell', r, intdiv)}
  WHERE s.res = {r} AND f.pcell IS NULL
  UNION ALL
  SELECT {r - 1} AS res, pcell AS cell FROM full{i}
)"""


def q153_cover_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical cover compaction: the occupied res-6 cell set of the
    event table collapsed bottom-up — wherever all 4 children of a quad
    are present they are replaced by the parent, repeated for 4 levels.
    This is the maintenance op of a tiered SFC index (the reference keeps
    per-tier insertion sets and reprojects between tiers,
    `core/index/.../sfc/tiered/TieredSFCIndexStrategy.java`; Iceberg
    analog: manifest compaction) — a compacted cover answers the same
    range queries with far fewer keys.

    Scale shape per round: ONE keyed count on the parent cell (map-side
    combinable) + one broadcast-able anti-join of the current level
    against the full-quad set; rounds touch only the current-resolution
    rows.  Rounds are cut with localCheckpoint (each state is referenced
    twice per round)."""
    register_views(spark, sf_dir)
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q153_RES)
    cur = spark.sql(
        f"SELECT {_Q153_RES} AS res, {cell} AS cell "
        f"FROM events GROUP BY 2").localCheckpoint()
    for i in range(1, _Q153_ROUNDS + 1):
        r = _Q153_RES - i + 1
        cur.createOrReplaceTempView("q153_s")
        parent = _q153_parent("cell", r, "div")
        parent_s = _q153_parent("s.cell", r, "div")
        cur = spark.sql(f"""
            WITH fullq AS (
              SELECT {parent} AS pcell FROM q153_s WHERE res = {r}
              GROUP BY 1 HAVING count(*) = 4
            )
            SELECT res, cell FROM q153_s WHERE res <> {r}
            UNION ALL
            SELECT s.res, s.cell
            FROM q153_s s LEFT JOIN fullq f ON f.pcell = {parent_s}
            WHERE s.res = {r} AND f.pcell IS NULL
            UNION ALL
            SELECT {r - 1} AS res, pcell AS cell FROM fullq
        """).localCheckpoint()
    return cur.select(F.col("res").cast("int").alias("res"),
                      F.col("cell").cast("long").alias("cell")) \
        .orderBy("res", "cell")


def _q153_sql() -> str:
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q153_RES)
    parts = [f"s0 AS MATERIALIZED (SELECT {_Q153_RES} AS res, {cell} AS cell "
             f"FROM events GROUP BY 2)"]
    parts += [_q153_round_sql(i, "//") for i in range(1, _Q153_ROUNDS + 1)]
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT cast(res as int) AS res, cast(cell as bigint) AS cell "
              f"FROM s{_Q153_ROUNDS} ORDER BY res, cell")


# the 8 k-DOP support directions (E, NE, N, NW, W, SW, S, SE)
_Q147_DIRS = [(1, 0), (1, 1), (0, 1), (-1, 1),
              (-1, 0), (-1, -1), (0, -1), (1, -1)]
# |dot| <= 2 * 270e6 micro-degrees; (OFF - dot) * BIG + id stays < 2^63
_Q147_OFF = 600_000_000
_Q147_BIG = 1_000_000_000


def _q147_sql(intdiv: str) -> str:
    """Per-user k-DOP hull: the extreme event in each of 8 support
    directions — the distributed convex-hull approximation (a k-DOP
    generalizes the reference's BBox aggregation,
    `core/geotime/.../aggregate/BoundingBoxAggregation.java` = the k=4
    axis-aligned case).  One scan: 8 conditional integer-encoded argmax
    aggregates per user (min of (OFF - dot) * BIG + event_id — exact
    integer dot of micro-degree coords with unit directions, ties to the
    smallest event_id), map-side combinable, no window, no sort.  At
    100 TB this is the hull pattern that works: per-group state is 8
    scalars regardless of group size."""
    lon = f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint)"
    lat = f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint)"
    aggs = ", ".join(
        f"min(({_Q147_OFF} - ({dx} * lon_u + {dy} * lat_u)) * {_Q147_BIG} "
        f"+ event_id) AS e{i}"
        for i, (dx, dy) in enumerate(_Q147_DIRS))
    decode = "\nUNION ALL\n".join(
        f"SELECT user_id, {i} AS dir_idx, "
        f"cast(e{i} % {_Q147_BIG} as bigint) AS event_id, "
        f"cast({_Q147_OFF} - e{i} {intdiv} {_Q147_BIG} as bigint) AS dot_micro "
        f"FROM m"
        for i in range(len(_Q147_DIRS)))
    return f"""
WITH t AS (
  SELECT user_id, event_id, {lon} AS lon_u, {lat} AS lat_u FROM events
),
m AS (SELECT user_id, {aggs} FROM t GROUP BY user_id)
SELECT * FROM ({decode}) u ORDER BY user_id, dir_idx
"""


def q147_kdop_hull_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q147_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q147_sql("div"))


_Q135_ROUNDS = 8


def _q135_round_sql(i: int) -> str:
    """One Strahler round: m = max child order, cmax = children at that
    max; ord_i(c) = m + 1 when two children tie at the max, else m
    (leaves keep order 1).  Two keyed aggregates — count-at-max needs the
    max first; both are O(|edges|) hash shuffles.  Every round CTE is
    MATERIALIZED: s{{i}} is referenced three times by round i+1, so
    DuckDB's default inlining would grow the plan 3^rounds (the engine
    loop cuts lineage with localCheckpoint for the same reason)."""
    return f"""m{i} AS MATERIALIZED (
  SELECT e.dst AS cell, max(s.ord) AS m
  FROM edges_m e JOIN s{i - 1} s ON s.cell = e.src GROUP BY e.dst
),
t{i} AS MATERIALIZED (
  SELECT e.dst AS cell, m.m, count(*) AS cmax
  FROM edges_m e JOIN s{i - 1} s ON s.cell = e.src
  JOIN m{i} m ON m.cell = e.dst AND s.ord = m.m
  GROUP BY e.dst, m.m
),
s{i} AS MATERIALIZED (
  SELECT s.cell,
         greatest(s.ord, coalesce(CASE WHEN t.cmax >= 2 THEN t.m + 1 ELSE t.m END,
                                  cast(1 as bigint))) AS ord
  FROM s{i - 1} s LEFT JOIN t{i} t ON t.cell = s.cell
)"""


def q135_strahler_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strahler stream order over the drainage forest (hydrology step 4,
    after q132 direction / q133 accumulation / q134 basins): order 1 at
    the leaves; a cell where >= 2 max-order tributaries meet gets max+1,
    else it carries the max downstream.  Bounded at 8 rounds (the q128
    k-hop contract) — enough for any tree of depth <= 8.

    Scale shape: each round is two keyed hash aggregates over the edge
    set (max child order, then count of children AT that max — SQL can't
    count-at-max in one pass) plus one left join back to the cells; all
    O(occupied cells).  Each round references the previous state THREE
    times, so persist() alone would still grow the ANALYZED plan 3^r —
    rounds are cut off with localCheckpoint (LogicalRDD) instead.  The
    reference's raster layer has no hydrology ops (nearest analog is the
    per-tile merge in RasterTileMergeStrategy); this completes the
    direction->accumulation->basin->order chain entirely in keyed joins."""
    register_views(spark, sf_dir)
    pre = f"WITH {_q128_cells_sql('div')}, {_q133_edges_sql('div')}"
    spark.sql(f"{pre} SELECT src, dst FROM edges").persist() \
        .createOrReplaceTempView("q135_edges")
    spark.sql(f"{pre} SELECT cell FROM cells").persist() \
        .createOrReplaceTempView("q135_cells")
    cur = spark.sql(
        "SELECT cell, cast(1 as bigint) AS ord FROM q135_cells")
    for _ in range(_Q135_ROUNDS):
        cur.createOrReplaceTempView("q135_s")
        cur = spark.sql("""
            SELECT s.cell,
                   greatest(s.ord,
                            coalesce(CASE WHEN t.cmax >= 2 THEN t.m + 1 ELSE t.m END,
                                     cast(1 as bigint))) AS ord
            FROM q135_s s
            LEFT JOIN (
              SELECT e.dst AS cell, m.m, count(*) AS cmax
              FROM q135_edges e JOIN q135_s s2 ON s2.cell = e.src
              JOIN (SELECT e2.dst AS cell, max(s3.ord) AS m
                    FROM q135_edges e2 JOIN q135_s s3 ON s3.cell = e2.src
                    GROUP BY e2.dst) m
                ON m.cell = e.dst AND s2.ord = m.m
              GROUP BY e.dst, m.m
            ) t ON t.cell = s.cell
        """).localCheckpoint()
    return cur.orderBy("cell")


def _q135_sql() -> str:
    parts = [_q128_cells_sql("//"), _q133_edges_sql("//"),
             "edges_m AS MATERIALIZED (SELECT src, dst FROM edges)",
             "s0 AS MATERIALIZED (SELECT cell, cast(1 as bigint) AS ord FROM cells)"]
    parts += [_q135_round_sql(i) for i in range(1, _Q135_ROUNDS + 1)]
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT cell, ord FROM s{_Q135_ROUNDS} ORDER BY cell")


def _q186_sql(epoch_us: str, intdiv: str) -> str:
    """Gravity model of OD flows (the spatial-interaction workhorse:
    Zipf 1946 / modern mobility literature): expected flow between cells
    i, j proportional to outmass(i) * inmass(j) / d(i,j)^2, compared with
    the observed q145 transition matrix; output the top flow corridors by
    observed/expected ratio (the "surprisingly strong" links a transport
    planner inspects first).  Integer-exact: cell-grid squared distance,
    integer gravity, micro shares, trunc division everywhere.

    Scale shape: one window lag per user (the q145 stream), one keyed
    aggregate to the OD matrix, two tiny per-cell mass aggregates joined
    back, and two scalar totals — the matrix is at most n_cells^2 rows,
    so every join past the first aggregate is broadcast-sized.  Reference
    analog: none — GeoWave bins counts (`TemporalBinningStrategy.java`)
    but ships no interaction model; this is the analytics layer above
    q145."""
    n = 1 << _Q144_RES
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q144_RES)
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
e AS (
  SELECT lag(cell) OVER w AS f, cell AS g, us - lag(us) OVER w AS dt
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
m AS (
  SELECT f AS from_cell, g AS to_cell, cast(count(*) as bigint) AS n
  FROM e WHERE f IS NOT NULL AND dt < {_Q144_GAP_US} AND f <> g
  GROUP BY 1, 2
),
mo AS (SELECT from_cell AS c, sum(n) AS m FROM m GROUP BY 1),
mi AS (SELECT to_cell AS c, sum(n) AS m FROM m GROUP BY 1),
tot AS (SELECT sum(n) AS s FROM m),
g AS (
  SELECT m.from_cell, m.to_cell, m.n,
         (m.from_cell % {n} - m.to_cell % {n}) * (m.from_cell % {n} - m.to_cell % {n})
         + (m.from_cell {intdiv} {n} - m.to_cell {intdiv} {n})
           * (m.from_cell {intdiv} {n} - m.to_cell {intdiv} {n}) AS d2,
         ((mo.m * mi.m) {intdiv}
          ((m.from_cell % {n} - m.to_cell % {n}) * (m.from_cell % {n} - m.to_cell % {n})
           + (m.from_cell {intdiv} {n} - m.to_cell {intdiv} {n})
             * (m.from_cell {intdiv} {n} - m.to_cell {intdiv} {n}))) AS grav
  FROM m JOIN mo ON mo.c = m.from_cell JOIN mi ON mi.c = m.to_cell
),
gs AS (SELECT sum(grav) AS sg FROM g)
SELECT g.from_cell, g.to_cell, g.n AS n_trans, cast(g.d2 as bigint) AS d2,
       cast((g.n * 1000000) {intdiv} tot.s as bigint) AS obs_micro,
       cast((g.grav * 1000000) {intdiv} greatest(gs.sg, 1) as bigint) AS exp_micro,
       cast(((g.n * 1000000) {intdiv} tot.s) * 1000
            {intdiv} greatest((g.grav * 1000000) {intdiv} greatest(gs.sg, 1), 1)
            as bigint) AS ratio_milli
FROM g CROSS JOIN tot CROSS JOIN gs
ORDER BY ratio_milli DESC, from_cell, to_cell
LIMIT 50
"""


def q186_gravity_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q186_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q186_sql("unix_micros(cast(ts as timestamp))", "div"))


_Q187_RES = 5     # 1024 cells: sparse enough that peeling removes nodes
_Q187_K = 14      # k-core threshold (sf0.01: keeps 451 of 1024 cells -> real peeling)
_Q187_ROUNDS = 3  # bounded peel rounds (the q162/q135 bounded-iteration contract)


def _q187_sql(epoch_us: str) -> str:
    """k-core decomposition (bounded peel) of the undirected OD mobility
    graph: repeatedly drop nodes with degree < k; what survives is the
    densely-interconnected core (the bot-ring / hub-community filter of
    graph analytics, Seidman 1983).  Three synchronous peel rounds — each
    round is one degree aggregate + one semi-join of the edge set against
    the survivor set, the exact shape that scales (no per-node state, no
    driver loop data); full peeling iterates the same round to fixpoint.

    Scale shape: edges live once, every round re-derives degrees with a
    map-side-combinable count and filters edges by two broadcast-able
    survivor joins.  Reference analog: none — GeoWave has no graph ops;
    built on q145's transition stream."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q187_RES)
    parts = [f"""t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
tr AS (
  SELECT lag(cell) OVER w AS f, cell AS g, us - lag(us) OVER w AS dt
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
eu AS (
  SELECT DISTINCT least(f, g) AS u, greatest(f, g) AS v
  FROM tr WHERE f IS NOT NULL AND dt < {_Q144_GAP_US} AND f <> g
),
e0 AS (SELECT u AS a, v AS b FROM eu UNION ALL SELECT v AS a, u AS b FROM eu)"""]
    for i in range(1, _Q187_ROUNDS + 1):
        parts.append(f"""d{i} AS (
  SELECT a, cast(count(*) as bigint) AS d FROM e{i - 1} GROUP BY a
),
n{i} AS (SELECT a FROM d{i} WHERE d >= {_Q187_K}),
e{i} AS (
  SELECT e.a, e.b FROM e{i - 1} e
  JOIN n{i} x ON x.a = e.a JOIN n{i} y ON y.a = e.b
)""")
    r = _Q187_ROUNDS
    return ("WITH " + ",\n".join(parts) + f"""
SELECT a AS cell, cast(count(*) as bigint) AS core_deg
FROM e{r} GROUP BY a HAVING count(*) >= {_Q187_K}
ORDER BY cell
""")


def _q187_edges_sql(epoch_us: str) -> str:
    """Directed-both-ways OD edge relation for the k-core peel."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q187_RES)
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
tr AS (
  SELECT lag(cell) OVER w AS f, cell AS g, us - lag(us) OVER w AS dt
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
eu AS (
  SELECT DISTINCT least(f, g) AS u, greatest(f, g) AS v
  FROM tr WHERE f IS NOT NULL AND dt < {_Q144_GAP_US} AND f <> g
)
SELECT u AS a, v AS b FROM eu UNION ALL SELECT v AS a, u AS b FROM eu
"""


def _q187_round_sql(prev: str) -> str:
    """One peel round: degree filter + edge semi-joins, over a view."""
    return f"""
WITH d AS (
  SELECT a, cast(count(*) as bigint) AS d FROM {prev} GROUP BY a
),
n AS (SELECT a FROM d WHERE d >= {_Q187_K})
SELECT e.a, e.b FROM {prev} e
JOIN n x ON x.a = e.a JOIN n y ON y.a = e.b
"""


def q187_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q187_sql`; materialized-loop Spark path (Spark inlines the
    unrolled CTEs, re-running the edge build 3^rounds times — the edge
    relation is checkpointed once and each peel round builds on the
    previous checkpoint instead)."""
    from .table.views import mat_view

    register_views(spark, sf_dir)
    e = mat_view(spark, "q187_e0",
                 _q187_edges_sql("unix_micros(cast(ts as timestamp))"))
    for k in range(_Q187_ROUNDS):
        e.createOrReplaceTempView("q187_prev")
        e = spark.sql(_q187_round_sql("q187_prev"))
        e = e.localCheckpoint(eager=True)
    e.createOrReplaceTempView("q187_final")
    return spark.sql(f"""
SELECT a AS cell, cast(count(*) as bigint) AS core_deg
FROM q187_final GROUP BY a HAVING count(*) >= {_Q187_K}
ORDER BY cell""")


_Q188_RADII = (50, 100, 200)  # centidegrees: 0.5, 1.0, 2.0


def _q188_tail_sql(pairs_rel: str, radii_rows: str, intdiv: str) -> str:
    """Shared K-statistic arithmetic over a (cid, qid, dist) pair relation;
    `radii_rows` is the dialect-specific 3-row radius generator."""
    return f"""
WITH st AS (
  SELECT cast(count(*) as bigint) AS n,
         cast(floor((max(lon) - min(lon)) * (max(lat) - min(lat)) * 1000)
              as bigint) AS a_milli
  FROM ({geo.customer_points_sql()}) pts
),
r AS ({radii_rows}),
c AS (
  SELECT r.r_centi, cast(count(p.cid) as bigint) AS n_pairs
  FROM r LEFT JOIN {pairs_rel} p ON p.dist * 100 <= r.r_centi
  GROUP BY r.r_centi
)
SELECT cast(c.r_centi as int) AS r_centi, c.n_pairs,
       cast((2 * c.n_pairs * st.a_milli) {intdiv} (st.n * (st.n - 1))
            as bigint) AS k_milli
FROM c CROSS JOIN st
ORDER BY r_centi
"""


def q188_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K function (the clustering-vs-dispersion diagnostic of
    point-pattern analysis, Ripley 1977) at three radii over the customer
    point set: K(r) = A / (n (n-1)) * #{ordered pairs with d <= r}, with A
    the bbox area in milli-deg^2.  The pair counts come from the ENGINE's
    indexed within-distance self-join at the largest radius (cover-cell
    candidates + exact refine, `join/spatial.py:513`; reference analog:
    the buffered-envelope indexing of `TieredSpatialJoin.java:143-166` in
    /root/reference) — the oracle brute-forces all pairs, the same
    indexed-vs-brute contract as `GeoWaveSparkSpatialJoinIT.java:228-255`.

    Scale shape: candidate generation is the q07/q51 broadcast-cover
    join (a sort-merge on the cell once the point set's cover passes
    64 MB); the K arithmetic is three rows."""
    register_views(spark, sf_dir)
    pts = spark.sql(geo.customer_points_sql())
    qs = pts.select(F.col("cid").alias("qid"), "lon", "lat")
    pairs = spatial.within_distance_join(
        spark, pts, qs, radius=max(_Q188_RADII) / 100.0,
        pid_col="cid", qid_col="qid")
    pairs.filter(F.col("cid") < F.col("qid")) \
        .createOrReplaceTempView("q188_pairs")
    radii = ("SELECT explode(array" + str(_Q188_RADII) + ") AS r_centi")
    return spark.sql(_q188_tail_sql("q188_pairs", radii, "div"))


def _q188_duck_sql() -> str:
    rmax = max(_Q188_RADII) / 100.0
    dist = geo.planar_dist_sql("a.lon", "a.lat", "b.lon", "b.lat")
    pairs = f"""(
  SELECT a.cid, b.cid AS qid, {dist} AS dist
  FROM ({geo.customer_points_sql()}) a
  JOIN ({geo.customer_points_sql()}) b
    ON a.cid < b.cid AND {dist} <= {rmax}
)"""
    radii = ("SELECT unnest(" + str(list(_Q188_RADII)) + ") AS r_centi")
    return _q188_tail_sql(pairs, radii, "//")


def _q190_sql(epoch_us: str, intdiv: str) -> str:
    """Trajectory midpoint interpolation: the point at 50% of each user's
    cumulative L1 path length (ST_LineInterpolatePoint's streaming twin;
    L1 arc length keeps the whole computation integer-exact — no sqrt —
    and is monotone along the path, so the located segment is the same
    one Euclidean length would pick for near-uniform tracks).  Per user:
    running L1 length in micro-degrees, first segment whose cumulative
    length reaches total/2, exact integer lerp within it.

    Scale shape: one window pass partitioned by user (no global sort),
    one per-user total via the same window, one row_number selection —
    three stages over the same user-hash partitioning, which AQE fuses
    into a single exchange.  Reference analog: none — GeoWave stores
    trajectories (`TDriveIngestPlugin.java`) but ships no linear
    referencing."""
    lon = f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint)"
    lat = f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint)"
    return f"""
WITH t AS (
  SELECT user_id, event_id, {epoch_us} AS us, {lon} AS x, {lat} AS y
  FROM events
),
s AS (
  SELECT user_id, x, y, us, event_id,
         lag(x) OVER w AS px, lag(y) OVER w AS py
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
seg AS (
  SELECT user_id, px, py, x, y,
         abs(x - px) + abs(y - py) AS len,
         sum(abs(x - px) + abs(y - py)) OVER
           (PARTITION BY user_id ORDER BY us, event_id
            ROWS UNBOUNDED PRECEDING) AS cum,
         sum(abs(x - px) + abs(y - py)) OVER
           (PARTITION BY user_id) AS total,
         count(*) OVER (PARTITION BY user_id) AS n_seg
  FROM s WHERE px IS NOT NULL
),
hit AS (
  SELECT user_id, n_seg, total, px, py, x, y, len,
         cum - len AS before_len,
         row_number() OVER (PARTITION BY user_id ORDER BY cum, px, py, x, y)
           AS rn
  FROM seg WHERE cum >= (total {intdiv} 2)
)
SELECT user_id, cast(n_seg as bigint) AS n_seg,
       cast(total as bigint) AS total_l1,
       cast(px + (x - px) * ((total {intdiv} 2) - before_len)
                 {intdiv} greatest(len, 1) as bigint) AS mid_x,
       cast(py + (y - py) * ((total {intdiv} 2) - before_len)
                 {intdiv} greatest(len, 1) as bigint) AS mid_y
FROM hit WHERE rn = 1 ORDER BY user_id
"""


def q190_path_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q190_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q190_sql("unix_micros(cast(ts as timestamp))", "div"))


_Q192_WINDOW = 20  # banded Theil-Sen: pair each point with the next W


def _q192_sql(epoch_us: str, intdiv: str) -> str:
    """Banded Theil-Sen trend estimator per event_type (Theil 1950 / Sen
    1968; the robust slope a monitoring pipeline trusts over least squares
    when values have outliers).  Full Theil-Sen medians all O(n^2) pair
    slopes; the scalable banded form pairs each point only with the next
    {W} points in time order — the standard sliding-window variant, and
    the same bounded-pairing contract as q164's blocked Hausdorff.
    Integer-exact: slopes in micro-cents-per-second by trunc division
    (sign-split so Spark's `div` and DuckDB's `//` agree on negatives;
    sub-second gaps clamp to 1 s), exact lower-median by deterministic
    (slope, pair-id) rank.

    Scale shape: one row_number window per event_type, the pair build is
    an equi-join on (event_type, rn + offset) with the 20-row offset
    array broadcast, and the median is one more window over the pair
    set — everything partitions by event_type, no global sort.
    Reference analog: none (GeoWave aggregates have min/max/sum only);
    sibling of q102's Mann-Kendall trend, which tests direction — this
    estimates magnitude."""
    return f"""
WITH t AS (
  SELECT event_type, event_id, {epoch_us} AS us,
         cast(floor(value * 100) as bigint) AS cents
  FROM events
),
r AS (
  SELECT event_type, event_id, us, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY us, event_id)
           AS rn
  FROM t
),
offs AS (SELECT {{OFF}} AS off),
ax AS (
  -- materialize the partner rank BEFORE the pair join so it plans as a
  -- hash equi-join on (event_type, rnb), never an event_type-only join
  -- with the offset applied as a nested-loop filter (quadratic per type)
  SELECT a.event_type, a.cents, a.us, a.rn + o.off AS rnb,
         a.rn * 100 + o.off AS pair_id
  FROM r a JOIN offs o ON true
),
p AS (
  SELECT ax.event_type,
         CASE WHEN b.cents >= ax.cents
              THEN ((b.cents - ax.cents) * 1000000)
                   {intdiv} greatest((b.us - ax.us) {intdiv} 1000000, 1)
              ELSE -(((ax.cents - b.cents) * 1000000)
                   {intdiv} greatest((b.us - ax.us) {intdiv} 1000000, 1))
         END AS slope,
         ax.pair_id
  FROM ax JOIN r b ON b.event_type = ax.event_type AND b.rn = ax.rnb
  WHERE b.us > ax.us
),
ranked AS (
  SELECT event_type, slope,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope, pair_id) AS k,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM p
)
SELECT event_type, cast(max(n) as bigint) AS n_pairs,
       cast(max(CASE WHEN k = (n + 1) {intdiv} 2 THEN slope END)
            as bigint) AS sen_slope_micro
FROM ranked GROUP BY event_type ORDER BY event_type
"""


def q192_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q192_sql`."""
    register_views(spark, sf_dir)
    offs = "explode(sequence(1, %d))" % _Q192_WINDOW
    return spark.sql(
        _q192_sql("unix_micros(cast(ts as timestamp))", "div")
        .replace("{OFF}", offs))


def _q192_duck_sql() -> str:
    return _q192_sql("epoch_us(ts)", "//").replace(
        "{OFF}", "unnest(generate_series(1, %d))" % _Q192_WINDOW)


_Q194_WINDOW_US = 48 * 3600 * 1_000_000  # 48 h attribution lookback


def _q194_sql(epoch_us: str) -> str:
    """Last-touch conversion attribution: each purchase is credited to the
    user's LATEST click/view touch within the preceding 48 h (the
    marketing-analytics staple; deterministic tiebreak by touch event_id).
    Purchases with no qualifying touch report as 'none'.  Output per
    attributed touch type: conversions and total converted cents.

    Scale shape: purchases and touches hash-partition by user_id, the
    per-purchase winner is one row_number over the (purchase, candidate)
    join bounded by the 48 h window, and the rollup is a tiny keyed
    aggregate.  At 10^12 events the user-keyed join is the q119
    composite-key shape — no broadcast of either side needed.  Reference
    analog: none (GeoWave has no funnel ops); q178's deadline funnel is
    the forward-looking twin."""
    return f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, {epoch_us} AS us,
         cast(floor(value * 100) as bigint) AS cents
  FROM events
),
conv AS (SELECT user_id, event_id, us, cents FROM ev
         WHERE event_type = 'purchase'),
touch AS (SELECT user_id, event_id, event_type, us FROM ev
          WHERE event_type IN ('click', 'view')),
cand AS (
  SELECT c.event_id AS conv_id, c.cents, t.event_type AS touch_type,
         row_number() OVER (PARTITION BY c.event_id
                            ORDER BY t.us DESC, t.event_id DESC) AS rk
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id
   AND t.us < c.us AND t.us >= c.us - {_Q194_WINDOW_US}
),
hit AS (SELECT conv_id, cents, touch_type FROM cand WHERE rk = 1),
aug AS (
  SELECT coalesce(h.touch_type, 'none') AS touch_type, c.cents
  FROM conv c LEFT JOIN hit h ON h.conv_id = c.event_id
)
SELECT touch_type, cast(count(*) as bigint) AS n_conv,
       cast(sum(cents) as bigint) AS value_cents
FROM aug GROUP BY touch_type ORDER BY touch_type
"""


def q194_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q194_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q194_sql("unix_micros(cast(ts as timestamp))"))


_Q199_K = 5  # k-anonymity threshold: distinct users per published OD pair


def _q199_sql(epoch_us: str) -> str:
    """k-anonymized OD matrix publication: q145's transition matrix with
    every (from, to) pair supported by fewer than k=5 DISTINCT users
    suppressed (the standard small-cell suppression rule mobility-data
    releases apply — a cell attributable to < k people is a privacy
    leak); the suppressed-cell count rides along so the release documents
    its own censoring.

    Scale shape: q145's window + one keyed aggregate with a
    count(DISTINCT user_id) (two-phase under Spark: partial sets then
    merge — still keyed, no global state), one scalar total broadcast
    back.  Reference analog: none — GeoWave's visibility layer (q105/
    q106) gates row access; this gates AGGREGATE publication."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), _Q144_RES)
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
e AS (
  SELECT user_id, lag(cell) OVER w AS f, cell AS g,
         us - lag(us) OVER w AS dt
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
m AS (
  SELECT f AS from_cell, g AS to_cell,
         cast(count(*) as bigint) AS n_trans,
         cast(count(DISTINCT user_id) as bigint) AS n_users
  FROM e WHERE f IS NOT NULL AND dt < {_Q144_GAP_US}
  GROUP BY 1, 2
),
sup AS (
  SELECT cast(sum(CASE WHEN n_users < {_Q199_K} THEN 1 ELSE 0 END)
              as bigint) AS n_suppressed
  FROM m
)
SELECT m.from_cell, m.to_cell, m.n_trans, m.n_users, sup.n_suppressed
FROM m CROSS JOIN sup
WHERE m.n_users >= {_Q199_K}
ORDER BY from_cell, to_cell
"""


def q199_kanon_od(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q199_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q199_sql("unix_micros(cast(ts as timestamp))"))


# ---------------------------------------------------------------------------
# registry

from .queries_raster import RASTER_QUERIES  # noqa: E402

_Q211_CELL = 2_000_000  # 2 deg in micro-degrees


def _q211_segs_sql(rem: int) -> str:
    """Bounded synthetic segment set ``rem`` (micro-degree integer
    coords): anchor hashed into a 30x30-deg region, offset within +-2
    deg.  The anchor mix is QUADRATIC (h*h mod m) — an affine
    multiplicative hash of the stride-100 event_id keys yields parallel
    point lattices whose A/B sets never come within segment reach
    (measured: zero crossings); squaring breaks the lattice.  Pure int64
    arithmetic — identical in both engines."""
    return f"""
  SELECT sid, ax, ay,
         cast(ax + ((h * 97 + g * 131) % 4000001) - 2000000 as bigint) AS bx,
         cast(ay + ((h * 131 + g * 97) % 4000001) - 2000000 as bigint) AS by
  FROM (
    SELECT sid, h, g,
           cast((h * h) % 30000000 as bigint) AS ax,
           cast((g * g) % 30000000 as bigint) AS ay
    FROM (
      SELECT event_id AS sid,
             (event_id * 2654435761) % 1000003 AS h,
             (event_id * 2246822519) % 999983 AS g
      FROM events WHERE event_id % 100 = {rem}
    ) t0
  ) t1"""


def _q211_proper(a: tuple[str, str, str, str],
                 b: tuple[str, str, str, str]) -> str:
    """Proper segment crossing via integer orientation products: each
    segment's endpoints strictly straddle the other's supporting line."""
    ax, ay, bx, by = a
    ox, oy, px, py = b

    def straddle(x1, y1, x2, y2, u1, v1, u2, v2):
        # sign comparison, not a product: two ~1e15 cross values would
        # overflow int64 when multiplied
        c1 = f"(({x2} - {x1}) * ({v1} - {y1}) - ({y2} - {y1}) * ({u1} - {x1}))"
        c2 = f"(({x2} - {x1}) * ({v2} - {y1}) - ({y2} - {y1}) * ({u2} - {x1}))"
        return (f"(({c1} > 0 AND {c2} < 0) OR ({c1} < 0 AND {c2} > 0))")

    return (straddle(ax, ay, bx, by, ox, oy, px, py) + " AND "
            + straddle(ox, oy, px, py, ax, ay, bx, by))


def _q211_spark_sql() -> str:
    """Engine path: 2-deg grid-cell blocking (bbox supercover explode on
    both sides), DISTINCT candidate pairs from the cell equi-join, exact
    integer orientation refine.  The classic overlay join: candidates
    scale with local density, never all pairs."""
    cover = (
        "LATERAL VIEW explode(sequence(least(ax, bx) div {c}, "
        "greatest(ax, bx) div {c})) cxs AS cx "
        "LATERAL VIEW explode(sequence(least(ay, by) div {c}, "
        "greatest(ay, by) div {c})) cys AS cy"
    ).format(c=_Q211_CELL)
    return f"""
WITH sa AS ({_q211_segs_sql(0)}),
sb AS ({_q211_segs_sql(1)}),
ca AS (SELECT sid, ax, ay, bx, by, cy * 100 + cx AS cell FROM sa {cover}),
cb AS (SELECT sid, ax, ay, bx, by, cy * 100 + cx AS cell FROM sb {cover}),
cand AS (
  SELECT DISTINCT ca.sid AS sid_a, ca.ax, ca.ay, ca.bx, ca.by,
         cb.sid AS sid_b, cb.ax AS ox, cb.ay AS oy, cb.bx AS px,
         cb.by AS py
  FROM ca JOIN cb ON cb.cell = ca.cell
)
SELECT sid_a, sid_b
FROM cand
WHERE {_q211_proper(('ax', 'ay', 'bx', 'by'), ('ox', 'oy', 'px', 'py'))}
ORDER BY sid_a, sid_b
"""


def q211_segment_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-overlay intersection join: which segments of set A properly
    cross segments of set B (the road-network x pipeline-routes overlay,
    and the self-intersection primitive behind polygon validation).
    Engine: 2-deg supercover cell blocking + DISTINCT candidates + exact
    int64 orientation tests (proper crossings only — collinear touches
    are measure-zero under the hash coordinates).  Oracle: brute-force
    all pairs with the same predicate, the indexed-vs-brute contract of
    `GeoWaveSparkSpatialJoinIT.java:228-255` (/root/reference).

    Scale shape: candidate volume tracks LOCAL segment density (cell
    equi-join on a well-spread key), the refine is codegen integer
    arithmetic, and the only skew risk — a dense cell — salts exactly
    like the q56 rect join."""
    register_views(spark, sf_dir)
    return spark.sql(_q211_spark_sql())


_Q211_DUCK = f"""
WITH sa AS ({_q211_segs_sql(0)}),
sb AS ({_q211_segs_sql(1)}),
bbox AS MATERIALIZED (
  SELECT d.sid AS sid_a, d.ax, d.ay, d.bx, d.by,
         o.sid AS sid_b, o.ax AS ox, o.ay AS oy, o.bx AS px, o.by AS py
  FROM sa d JOIN sb o
    ON least(o.ax, o.bx) <= greatest(d.ax, d.bx)
   AND greatest(o.ax, o.bx) >= least(d.ax, d.bx)
   AND least(o.ay, o.by) <= greatest(d.ay, d.by)
   AND greatest(o.ay, o.by) >= least(d.ay, d.by)
)
SELECT sid_a, sid_b
FROM bbox
WHERE {_q211_proper(('ax', 'ay', 'bx', 'by'), ('ox', 'oy', 'px', 'py'))}
ORDER BY sid_a, sid_b
"""


QUERIES = {
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q02_top_revenue_orders": (q02_top_revenue_orders, Q02_SQL),
    "q03_top_customers_per_nation": (q03_top_customers_per_nation, Q03_SQL),
    "q04_part_text_filter": (q04_part_text_filter, Q04_SQL),
    "q52_filter_algebra": (q52_filter_algebra, Q52_SQL),
    "q05_pip_rect_join": (q05_pip_rect_join, Q05_SQL),
    "q06_pip_rect_agg": (q06_pip_rect_agg, Q06_SQL),
    "q07_distance_join_agg": (q07_distance_join_agg, Q07_SQL),
    "q54_polygon_join": (q54_polygon_join, _q54_sql()),
    "q55_image_polygon_join": (q55_image_polygon_join, _q55_sql()),
    "q56_bigbig_salted_join": (q56_bigbig_salted_join, _q56_sql()),
    "q302_skew_salted_join": (q302_skew_salted_join, _q302_sql()),
    "q303_skew_unsalted_join": (q303_skew_unsalted_join, _q302_sql()),
    "q58_polygon_polygon_join": (q58_polygon_polygon_join, _q58_sql()),
    "q65_polygon_bigbig_join": (q65_polygon_bigbig_join, _q65_sql()),
    "q57_geodesic_distance_join": (q57_geodesic_distance_join, _q57_sql()),
    "q60_knn_geodesic": (q60_knn_geodesic, _q60_sql()),
    "q88_trajectory_stats": (q88_trajectory_stats, _q88_body("epoch_us(ts)")),
    "q113_trajectory_resample": (q113_trajectory_resample, _q113_duck_sql()),
    "q117_trending_cells": (q117_trending_cells, _q117_duck_sql()),
    "q119_spatiotemporal_join": (q119_spatiotemporal_join, Q119_SQL),
    "q120_map_matching": (q120_map_matching, _q120_sql()),
    "q126_rasterize_polygons": (q126_rasterize_polygons, _q126_sql()),
    "q128_cost_distance": (q128_cost_distance, _q128_sql()),
    "q129_spatiotemporal_knn": (q129_spatiotemporal_knn, Q129_SQL),
    "q130_local_supplier_revenue": (q130_local_supplier_revenue, Q130_SQL),
    "q133_flow_accumulation": (q133_flow_accumulation, _q133_sql()),
    "q134_watershed_basins": (q134_watershed_basins, _q134_sql()),
    "q135_strahler_order": (q135_strahler_order, _q135_sql()),
    "q136_sessionization": (q136_sessionization, _Q136_SQL),
    "q144_stay_points": (q144_stay_points, _q144_sql("epoch_us(ts)")),
    "q145_od_transitions": (q145_od_transitions,
                            _q145_sql("epoch_us(ts)", "//")),
    "q147_kdop_hull_extremes": (q147_kdop_hull_extremes, _q147_sql("//")),
    "q149_heading_reversals": (q149_heading_reversals,
                               _q149_sql("epoch_us(ts)", "//")),
    "q153_cover_compaction": (q153_cover_compaction, _q153_sql()),
    "q154_viewshed_rays": (
        q154_viewshed_rays,
        _q154_sql("//", "SELECT unnest(generate_series(1, 63)) AS g")),
    "q157_semivariogram": (q157_semivariogram, _q157_sql()),
    "q158_cooccurrence_lift": (q158_cooccurrence_lift,
                               _q158_sql("epoch_us(ts)", "//")),
    "q159_exact_median": (q159_exact_median, _q159_sql("//")),
    "q160_decayed_counts": (q160_decayed_counts,
                            _q160_sql("epoch_us(ts)", "//")),
    "q161_poisson_anomaly": (q161_poisson_anomaly, _q161_sql("//")),
    "q162_stationary_visits": (q162_stationary_visits, _q162_sql()),
    "q163_triangle_clustering": (q163_triangle_clustering,
                                 _q163_sql("epoch_us(ts)", "//")),
    "q164_track_hausdorff": (q164_track_hausdorff, _q164_sql()),
    "q165_trimmed_mean": (q165_trimmed_mean, _q165_sql("//")),
    "q167_mad": (q167_mad, _q167_sql("//")),
    "q168_movement_rose": (q168_movement_rose, _q168_sql("epoch_us(ts)")),
    "q169_knox_statistic": (q169_knox_statistic,
                            _q169_sql("epoch_us(ts)", "//")),
    "q170_colocation_index": (q170_colocation_index, _q170_sql("//")),
    "q171_mobility_profile": (q171_mobility_profile, _q171_sql("//")),
    "q172_interevent_moments": (q172_interevent_moments,
                                _q172_sql("epoch_us(ts)", "//")),
    "q173_weekly_retention": (q173_weekly_retention,
                              _q173_sql("epoch_us(ts)", "//")),
    "q176_home_work_anchors": (q176_home_work_anchors,
                               _q176_sql("epoch_us(ts)", "//")),
    "q177_hourly_seasonality": (q177_hourly_seasonality,
                                _q177_sql("epoch_us(ts)", "//")),
    "q178_conversion_funnel": (q178_conversion_funnel,
                               _q178_sql("epoch_us(ts)", "//")),
    "q180_nearest_facility": (q180_nearest_facility, _q180_sql("//")),
    "q181_benford_audit": (q181_benford_audit, _q181_sql()),
    "q182_cusum_changepoint": (q182_cusum_changepoint,
                               _q182_sql("epoch_us(ts)", "//")),
    "q186_gravity_model": (q186_gravity_model,
                           _q186_sql("epoch_us(ts)", "//")),
    "q187_kcore": (q187_kcore, _q187_sql("epoch_us(ts)")),
    "q188_ripley_k": (q188_ripley_k, _q188_duck_sql()),
    "q211_segment_intersections": (q211_segment_intersections, _Q211_DUCK),
    "q190_path_interpolation": (q190_path_interpolation,
                                _q190_sql("epoch_us(ts)", "//")),
    "q192_theil_sen": (q192_theil_sen, _q192_duck_sql()),
    "q194_attribution": (q194_attribution, _q194_sql("epoch_us(ts)")),
    "q199_kanon_od": (q199_kanon_od, _q199_sql("epoch_us(ts)")),
    "q89_idw_interpolation": (q89_idw_interpolation, _q89_duck_sql()),
    "q90_change_detection": (q90_change_detection, _q90_sql()),
    "q93_spatial_autocorrelation": (q93_spatial_autocorrelation, _q93_duck_sql()),
    "q94_coverage_gaps": (q94_coverage_gaps, _q94_sql()),
    "q100_hotspots_gi": (q100_hotspots_gi, _q100_duck_sql()),
    "q102_emerging_hotspots": (q102_emerging_hotspots, _q102_body()),
    "q101_rect_overlay": (q101_rect_overlay, _q101_sql()),
    "q97_json_props_rollup": (
        q97_json_props_rollup,
        _q97_body("json_extract_string(props, '$.k')"),
    ),
    "q08_knn": (q08_knn, Q08_SQL),
    "q09_binned_agg": (q09_binned_agg, Q09_SQL),
    "q10_bbox_agg": (q10_bbox_agg, Q10_SQL),
}
QUERIES.update(RASTER_QUERIES)

from .queries_text import TEXT_QUERIES  # noqa: E402

QUERIES.update(TEXT_QUERIES)

from .queries_agg import AGG_QUERIES  # noqa: E402

QUERIES.update(AGG_QUERIES)

from .queries_sql import SQL_QUERIES  # noqa: E402

QUERIES.update(SQL_QUERIES)

from .queries_analytics import ANALYTICS_QUERIES  # noqa: E402

QUERIES.update(ANALYTICS_QUERIES)

from .queries_multimodal import MULTIMODAL_QUERIES  # noqa: E402

QUERIES.update(MULTIMODAL_QUERIES)

from .queries_lake import LAKE_QUERIES  # noqa: E402

QUERIES.update(LAKE_QUERIES)

from .queries_pipeline import PIPELINE_QUERIES  # noqa: E402

QUERIES.update(PIPELINE_QUERIES)

from .queries_security import SECURITY_QUERIES  # noqa: E402

QUERIES.update(SECURITY_QUERIES)

from .queries_osm import OSM_QUERIES  # noqa: E402

QUERIES.update(OSM_QUERIES)

from .queries_scenes import SCENE_QUERIES  # noqa: E402

QUERIES.update(SCENE_QUERIES)

from .queries_mobility import MOBILITY_QUERIES  # noqa: E402

QUERIES.update(MOBILITY_QUERIES)

from .queries_fleet import FLEET_QUERIES  # noqa: E402

QUERIES.update(FLEET_QUERIES)

from .queries_overlay import OVERLAY_QUERIES  # noqa: E402

QUERIES.update(OVERLAY_QUERIES)
