"""Polygon (non-rect) spatial join: tiered engine path vs brute-force crossJoin
oracle inside Spark (`GeoWaveSparkSpatialJoinIT.java:228-255` analog), plus
negative-join (subtractByKey) semantics."""

import contextlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowave_spark.geom import core as geom
from geowave_spark.index import cover as cov
from geowave_spark.join import spatial
from geowave_spark.table import geo


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    from geowave_spark.queries import register_views

    register_views(spark, sf_dir)
    return spark.sql(geo.lineitem_points_sql()).cache()


@pytest.fixture(scope="module")
def polys():
    out = {}
    for i in range(12):
        cx = ((i * 7919) % 340) - 170.0
        cy = ((i * 104729) % 160) - 80.0
        # mix of convex (hexagon) and concave (star) shapes, varied sizes
        if i % 3 == 0:
            ang = 2 * np.pi * np.arange(10) / 10
            r = np.where(np.arange(10) % 2 == 0, 6.0, 2.5)
            out[i] = np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], 1).ravel()
        else:
            out[i] = geom.regular_polygon(cx, cy, 2.0 + (i % 6), 6, phase=i)
    return out


def brute_pairs(spark, pts, polys):
    rows = pts.select("pid", "lon", "lat").toPandas()
    out = []
    for pid_, poly in polys.items():
        m = geom.point_in_polygon(rows["lon"].to_numpy(), rows["lat"].to_numpy(), poly)
        for p in rows["pid"].to_numpy()[m]:
            out.append((int(p), int(pid_)))
    return sorted(out)


@pytest.mark.parametrize("single_tier", [262_144, 0])
def test_polygon_join_matches_brute_force(spark, pts, polys, single_tier):
    """Both cover shapes (single-tier normalized / tiered fallback) must
    reproduce the brute-force pairs exactly."""
    got = spatial.point_in_polygon_join(
        spark, pts, polys, data_res=12, single_tier_cells=single_tier,
    ).toPandas()
    got_pairs = sorted(map(tuple, got[["pid", "poly_id"]].to_numpy().tolist()))
    exp_pairs = brute_pairs(spark, pts, polys)
    assert len(got_pairs) == len(exp_pairs)
    assert got_pairs == exp_pairs


def test_negative_join_complement(spark, pts, polys):
    pos = spatial.point_in_polygon_join(spark, pts, polys, data_res=12)
    neg = spatial.point_in_polygon_join(spark, pts, polys, data_res=12, negative=True)
    n_pos_pts = pos.select("pid").distinct().count()
    n_neg = neg.count()
    n_all = pts.select("pid").distinct().count()
    assert n_pos_pts + n_neg == n_all
    # disjointness
    assert pos.select("pid").distinct().join(neg, "pid").count() == 0


def test_salted_join_equals_unsalted(spark, pts):
    """The big-big salted cell join (explicit hot-cell skew split, north
    rule) must return exactly the broadcast join's pairs, and its physical
    plan must contain a real shuffle join keyed on (cell, salt)."""
    rects = pd.DataFrame({
        "rid": [1, 2, 3],
        "lon0": [-50.0, 100.0, -10.0], "lat0": [-20.0, 10.0, -45.0],
        "lon1": [0.0, 140.0, 35.0], "lat1": [30.0, 60.0, -5.0],
    })
    plain = spatial.point_in_rects_join(spark, pts, rects, res=8)
    salted = spatial.point_in_rects_join_salted(
        spark, pts, spark.createDataFrame(rects), res=8, salt_buckets=4
    )
    a = sorted(map(tuple, plain.toPandas()[["pid", "rid"]].to_numpy().tolist()))
    b = sorted(map(tuple, salted.toPandas()[["pid", "rid"]].to_numpy().tolist()))
    assert a == b and len(a) > 0
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "salt" in plan


def test_salted_join_splits_hot_cell(spark, pts):
    """Hot-cell skew demonstration: 30% of all points collapsed onto one
    location (a 'city' cell).  The salted join must (a) still produce the
    exact unsalted pairs and (b) spread the hot cell's candidate rows
    across all S salt buckets instead of one straggler task."""
    hot_lon, hot_lat = -25.0, 5.0
    skewed = pts.withColumn(
        "lon", F.when(F.col("pid") % 10 < 3, F.lit(hot_lon)).otherwise(F.col("lon"))
    ).withColumn(
        "lat", F.when(F.col("pid") % 10 < 3, F.lit(hot_lat)).otherwise(F.col("lat"))
    )
    rects = pd.DataFrame({
        "rid": [7],
        "lon0": [-50.0], "lat0": [-20.0], "lon1": [0.0], "lat1": [30.0],
    })
    S = 8
    plain = spatial.point_in_rects_join(spark, skewed, rects, res=8)
    salted = spatial.point_in_rects_join_salted(
        spark, skewed, rects, res=8, salt_buckets=S
    )
    a = sorted(map(tuple, plain.toPandas()[["pid", "rid"]].to_numpy().tolist()))
    b = sorted(map(tuple, salted.toPandas()[["pid", "rid"]].to_numpy().tolist()))
    assert a == b and len(a) > 0

    # every salt bucket of the hot cell carries ~1/S of its rows
    from geowave_spark.index import cover as cov
    from geowave_spark.sfc import grid
    import numpy as np

    hot_cell = int(grid.latlng_to_cell(
        np.asarray([hot_lon]), np.asarray([hot_lat]), 8)[0].astype("int64"))
    per_bucket = (
        cov.salted(cov.add_point_cells(skewed, "lon", "lat", 8), "pid", S)
        .filter(F.col("cell") == hot_cell)
        .groupBy("salt").count().toPandas()
    )
    assert len(per_bucket) == S
    assert per_bucket["count"].max() <= 1.3 * per_bucket["count"].mean()


def test_rect_join_anti_mode(spark, pts):
    rects = pd.DataFrame({
        "rid": [1, 2],
        "lon0": [-50.0, 100.0], "lat0": [-20.0, 10.0],
        "lon1": [0.0, 140.0], "lat1": [30.0, 60.0],
    })
    pos = spatial.point_in_rects_join(spark, pts, rects, res=8)
    neg = spatial.point_in_rects_join(spark, pts, rects, res=8, negative=True)
    assert pos.select("pid").distinct().count() + neg.count() == pts.count()


def test_raycast_flat_sql_bit_parity_mixed_nv(spark):
    """The codegen raycast (flat XOR chain over v0-padded vertex columns)
    must agree bit-for-bit with geom.point_in_polygon across polygons of
    MIXED vertex counts (3..17, convex/concave/star), including points on
    vertices — the padding path (true nv < max_nv) is exactly what a mixed
    polygon set exercises."""
    rng = np.random.RandomState(23)
    polys = {
        1: geom.regular_polygon(5, 5, 6.0, 3),
        2: geom.regular_polygon(-30, 10, 9.0, 17, phase=0.7),
        3: np.array([0, 0, 20, 0, 20, 20, 10, 6, 0, 20], dtype=float),  # concave
        4: np.stack([
            40 + np.where(np.arange(10) % 2 == 0, 8.0, 3.0) * np.cos(2 * np.pi * np.arange(10) / 10),
            -20 + np.where(np.arange(10) % 2 == 0, 8.0, 3.0) * np.sin(2 * np.pi * np.arange(10) / 10),
        ], 1).ravel(),  # star
    }
    max_nv = max(len(geom.poly_xy(p)[0]) for p in polys.values())
    n = 20000
    px = rng.uniform(-50, 60, n)
    py = rng.uniform(-40, 40, n)
    ids = np.array(sorted(polys))
    pid = ids[rng.randint(0, len(ids), n)]
    for k, p in polys.items():  # exact vertices hit boundary semantics
        vx, vy = geom.poly_xy(p)
        px[: len(vx)] = vx
        py[: len(vy)] = vy
        pid[: len(vx)] = k

    rows = {"lon": px, "lat": py, "poly_id": pid}
    for i in range(max_nv):
        vxc, vyc = [], []
        for p in pid:
            vx, vy = geom.poly_xy(polys[int(p)])
            vxc.append(vx[i] if i < len(vx) else vx[0])
            vyc.append(vy[i] if i < len(vy) else vy[0])
        rows[f"vx{i}"] = np.asarray(vxc)
        rows[f"vy{i}"] = np.asarray(vyc)
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = (
        df.selectExpr("lon", "lat", "poly_id",
                      spatial.raycast_flat_sql("lon", "lat", max_nv) + " AS inside")
        .toPandas()
    )
    exp = np.zeros(n, dtype=bool)
    for k, p in polys.items():
        m = pid == k
        exp[m] = geom.point_in_polygon(px[m], py[m], p)
    # align on the stable (lon, lat, poly_id) triple, not row order
    key = pd.DataFrame({"lon": px, "lat": py, "poly_id": pid, "exp": exp})
    merged = got.merge(key, on=["lon", "lat", "poly_id"], how="left")
    assert len(merged) == n
    assert (merged["inside"].to_numpy() == merged["exp"].to_numpy()).all()


@contextlib.contextmanager
def _no_broadcast(spark):
    """Spark's own no-broadcast switch: removes the broadcast tier of
    every size-chosen cover join."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _jobs_in(spark, group: str, fn):
    """(fn(), ids of the Spark jobs it started), via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_broadcast_cover_boundary(spark):
    """The one tier rule at its cap +-1 row: a known row count decides
    with no job, an unknown one with exactly one LIMIT count, and Spark's
    no-broadcast switch decides with none."""
    per_row = spatial._BROADCAST_CAP // 10  # cap = 10 rows
    q = spark.range(0, 11, 1, 1)
    ch = spatial._broadcast_cover
    got, jobs = _jobs_in(spark, "cover-known", lambda: (
        ch(spark, q, per_row, rows=10), ch(spark, q, per_row, rows=11)))
    assert got == (True, False) and jobs == []
    got, jobs = _jobs_in(spark, "cover-count", lambda: ch(spark, q, per_row))
    assert got is False and len(jobs) == 1
    assert ch(spark, q.limit(10), per_row) is True
    with _no_broadcast(spark):
        got, jobs = _jobs_in(spark, "cover-off", lambda: (
            ch(spark, q, per_row), ch(spark, q, per_row, rows=1)))
    assert got == (False, False) and jobs == []


def test_q07_plan_build_starts_no_job(spark, sf_dir):
    """q07 sizes its join tier from the customer footer: building its
    DataFrame starts no Spark job."""
    from geowave_spark.queries import QUERIES, register_views

    register_views(spark, sf_dir)
    fn, _ = QUERIES["q07_distance_join_agg"]
    _, jobs = _jobs_in(spark, "q07-plan", lambda: fn(spark, sf_dir))
    assert jobs == []


def test_within_distance_merge_equals_broadcast(spark, pts):
    """The sort-merge tier on the cell key (taken past the broadcast cap,
    forced here by Spark's no-broadcast switch) returns exactly the
    broadcast tier's pairs."""
    qs = pts.filter(F.col("pid") % 37 == 0).selectExpr(
        "pid AS qid", "lon", "lat")
    bc = spatial.within_distance_join(spark, pts, qs, radius=3.0, res=7)
    with _no_broadcast(spark):
        mg = spatial.within_distance_join(spark, pts, qs, radius=3.0, res=7)
        plan = mg._jdf.queryExecution().executedPlan().toString()
    a = sorted(map(tuple, bc.toPandas()[["pid", "qid"]].to_numpy().tolist()))
    b = sorted(map(tuple, mg.toPandas()[["pid", "qid"]].to_numpy().tolist()))
    assert a == b and len(a) > 0
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan


def test_knn_shuffle_equals_broadcast(spark, pts):
    from geowave_spark.knn import knn as knn_mod

    qs = pts.filter(F.col("pid") % 101 == 0).selectExpr(
        "pid AS qid", "lon", "lat")
    bc = knn_mod.knn_join(spark, pts, qs, k=3, res=5)
    cols = ["qid", "pid", "rank"]
    a = sorted(map(tuple, bc.toPandas()[cols].to_numpy().tolist()))
    # knn_join persists its rounds, and a cached round would serve the
    # same query again whatever its join hint
    spark.catalog.clearCache()
    pts.cache()
    with _no_broadcast(spark):
        sh = knn_mod.knn_join(spark, pts, qs, k=3, res=5)
        b = sorted(map(tuple, sh.toPandas()[cols].to_numpy().tolist()))
        plan = sh._jdf.queryExecution().executedPlan().toString()
    assert a == b and len(a) > 0
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan and "ShuffledHashJoin" not in plan


def test_polygon_polygon_join_matches_numpy(spark):
    """The codegen intersects predicate must agree with the full numpy
    kernel (polygons_intersect: vertex containment + proper AND improper
    crossings) on the synthesized geometry sets — validating the
    generic-position assumption of `poly_intersect_pred_sql`."""
    import numpy as np

    from geowave_spark.geom import core as geom
    from geowave_spark.queries import _flagship_polys
    from geowave_spark.table.geo import HEX_OFFSETS as _HEX_OFFSETS

    rng = np.random.default_rng(11)
    rows = []
    hexes = {}
    for i in range(120):
        cx = float(rng.uniform(-170, 170))
        cy = float(rng.uniform(-80, 80))
        s = float(1 + i % 4) * 0.7
        verts = [(cx + ox * s, cy + oy * s) for ox, oy in _HEX_OFFSETS]
        hexes[i] = np.asarray(verts).ravel()
        row = {"aid": i}
        for k, (x, y) in enumerate(verts):
            row[f"vx{k}"] = x
            row[f"vy{k}"] = y
        rows.append(row)
    a_df = spark.createDataFrame(pd.DataFrame(rows))
    polys_b = _flagship_polys()
    got = spatial.polygon_polygon_join(spark, a_df, polys_b, res=6)
    got_pairs = sorted(map(tuple, got.toPandas()[["aid", "bid"]].to_numpy().tolist()))
    exp = sorted(
        (a, b)
        for a, ha in hexes.items()
        for b, gb in polys_b.items()
        if geom.polygons_intersect(ha, gb)
    )
    assert got_pairs == exp and len(exp) > 0


def test_geodesic_join_matches_numpy_including_poles(spark, pts):
    """Geodesic within-distance join vs brute-force numpy haversine,
    with query points at extreme latitudes (lon rings must widen /
    full-wrap near the poles or pairs are lost)."""
    import numpy as np

    from geowave_spark.geom import core as geom

    qs = spark.createDataFrame(pd.DataFrame({
        "qid": [0, 1, 2, 3],
        "lon": [0.0, 120.0, -60.0, 10.0],
        "lat": [0.0, 87.5, -45.0, -88.0],
    }))
    r_km = 1500.0
    got = spatial.within_distance_join_geodesic(
        spark, pts, qs, radius_km=r_km, res=6)
    got_pairs = sorted(map(tuple, got.toPandas()[["pid", "qid"]].to_numpy().tolist()))
    p = pts.toPandas()
    q = qs.toPandas()
    exp = []
    for _, qr in q.iterrows():
        d = geom.haversine_km(p["lon"], p["lat"], qr["lon"], qr["lat"])
        exp.extend((int(pid), int(qr["qid"])) for pid in p.loc[d <= r_km, "pid"])
    assert got_pairs == sorted(exp) and len(exp) > 0


def test_query_side_auto_selection(spark, pts):
    """`_broadcast_cover`: a small query set broadcasts its cover; under
    Spark's no-broadcast switch the same call sort-merges on the cell,
    results identical."""
    q = spark.createDataFrame(
        [(i, float(i * 7 % 60) - 30.0, float(i * 11 % 40) - 20.0)
         for i in range(20)],
        "qid long, lon double, lat double")

    def pairs(df):
        return sorted(map(tuple, df.toPandas()[["pid", "qid"]]
                          .to_numpy().tolist()))

    auto = spatial.within_distance_join(spark, pts, q, 2.0, res=8)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "salt" not in plan

    with _no_broadcast(spark):
        forced = spatial.within_distance_join(spark, pts, q, 2.0, res=8)
        plan_f = forced._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan_f
        assert pairs(auto) == pairs(forced) and len(pairs(auto)) > 0


def test_polygon_polygon_bigbig_equals_broadcast(spark):
    """Both-sides-DataFrame polygon join (salted cells, id-join refine)
    returns exactly the broadcast-path pairs; the candidate join is a
    ShuffledHashJoin with no LocalTableScan on either cover."""
    import numpy as np

    rnd = np.random.default_rng(11)
    def hexagon(cx, cy, s):
        ang = np.linspace(0, 2 * np.pi, 7)[:6]
        return np.c_[cx + s * np.cos(ang), cy + s * np.sin(ang)]

    a_rows, b_rows, b_dict = [], [], {}
    for i in range(60):
        h = hexagon(rnd.uniform(-30, 30), rnd.uniform(-20, 20),
                    rnd.uniform(0.5, 3.0))
        a_rows.append([i] + [float(v) for xy in h for v in xy])
    for j in range(25):
        h = hexagon(rnd.uniform(-30, 30), rnd.uniform(-20, 20),
                    rnd.uniform(0.5, 3.0))
        b_rows.append([j] + [float(v) for xy in h for v in xy])
        b_dict[j] = h
    cols = [c for i in range(6) for c in (f"vx{i}", f"vy{i}")]
    # row layout is (id, x0, y0, x1, y1, ...) -> schema interleaves
    schema_a = "aid long, " + ", ".join(
        f"vx{i} double, vy{i} double" for i in range(6))
    schema_b = "bid long, " + ", ".join(
        f"vx{i} double, vy{i} double" for i in range(6))
    a_df = spark.createDataFrame(a_rows, schema_a)
    b_df = spark.createDataFrame(b_rows, schema_b)

    def pairs(df):
        return sorted(map(tuple, df.toPandas()[["aid", "bid"]]
                          .to_numpy().tolist()))

    bc = spatial.polygon_polygon_join(spark, a_df, b_dict, ka=6, res=6)
    bb = spatial.polygon_polygon_join_bigbig(spark, a_df, b_df,
                                             ka=6, kb=6, res=6)
    assert pairs(bc) == pairs(bb) and len(pairs(bb)) > 0

    plan = bb._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "LocalTableScan" not in plan


def test_spatiotemporal_join_paths_match_brute_force(spark):
    """Composite (cell, tbin) key join: the broadcast and sort-merge tiers
    both reproduce the brute-force bbox x BETWEEN pairs.  sf0.01 tables: the
    sf0.001 fixture's 1000 events have zero window hits."""
    sf01 = "/root/testdata/sf0.01"
    pts = spark.sql(geo.events_points_ts_sql(sf01, dialect="spark")).cache()
    wins = spark.sql(geo.supplier_windows_sql(sf01)).cache()

    exp = (
        pts.crossJoin(wins)
        .filter(
            "lon BETWEEN lon0 AND lon1 AND lat BETWEEN lat0 AND lat1 "
            "AND tsec BETWEEN t0 AND t1")
        .select("eid", "wid").toPandas()
    )
    exp_pairs = sorted(map(tuple, exp.to_numpy().tolist()))
    assert exp_pairs, "fixture degenerate: no spatiotemporal matches"

    def pairs():
        got = spatial.spatiotemporal_window_join(
            spark, pts, wins, pid_col="eid", ts="tsec", wid_col="wid", res=7)
        plan = got._jdf.queryExecution().executedPlan().toString()
        return sorted(map(tuple, got.toPandas().to_numpy().tolist())), plan

    got_pairs, plan = pairs()
    assert got_pairs == exp_pairs and "BroadcastHashJoin" in plan
    with _no_broadcast(spark):
        got_pairs, plan = pairs()
    assert got_pairs == exp_pairs and "SortMergeJoin" in plan


def test_snap_to_segments_matches_brute_force(spark, sf_dir):
    """Map matching (nearest segment within radius) equals the in-Spark
    brute-force crossJoin argmin."""
    from geowave_spark.queries import register_views

    register_views(spark, sf_dir)
    pts = spark.sql(
        f"SELECT event_id AS eid, {geo.lon_sql('event_id')} AS lon, "
        f"{geo.lat_sql('event_id')} AS lat FROM events WHERE user_id % 20 <> 0"
    ).cache()
    segs = spark.sql(geo.track_segments_sql()).cache()
    d2 = spatial.seg_dist2_sql("lon", "lat", "ax", "ay", "bx", "by")
    exp = (
        pts.crossJoin(segs)
        .filter(F.expr(f"{d2} <= 9.0"))
        .groupBy("eid")
        .agg(F.min(F.expr(
            f"cast(floor(({d2}) * 1000000e0) as bigint) * 68719476736 + sid"
        )).alias("enc"))
        .selectExpr("eid", "enc % 68719476736 AS sid",
                    "enc div 68719476736 AS d2_micro")
        .toPandas()
    )
    exp_rows = sorted(map(tuple, exp.to_numpy().tolist()))
    assert exp_rows, "fixture degenerate: no snap matches"
    got = spatial.snap_to_segments(
        spark, pts, segs, 3.0, pid_col="eid", res=6).toPandas()
    assert sorted(map(tuple, got.to_numpy().tolist())) == exp_rows


def test_spatiotemporal_knn_matches_brute_force(spark):
    """Bounded spatiotemporal kNN == in-Spark brute-force crossJoin rank.
    sf0.01 (the sf0.001 fixture is too sparse)."""
    sf01 = "/root/testdata/sf0.01"
    pts = spark.sql(
        f"SELECT eid AS pid, lon, lat, tsec FROM "
        f"({geo.events_points_ts_sql(sf01, dialect='spark')}) e").cache()
    q = spark.sql(
        f"SELECT cid, lon AS qlon, lat AS qlat, "
        f"cast(1704067200 + (cid % 28) * 86400 + (cid % 24) * 3600 as bigint)"
        f" AS qsec FROM ({geo.customer_points_sql(sf01)}) c WHERE cid % 5 = 0"
    ).cache()
    d2 = "((qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat))"
    exp = (
        pts.crossJoin(q)
        .filter(F.expr(f"{d2} <= 36.0 AND abs(tsec - qsec) <= 172800"))
        .withColumn("d2p", F.expr(f"cast(floor({d2} * 1e10) as bigint)"))
        .withColumn("rank", F.expr(
            "row_number() OVER (PARTITION BY cid ORDER BY d2p, pid)"))
        .filter("rank <= 3").select("cid", "rank", "pid", "d2p")
        .toPandas()
    )
    exp_rows = sorted(map(tuple, exp.to_numpy().tolist()))
    assert exp_rows, "fixture degenerate"
    got = spatial.spatiotemporal_knn(
        spark, pts,
        q.selectExpr("cid", "qlon AS lon", "qlat AS lat", "qsec"),
        k=3, radius=6.0, lag_s=172_800, qid_col="cid", res=5,
    ).toPandas()
    assert sorted(map(tuple, got.to_numpy().tolist())) == exp_rows


# --- per-cell edge lists: exactness at cell and domain edges ---------------

_RES = 8  # data resolution of the edge-list exactness cases
_W, _H = 360.0 / (1 << _RES), 180.0 / (1 << _RES)  # cell size at _RES


def _edge_case_polys():
    """Polygons whose refine depends on the per-cell edge windows."""
    g = lambda i, j: (-180.0 + i * _W, -90.0 + j * _H)  # noqa: E731  grid node
    notch = [g(140, 140), g(150, 140), g(150, 150), g(145, 145), g(140, 150)]
    return {
        # left vertex 1e-16 north of the lat-0 grid line: points there
        # encode into the row below, so only the margin keeps the edge
        # leaving that vertex upward in their cell's list
        1: np.array([10.0, 1e-16, 13.0, -5.0, 16.0, 0.0, 13.0, 5.0]),
        # every vertex on a grid line, with a notch
        2: np.array(notch).ravel(),
        # square with a hole, and a two-triangle MultiPolygon
        3: [np.array([-40.0, -40.0, -20.0, -40.0, -20.0, -20.0, -40.0, -20.0]),
            np.array([-35.0, -35.0, -25.0, -35.0, -30.0, -25.0])],
        4: [np.array([-60.0, 40.0, -52.0, 40.0, -56.0, 47.0]),
            np.array([-60.0, 60.0, -52.0, 60.0, -56.0, 67.0])],
        # touching the domain edge: the north-east corner, and the
        # antimeridian on the west
        5: np.array([170.0, 60.0, 180.0, 60.0, 180.0, 90.0, 170.0, 90.0]),
        6: np.array([-180.0, -10.0, -170.0, 0.0, -180.0, 10.0]),
        # reaching past the domain edge: the encoder clamps points beyond
        # it into border cells, so border windows must stay open there
        7: np.array([-190.0, 20.0, -170.0, 20.0, -170.0, 30.0, -190.0, 30.0]),
        8: np.array([0.0, 80.0, 10.0, 80.0, 10.0, 100.0, 5.0, 95.0, 0.0, 100.0]),
        9: np.array([20.0, 70.0, 40.0, 70.0, 40.0, 100.0, 20.0, 100.0]),
        10: np.array([-20.0, -100.0, 0.0, -100.0, -10.0, -80.0]),
        # same tier as 9 on the tiered path; its notch leaves a west
        # boundary cell three end-point tests, so the tier's lists are
        # padded to an odd length: a pad that tested true at lat = +inf
        # would put every +inf point in 9's top-row cells inside 9
        11: np.array([-100.0, 0.0, -80.0, 0.0, -80.0, 13.0, -95.0, 13.5,
                      -80.0, 14.0, -80.0, 30.0, -100.0, 30.0]),
        # lowest edge 1e-16 north of the lat-0 grid line: points on it
        # encode into the row below, which the cover must keep
        12: np.array([60.0, 1e-16, 70.0, 1e-16, 70.0, 5.0, 60.0, 5.0]),
    }


def _edge_case_points(polys) -> pd.DataFrame:
    """Grid-line and grid-corner points over every polygon's bbox, each
    polygon vertex, all of them nudged by one ulp, plus named points,
    some of them non-finite."""
    xs, ys = [], []
    for g in polys.values():
        x0, y0, x1, y1 = geom.poly_bbox(g)
        gx = -180.0 + _W * np.arange(np.floor((x0 + 180.0) / _W) - 1,
                                     np.ceil((x1 + 180.0) / _W) + 2)
        gy = -90.0 + _H * np.arange(np.floor((y0 + 90.0) / _H) - 1,
                                    np.ceil((y1 + 90.0) / _H) + 2)
        gx = np.concatenate((gx, gx + _W / 2))
        gy = np.concatenate((gy, gy + _H / 2))
        mx, my = np.meshgrid(gx, gy)
        xs.append(mx.ravel())
        ys.append(my.ravel())
        for r in geom.as_rings(g):
            xs.append(r[:, 0])
            ys.append(r[:, 1])
    named = np.array([
        (10.0 - 1e-6, 1e-16), (10.0 - 1e-6, 0.0), (12.0, 1e-16),
        (-195.0, 25.0), (-185.0, 25.0), (-175.0, 25.0), (-200.0, 0.0),
        (4.0, 97.0), (2.0, 97.0), (30.0, 105.0), (30.0, 95.0),
        (175.0, 95.0), (185.0, 75.0), (-10.0, -95.0), (-10.0, -105.0),
        (-30.0, -30.0), (-38.0, -38.0), (-56.0, 42.0), (-56.0, 62.0),
        (65.0, 1e-16),
        # non-finite coordinates are inside no polygon
        (np.nan, 25.0), (-175.0, np.nan), (np.inf, 75.0), (30.0, np.inf),
        (22.0, np.inf), (38.0, np.inf), (-np.inf, 25.0), (30.0, -np.inf),
    ])
    x = np.concatenate(xs + [named[:, 0]])
    y = np.concatenate(ys + [named[:, 1]])
    x = np.concatenate((x, np.nextafter(x, np.inf), np.nextafter(x, -np.inf),
                        x, x))
    y = np.concatenate((y, y, y, np.nextafter(y, np.inf),
                        np.nextafter(y, -np.inf)))
    return pd.DataFrame({"pid": np.arange(len(x), dtype=np.int64),
                         "lon": x, "lat": y})


@pytest.fixture(scope="module")
def edge_case(spark):
    polys = _edge_case_polys()
    pdf = _edge_case_points(polys)
    want = sorted(
        (int(p), int(q)) for q, g in polys.items()
        for p in pdf["pid"].to_numpy()[geom.point_in_rings(pdf["lon"], pdf["lat"], g)])
    return polys, pdf, spark.createDataFrame(pdf).cache(), want


@pytest.mark.parametrize("single_tier", [262_144, 0])
def test_edge_lists_exact_at_cell_and_domain_edges(spark, edge_case, single_tier):
    """The per-cell edge lists keep the join bit-identical to
    `geom.point_in_rings` for points on cell edges and corners, polygon
    vertices on grid lines, holes and MultiPolygons, polygons touching or
    crossing +-180/+-90, out-of-domain points clamped into border cells
    and non-finite points -- on the single-tier and the tiered path, and
    in anti mode."""
    polys, pdf, pts, want = edge_case
    got = spatial.point_in_polygon_join(
        spark, pts, polys, data_res=_RES, single_tier_cells=single_tier)
    assert sorted(map(tuple, got.toPandas()[["pid", "poly_id"]]
                      .to_numpy().tolist())) == want
    neg = spatial.point_in_polygon_join(
        spark, pts, polys, data_res=_RES, single_tier_cells=single_tier,
        negative=True)
    assert sorted(neg.toPandas()["pid"]) == sorted(
        set(pdf["pid"]) - {p for p, _ in want})
    # the cases reach the paths they are here for
    assert {1, 7, 8, 9, 11, 12} <= {q for _, q in want}
    if not single_tier:
        tiers = cov.polygon_cover({q: polys[q] for q in (9, 11)},
                                  curve="rowmajor")["res"]
        assert tiers.nunique() == 1
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert ("Union" in plan) == (not single_tier)  # tiered: one join per tier
