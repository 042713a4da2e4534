"""Physical-plan regression guards: the engine's contract is not just the
result but the SHAPE of the plan — broadcast joins for candidate covers,
filter pushdown into scans, no stray sort-merge joins or cartesian
products on the hot paths (SURVEY.md §4)."""

import pytest

from geowave_spark.queries import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    fn, _ = QUERIES[name]
    return fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_pip_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q05_pip_rect_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # cell encode is the closed-form row-major expression: the rect join is
    # 100% JVM — zero Python nodes anywhere in the plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_polygon_join_has_no_shuffle(spark, sf_dir):
    """The polygon cover join must be broadcast + refine ONLY: pairs are
    unique by construction (one tier per polygon, disjoint cells), so any
    Exchange in the plan means a dedup or repartition crept back in."""
    from pyspark.sql import functions as F

    from geowave_spark.geom import core as geom
    from geowave_spark.join import spatial

    pts = spark.range(0, 1000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 360 - 180.0).alias("lon"),
        (F.col("id") % 180 - 90.0).alias("lat"),
    )
    polys = {i: geom.regular_polygon(i * 10.0 - 120, i * 5.0 - 30, 3.0, 8)
             for i in range(5)}
    df = spatial.point_in_polygon_join(spark, pts, polys, data_res=7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    # parity: results equal the brute-force pairs
    got = df.toPandas().sort_values(["pid", "poly_id"]).reset_index(drop=True)
    pd_pts = pts.toPandas()
    exp = []
    for p, poly in polys.items():
        m = geom.point_in_polygon(pd_pts["lon"].to_numpy(), pd_pts["lat"].to_numpy(), poly)
        exp.extend((int(pid), int(p)) for pid in pd_pts.loc[m, "pid"])
    exp = sorted(exp)
    assert list(map(tuple, got[["pid", "poly_id"]].to_numpy())) == exp
    assert len(got) == len(set(map(tuple, got[["pid", "poly_id"]].to_numpy())))


def test_polygon_join_jvm_refine_has_no_python(spark, sf_dir):
    """The codegen raycast refine keeps the ENTIRE join JVM-side: no
    ArrowEvalPython / BatchEvalPython nodes anywhere in the physical plan."""
    from pyspark.sql import functions as F

    from geowave_spark.geom import core as geom
    from geowave_spark.join import spatial

    pts = spark.range(0, 1000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 360 - 180.0).alias("lon"),
        (F.col("id") % 180 - 90.0).alias("lat"),
    )
    polys = {i: geom.regular_polygon(i * 10.0 - 120, i * 5.0 - 30, 3.0, 8)
             for i in range(5)}
    df = spatial.point_in_polygon_join(spark, pts, polys, data_res=7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_polygon_join_of_48_gons_stays_in_codegen(spark):
    """With 48-gons every BroadcastHashJoin in the final adaptive plan sits
    inside whole-stage codegen (``*(n)``).  The edges ride one array
    column, so the broadcast row does not widen with the vertex count; a
    join whose row passes spark.sql.codegen.maxFields (100) columns drops
    out of codegen and runs interpreted."""
    import re

    from pyspark.sql import functions as F

    from geowave_spark.geom import core as geom
    from geowave_spark.join import spatial

    pts = spark.range(0, 1000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 360 - 180.0).alias("lon"),
        (F.col("id") % 180 - 90.0).alias("lat"),
    )
    polys = {i: geom.regular_polygon(i * 10.0 - 120, i * 5.0 - 30, 3.0, 48)
             for i in range(5)}
    df = spatial.point_in_polygon_join(spark, pts, polys, data_res=7)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    joins = [ln for ln in final.splitlines() if "BroadcastHashJoin" in ln]
    assert joins
    assert all(re.search(r"\*\(\d+\) BroadcastHashJoin", ln) for ln in joins), plan


def test_distance_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q07_distance_join_agg")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kde_is_jvm_only(spark, sf_dir):
    """The KDE splat must stay inside whole-stage codegen — no Python."""
    plan = _plan(spark, sf_dir, "q24_kde_heatmap")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    # map-side partial aggregation of the splat weights
    assert "partial_sum" in plan


def test_binned_agg_partial_aggregation(spark, sf_dir):
    """groupBy must partial-aggregate map-side (two HashAggregate phases)."""
    plan = _plan(spark, sf_dir, "q09_binned_agg")
    assert plan.count("HashAggregate") >= 2
    assert "ArrowEvalPython" not in plan


def test_scan_filter_pushdown(spark, sf_dir):
    """q01's shipdate filter must reach the parquet scan."""
    plan = _plan(spark, sf_dir, "q01_pricing_summary")
    assert "PushedFilters: [" in plan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_tile_plan_is_jvm_only(spark, sf_dir):
    """q11 must run the closed-form plan path: zero Python nodes, full
    whole-stage codegen, and column pruning down to the documents scan
    (doc_id only — pixels are never synthesized for a plan)."""
    plan = _plan(spark, sf_dir, "q11_tile_assign_plan")
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "ReadSchema: struct<doc_id:bigint>" in plan


def test_q12_mosaic_is_one_python_stage(spark, sf_dir):
    """q12's mosaic is ONE Python stage: tile assignment is the JVM-only
    cover explode, so above the image table's own synthesis
    (`images_df`'s mapInPandas, whose output carries ``phash``) the plan
    has exactly one MapInPandas (the merge), and the only Exchange below it
    is the hashpartitioning(res, tile_id) shuffle."""
    lines = _plan(spark, sf_dir, "q12_tile_merge_counts").splitlines()
    synth = [i for i, ln in enumerate(lines) if "MapInPandas" in ln and "phash#" in ln]
    assert len(synth) == 1, lines
    above = lines[: synth[0]]
    py = [i for i, ln in enumerate(above) if "MapInPandas" in ln]
    assert len(py) == 1, above
    assert not any("ArrowEvalPython" in ln or "BatchEvalPython" in ln for ln in lines)
    exch = [ln.strip() for ln in above[py[0]:] if "Exchange" in ln]
    assert len(exch) == 1, exch
    assert "hashpartitioning(res#" in exch[0] and ", tile_id#" in exch[0], exch


def test_salted_join_shuffles_on_salt(spark, sf_dir):
    """The salted big-big join must actually hash-partition on the salted
    key (explicit skew split), not broadcast."""
    import pandas as pd

    from geowave_spark.join import spatial
    from geowave_spark.table import geo
    from geowave_spark.table.views import register_views

    register_views(spark, sf_dir)
    pts = spark.sql(geo.lineitem_points_sql())
    rects = pd.DataFrame({
        "rid": [1], "lon0": [-50.0], "lat0": [-20.0],
        "lon1": [0.0], "lat1": [30.0],
    })
    df = spatial.point_in_rects_join_salted(
        spark, pts, rects, res=8, salt_buckets=4
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(cell" in plan and "salt" in plan
    assert "CartesianProduct" not in plan


def test_text_prefix_pushdown(spark, sf_dir):
    """Text-index analog (reference `core/index/.../text/*`): a begins-with
    predicate must be pushed into the parquet scan as StringStartsWith, with
    column pruning to the referenced columns only — the scan-side pruning
    that replaces the reference's dedicated n-gram term index."""
    from geowave_spark.table.views import register_views

    register_views(spark, sf_dir)
    plan = (
        spark.table("documents")
        .filter("text like 'the %'")
        .select("doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "StringStartsWith(text" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_no_per_row_python_anywhere(spark, sf_dir):
    """input_hint mandate: vectorized pandas/Arrow UDFs only — a
    BatchEvalPython node (row-at-a-time Python UDF) is a defect."""
    for name in ("q05_pip_rect_join", "q07_distance_join_agg", "q08_knn",
                 "q11_tile_assign_plan", "q16_minhash_lsh_pairs"):
        assert "BatchEvalPython" not in _plan(spark, sf_dir, name), name


def test_bigbig_salted_join_plan(spark, sf_dir):
    """q56's contract: neither side broadcast or collected.  The plan must
    show a ShuffledHashJoin on the salted candidate key, a distributed
    (Arrow UDF) cover on the rect side, and NO LocalTableScan (which would
    mean a driver-side cover build)."""
    plan = _plan(spark, sf_dir, "q56_bigbig_salted_join")
    assert "ShuffledHashJoin" in plan
    assert "LocalTableScan" not in plan
    assert "CartesianProduct" not in plan
    # the candidate join itself must not be broadcast: the only allowed
    # broadcast is none at all in this plan
    assert "BroadcastHashJoin" not in plan


def test_polygon_polygon_join_plan(spark, sf_dir):
    """q58: the only Python in the plan is the side-A cover UDF; the
    refine is codegen SQL inside a broadcast join; candidate dedup is the
    single allowed exchange."""
    plan = _plan(spark, sf_dir, "q58_polygon_polygon_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # every union branch re-lists the (cached) candidate subtree, so the
    # cover UDF appears once per refine chunk pre-materialization; the
    # persist() guarantees it executes once.  One chunk would mean the
    # predicate regressed to a single >64KB-method expression.
    from geowave_spark.join import spatial as spatial_mod
    from geowave_spark.queries import _flagship_polys
    from geowave_spark.geom import core as geom_core

    ne_b = max(len(geom_core.rings_edges(v)[0])
               for v in _flagship_polys().values())
    n_chunks = len(spatial_mod.chunk_terms_sql(
        spatial_mod.poly_intersect_terms_sql(6, ne_b)))
    assert n_chunks > 1
    assert plan.count("ArrowEvalPython") == n_chunks
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_polygon_polygon_join_compiles(spark, sf_dir):
    """q58's refine predicate must stay within janino's 64 KB per-method
    limit (the single-expression form silently fell back to interpreted
    evaluation — the chunked conditions of `chunk_terms_sql` must not
    regress).  codegen.fallback=false turns any compile failure fatal."""
    from geowave_spark.queries import q58_polygon_polygon_join

    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert q58_polygon_polygon_join(spark, sf_dir).count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", "true")


def test_sql_spatial_join_rewrite_replaces_cartesian(spark, sf_dir):
    """q59: a Geom* predicate joining two views.  Unoptimized, the UDF is
    the only join condition -> Spark plans a nested-loop cartesian.  The
    rewrite must re-plug a cell equi-join (hash join) ahead of the UDF."""
    from geowave_spark.plans import sqlrewrite
    from geowave_spark.table import geo
    from geowave_spark.table.views import register_views

    register_views(spark, sf_dir)
    spark.sql(geo.lineitem_points_sql()).createOrReplaceTempView("gw_pts")
    (
        spark.sql(geo.customer_points_sql())
        .filter("cid % 23 = 0")
        .withColumnRenamed("cid", "qid")
        .createOrReplaceTempView("gw_qrs")
    )
    sql = """
        SELECT q.qid, cast(count(*) as bigint) AS n_within
        FROM gw_pts p JOIN gw_qrs q
          ON GeomWithinDistance(GeomPoint(p.lon, p.lat),
                                GeomPoint(q.lon, q.lat), 2.5)
        GROUP BY q.qid ORDER BY qid
    """
    slow = sqlrewrite.spatial_sql(spark, sql, optimize=False)
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert ("BroadcastNestedLoopJoin" in slow_plan
            or "CartesianProduct" in slow_plan)
    fast = sqlrewrite.spatial_sql(spark, sql, optimize=True, join_res=7)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in fast_plan
    assert "CartesianProduct" not in fast_plan
    assert "HashJoin" in fast_plan  # broadcast or shuffled — an equi-join
    # identical results
    a = sorted(map(tuple, slow.toPandas().to_numpy().tolist()))
    b = sorted(map(tuple, fast.toPandas().to_numpy().tolist()))
    assert a == b and len(a) > 0


def test_sql_pip_join_rewrite(spark, sf_dir):
    """q66: point-in-polygon JOIN where the polygon is a WKT COLUMN of
    the second view.  Unoptimized, the Geom* UDF is the only join
    condition -> nested-loop cartesian; `rewrite_pip_join` must re-plug a
    cell hash equi-join (WKT bbox cover exploded on the zone side)."""
    from geowave_spark.plans import sqlrewrite
    from geowave_spark.queries_sql import _hex_wkt_view_sql
    from geowave_spark.table import geo
    from geowave_spark.table.views import register_views

    register_views(spark, sf_dir)
    spark.sql(geo.lineitem_points_sql()).createOrReplaceTempView("gw_pts3")
    spark.sql(_hex_wkt_view_sql()).createOrReplaceTempView("gw_zones")
    sql = """
        SELECT z.aid, cast(count(*) as bigint) AS n_points
        FROM gw_pts3 p JOIN gw_zones z
          ON GeomContains(z.geom, GeomPoint(p.lon, p.lat))
        GROUP BY z.aid ORDER BY aid
    """
    slow = sqlrewrite.spatial_sql(spark, sql, optimize=False)
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert ("BroadcastNestedLoopJoin" in slow_plan
            or "CartesianProduct" in slow_plan)
    fast = sqlrewrite.spatial_sql(spark, sql, optimize=True, join_res=7)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in fast_plan
    assert "CartesianProduct" not in fast_plan
    assert "HashJoin" in fast_plan
    a = sorted(map(tuple, slow.toPandas().to_numpy().tolist()))
    b = sorted(map(tuple, fast.toPandas().to_numpy().tolist()))
    assert a == b and len(a) > 0

    # GeomIntersects argument order matches the same rewrite
    sql2 = """
        SELECT z.aid, cast(count(*) as bigint) AS n_points
        FROM gw_pts3 p JOIN gw_zones z
          ON GeomIntersects(GeomPoint(p.lon, p.lat), z.geom)
        GROUP BY z.aid ORDER BY aid
    """
    fast2 = sqlrewrite.spatial_sql(spark, sql2, optimize=True, join_res=7)
    plan2 = fast2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan2
    assert "CartesianProduct" not in plan2


def test_q87_zonal_stats_pixels_never_shuffle(spark, sf_dir):
    """Pixels stay inside the narrow MapInPandas: the only Exchanges in
    the plan sit ABOVE the pandas stage (the 3-scalar rollup), and the
    candidate join is a broadcast, not a shuffle join."""
    from geowave_spark.queries_raster import RASTER_QUERIES

    plan = (RASTER_QUERIES["q87_zonal_stats"][0](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # the MapInPandas stage consumes the join directly — no Exchange between
    body = plan[plan.index("MapInPandas"):]
    assert "Broadcast" in body  # join below the pandas stage
    head = plan[: plan.index("MapInPandas")]
    assert "Exchange hashpartitioning" in head  # the rollup above it


def test_q88_trajectory_single_hash_exchange(spark, sf_dir):
    """Window and aggregate share ONE user_id hash partitioning; the only
    other Exchange is the final presentation sort."""
    plan = _plan(spark, sf_dir, "q88_trajectory_stats")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_q89_idw_zero_joins(spark, sf_dir):
    """IDW is splat-shaped: no join operator of any kind, one hash
    aggregate exchange, pure codegen."""
    plan = _plan(spark, sf_dir, "q89_idw_interpolation")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct", "BroadcastNestedLoopJoin",
               "ArrowEvalPython", "BatchEvalPython"):
        assert op not in plan, op
    assert plan.count("Exchange hashpartitioning") == 1


def test_q90_change_detection_single_pass(spark, sf_dir):
    """Before/after deltas come from ONE conditional aggregation: no join
    of two period scans, a single parquet scan in the plan."""
    plan = _plan(spark, sf_dir, "q90_change_detection")
    assert plan.count("Scan parquet") == 1
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, op


def test_q98_focal_halo_exchange_shape(spark, sf_dir):
    """Focal op: exactly ONE hash Exchange (the tile-key halo gather) feeds
    a streaming MapInPandas over sorted complete groups (NOT per-group
    FlatMapGroupsInPandas — a group is one 16x16 tile, so per-group Arrow
    overhead dominates); no join operator anywhere (the halo arrives via
    union, not a join), so pixel data only moves as tile+strip rows."""
    plan = _plan(spark, sf_dir, "q98_focal_mean")
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct"):
        assert op not in plan, op


def test_q101_overlay_no_dedup_shuffle(spark, sf_dir):
    """Overlay join: SW-corner ownership replaces dropDuplicates — no
    aggregate/dedup node above the join, both covers are Arrow UDFs (no
    driver-side LocalTableScan), single equi-join."""
    plan = _plan(spark, sf_dir, "q101_rect_overlay")
    assert "BroadcastHashJoin" in plan
    assert plan.count("ArrowEvalPython") == 2
    assert "LocalTableScan" not in plan
    for op in ("SortMergeJoin", "CartesianProduct", "HashAggregate"):
        assert op not in plan, op


def test_q119_spatiotemporal_join_plan(spark, sf_dir):
    """Composite (cell, tbin) join: one broadcast hash equi-join, no
    sort-merge/cartesian, and the point side's key derivation is pure JVM
    (the only Python node allowed is the window-side bbox cover UDF)."""
    plan = _plan(spark, sf_dir, "q119_spatiotemporal_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q120_map_matching_plan(spark, sf_dir):
    """Nearest-segment snap: broadcast candidate join + hash-aggregate
    argmin — no window sort, no cartesian product."""
    plan = _plan(spark, sf_dir, "q120_map_matching")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # argmin is a hash aggregate over the encoded min, not a rank window
    # (the only Window is the lead() building segments on the SMALL side)
    assert "row_number" not in plan and "rank" not in plan
    assert "HashAggregate" in plan


def test_q130_composite_join_all_broadcast(spark, sf_dir):
    """The 5-table composite must plan every dimension join as broadcast
    (lineitem is the only big side) with no sort-merge or cartesian."""
    plan = _plan(spark, sf_dir, "q130_local_supplier_revenue")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q137_harris_same_exchange_shape_as_q98(spark, sf_dir):
    """The 2-px halo widening must not change the exchange shape: still
    exactly ONE hash Exchange (tile-key gather), streaming MapInPandas,
    no join — wider strips ride the same union."""
    plan = _plan(spark, sf_dir, "q137_harris_corners")
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "CartesianProduct"):
        assert op not in plan, op


def test_q145_od_matrix_no_global_sort_before_agg(spark, sf_dir):
    """OD matrix: the window partitions by user (hash exchange), never a
    range partitioning over the event stream; no join anywhere."""
    plan = _plan(spark, sf_dir, "q145_od_transitions")
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    # rangepartitioning appears only for the final tiny ORDER BY, after
    # the matrix aggregate — never on the raw event stream
    pre_agg = plan.split("HashAggregate")[-1]
    assert "Exchange rangepartitioning" not in pre_agg


def test_q152_covariance_partial_aggregation(spark, sf_dir):
    """Covariance: the dim x dim product rows must be reduced by partial
    (map-side) aggregation before the (dim_i, dim_j) exchange."""
    from geowave_spark.queries_text import TEXT_QUERIES

    fn, _ = TEXT_QUERIES["q152_embedding_covariance"]
    plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # partial_sum before the exchange on the pair key
    assert "partial_sum" in plan


def test_q164_hausdorff_blocked_join_shape(spark, sf_dir):
    """Hausdorff: the pair join is a keyed equi-join on the home-cell
    block (never a CartesianProduct), and both keyed aggregates run
    with map-side partials."""
    plan = _plan(spark, sf_dir, "q164_track_hausdorff")
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan or "partial_max" in plan


def test_q180_nearest_facility_broadcast(spark, sf_dir):
    """Nearest-facility: the 8-row facility dim rides a broadcast
    (BroadcastNestedLoopJoin over the tiny side is acceptable — the big
    side never shuffles for the join), and the argmin aggregate is
    map-side combinable."""
    plan = _plan(spark, sf_dir, "q180_nearest_facility")
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan


def test_q192_theilsen_pair_join_is_hashed(spark, sf_dir):
    """Theil-Sen: the pair join must key on (event_type, rnb) — the
    materialized rank + offset — so the only nested-loop node is the
    20-row offset broadcast.  The regression this pins: Catalyst planning
    an event_type-only join with `b.rn = a.rn + off` as a BNLJ filter,
    which is quadratic per event_type."""
    plan = _plan(spark, sf_dir, "q192_theil_sen")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # exactly one BNLJ: the 20-row offsets relation
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_q188_ripley_pairs_broadcast_cover(spark, sf_dir):
    """Ripley's K rides the indexed within-distance self-join: broadcast
    ring cover + exact refine, never a cartesian pair build."""
    plan = _plan(spark, sf_dir, "q188_ripley_k")
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_q189_ssim_pair_join_blocked(spark, sf_dir):
    """SSIM pairs: the candidate join is width-blocked (equi on w) —
    no cartesian pair explosion; the pixel work is one mapInPandas."""
    plan = _plan(spark, sf_dir, "q189_ssim_pairs")
    assert "CartesianProduct" not in plan


def test_iterative_queries_materialize_base_relations(spark, sf_dir):
    """Unrolled iterative ops must NOT re-execute their base-relation
    subtree per round: Spark inlines CTEs, so the Spark paths
    materialize edges/covariance/token relations via `mat_view`
    (localCheckpoint) and the FINAL plan must contain zero parquet
    scans — every reference reads the checkpointed result instead.
    Regression guard for the 2^rounds scan blowup (q226 once planned
    62 parquet scans)."""
    for name in (
        "q226_shortest_paths", "q231_label_propagation",
        "q222_power_iteration", "q187_kcore",
        "q163_triangle_clustering", "q118_graph_centrality",
        "q219_ppjoin_similarity", "q224_phrase_search",
    ):
        plan = _plan(spark, sf_dir, name)
        n = plan.count("Scan parquet")
        assert n == 0, f"{name}: {n} parquet scans in final plan"
        assert "CartesianProduct" not in plan, name


def test_overlay_family_plans(spark, sf_dir):
    """Plan pins for the session-8 family: no CartesianProduct anywhere;
    q280's candidates go through a cell equi-join (hash join, not a
    nested-loop cross); q292's skyline is window-only (no join at all);
    q283's percentile windows run over the histogram aggregate, below
    TWO HashAggregates (partial + final = map-side combine pinned)."""
    from geowave_spark.queries import QUERIES

    for name, pins in {
        "q280_segment_crossings": (["BroadcastHashJoin", "ShuffledHashJoin",
                                    "SortMergeJoin"], ["CartesianProduct"]),
        "q277_rect_dissolve": (["Window"], ["CartesianProduct",
                                            "BroadcastNestedLoopJoin"]),
        "q292_skyline": (["Window"], ["Join", "CartesianProduct"]),
        "q283_exact_percentiles": (["HashAggregate"], ["CartesianProduct"]),
    }.items():
        fn, _sql = QUERIES[name]
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        any_of, none_of = pins
        assert any(p in plan for p in any_of), (name, plan[:1500])
        for p in none_of:
            assert p not in plan, (name, p)


def test_q278_single_python_stage(spark, sf_dir):
    """The Frechet kernel must appear as exactly ONE ArrowEvalPython node
    (one Arrow round-trip for the whole DP), with the candidate join
    planned as a real join, not a cross."""
    from geowave_spark.queries import QUERIES

    fn, _sql = QUERIES["q278_track_frechet"]
    plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan[:1500]
    assert "CartesianProduct" not in plan


def test_q301_polypoly_join_rewrite_replaces_cartesian(spark, sf_dir):
    """q301: geometry-COLUMN x geometry-COLUMN join.  Unoptimized, the
    Geom* UDF is the only join condition -> nested-loop cartesian;
    `rewrite_polypoly_join` must re-plug the cover cell hash equi-join
    with the reporting-cell dedup (no dropDuplicates shuffle), and the
    rewritten result must equal the brute force row for row."""
    from geowave_spark.plans import sqlrewrite
    from geowave_spark.queries_sql import (
        _q301_rects_a_sql, _rect_wkt_view_sql)
    from geowave_spark.table import images as images_mod
    from geowave_spark.table.views import register_views

    # sf0.01: the default sf0.001 has only 10 suppliers and the brute/
    # rewritten comparison would be vacuous (0 pairs)
    register_views(spark, "/root/testdata/sf0.01")
    spark.sql(
        _rect_wkt_view_sql(_q301_rects_a_sql(), "rid")
    ).createOrReplaceTempView("gw_recta")
    spark.sql(
        _rect_wkt_view_sql(images_mod.images_base_sql(), "doc_id")
    ).createOrReplaceTempView("gw_rectb")
    sql = """
        SELECT a.rid AS aid, b.rid AS bid
        FROM gw_recta a JOIN gw_rectb b ON GeomIntersects(a.geom, b.geom)
    """
    slow = sqlrewrite.spatial_sql(spark, sql, optimize=False)
    slow_plan = slow._jdf.queryExecution().executedPlan().toString()
    assert ("BroadcastNestedLoopJoin" in slow_plan
            or "CartesianProduct" in slow_plan)
    fast = sqlrewrite.spatial_sql(spark, sql, optimize=True)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in fast_plan
    assert "CartesianProduct" not in fast_plan
    assert "HashJoin" in fast_plan
    # reporting-cell dedup, not a dropDuplicates: no aggregate on the pair
    assert "dropDuplicates" not in fast_plan
    a = sorted(map(tuple, slow.toPandas().to_numpy().tolist()))
    b = sorted(map(tuple, fast.toPandas().to_numpy().tolist()))
    assert a == b and len(a) > 0


def test_polypoly_rewrite_passthrough_on_unmatched_sql(spark, sf_dir):
    """The polygon x polygon rewrite is constrained-shape string surgery:
    SQL it does not recognize must pass through UNTOUCHED (same contract
    as the reference's parsed-WHERE surgery)."""
    from geowave_spark.plans import sqlrewrite

    for sql in [
        "SELECT 1 AS x",
        # predicate references a third alias -> not a two-view join shape
        "FROM a x JOIN b y ON GeomIntersects(z.geom, y.geom)",
        # GeomPoint argument -> pip shape, not polypoly
        "FROM a x JOIN b y ON GeomIntersects(GeomPoint(x.lon, x.lat), y.g)",
        # non-bbox-implying predicate name
        "FROM a x JOIN b y ON GeomDisjoint(x.geom, y.geom)",
    ]:
        assert sqlrewrite.rewrite_polypoly_join(spark, sql) == sql


def test_skew_pair_plans_differ_only_in_salt(spark):
    """q302/q303 are the same join at salt 16 vs 1: both plans must be
    ShuffledHashJoins (no broadcast of either side, no cartesian), so
    the measured 3.6x is the salt, not a plan-shape change."""
    from geowave_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    for name in ("q302_skew_salted_join", "q303_skew_unsalted_join"):
        fn, _ = QUERIES[name]
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan
        assert "CartesianProduct" not in plan
        # (a BroadcastNestedLoopJoin IS present: the 4-row VALUES
        # amplifier cross join — build side is 4 literal rows, fine)


def test_sql_rewrite_survives_null_and_empty_geometry(spark, sf_dir):
    """ADVICE r3: wkt_bbox_udf / wkt_bbox_cells_udf used to crash the whole
    rewritten plan on NULL or numberless (EMPTY) WKT.  Both must now emit
    an empty cover (row drops at the explode), so the optimized plan keeps
    the unoptimized plan's semantics on nullable geometry columns."""
    from geowave_spark.plans import sqlrewrite
    from geowave_spark.queries_sql import _hex_wkt_view_sql
    from geowave_spark.table import geo
    from geowave_spark.table.views import register_views

    register_views(spark, sf_dir)
    spark.sql(geo.lineitem_points_sql()).createOrReplaceTempView("gw_pts_n")
    spark.sql(
        f"SELECT aid, geom FROM ({_hex_wkt_view_sql()}) "
        "UNION ALL SELECT 'nul' AS aid, cast(NULL as string) AS geom "
        "UNION ALL SELECT 'emp' AS aid, 'POLYGON EMPTY' AS geom"
    ).createOrReplaceTempView("gw_zones_n")
    sql = """
        SELECT z.aid, cast(count(*) as bigint) AS n_points
        FROM gw_pts_n p JOIN gw_zones_n z
          ON GeomContains(z.geom, GeomPoint(p.lon, p.lat))
        GROUP BY z.aid ORDER BY aid
    """
    fast = sqlrewrite.spatial_sql(spark, sql, optimize=True, join_res=7)
    rows = fast.toPandas()
    assert len(rows) > 0
    assert "nul" not in set(rows["aid"]) and "emp" not in set(rows["aid"])

    # polygon x polygon rewrite: NULL/EMPTY rows on one side must drop, not
    # crash the bbox-struct UDF
    spark.sql(
        f"SELECT aid AS bid, geom FROM ({_hex_wkt_view_sql()}) LIMIT 40"
    ).createOrReplaceTempView("gw_zones_n2")
    sql2 = """
        SELECT z.aid, cast(count(*) as bigint) AS n_overlaps
        FROM gw_zones_n z JOIN gw_zones_n2 w
          ON GeomIntersects(z.geom, w.geom)
        GROUP BY z.aid ORDER BY aid
    """
    fast2 = sqlrewrite.spatial_sql(spark, sql2, optimize=True, join_res=5)
    rows2 = fast2.toPandas()
    assert len(rows2) > 0
    assert "nul" not in set(rows2["aid"]) and "emp" not in set(rows2["aid"])
