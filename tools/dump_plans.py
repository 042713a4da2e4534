"""Regenerate PLANS.md: formatted physical plans of the flagship queries
with the scale-relevant properties called out:

    python tools/dump_plans.py
"""
from __future__ import annotations

import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.001"

NOTES = {
    "q185_dsir_importance": (
        "DSIR importance weights: one explode of the token stream, two "
        "map-side-combinable bucket aggregates, and the FIXED 1024-row "
        "lift table rides a BroadcastHashJoin back onto the stream — the "
        "whole operator is two keyed passes regardless of corpus size, "
        "zero Python nodes."
    ),
    "q192_theil_sen": (
        "Banded Theil-Sen: the pair build materializes rank+offset BEFORE "
        "the join so it plans as a BroadcastHashJoin on (event_type, rnb); "
        "the only nested-loop node is the 20-row offsets broadcast "
        "(regression pinned in tests/test_plans.py — the naive form "
        "degenerates to an event_type-only BNLJ, quadratic per type)."
    ),
    "q200_focal_median": (
        "3x3 median filter: identical exchange shape to q98 — one "
        "repartition on the tile key + sortWithinPartitions + one "
        "streaming complete-group mapInPandas; the np.partition median is "
        "the payload, the plumbing adds nothing."
    ),
    "q05_pip_rect_join": (
        "Flagship cover->broadcast->refine join: ONE ArrowEvalPython node "
        "(the vectorized cell encode), BroadcastHashJoin on cell, pure-JVM "
        "range refine, no SortMergeJoin/CartesianProduct, no dedup shuffle "
        "(pairs unique by construction)."
    ),
    "q07_distance_join_agg": (
        "Within-distance join: fused point->k-ring-disk UDF exploded on the "
        "query side, broadcast to the point side; zero shuffles before the "
        "final per-query aggregation."
    ),
    "q11_tile_assign_plan": (
        "Tile-assignment plan: JVM-only closed form — scan reads ONLY "
        "doc_id (ReadSchema), level selection + cover explode(sequence) in "
        "whole-stage codegen, zero Python nodes."
    ),
    "q09_binned_agg": (
        "Binned aggregation: closed-form cell id, two-phase HashAggregate "
        "(map-side partial), filter/pruning at the scan."
    ),
    "q24_kde_heatmap": (
        "KDE splat: JVM-only (broadcast offset table), partial_sum map-side, "
        "percent_rank window after a single shuffle."
    ),
    "q16_minhash_lsh_pairs": (
        "MinHash LSH: relational shape (posexplode words + lead-window "
        "shingles — whole-stage codegen, no HOF CodegenFallback — then "
        "groupBy-min signatures and band equi-join), persisted "
        "intermediates so the self-joined relations compute once.  Zero "
        "Python nodes."
    ),
    "q53_kde_pyramid": (
        "KDE pyramid rollup: one finest-res splat, each coarser level a "
        "closed-form parent-cell HashAggregate of the previous — one data "
        "scan for the whole pyramid, partial aggregation at every level, "
        "zero Python."
    ),
    "q51_sql_within_distance": (
        "SQL-surface distance predicate after radius-extraction rewrite: "
        "grid-disk IN-list prefilter (codegen, parquet-prunable) gates the "
        "pandas-UDF exact test, so ArrowEvalPython sees only candidates."
    ),
    "q56_bigbig_salted_join": (
        "Big-big salted join: NEITHER side broadcast or collected — the "
        "rect side covers distributed (Arrow UDF + explode, no "
        "LocalTableScan), the point side salts pmod(hash(pid), S), and the "
        "candidate join is a ShuffledHashJoin on (cell, salt) so every hot "
        "cell splits S ways."
    ),
    "q58_polygon_polygon_join": (
        "Polygon x polygon join: A-side covers distributed, B-side cover "
        "broadcast, pair-dedup on (aid, bid), exact intersects as a "
        "chunked codegen edge-orientation predicate (janino-safe <64KB "
        "methods) — no CartesianProduct, no Python in the refine."
    ),
    "q59_sql_spatial_join": (
        "SQL rewrite of a two-view GeomIntersects join: the logical plan's "
        "UDF cross product is re-plugged as a cell-cover hash join "
        "(`plans/sqlrewrite.rewrite_spatial_join`), mirroring the "
        "reference's SqlQueryRunner join detection."
    ),
    "q57_geodesic_distance_join": (
        "Geodesic within-distance: latitude-aware lon-scaled ring cover "
        "(pole-safe) broadcast to the point side; the exact haversine "
        "refine is closed-form codegen arithmetic, no Python."
    ),
    "q39_simhash_neardup": (
        "SimHash near-dup at scale parameters: 64-bit signature computed "
        "as 64 SUM aggregates over exploded word rows (map-side partials, "
        "whole-stage codegen — replaced 64 interpreted HOF folds), 4 "
        "bands x 16 bits (65,536 join-key values per band) — the band "
        "self-join stays ~O(n*dup_rate); exact Hamming refine via "
        "bit_count(xor).  Zero Python nodes."
    ),
    "q41_ann_ivf": (
        "IVF ANN: FIXED-K sampled centroids broadcast to both sides "
        "(centroid count independent of table size); per-cell candidate "
        "search + window top-k."
    ),
    "q77_sequence_packing": (
        "Next-fit sequence packing: ONE hash shuffle on the shard key into "
        "FlatMapGroupsInPandas (the sequential fold is per-shard), then a "
        "partial-aggregated pack rollup — no window over the full table, "
        "no driver traffic."
    ),
    "q79_image_quality_stats": (
        "Image quality gate: two chained ArrowEvalPython-free mapInPandas "
        "stages (synthesis, then decode+stats) in a single narrow pipeline "
        "— zero shuffles until the final sort; scales with input splits."
    ),
    "q81_incremental_dedup": (
        "Incremental dedup refine: candidates come from materialized "
        "(persisted) band joins; the shingle rebuild sits ABOVE a "
        "documents-join on candidate ids (the Join is the Window's child), "
        "so non-candidate corpus text is never tokenized."
    ),
    "q82_ann_pq_adc": (
        "PQ encode + ADC: dims posexplode -> grouped integer SUMs with "
        "map-side partials + encoded least() argmin (no join, no window "
        "in the encode path); ADC joins 8-int codes to the broadcast "
        "query distance table; the only wide shuffle carries (vec_id, m, "
        "code)."
    ),
    "q83_semantic_dedup": (
        "SemDeDup: the 16-row centroid side broadcasts twice (assignment, "
        "then never again); the pairwise stage is ONE cell-keyed "
        "SortMergeJoin of the assigned table with itself — all-pairs work "
        "is confined within a cluster cell, the corpus never cross-joins."
    ),
    "q84_lm_familiarity": (
        "Trigram-LM familiarity: codegen shingle build (posexplode + lead "
        "windows), then exactly two keyed shuffles — groupBy shingle "
        "(model) and join-back + groupBy doc (scoring), both map-side "
        "partial-aggregated; the corpus-size scalar is a 1-row broadcast."
    ),
    "q86_optimize_recluster_scan": (
        "Post-OPTIMIZE pruned scan: the manifest already dropped "
        "non-overlapping files, so the plan is scan(few files) -> filter "
        "-> two-phase HashAggregate; the layout decision happened at "
        "write time, not in the query."
    ),
    "q87_zonal_stats": (
        "Zonal stats: zones broadcast (BroadcastNestedLoopJoin on the bbox "
        "range conjuncts — the candidate set, refined inside the pandas "
        "kernel), ONE narrow MapInPandas emits 3 scalars per pair, "
        "pixels never reach an Exchange; keyed rollup after."
    ),
    "q88_trajectory_stats": (
        "Trajectory rollup: ONE Exchange on user_id feeds both the lag "
        "Window and the final HashAggregate (same partitioning reused); "
        "segment haversine is pure codegen floats."
    ),
    "q98_focal_mean": (
        "Focal map algebra via halo exchange: ONE mapInPandas pass emits "
        "each tile AND its 1-px neighbor strips (no second decode of the "
        "image subtree), then ONE Exchange on the tile key "
        "(image_id, ty, tx) + in-partition sort feeds a streaming "
        "MapInPandas over complete groups (NOT per-group "
        "FlatMapGroupsInPandas — a group is one 16x16 tile, so per-group "
        "Arrow overhead dominated: measured 17.5 s -> 3.0 s) — shuffle "
        "volume is O(perimeter), pixels other than the halo never move, "
        "no whole image assembles anywhere."
    ),
    "q137_harris_corners": (
        "Harris on a 2-px halo: the SAME single tile-key Exchange as q98 "
        "(wider strips ride the identical union + streaming MapInPandas); "
        "the extra cost vs q98 is the gradient/structure-tensor numpy "
        "kernel, i.e. payload — plumbing is unchanged."
    ),
    "q153_cover_compaction": (
        "Cover compaction round: keyed parent HashAggregate (partial "
        "count map-side) + broadcast-able anti-join of the current level "
        "against the full-quad set; LogicalRDD between rounds "
        "(localCheckpoint) keeps the analyzed plan flat."
    ),
    "q101_rect_overlay": (
        "Rect overlay area join: both covers distributed (Arrow UDF + "
        "explode), cell equi-join, codegen refine, and NO dedup shuffle — "
        "a pair is emitted only in the cell owning the intersection's SW "
        "corner, so no dropDuplicates node appears."
    ),
    "q65_polygon_bigbig_join": (
        "Polygon x polygon with BOTH sides DataFrames: distributed "
        "vertex-bbox covers, salted ShuffledHashJoin candidates projected "
        "to bare id pairs before the dedup shuffle, id-join refine with "
        "the chunked codegen intersects predicate — no LocalTableScan, "
        "no broadcast of either cover."
    ),
    "q119_spatiotemporal_join": (
        "Spatiotemporal composite-key join: ONE BroadcastHashJoin on "
        "(cell, tbin) — the point side's key pair is closed-form JVM, the "
        "window side explodes bbox cover x covered day bins; exact "
        "bbox+range refine is a codegen filter on the join output, pairs "
        "unique by construction (no dedup shuffle)."
    ),
    "q120_map_matching": (
        "Nearest-segment snap: broadcast expanded-bbox segment cover, "
        "codegen point-to-segment distance refine, per-point argmin as a "
        "HashAggregate over the encoded min — no rank window over the "
        "candidates, no CartesianProduct."
    ),
    "q126_rasterize_polygons": (
        "Vector->raster burn: bounded bbox sequence-explode (pure JVM, no "
        "cover UDF), half-plane center-in-polygon refine in codegen, one "
        "keyed count — the whole plan is a single WholeStageCodegen span "
        "plus the final aggregate exchange.  The marker aggregate is "
        "min over a BIGINT (doc id parsed from the image id): min(string) "
        "would demote the burn to SortAggregate."
    ),
    "q129_spatiotemporal_knn": (
        "Bounded spatiotemporal kNN: broadcast disk-cover x time-bin "
        "candidates on the composite key, codegen dist+time refine, one "
        "row_number window per query over integer keys — no "
        "CartesianProduct, no dedup shuffle before the window."
    ),
    "q130_local_supplier_revenue": (
        "TPC-H Q5-shaped composite with the bbox-pruned supplier "
        "dimension: Catalyst broadcasts all four dimension joins "
        "(lineitem is the only big side), no SortMergeJoin."
    ),
    "q306_polar_crs_grid": (
        "EPSG:3413 polar grid stats: exactly ONE ArrowEvalPython (the "
        "vectorized polar forward), everything after it JVM codegen — "
        "filter, 200 km binning, and a single keyed aggregate exchange "
        "over the <=1024-cell key space.  No join anywhere."
    ),
    "q307_oblique_crs_grid": (
        "EPSG:29873 Hotine rotated-grid stats: same single-UDF shape as "
        "q306; the countDistinct adds the usual expand/two-phase "
        "aggregate, still one data shuffle over a 400-cell key space."
    ),
    "q308_modis_tile_binning": (
        "MODIS (h, v) tile binning with ZERO Python nodes: the "
        "spherical sinusoidal forward is trig builtins inside "
        "whole-stage codegen (explicit double casts keep Spark's "
        "decimal-literal arithmetic out of the tile division), one "
        "exchange over the 648-tile key space.  The shape a 100 TB "
        "scan wants: scan -> project -> hash aggregate."
    ),
}


def main() -> None:
    from geowave_spark.queries import QUERIES
    from geowave_spark.session import local_session

    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")

    out = io.StringIO()
    out.write(
        "# PLANS — physical plans of the flagship queries\n\n"
        "Generated by `tools/dump_plans.py` (sf0.001, "
        f"local[{spark.sparkContext.defaultParallelism}]; plans are\n"
        "pre-execution AQE plans — `isFinalPlan=false` is expected).  The\n"
        "properties the engine guarantees are asserted as regression tests\n"
        "in `tests/test_plans.py`; this file is the human-readable copy.\n"
    )
    for name, note in NOTES.items():
        fn, _ = QUERIES[name]
        df = fn(spark, SF)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # trim exchange ids / location noise for readability
        plan = re.sub(r"file:[^\],\s]+", "<path>", plan)
        out.write(f"\n## {name}\n\n{note}\n\n```\n{plan}\n```\n")

    # the production polygon join (engine API, not a registry query)
    from pyspark.sql import functions as F  # noqa: N812

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
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    plan = re.sub(r"file:[^\],\s]+", "<path>", plan)
    raycast = re.sub(
        r"CASE WHEN.*END", "CASE WHEN full THEN true ELSE <codegen raycast> END",
        plan, flags=re.S,
    )
    out.write(
        "\n## point_in_polygon_join (engine API)\n\n"
        "Single pass, fully JVM: one BroadcastHashJoin per tier in one "
        "codegen stage, cell -> (poly_id, full, edges) on a non-nullable "
        "broadcast, with the lazy CASE WHEN raycast over the boundary "
        "cell's own edge list in the join's condition.  No Python node, "
        "no Exchange, no dedup (pairs unique by construction; the "
        "raycast chain is elided below for readability).\n\n"
        f"```\n{raycast}\n```\n"
    )
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write(out.getvalue())
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
