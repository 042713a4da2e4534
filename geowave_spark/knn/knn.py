"""k-nearest-neighbors join with iterative ring expansion.

Reference analog: `analytics/mapreduce/.../nn/NNMapReduce.java:59-145` in
/root/reference — grid-partition by distance, per-partition neighbor search,
top-K selection, dedup across partitions.  Re-expressed Spark-first:

1. encode query points at a coarse resolution, explode a k-ring grid_disk
   as the candidate cell set (broadcast while it fits, see
   `join.spatial._broadcast_cover`),
2. equi-join data points on cell, compute exact distance (pure JVM),
3. `row_number()` over Window(partitionBy=query, orderBy=dist) <= k,
4. correctness guard: a query's k-th neighbor must be closer than the
   nearest unexplored cell (ring_radius * cell_height); under-filled or
   unproven queries re-run with a wider ring (driver loop, few iterations).

The rank tie-break is (dist, pid) so results are deterministic and match a
SQL window oracle exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..index import cover as cov
from ..join.spatial import _cover_rows, haversine_km_sql
from ..table import geo as geo_sql

# ring-expansion loop: first ring (cells) / first radius (km), doublings
# before the brute-force tail, and the tail's bound on unresolved queries
_INITIAL_RING = 1
_R0_KM = 400.0
_MAX_ITERS = 8
_BRUTE_TAIL_MAX = 10_000


def knn_join(
    spark: SparkSession,
    pts: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    pid_col: str = "pid",
    qid_col: str = "qid",
    res: int = 6,
) -> DataFrame:
    """For each query point, the k nearest data points (planar metric).

    Returns (qid, pid, dist, rank).  Deterministic: ties broken by pid.

    Every ring iteration picks its candidate join's tier afresh with
    `spatial._broadcast_cover` over the still-unresolved queries: the
    ring's disk cover is broadcast while it fits, else both sides
    sort-merge on the cell.  The unresolved set only shrinks, so a ring's
    exact count bounds every later ring's, and a later ring whose bound
    fits under the cap starts no counting job.  The remaining/done
    bookkeeping joins stay on the (shrinking) query side.

    The brute-force fallback for queries still unresolved after
    ``_MAX_ITERS`` ring doublings is bounded: if more than
    ``_BRUTE_TAIL_MAX`` remain, raise instead of silently turning the job
    into a cross join.
    """
    cell_h = 180.0 / (1 << res)
    q_named = queries.select(
        F.col(qid_col), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    )
    # data side: closed-form row-major cell (pure JVM, codegen) — the big
    # table never enters Python; only the small query side pays an Arrow
    # round trip (the fused disk UDF below, row-major to match)
    pts_c = pts.select(pid_col, "lon", "lat").withColumn(
        "jcell", F.expr(geo_sql.rowmajor_cell_sql("lon", "lat", res))
    )

    win = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(pid_col).asc())
    # Multiply, not pow: bit-identical to the SQL oracle's (a-b)*(a-b)
    dx = F.col("lon") - F.col("qlon")
    dy = F.col("lat") - F.col("qlat")
    dist = F.sqrt(dx * dx + dy * dy)

    # the encode runs once; every ring iteration joins against the SAME
    # cached encoded points instead of re-running the UDF over the table
    pts_c = pts_c.persist()

    remaining = q_named
    bound = None  # an exact count of the unresolved queries from an earlier ring
    results = None
    ring = _INITIAL_RING
    for _ in range(_MAX_ITERS):
        # fused point->disk UDF dedups each disk in-batch, so the exploded
        # (qid, jcell) pairs are unique with no dropDuplicates shuffle
        q_cover = remaining.withColumn(
            "jcell",
            F.explode(
                cov.point_disk_cells_udf(res, ring, curve="rowmajor")(
                    F.col("qlon"), F.col("qlat")
                )
            ),
        )
        bpr = 48 * (2 * ring + 1) ** 2
        rows = None if bound is None else _cover_rows(spark, remaining, bpr, bound)
        if rows is None:
            rows = _cover_rows(spark, remaining, bpr)
        # past the cap the count was cut off at cap + 1 and bounds nothing
        bound = rows
        cand = pts_c.join(q_cover.hint("merge") if rows is None
                          else F.broadcast(q_cover), "jcell")
        # persist the per-iteration top-k (tiny: <= k rows per query): the
        # convergence check executes it once, and without the persist the
        # final materialization would re-run every iteration's join+window
        topk = (
            cand.withColumn("dist", dist)
            .withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select(qid_col, pid_col, "dist", "rank")
        ).persist()
        # guarantee: the k-th distance must not exceed the closest possible
        # point in an unexplored cell (ring * cell_height)
        guard = float(ring) * cell_h
        stats = topk.groupBy(qid_col).agg(
            F.count("*").alias("n"), F.max("dist").alias("kth")
        )
        done_q = stats.filter((F.col("n") == k) & (F.col("kth") <= F.lit(guard)))
        done = topk.join(done_q.select(qid_col), qid_col)
        results = done if results is None else results.unionByName(done)
        remaining = remaining.join(done_q.select(qid_col), qid_col, "left_anti")
        if remaining.isEmpty():
            break
        ring *= 2
    else:
        # fall back to brute force for stubborn queries (e.g. k > points in
        # a huge neighborhood) — correctness over speed for the tail.  The
        # tail is explicitly BOUNDED: a full-scan cross join per stubborn
        # query is only affordable for a residue, and at 10^9 queries an
        # unbounded tail would silently become the whole job — fail loudly
        # instead.
        if remaining.limit(_BRUTE_TAIL_MAX + 1).count() > _BRUTE_TAIL_MAX:
            raise RuntimeError(
                f"knn_join brute-force tail exceeds {_BRUTE_TAIL_MAX} "
                f"queries unresolved after {_MAX_ITERS} ring doublings")
        cand = pts_c.crossJoin(F.broadcast(remaining))
        topk = (
            cand.withColumn("dist", dist)
            .withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select(qid_col, pid_col, "dist", "rank")
        )
        results = topk if results is None else results.unionByName(topk)
    return results


def knn_join_geodesic(
    spark: SparkSession,
    pts: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    pid_col: str = "pid",
    qid_col: str = "qid",
    res: int = 6,
) -> DataFrame:
    """kNN under the GEODESIC (haversine km) metric — the reference's
    actual kNN metric (`OrthodromicDistancePartitioner.java` +
    `NNMapReduce.java:59-145`).

    Iterative RADIUS doubling instead of ring doubling: each iteration
    covers every remaining query's geodesic disk of radius r
    (`grid.geodisk_cells` — latitude-aware, pole-safe), joins, takes the
    window top-k, and retires queries whose k-th distance is <= r.  The
    guard is exact by the disk's conservative cover: any point outside
    the covered cells is farther than r, so a proven query can never be
    beaten by an unexplored point.  Stubborn queries fall back to brute
    force (correctness over speed for the tail), bounded by
    ``_BRUTE_TAIL_MAX``.
    """
    q_named = queries.select(
        F.col(qid_col), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    )
    pts_c = pts.select(pid_col, "lon", "lat").withColumn(
        "cell", F.expr(geo_sql.rowmajor_cell_sql("lon", "lat", res))
    ).persist()

    win = Window.partitionBy(qid_col).orderBy(F.col("dist").asc(), F.col(pid_col).asc())
    dist = F.expr(haversine_km_sql("lon", "lat", "qlon", "qlat"))

    remaining = q_named
    results = None
    r = _R0_KM
    for _ in range(_MAX_ITERS):
        q_cover = remaining.withColumn(
            "cell",
            F.explode(cov.point_geodisk_cells_udf(res, r)(
                F.col("qlon"), F.col("qlat"))),
        )
        cand = pts_c.join(F.broadcast(q_cover), "cell")
        topk = (
            cand.withColumn("dist", dist)
            .withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select(qid_col, pid_col, "dist", "rank")
        ).persist()
        stats = topk.groupBy(qid_col).agg(
            F.count("*").alias("n"), F.max("dist").alias("kth")
        )
        done_q = stats.filter((F.col("n") == k) & (F.col("kth") <= F.lit(r)))
        done = topk.join(done_q.select(qid_col), qid_col)
        results = done if results is None else results.unionByName(done)
        remaining = remaining.join(done_q.select(qid_col), qid_col, "left_anti")
        if remaining.isEmpty():
            break
        r *= 2
    else:
        # bounded brute tail — same contract as knn_join above
        if remaining.limit(_BRUTE_TAIL_MAX + 1).count() > _BRUTE_TAIL_MAX:
            raise RuntimeError(
                f"knn_join_geodesic brute-force tail exceeds {_BRUTE_TAIL_MAX} "
                f"queries unresolved after {_MAX_ITERS} radius doublings")
        cand = pts_c.crossJoin(F.broadcast(remaining))
        topk = (
            cand.withColumn("dist", dist)
            .withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select(qid_col, pid_col, "dist", "rank")
        )
        results = topk if results is None else results.unionByName(topk)
    return results
