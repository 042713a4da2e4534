"""Spatial joins: cover -> broadcast equi-join on cell -> exact refine.

Reference analog: GeoWave's
`analytics/spark/.../spatial/TieredSpatialJoin.java:76-382` — both sides
keyed by (tier, cell), per-tier cogroup + exact JTS predicate, cross-tier
reprojection, dedup by key, subtractByKey for negative predicates.
Re-expressed Spark-first:

- per-tier cogroup        -> one equi-join on cell per tier; the small side's
                             candidate cells are BROADCAST (north rule)
- cross-tier reprojection -> the point side derives parent cells per active
                             polygon resolution in closed-form integer SQL
- exact JTS refine        -> a flat codegen'd ray cast (or range / distance
                             predicate) in the broadcast join's own condition;
                             the polygon join reads each boundary cell's
                             edge list off its broadcast row
- reduceByKey dedup       -> none where pairs are unique by construction
                             (point joins: one cell per point per tier);
                             dropDuplicates on id pairs where a pair can meet
                             in several cells (polygon x polygon)
- subtractByKey           -> left_anti join on the matched-id set

Scale notes (100 TB design): the only shuffle is the equi-join itself.  A
size-chosen cover join has two tiers (`_broadcast_cover`): the query cover is
broadcast while it fits 64 MB, so the data side is never repartitioned;
past that both sides sort-merge on the cell key and AQE splits hot cells.
The explicitly salted joins (`_salted_join`) repeat every cover row once per
salt and spread each cell's points over the salts by a hash of their id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..geom import core as geom
from ..index import cover as cov
from ..table.views import ensure_arrow


def _raycast_terms(lon: str, lat: str, edges) -> list[str]:
    """Ray-cast terms, one per ``(ay, by, ax, dx, dy)`` tuple of SQL
    operands: edge head (ax, ay), tail (bx, by), ``dx = bx - ax`` and
    ``dy = by - ay``.

    Per edge, ``cond AND px < dx*(py-ay)/dy+ax``.  Multiply-then-divide
    order matches the numpy kernels, so IEEE-double results are
    bit-identical whether ``dx``/``dy`` are computed in SQL or stored.
    The division sits inside the CASE branch (lazily evaluated) where
    ``cond`` guarantees ay != by -- no divide-by-zero even under ANSI mode.
    """
    return [
        f"(CASE WHEN ({ay} > {lat}) != ({by} > {lat}) "
        f"THEN {lon} < {dx} * ({lat} - {ay}) / {dy} + {ax} "
        f"ELSE false END)"
        for ay, by, ax, dx, dy in edges
    ]


def _xor_sql(terms: list[str]) -> str:
    """Left-nested XOR chain: `a != b != c` is a parse error in DuckDB
    (comparison ops are non-associative there), so the oracle twins need
    the parens."""
    if not terms:
        return "false"
    expr = terms[0]
    for t in terms[1:]:
        expr = f"({expr} != {t})"
    return expr


def _edge(ax: str, ay: str, bx: str, by: str) -> tuple[str, ...]:
    return ay, by, ax, f"({bx} - {ax})", f"({by} - {ay})"


def raycast_flat_sql(lon: str, lat: str, max_nv: int) -> str:
    """Spark-SQL twin of `geom.point_in_polygon`: a flat XOR chain of
    ``max_nv`` edge terms over PRIMITIVE vertex columns ``vx0..vy{K-1}``
    — whole-stage-codegen-able (an `aggregate` higher-order lambda is
    CodegenFallback and ~10x slower).  Edge i runs from its predecessor
    vertex j (wrapping) to vertex i.

    Vertex columns must be PADDED to ``max_nv`` by repeating vertex 0:
    the real closing edge (v[n-1] -> v[0]) appears at term i=n, and every
    later term is a degenerate (v0, v0) edge whose crossing condition is
    identically false — results stay bit-identical for any true vertex
    count n <= max_nv.
    """
    j = [(i - 1) % max_nv for i in range(max_nv)]
    return _xor_sql(_raycast_terms(lon, lat, [
        _edge(f"vx{i}", f"vy{i}", f"vx{j[i]}", f"vy{j[i]}") for i in range(max_nv)
    ]))


def raycast_edges_sql(lon: str, lat: str, max_ne: int,
                      prefix: str = "e") -> str:
    """Edge-list twin of `raycast_flat_sql`: the XOR chain runs over
    ``max_ne`` explicit EDGES in primitive columns ``{p}ax{i}/{p}ay{i}``
    (edge head, the ring's current vertex) and ``{p}bx{i}/{p}by{i}``
    (edge tail, its ring predecessor).

    Explicit edges make multi-ring geometries (polygons with holes,
    MultiPolygon) first-class: every ring contributes its own closed edge
    cycle, and XOR over ALL edges is the even-odd rule — bit-identical to
    `geom.point_in_rings` (same per-edge formula; XOR commutes).  Rows
    with fewer edges are padded with zero-length edges (head == tail), a
    crossing condition that is identically false.
    """
    return _xor_sql(_raycast_terms(lon, lat, [
        _edge(f"{prefix}ax{i}", f"{prefix}ay{i}", f"{prefix}bx{i}", f"{prefix}by{i}")
        for i in range(max_ne)
    ]))


def raycast_cell_sql(lon: str, lat: str, k_near: int, k_ends: int) -> str:
    """The ray cast over one boundary cell's refine lists
    (`cover.cell_edges`), packed in the non-null ``array<double>`` column
    ``edges``: ``k_near`` full edge terms over ``ay, by, ax, dx, dy`` at
    ``5i..5i+4``, then ``k_ends`` end-point tests ``v <= lat``.  Each
    element is read in place from the broadcast row; nothing is copied
    into the output rows."""
    near = [tuple(f"edges[{5 * i + c}]" for c in range(5)) for i in range(k_near)]
    ends = [f"(edges[{5 * k_near + j}] <= {lat})" for j in range(k_ends)]
    return _xor_sql(_raycast_terms(lon, lat, near) + ends)


def point_in_polygon_join(
    spark: SparkSession,
    pts: DataFrame,
    polys: dict[int, np.ndarray],
    *,
    pid_col: str = "pid",
    lon: str = "lon",
    lat: str = "lat",
    data_res: int = 12,
    max_cells: int = 256,
    negative: bool = False,
    single_tier_cells: int = 262_144,
) -> DataFrame:
    """Join point rows against a broadcastable polygon set.

    Returns (pid, poly_id) pairs where the point is inside the polygon
    (or, with ``negative=True``, points matching NO polygon — the
    reference's negative-predicate subtractByKey mode).

    Polygons are covered adaptively (each at its own tier, cells trimmed to
    the exact geometry); points are encoded once at ``data_res`` and
    re-projected to each coarser active tier by closed-form integer SQL.

    Each tier is ONE BroadcastHashJoin with the condition
    ``cell = jcell AND (full OR raycast_K)``.  Candidates in a cell lying
    fully inside its polygon match without a refine.  Each boundary cell
    carries its own refine lists (`cover.cell_edges`): the polygon edges
    an eastward ray from that cell can cross, where edges wholly east of
    the cell collapse to end-point latitude tests.  The refine is a flat
    whole-stage-codegen XOR chain over K near-edge terms and J end-point
    tests, K and J the largest counts over the tier's boundary cells
    (`raycast_cell_sql`) — single pass over the point side, zero Python
    stages, bit-identical to `geom.point_in_rings` (every dropped edge
    fails the straddle or the ``px < xint`` test, every east edge passes
    ``px < xint``, and every near edge uses the same per-edge formula on
    IEEE doubles).  The chain's length follows the edges near one cell,
    not the polygon's vertex count, so the generated join stays far under
    HotSpot's 8,000-byte JIT limit.  The broadcast schema is non-nullable
    and interior cells carry an empty array.

    ``single_tier_cells``: when re-covering EVERY polygon at the finest
    active tier keeps the total broadcast cover under this budget, the
    tiers collapse to one — one scan of the point side, one broadcast,
    one join — instead of one full point-side scan per tier.  Oversized
    polygon sets (a continent polygon next to city blocks) fall back to
    the tiered loop, which bounds cells-per-polygon like the reference's
    tiered index (`TieredSFCIndexStrategy.java`).
    """
    ensure_arrow(spark)
    cover_pdf = cov.polygon_cover(polys, res=None, max_cells=max_cells,
                                  curve="rowmajor")
    # clamp polygon tiers to the data resolution (a tier finer than the point
    # encoding cannot match; re-cover those polygons at data_res)
    too_fine = cover_pdf["res"] > data_res
    if too_fine.any():
        refined = cov.polygon_cover(
            {p: polys[p] for p in cover_pdf.loc[too_fine, "poly_id"].unique()},
            res=data_res, curve="rowmajor",
        )
        cover_pdf = pd.concat([cover_pdf[~too_fine], refined], ignore_index=True)

    # single-tier normalization: estimate the cover size with every polygon
    # at the finest active tier; under budget -> re-cover once there, so the
    # tier loop below runs exactly one branch
    tiers = sorted(int(r) for r in cover_pdf["res"].unique())
    if len(tiers) > 1:
        r_join = min(tiers[-1], data_res)
        growth = 4 ** (r_join - cover_pdf["res"].astype(int))
        # global budget AND a per-polygon bound: one continent-sized
        # polygon just under the global budget would otherwise balloon to
        # hundreds of times its tiered max_cells cover, bloating the
        # broadcast + driver-side build far past what the tiered path pays
        per_poly = growth.groupby(cover_pdf["poly_id"]).sum()
        if (int(growth.sum()) <= single_tier_cells
                and int(per_poly.max()) <= 4 * max_cells):
            cover_pdf = cov.polygon_cover(polys, res=r_join, curve="rowmajor")

    # closed-form row-major encode: the big point side never enters Python
    pts_c = cov.add_point_cells_jvm(pts, lon, lat, data_res)

    # one join per tier; boundary cells carry their refine lists, interior
    # cells an empty array, so the broadcast grows with boundary cells
    # only.  The XOR chain reads edges[] only in the ELSE branch, which
    # codegen evaluates lazily: interior rows never index it
    schema = T.StructType([
        T.StructField("cell", T.LongType(), False),
        T.StructField("poly_id", T.LongType(), False),
        T.StructField("full", T.BooleanType(), False),
        T.StructField("edges", T.ArrayType(T.DoubleType(), False), False),
    ])
    matched_parts = []
    for r, sub in cover_pdf.groupby("res"):
        full = sub["full"].to_numpy()
        near, ends = cov.cell_edges(polys, sub)
        lists = np.hstack((near.reshape(len(near), -1), ends))
        offsets = np.zeros(len(sub) + 1, dtype=np.int32)
        offsets[1:] = np.cumsum(np.where(full, 0, lists.shape[1]))
        cover_df = spark.createDataFrame(pa.table({
            "cell": pa.array(sub["cell"].to_numpy(np.int64)),
            "poly_id": pa.array(sub["poly_id"].to_numpy(np.int64)),
            "full": pa.array(full),
            "edges": pa.ListArray.from_arrays(pa.array(offsets), pa.array(lists.ravel())),
        }), schema)
        side = (
            pts_c.withColumn("jcell", cov.parent_cell_expr("cell", data_res, int(r)))
            if int(r) < data_res
            else pts_c.withColumn("jcell", F.col("cell"))
        )
        refine = raycast_cell_sql(lon, lat, near.shape[1], ends.shape[1])
        matched_parts.append(
            side.join(
                F.broadcast(cover_df),
                on=(side["jcell"] == cover_df["cell"])
                & F.when(cover_df["full"], F.lit(True)).otherwise(F.expr(refine)),
            ).select(pid_col, "poly_id")
        )

    matched = matched_parts[0]
    for part in matched_parts[1:]:
        matched = matched.unionByName(part)
    # NO dedup shuffle: each polygon is covered at exactly ONE tier (adaptive
    # cover assigns one res per poly; the too_fine re-cover replaces, never
    # adds) and tier cells are disjoint, so a point meets each polygon at
    # most once — (pid, poly_id) pairs are unique by construction, same
    # argument as the rect join (PLANS.md q05).  The reference pays a
    # reduceByKey dedup here (`TieredSpatialJoin.java:349`) because its
    # insertion ids duplicate entries across cells; ours don't.

    if negative:
        return pts.select(pid_col).distinct().join(
            matched.select(pid_col).distinct(), pid_col, "left_anti"
        )
    return matched


def point_in_rects_join(
    spark: SparkSession,
    pts: DataFrame,
    rects: pd.DataFrame,
    *,
    pid_col: str = "pid",
    lon: str = "lon",
    lat: str = "lat",
    res: int = 10,
    rid_col: str = "rid",
    negative: bool = False,
    loose: bool = False,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Point-in-rectangle-set join (closed boundaries, SQL BETWEEN parity).

    The rectangle set is covered driver-side and broadcast; the refine step is
    a pure-JVM range predicate (no Python at all in the refine) — the fastest
    possible shape for bbox query regions.

    ``loose=True`` skips the exact refine and returns the index-envelope
    candidates — the reference's "Loose" predicate variants
    (`core/geotime/.../filter/expression/spatial/*.java`, e.g. LooseBBox:
    cell-range test only, accepting cover over-approximation).

    ``keep_cols`` carries point payload columns through the join so an
    aggregation over matched pairs needs no second join back to the point
    table (projection pushdown through the operator — at scale this saves
    a full shuffle join against the biggest table in the query).
    """
    ensure_arrow(spark)
    # rect bounds are carried ON the cover rows: one broadcast, one join,
    # and the refine is a pure filter on the join output (no second join)
    cover_pdf = cov.rect_cover(rects, res, curve="rowmajor", id_col=rid_col).merge(
        rects[[rid_col, "lon0", "lat0", "lon1", "lat1"]], on=rid_col
    )
    cover_df = spark.createDataFrame(cover_pdf)
    pts_c = cov.add_point_cells_jvm(pts, lon, lat, res)
    cand = pts_c.join(F.broadcast(cover_df), "cell")
    out_cols = [pid_col, rid_col] + list(keep_cols or [])
    if loose:
        matched = cand.select(*out_cols)
    else:
        # a point's single cell meets each rect's cover at most once, so the
        # refined (pid, rid) pairs are already unique — no dedup shuffle
        matched = cand.filter(
            (F.col(lon) >= F.col("lon0")) & (F.col(lon) <= F.col("lon1"))
            & (F.col(lat) >= F.col("lat0")) & (F.col(lat) <= F.col("lat1"))
        ).select(*out_cols)
    if negative:
        return pts.select(pid_col).distinct().join(
            matched.select(pid_col).distinct(), pid_col, "left_anti"
        )
    return matched


def rect_cover_df(rects_df: DataFrame, res: int, *,
                  rid_col: str = "rid") -> DataFrame:
    """DISTRIBUTED bbox cover: (rid, lon0..lat1) rows -> one row per
    (rect, cell), bounds carried along.  The rect side never touches the
    driver — the cover is a vectorized Arrow UDF + explode, so a
    billion-rect query side covers in parallel (the round-1 version
    collected the rect side with toPandas(), which OOMs the driver at
    exactly the cardinality this operator exists for)."""
    return rects_df.select(
        rid_col, "lon0", "lat0", "lon1", "lat1",
        F.explode(
            cov.bbox_cells_udf(res, curve="rowmajor")(
                F.col("lon0"), F.col("lat0"), F.col("lon1"), F.col("lat1"))
        ).alias("cell"),
    )


def point_in_rects_join_salted(
    spark: SparkSession,
    pts: DataFrame,
    rects_df: DataFrame,
    *,
    pid_col: str = "pid",
    lon: str = "lon",
    lat: str = "lat",
    res: int = 10,
    rid_col: str = "rid",
    salt_buckets: int = 8,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Big-big salted cell join: neither side is broadcast OR collected.

    When the query-region side is itself too large to broadcast (millions of
    regions at 100 TB scale), the cell equi-join must shuffle — and hot
    cells (dense cities vs empty ocean) make classic stragglers.  Explicit
    salting (north rule; reference analog `HashKeyIndexStrategy.java`
    partition prefix in /root/reference) splits every hot cell's rows across
    ``salt_buckets`` reducers:

      rect side:   distributed cover (`rect_cover_df`) x all S salts
      point side:  salt = pmod(hash(pid), S)   — spreads each cell's points
      join key:    (cell, salt)  — identical result set, S-way skew split

    Reference: `TieredSpatialJoin.java:168-172` hash-partitions both sides.
    The refine + uniqueness argument is the same as `point_in_rects_join`;
    equality with the unsalted join is asserted in tests, and
    tests/test_plans.py pins the plan: no LocalTableScan (driver-side
    cover) and a ShuffledHashJoin on the salted key.
    """
    ensure_arrow(spark)
    if isinstance(rects_df, pd.DataFrame):  # test convenience
        rects_df = spark.createDataFrame(rects_df)
    cand = _salted_join(cov.add_point_cells_jvm(pts, lon, lat, res),
                        rect_cover_df(rects_df, res, rid_col=rid_col),
                        ["cell"], pid_col, salt_buckets)
    out_cols = [pid_col, rid_col] + list(keep_cols or [])
    return cand.filter(
        (F.col(lon) >= F.col("lon0")) & (F.col(lon) <= F.col("lon1"))
        & (F.col(lat) >= F.col("lat0")) & (F.col(lat) <= F.col("lat1"))
    ).select(*out_cols)


def _salted_join(pts: DataFrame, cover: DataFrame, keys: list[str],
                 id_col: str, salt_buckets: int) -> DataFrame:
    """Explicitly salted cell join: the cover repeats once per salt (the
    small multiplicative cost that buys S-way parallelism on every hot
    cell), each ``pts`` row takes salt ``pmod(hash(id), S)``, and a forced
    shuffled hash join partitions both sides on ``keys + salt`` (a
    broadcast would ignore the salt)."""
    cover = cover.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])))
    return cov.salted(pts, id_col, salt_buckets).join(
        cover.hint("shuffle_hash"), [*keys, "salt"])


# The broadcast tier's cap on a query cover.  At sf0.1 q07's 35 MB cover
# joined 2x faster broadcast than through the salted shuffle.
_BROADCAST_CAP = 64 << 20


def _broadcast_cover(spark: SparkSession, queries: DataFrame,
                     bytes_per_row: int, rows: int | None = None) -> bool:
    """The tier rule of every size-chosen cover join: broadcast the query
    cover when ``rows x bytes_per_row <= 64 MB``, else sort-merge both
    sides on the cell key, where AQE's skew join splits hot cells.  A
    sort-merge spills; a shuffled hash join's build did not fit at q07
    sf10 ("not enough memory to build hash map").

    ``bytes_per_row`` is the cover bytes one query row explodes to.  Spark's
    own no-broadcast switch, ``spark.sql.autoBroadcastJoinThreshold <= 0``,
    removes the broadcast tier.  ``rows`` (e.g. a parquet footer count)
    keeps plan build job-free; without it the query side is counted up to
    the cap + 1 (one LIMIT job)."""
    return _cover_rows(spark, queries, bytes_per_row, rows) is not None


def _cover_rows(spark: SparkSession, queries: DataFrame, bytes_per_row: int,
                rows: int | None = None) -> int | None:
    """`_broadcast_cover`'s rule, giving the query side's row count (or the
    ``rows`` bound it was given) when the cover is broadcast, else None."""
    thresh = int(str(spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold", "10485760")).rstrip("b"))
    if thresh <= 0:
        return None
    cap = max(1, _BROADCAST_CAP // bytes_per_row)
    if rows is None:
        rows = queries.limit(cap + 1).count()
    return rows if rows <= cap else None


def within_distance_join(
    spark: SparkSession,
    pts: DataFrame,
    queries: DataFrame,
    radius: float,
    *,
    pid_col: str = "pid",
    qid_col: str = "qid",
    res: int = 8,
    query_rows: int | None = None,
) -> DataFrame:
    """All (point, query) pairs with planar distance <= radius.

    Reference analog: `GeomWithinDistance.java:30-46` + the buffered-envelope
    indexing in `TieredSpatialJoin.java:143-166` — the query side's cells are
    expanded by ceil(radius / cell_height) rings (grid_disk), then candidates
    are refined with the exact distance predicate (pure JVM arithmetic).

    The candidate join broadcasts the query cover or sort-merges on the
    cell (`_broadcast_cover`, ~48 B per disk cell); ``query_rows``, the
    query side's row count when the caller knows it from metadata, saves
    the LIMIT count.  Both tiers return the same pairs (asserted in
    tests/test_spatial_join.py).
    """
    cell_h = 180.0 / (1 << res)
    k = int(np.ceil(radius / cell_h))
    b = _broadcast_cover(spark, queries, 48 * (2 * k + 1) ** 2, query_rows)

    # distributed candidate expansion: one fused point->disk UDF, exploded —
    # no driver-side collect, so the query side may itself be large.  The
    # UDF dedups each disk in-batch, so (qid, cell) pairs are unique with
    # no shuffle, and since each data point maps to exactly one cell the
    # final (pid, qid) pairs are unique by construction too: the broadcast
    # tier runs the whole join with ZERO shuffles.
    q_cover = queries.select(
        F.col(qid_col), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    ).withColumn(
        "cell",
        F.explode(cov.point_disk_cells_udf(res, k, curve="rowmajor")(
            F.col("qlon"), F.col("qlat"))),
    )

    pts_c = cov.add_point_cells_jvm(pts, "lon", "lat", res)
    cand = pts_c.join(F.broadcast(q_cover) if b else q_cover.hint("merge"), "cell")
    # (a-b)*(a-b), not pow(a-b, 2): Multiply is bit-identical to the SQL
    # oracle's formulation; Math.pow may differ in the last ulp
    dx = F.col("lon") - F.col("qlon")
    dy = F.col("lat") - F.col("qlat")
    dist = F.sqrt(dx * dx + dy * dy)
    return (
        cand.withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(radius))
        .select(pid_col, qid_col, "dist")
    )


def poly_intersect_terms_sql(ka: int, ne_b: int) -> list[str]:
    """The polygon-intersects predicate as a LIST of OR-able SQL terms
    (see `poly_intersect_pred_sql` for the semantics).  Exposed separately
    so the engine can regroup terms into method-size-bounded chunks:
    janino hard-fails past 64 KB of bytecode per generated method, and a
    whole-stage join condition cannot be split across methods (inputs are
    locals) — ka=6, ne_b=10 in one expression already trips it.

    Side A is a single-ring polygon in primitive vertex columns
    ``vx0..vy{ka-1}``; side B a (multi-ring) geometry in padded edge
    columns ``eax/eay/ebx/eby{0..ne_b-1}`` (`geom.pack_polygons` layout).
    Intersects = any A vertex inside B (even-odd)  OR  any B vertex inside
    A  OR  any PROPER edge crossing — exact for geometries in generic
    position (no collinear touching), which the synthesized test sets are.
    Degenerate padding edges yield zero orientations -> false terms.

    Reference analog: the JTS `geom1.intersects(geom2)` refine of
    `TieredSpatialJoin.java:76-382` + `GeomIntersects.java`.
    """
    terms = []
    # A vertices inside B (raycast over B's edge columns)
    for t in range(ka):
        terms.append(f"({raycast_edges_sql(f'vx{t}', f'vy{t}', ne_b)})")
    # B vertices (edge heads) inside A (raycast over A's vertex ring)
    for j in range(ne_b):
        terms.append(f"({raycast_flat_sql(f'eax{j}', f'eay{j}', ka)})")
    # proper crossings: A edge (v[i-1] -> v[i]) x B edge (b -> a)
    def orient(ox, oy, px_, py_, qx, qy):
        return f"(({px_} - {ox}) * ({qy} - {oy}) - ({py_} - {oy}) * ({qx} - {ox}))"

    # sign(d1)*sign(d2) < 0  ===  d1, d2 strictly opposite AND both nonzero
    # (a zero orientation makes the product 0, never < 0) — each orientation
    # determinant appears ONCE in the text, halving the generated code: the
    # doubled form blew janino's 64 KB method limit at ka=6, ne_b=10 and
    # silently dropped the whole join out of codegen.
    for i in range(ka):
        p = ka - 1 if i == 0 else i - 1
        ax0, ay0, ax1, ay1 = f"vx{p}", f"vy{p}", f"vx{i}", f"vy{i}"
        for j in range(ne_b):
            bx0, by0, bx1, by1 = f"ebx{j}", f"eby{j}", f"eax{j}", f"eay{j}"
            d1 = orient(bx0, by0, bx1, by1, ax0, ay0)
            d2 = orient(bx0, by0, bx1, by1, ax1, ay1)
            d3 = orient(ax0, ay0, ax1, ay1, bx0, by0)
            d4 = orient(ax0, ay0, ax1, ay1, bx1, by1)
            terms.append(
                f"(sign({d1}) * sign({d2}) < 0 AND sign({d3}) * sign({d4}) < 0)"
            )
    return terms


def poly_intersect_pred_sql(ka: int, ne_b: int) -> str:
    """Polygon-intersects predicate as ONE SQL expression — the form the
    DuckDB oracle consumes verbatim (bit-identical IEEE doubles -> exact
    parity; DuckDB has no method-size limit).  The engine side instead
    chunks the same terms (`poly_intersect_terms_sql`) across several
    codegen-sized join conditions."""
    return "(" + " OR ".join(poly_intersect_terms_sql(ka, ne_b)) + ")"


def chunk_terms_sql(terms: list[str], budget_chars: int = 8000) -> list[str]:
    """Group OR-terms into predicate strings each under ``budget_chars``
    (~18 K chars of this arithmetic compiles alone, but the condition inlines
    into the stage's processNext() alongside the rest of the fused
    pipeline; 8 K keeps the whole stage under the limit).
    OR of the chunks == OR of the terms."""
    chunks, cur, cur_len = [], [], 0
    for t in terms:
        if cur and cur_len + len(t) > budget_chars:
            chunks.append("(" + " OR ".join(cur) + ")")
            cur, cur_len = [], 0
        cur.append(t)
        cur_len += len(t) + 4
    if cur:
        chunks.append("(" + " OR ".join(cur) + ")")
    return chunks


def polygon_polygon_join(
    spark: SparkSession,
    polys_a: DataFrame,
    polys_b: dict[int, np.ndarray],
    *,
    aid_col: str = "aid",
    ka: int = 6,
    res: int = 6,
    bid_col: str = "bid",
) -> DataFrame:
    """Distributed polygon x polygon intersects join: side A is a
    DataFrame of single-ring polygons (primitive columns vx0..vy{ka-1}),
    side B a broadcastable geometry dict (holes/MultiPolygon allowed).

    Reference analog: `TieredSpatialJoin.java:76-382` joining two indexed
    RDDs of arbitrary geometry (polygon x polygon exercised in
    `GeoWaveSparkSpatialJoinIT.java:98-176`).  Spark-first shape:

      A side: bbox from vertex columns (pure JVM min/max), cover cells via
              the vectorized bbox UDF, explode — fully distributed
      B side: driver cover of the small set, broadcast (cells trimmed to
              the exact geometry)
      cand:   cell equi-join -> dropDuplicates (a pair can meet in several
              cells on BOTH sides — the reference pays the same
              reduceByKey dedup, TieredSpatialJoin.java:349)
      refine: the `poly_intersect_terms_sql` predicate inside broadcast-
              join conditions — zero Python.  The OR-term list is chunked
              (`chunk_terms_sql`) into method-size-bounded conditions, one
              broadcast join per chunk over the persisted candidate set,
              unioned + pair-deduped: a single-expression condition at
              ka=6, ne_b=10 exceeds janino's 64 KB method limit and drops
              the whole join out of codegen (interpreted refine — the
              exact cost you cannot pay at 100 TB candidate volume).

    At 100 TB only the dedup shuffles; swap the broadcast for the salted
    shuffle pattern (q56) when B outgrows broadcast size.
    """
    ensure_arrow(spark)
    vxs = [f"vx{i}" for i in range(ka)]
    vys = [f"vy{i}" for i in range(ka)]
    a_cov = (
        polys_a
        .withColumn("lon0", F.least(*[F.col(c) for c in vxs]))
        .withColumn("lat0", F.least(*[F.col(c) for c in vys]))
        .withColumn("lon1", F.greatest(*[F.col(c) for c in vxs]))
        .withColumn("lat1", F.greatest(*[F.col(c) for c in vys]))
        .withColumn("cell", F.explode(cov.bbox_cells_udf(res, curve="rowmajor")(
            F.col("lon0"), F.col("lat0"), F.col("lon1"), F.col("lat1"))))
        .drop("lon0", "lat0", "lon1", "lat1")
    )
    b_cover_pdf = cov.polygon_cover(polys_b, res=res, curve="rowmajor")
    b_cover = spark.createDataFrame(
        b_cover_pdf[["poly_id", "cell"]].rename(columns={"poly_id": bid_col})
    )
    cand = (
        a_cov.join(F.broadcast(b_cover), "cell")
        .dropDuplicates([aid_col, bid_col])
    )
    ids, eax, eay, ebx, eby = geom.pack_polygons(polys_b)
    ne_b = eax.shape[1]
    b_pdf = pd.DataFrame({"jb": ids})
    for i in range(ne_b):
        b_pdf[f"eax{i}"] = eax[:, i]
        b_pdf[f"eay{i}"] = eay[:, i]
        b_pdf[f"ebx{i}"] = ebx[:, i]
        b_pdf[f"eby{i}"] = eby[:, i]
    b_attr = spark.createDataFrame(b_pdf)
    chunks = chunk_terms_sql(poly_intersect_terms_sql(ka, ne_b))
    if len(chunks) > 1:
        cand = cand.persist()
    matched = None
    for chunk in chunks:
        m = cand.join(
            F.broadcast(b_attr),
            on=(cand[bid_col] == b_attr["jb"]) & F.expr(chunk),
        ).select(aid_col, bid_col)
        matched = m if matched is None else matched.unionByName(m)
    if len(chunks) > 1:
        # a pair can satisfy terms in several chunks
        matched = matched.dropDuplicates([aid_col, bid_col])
    return matched


def _vertex_bbox_cover(df: DataFrame, k: int, res: int,
                       prefix: str = "v") -> DataFrame:
    """Distributed cover of a primitive-column polygon table: bbox from
    vertex min/max (pure JVM), cells via the vectorized bbox UDF."""
    xs = [F.col(f"{prefix}x{i}") for i in range(k)]
    ys = [F.col(f"{prefix}y{i}") for i in range(k)]
    return (
        df.withColumn("lon0", F.least(*xs)).withColumn("lat0", F.least(*ys))
        .withColumn("lon1", F.greatest(*xs)).withColumn("lat1", F.greatest(*ys))
        .withColumn("cell", F.explode(cov.bbox_cells_udf(res, curve="rowmajor")(
            F.col("lon0"), F.col("lat0"), F.col("lon1"), F.col("lat1"))))
        .drop("lon0", "lat0", "lon1", "lat1")
    )


def polygon_polygon_join_bigbig(
    spark: SparkSession,
    polys_a: DataFrame,
    polys_b: DataFrame,
    *,
    aid_col: str = "aid",
    bid_col: str = "bid",
    ka: int = 6,
    kb: int = 6,
    res: int = 6,
) -> DataFrame:
    """Polygon x polygon intersects with BOTH sides DataFrames — neither
    collected nor broadcast (the 100 TB regime `polygon_polygon_join`'s
    docstring defers to; reference: `TieredSpatialJoin.java:168-172`
    hash-partitions both indexed RDDs).

    Both sides are single-ring primitive-column polygons (vx0..vy{k-1};
    holed/Multi geometries stay on the broadcast path, whose B side is a
    geometry dict).  Shape:

      cover:  each side covers DISTRIBUTED from its vertex columns
              (`_vertex_bbox_cover`); B's cover is replicated per salt,
              A's rows salt by hash(aid) — hot cells split 8 ways
      cand:   ShuffledHashJoin on (cell, salt) (`_salted_join`),
              projected to bare (aid, bid) BEFORE the dedup shuffle
              (the covers' wide vertex payloads never shuffle twice)
      refine: candidates re-join each side's vertex columns by id (plain
              equi-joins — narrow keys, the scale-canonical shape), then
              the same chunked codegen `poly_intersect_terms_sql`
              predicate as the broadcast path; B's edge columns derive
              from its vertices in pure JVM projections.

    Result-equality with `polygon_polygon_join` is asserted in
    tests/test_spatial_join.py; the plan pin checks the candidate join is
    a ShuffledHashJoin with no LocalTableScan on either cover.
    """
    ensure_arrow(spark)
    cand = (
        _salted_join(_vertex_bbox_cover(polys_a, ka, res).select(aid_col, "cell"),
                     _vertex_bbox_cover(polys_b, kb, res).select(bid_col, "cell"),
                     ["cell"], aid_col, 8)
        .select(aid_col, bid_col)
        .dropDuplicates([aid_col, bid_col])
    )
    # refine: bring the vertex payloads back by id.  B's edges (eax..eby)
    # are JVM projections of its vertex columns: edge i = v[i] -> v[i+1].
    # pack_polygons layout: edge i runs b = v[i-1] -> a = v[i] (wrapping)
    b_edges = polys_b
    for i in range(kb):
        j = (i - 1) % kb
        b_edges = (
            b_edges.withColumn(f"eax{i}", F.col(f"vx{i}"))
            .withColumn(f"eay{i}", F.col(f"vy{i}"))
            .withColumn(f"ebx{i}", F.col(f"vx{j}"))
            .withColumn(f"eby{i}", F.col(f"vy{j}"))
        )
    b_edges = b_edges.select(
        bid_col, *[f"e{t}{i}" for i in range(kb) for t in ("ax", "ay", "bx", "by")])
    enriched = (
        cand.join(polys_a, aid_col)
        .join(b_edges, bid_col)
    )
    chunks = chunk_terms_sql(poly_intersect_terms_sql(ka, kb))
    if len(chunks) > 1:
        # keep every chunk a separate janino-sized filter stage
        out = None
        enriched = enriched.persist()
        for c in chunks:
            m = enriched.filter(F.expr(c)).select(aid_col, bid_col)
            out = m if out is None else out.unionByName(m)
        return out.dropDuplicates([aid_col, bid_col])
    return enriched.filter(F.expr(chunks[0])).select(aid_col, bid_col)


def rect_overlay_join(
    spark: SparkSession,
    a_df: DataFrame,
    b_df: DataFrame,
    *,
    res: int = 7,
    aid_col: str = "aid",
    bid_col: str = "bid",
) -> DataFrame:
    """Overlay (intersection-area) join of two rectangle DataFrames —
    (aid, bid, area_micro) for every strictly-overlapping pair.

    The vector-overlay primitive (ArcGIS Intersect / PostGIS
    ST_Intersection+ST_Area) the reference's predicate joins stop short
    of: GeomIntersects answers WHETHER, this answers HOW MUCH (reference
    `analytics/spark/.../udf/GeomFunction.java:17-35` in /root/reference
    has no area-of-overlay op).

    Scale shape: both sides cover distributedly (`rect_cover_df`, Arrow
    UDF + explode — never the driver), equi-join on the cell key against
    B's broadcast cover, codegen refine.  Duplicate suppression is
    shuffle-free: a pair is emitted ONLY in the cell containing the
    intersection's SW corner — that point lies inside both rects, so
    exactly one common cover cell owns each pair (no dropDuplicates pass,
    the `full`-flag trick of the polygon join applied to overlays).  Intersection area floors to integer micro-deg^2 from
    IEEE-exact min/max/mul, so oracle hashes match bit-for-bit.
    """
    ensure_arrow(spark)
    from ..table import geo

    ca = rect_cover_df(a_df, res, rid_col=aid_col) \
        .withColumnRenamed("lon0", "alon0").withColumnRenamed("lat0", "alat0") \
        .withColumnRenamed("lon1", "alon1").withColumnRenamed("lat1", "alat1")
    cb = rect_cover_df(b_df, res, rid_col=bid_col) \
        .withColumnRenamed("lon0", "blon0").withColumnRenamed("lat0", "blat0") \
        .withColumnRenamed("lon1", "blon1").withColumnRenamed("lat1", "blat1")
    sw_cell = geo.rowmajor_cell_sql(
        "greatest(alon0, blon0)", "greatest(alat0, blat0)", res)
    pairs = ca.join(F.broadcast(cb), "cell").filter(
        (F.col("alon0") < F.col("blon1")) & (F.col("blon0") < F.col("alon1"))
        & (F.col("alat0") < F.col("blat1")) & (F.col("blat0") < F.col("alat1"))
        & (F.col("cell") == F.expr(sw_cell))
    )
    area = ("cast(floor(1000000.0 * (least(alon1, blon1) - greatest(alon0, blon0))"
            " * (least(alat1, blat1) - greatest(alat0, blat0))) as bigint)")
    return pairs.select(aid_col, bid_col, F.expr(area).alias("area_micro"))


def haversine_km_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Great-circle distance in km — ONE formula string shared by the
    Spark refine and the DuckDB oracle (radians/sin/cos/asin exist in
    both; x*x instead of pow keeps multiply order fixed).  Twin of
    `geom.haversine_km` (reference: orthodromic distance,
    `OrthodromicDistancePartitioner.java`)."""
    sdlat = f"sin(radians({lat2} - {lat1}) / 2)"
    sdlon = f"sin(radians({lon2} - {lon1}) / 2)"
    h = (f"({sdlat} * {sdlat} + cos(radians({lat1})) * cos(radians({lat2}))"
         f" * {sdlon} * {sdlon})")
    return f"(2 * 6371.0088 * asin(sqrt(least(greatest({h}, 0.0), 1.0))))"


def within_distance_join_geodesic(
    spark: SparkSession,
    pts: DataFrame,
    queries: DataFrame,
    radius_km: float,
    *,
    pid_col: str = "pid",
    qid_col: str = "qid",
    res: int = 7,
) -> DataFrame:
    """All (point, query) pairs within a GEODESIC radius in km — the
    "within 5 km" query planar degrees cannot express.

    Candidate cells come from the latitude-aware geodesic disk
    (`grid.geodisk_cells`: lon rings widen by 1/cos(lat), full wrap near
    the poles — the reference's OrthodromicDistancePartitioner sizes its
    neighbor grid the same way); the refine is the exact haversine,
    evaluated as pure JVM SQL (`haversine_km_sql`).  The candidate join's
    tier comes from `_broadcast_cover`, as in `within_distance_join`, with
    the disk sized by the mean cell height.
    """
    cell_h_km = 180.0 / (1 << res) * 111.195  # mean km per cell height
    k = int(np.ceil(radius_km / cell_h_km))
    b = _broadcast_cover(spark, queries, 48 * (2 * k + 1) ** 2)
    q_cover = queries.select(
        F.col(qid_col), F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    ).withColumn(
        "cell",
        F.explode(cov.point_geodisk_cells_udf(res, radius_km)(
            F.col("qlon"), F.col("qlat"))),
    )
    pts_c = cov.add_point_cells_jvm(pts, "lon", "lat", res)
    cand = pts_c.join(F.broadcast(q_cover) if b else q_cover.hint("merge"), "cell")
    dist = F.expr(haversine_km_sql("lon", "lat", "qlon", "qlat"))
    return (
        cand.withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= F.lit(radius_km))
        .select(pid_col, qid_col, "dist_km")
    )


def spatiotemporal_window_join(
    spark: SparkSession,
    pts: DataFrame,
    windows: DataFrame,
    *,
    pid_col: str = "pid",
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "tsec",
    wid_col: str = "wid",
    res: int = 7,
    tbin: int = 86_400,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Spatiotemporal window join: every (point, window) pair with the point
    inside the window's bbox AND ``t0 <= ts <= t1`` — the reference's
    spatial-TEMPORAL composite index query
    (`core/geotime/.../index/SpatialTemporalDimensionalityTypeProvider.java`,
    time interleaved with lat/lon in one SFC key;
    `CompositeBinningStrategy.java` time-bin x cell bins; the During/BBox
    conjunction of `SpatialTemporalQuery`).

    Spark-first shape: the composite key is materialized as TWO join
    columns ``(cell, tbin)`` — a window explodes to its bbox cell cover x
    covered time bins (both bounded: cells by the cover budget, bins by
    duration/tbin), a point computes its single (cell, tbin) closed-form in
    JVM codegen, and ONE hash equi-join on the composite key produces
    candidates; the exact bbox+range test refines.  Pairs are unique by
    construction (a window covers each (cell, tbin) exactly once), so there
    is no dedup shuffle.  The time dimension splits every hot spatial cell
    across bins, which is exactly the skew story of the reference's
    composite binning.

    ``windows`` columns: (wid, lon0, lat0, lon1, lat1, t0, t1) with t0/t1
    in the same epoch unit as ``ts``.  The window cover is broadcast or
    sort-merged on the composite key by `_broadcast_cover`, sized at
    ~120 B per cover row and a typical ~16 cells x ~4 bins per window (no
    salting needed: tbin already spreads hot cells).
    """
    b = _broadcast_cover(spark, windows, 120 * 64)
    w_cover = windows.select(
        wid_col, "lon0", "lat0", "lon1", "lat1", "t0", "t1",
        F.explode(
            cov.bbox_cells_udf(res, curve="rowmajor")(
                F.col("lon0"), F.col("lat0"), F.col("lon1"), F.col("lat1"))
        ).alias("cell"),
    ).withColumn(
        "tbin", F.explode(F.expr(f"sequence(t0 div {tbin}, t1 div {tbin})")))
    pts_k = cov.add_point_cells_jvm(pts, lon, lat, res).withColumn(
        "tbin", F.expr(f"{ts} div {tbin}"))
    cand = pts_k.join(F.broadcast(w_cover) if b else w_cover.hint("merge"),
                      ["cell", "tbin"])
    return cand.filter(
        (F.col(lon) >= F.col("lon0")) & (F.col(lon) <= F.col("lon1"))
        & (F.col(lat) >= F.col("lat0")) & (F.col(lat) <= F.col("lat1"))
        & (F.col(ts) >= F.col("t0")) & (F.col(ts) <= F.col("t1"))
    ).select(pid_col, wid_col, *(keep_cols or []))


def seg_dist2_sql(px: str, py: str, ax: str, ay: str, bx: str, by: str) -> str:
    """Squared planar distance from point to segment — one expression text
    shared by the Spark refine and the DuckDB oracle (identical IEEE op
    order, so candidates hash identically in both engines).  Zero-length
    segments collapse to point distance (t=0)."""
    len2 = f"(({bx} - {ax}) * ({bx} - {ax}) + ({by} - {ay}) * ({by} - {ay}))"
    dot = f"((({px}) - {ax}) * ({bx} - {ax}) + (({py}) - {ay}) * ({by} - {ay}))"
    t = (f"(CASE WHEN {len2} = 0 THEN 0e0 "
         f"ELSE least(greatest({dot} / {len2}, 0e0), 1e0) END)")
    cx = f"({ax} + {t} * ({bx} - {ax}))"
    cy = f"({ay} + {t} * ({by} - {ay}))"
    return (f"((({px}) - {cx}) * (({px}) - {cx}) + "
            f"(({py}) - {cy}) * (({py}) - {cy}))")


def snap_to_segments(
    spark: SparkSession,
    pts: DataFrame,
    segs: DataFrame,
    radius: float,
    *,
    pid_col: str = "pid",
    lon: str = "lon",
    lat: str = "lat",
    sid_col: str = "sid",
    res: int = 7,
) -> DataFrame:
    """Map matching: snap every point to its NEAREST segment within
    ``radius`` (planar degrees) — nearest-neighbor against a polyline
    network (roads, trajectories).  The reference's NN machinery accepts
    arbitrary geometry distance functions
    (`analytics/mapreduce/.../nn/NNMapReduce.java`,
    `DistanceProfileGenerateFn`); this is its nearest-SEGMENT form as one
    candidate equi-join + a hash-aggregate argmin.

    Plan shape: segment bboxes expand by ``radius`` and cover to cells
    (any point within radius of a segment lands inside that cover, so
    candidate recall is exact); points compute their single cell
    closed-form in JVM; candidates refine with the exact point-to-segment
    distance (`seg_dist2_sql`, pure codegen); the per-point argmin is an
    ENCODED ``min(d2_micro * 2^36 + sid)`` hash aggregate — no window
    sort, ties break to the smaller sid deterministically in both
    engines.  Returns (pid, sid, d2_micro); points with no segment in
    range drop (inner semantics).

    ``segs`` columns: (sid, ax, ay, bx, by).  The segment cover is
    broadcast (road networks are the small side).
    """
    r = float(radius)
    s = segs.select(
        sid_col, "ax", "ay", "bx", "by",
        F.explode(
            cov.bbox_cells_udf(res, curve="rowmajor")(
                F.expr(f"least(ax, bx) - {r!r}"), F.expr(f"least(ay, by) - {r!r}"),
                F.expr(f"greatest(ax, bx) + {r!r}"), F.expr(f"greatest(ay, by) + {r!r}"))
        ).alias("cell"),
    )
    pts_c = cov.add_point_cells_jvm(pts, lon, lat, res)
    cand = pts_c.join(F.broadcast(s), "cell")
    d2 = seg_dist2_sql(lon, lat, "ax", "ay", "bx", "by")
    enc = (f"cast(floor(({d2}) * 1000000e0) as bigint) * 68719476736 "
           f"+ {sid_col}")
    return (
        cand.filter(F.expr(f"{d2} <= {r * r!r}"))
        .groupBy(pid_col).agg(F.min(F.expr(enc)).alias("_enc"))
        .select(
            pid_col,
            F.expr("_enc % 68719476736").alias(sid_col),
            F.expr("_enc div 68719476736").alias("d2_micro"),
        )
    )


def spatiotemporal_knn(
    spark: SparkSession,
    pts: DataFrame,
    queries: DataFrame,
    k: int,
    radius: float,
    lag_s: int,
    *,
    pid_col: str = "pid",
    qid_col: str = "qid",
    pts_ts: str = "tsec",
    q_ts: str = "qsec",
    res: int = 5,
    tbin: int = 86_400,
) -> DataFrame:
    """Bounded spatiotemporal kNN: for every query (point, time), the k
    nearest points within ``radius`` (planar degrees) AND within
    ``lag_s`` seconds — "what happened near here, around then".  The
    bounded form (radius + time window caps the candidate set) is the
    practical spatiotemporal variant of the reference's kNN
    (`NNMapReduce.java` runs under an explicit partitioning distance the
    same way); the composite (cell, tbin) candidate key is the q119 /
    `CompositeBinningStrategy.java` index shape.

    Plan: query side explodes to its cell DISK (ring count derived from
    radius / cell height — any point within radius is covered) x covered
    time bins; the point side computes its single (cell, tbin)
    closed-form in JVM; ONE broadcast hash equi-join, codegen dist+time refine,
    then one row_number window per query ordered by (d2_micro, pid) —
    integer keys, so rank ties are deterministic in both engines.
    Candidates are unique by construction (disk cells deduped in-batch,
    distinct bins), so no dedup shuffle precedes the window.
    """
    kr = int(np.ceil(radius / (180.0 / (1 << res))))
    q = queries.select(
        qid_col, F.col("lon").alias("qlon"), F.col("lat").alias("qlat"),
        F.col(q_ts).alias("_qs"),
        F.explode(cov.point_disk_cells_udf(res, kr, curve="rowmajor")(
            F.col("lon"), F.col("lat"))).alias("cell"),
    ).withColumn(
        "tbin",
        F.explode(F.expr(
            f"sequence((_qs - {lag_s}) div {tbin}, (_qs + {lag_s}) div {tbin})")),
    )
    pts_k = cov.add_point_cells_jvm(pts, "lon", "lat", res).withColumn(
        "tbin", F.expr(f"{pts_ts} div {tbin}"))
    cand = pts_k.join(F.broadcast(q), ["cell", "tbin"])
    d2 = ("((qlon - lon) * (qlon - lon) + (qlat - lat) * (qlat - lat))")
    refined = cand.filter(F.expr(
        f"{d2} <= {radius * radius!r} AND abs({pts_ts} - _qs) <= {lag_s}"
    )).withColumn("d2p", F.expr(f"cast(floor({d2} * 1e10) as bigint)"))
    w = F.expr(
        f"row_number() OVER (PARTITION BY {qid_col} "
        f"ORDER BY d2p, {pid_col})")
    return (
        refined.withColumn("rank", w)
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", pid_col, "d2p")
    )
