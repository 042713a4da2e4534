"""Cover step: DataFrame -> DataFrame with (res, cell) index columns.

Reference analog: insertion-id generation
(`analytics/spark/.../GeoWaveIndexedRDD.java:106-141` in /root/reference) and
the tiered SFC strategy (`TieredSFCIndexStrategy.java:345-407`): rows get
locality-preserving int64 cell keys; extended geometries get a *set* of cells
at an adaptively chosen resolution (tier), exploded to one row per cell and
deduplicated after the join.

All heavy lifting is vectorized numpy inside Arrow-batched pandas UDFs; the
explode is Spark's own `explode` of an ArrayType column — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from ..geom import core as geom
from ..sfc import grid


def cell_udf(res: int, curve: str = "hilbert"):
    """Vectorized point -> cell pandas UDF at a fixed resolution.

    Marked non-deterministic on purpose: it IS deterministic, but the
    marker stops Catalyst's InferFiltersFromConstraints from cloning the
    encode into a second ArrowEvalPython node pushed below joins/aggs
    (observed doubling the Python work of every cover join).
    """

    @F.pandas_udf(LongType())
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        c = grid.latlng_to_cell(lon.to_numpy(), lat.to_numpy(), res, curve)
        return pd.Series(c.astype(np.int64))

    return _enc.asNondeterministic()


def parent_cell_udf(res: int, parent_res: int, curve: str = "hilbert"):
    """Vectorized cell -> parent-cell pandas UDF (cross-tier alignment;
    reference: reprojectToTier `TieredSFCIndexStrategy.java:514-529`)."""

    @F.pandas_udf(LongType())
    def _par(cell: pd.Series) -> pd.Series:
        p = grid.cell_to_parent(cell.to_numpy().astype(np.uint64), res, parent_res, curve)
        return pd.Series(p.astype(np.int64))

    return _par


def bbox_cells_udf(res: int, curve: str = "hilbert"):
    """Vectorized bbox -> array<cell> pandas UDF (cover set for extended
    geometries / image footprints)."""

    @F.pandas_udf(ArrayType(LongType()))
    def _cov(lon0: pd.Series, lat0: pd.Series, lon1: pd.Series, lat1: pd.Series) -> pd.Series:
        a0, b0 = lon0.to_numpy(np.float64), lat0.to_numpy(np.float64)
        a1, b1 = lon1.to_numpy(np.float64), lat1.to_numpy(np.float64)
        out = [[] for _ in range(len(lon0))]
        # NaN bboxes (null/empty source geometry) cover nothing — the
        # uint64 cast of NaN is platform garbage, so mask them out first
        vidx = np.flatnonzero(
            np.isfinite(a0) & np.isfinite(b0) & np.isfinite(a1) & np.isfinite(b1))
        if len(vidx):
            row, cells = grid.cover_bbox(
                a0[vidx], b0[vidx], a1[vidx], b1[vidx], res, curve)
            cells = cells.astype(np.int64)
            if len(row):
                # split the flat (row, cell) pairs into per-row lists (numpy
                # split on row-change boundaries — no per-element Python loop)
                bounds = np.flatnonzero(np.diff(row)) + 1
                chunks = np.split(cells, bounds)
                for r, ch in zip(row[np.concatenate(([0], bounds))], chunks):
                    out[int(vidx[int(r)])] = ch.tolist()
        return pd.Series(out)

    return _cov


def point_disk_cells_udf(res: int, k: int, curve: str = "hilbert"):
    """Fused point -> deduped k-ring disk cells (one Arrow round-trip).

    Fusing encode+disk halves the Python stages of distance/kNN candidate
    generation, and the in-batch dedup (lon wrap / pole clamp can repeat a
    cell) makes exploded (id, cell) pairs unique by construction — letting
    callers skip a whole dropDuplicates shuffle.  Vectorized: row-sort +
    neighbor-mask + np.split, no per-row Python.
    """

    @F.pandas_udf(ArrayType(LongType()))
    def _pd(lon: pd.Series, lat: pd.Series) -> pd.Series:
        c = grid.latlng_to_cell(lon.to_numpy(), lat.to_numpy(), res, curve)
        d = grid.grid_disk(c, res, k, curve).astype(np.int64)
        d.sort(axis=1)
        keep = np.ones(d.shape, dtype=bool)
        keep[:, 1:] = d[:, 1:] != d[:, :-1]
        counts = keep.sum(axis=1)
        flat = d[keep]
        return pd.Series(np.split(flat, np.cumsum(counts)[:-1]))

    return _pd.asNondeterministic()


def add_point_cells(df: DataFrame, lon: str = "lon", lat: str = "lat",
                    res: int = 12, curve: str = "hilbert", out: str = "cell") -> DataFrame:
    """Add a cell column for point rows.

    The explicit not-null filter materializes the UDF output before any join,
    preventing Catalyst's isnotnull pushdown from duplicating the
    ArrowEvalPython node (observed in plan inspection).  Rows with null
    coordinates are dropped — they are unindexable by definition.
    """
    return (
        df.withColumn(out, cell_udf(res, curve)(F.col(lon), F.col(lat)))
        .filter(F.col(out).isNotNull())
    )


def add_point_cells_jvm(df: DataFrame, lon: str = "lon", lat: str = "lat",
                        res: int = 12, out: str = "cell") -> DataFrame:
    """Closed-form row-major cell column — pure JVM, whole-stage codegen,
    zero Python on the data side.

    Identical ids to `add_point_cells(curve='rowmajor')` (GeoWave
    ceil(c*n)-1 normalization, same formula as `table.geo.rowmajor_cell_sql`
    shared with the SQL oracles).  Use on the BIG side of cover joins where
    the curve choice is free: an equi-join key only needs identity, not
    Hilbert locality — the Hilbert curve earns its keep for sort/range
    locality (Iceberg sortedBy), not hash joins.
    """
    from ..table import geo

    return df.withColumn(out, F.expr(geo.rowmajor_cell_sql(lon, lat, res)))


def parent_cell_expr(cell_col: str, res: int, parent_res: int):
    """Closed-form row-major reprojection to a coarser tier (JVM twin of
    `parent_cell_udf` for curve='rowmajor'; reference reprojectToTier,
    `TieredSFCIndexStrategy.java:514-529`)."""
    n = 1 << res
    s = 1 << (res - parent_res)
    pn = 1 << parent_res
    return F.expr(
        f"((({cell_col}) div {n}) div {s}) * {pn} + ((({cell_col}) % {n}) div {s})"
    )


def salted(df: DataFrame, key_col: str, salt_buckets: int, out: str = "salt") -> DataFrame:
    """Salting column for hot-cell skew (reference analog:
    `HashKeyIndexStrategy.java` partition-prefix; north rule requires explicit
    skew handling).  salt = pmod(hash(key), S); append to shuffle keys."""
    return df.withColumn(out, F.pmod(F.hash(F.col(key_col)), F.lit(salt_buckets)))


def polygon_cover(polys: dict[int, np.ndarray], res: int | None = None,
                  max_cells: int = 256, curve: str = "hilbert") -> pd.DataFrame:
    """Driver-side cover of a (small, broadcastable) polygon set.

    Returns a pandas DataFrame (poly_id, res, cell) — the candidate cell
    ranges that get broadcast (north rule: "broadcast candidate-cell ranges
    refined by exact geometry predicates").  If ``res`` is None each polygon
    picks its own tier adaptively (reference: getRowIds tier selection).
    Cells are trimmed to those actually intersecting the polygon
    (reference: `RDDUtils.java:158-183`).  The ``full`` column marks cells
    lying FULLY inside their polygon: candidates in those cells need no
    exact refine (interior/boundary split, the XZ-order idea) — at scale
    this keeps the interior fraction of the join entirely JVM-side.
    """
    pids = np.array(list(polys), dtype=np.int64)
    if not len(pids):
        return pd.DataFrame({"poly_id": pids, "res": pids, "cell": pids,
                             "full": np.zeros(0, dtype=bool)})
    bx0, by0, bx1, by1 = np.array([geom.poly_bbox(p) for p in polys.values()]).T
    tier = (grid.adaptive_res(bx0, by0, bx1, by1, max_cells) if res is None
            else np.full(len(pids), res, dtype=np.int64))
    # bbox cells of every polygon, one cover_bbox call per tier
    parts = []
    for r in np.unique(tier):
        sel = np.flatnonzero(tier == r)
        row, cells = grid.cover_bbox(bx0[sel], by0[sel], bx1[sel], by1[sel],
                                     int(r), curve)
        parts.append((sel[row], np.full(len(row), r), cells,
                      *grid.cell_bounds(cells, int(r), curve)))
    pos, ress, cells, lo0, la0, lo1, la1 = (np.concatenate(c) for c in zip(*parts))
    # polygons in dict order, each polygon's cells in cover_bbox order
    order = np.argsort(pos, kind="stable")
    pos, ress, cells, lo0, la0, lo1, la1 = (
        a[order] for a in (pos, ress, cells, lo0, la0, lo1, la1))
    ids_sorted, *edges = geom.pack_polygons(polys)
    rows = np.searchsorted(ids_sorted, pids[pos])
    keep = geom.classify_bboxes(lo0, la0, lo1, la1, rows, *edges)
    full = geom.classify_bboxes(lo0[keep], la0[keep], lo1[keep], la1[keep],
                                rows[keep], *edges, within=True)
    return pd.DataFrame({
        "poly_id": pids[pos[keep]], "res": ress[keep],
        "cell": cells[keep].astype(np.int64), "full": full,
    })


def rect_cover(rects: pd.DataFrame, res: int, curve: str = "hilbert",
               id_col: str = "rid") -> pd.DataFrame:
    """Driver-side cover of a small rectangle set -> (id, cell) pandas frame.

    Rectangles need no trim step (bbox cover is exact for bboxes).
    """
    row, cells = grid.cover_bbox(
        rects["lon0"].to_numpy(), rects["lat0"].to_numpy(),
        rects["lon1"].to_numpy(), rects["lat1"].to_numpy(), res, curve,
    )
    return pd.DataFrame({
        id_col: rects[id_col].to_numpy()[row],
        "cell": cells.astype(np.int64),
    })


def point_geodisk_cells_udf(res: int, radius_km: float, curve: str = "rowmajor"):
    """Fused point -> geodesic candidate disk (latitude-aware lon rings;
    `grid.geodisk_cells`).  Same contract as `point_disk_cells_udf`:
    deduped per row, one Arrow round trip, explode-ready."""

    @F.pandas_udf(ArrayType(LongType()))
    def _gd(lon: pd.Series, lat: pd.Series) -> pd.Series:
        row, cells = grid.geodisk_cells(
            lon.to_numpy(), lat.to_numpy(), res, radius_km, curve)
        out = [[] for _ in range(len(lon))]
        if len(row):
            bounds = np.flatnonzero(np.diff(row)) + 1
            chunks = np.split(cells, bounds)
            for r, ch in zip(row[np.concatenate(([0], bounds))], chunks):
                out[int(r)] = ch.tolist()
        return pd.Series(out)

    return _gd.asNondeterministic()


def wkt_bbox_cells_udf(res: int, curve: str = "rowmajor"):
    """Vectorized WKT-geometry -> array<cell> pandas UDF: bbox cover of
    each geometry's coordinates (POLYGON/MULTIPOLYGON/LINESTRING/...).
    Over-covers by bbox — callers keep the exact predicate as the refine,
    so the cover only needs completeness (reference: envelope-based
    insertion ids, `GeoWaveIndexedRDD.java:106-141`)."""
    import re

    _nums = re.compile(r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?")

    @F.pandas_udf(ArrayType(LongType()))
    def _cov(wkt: pd.Series) -> pd.Series:
        n = len(wkt)
        lon0 = np.empty(n)
        lat0 = np.empty(n)
        lon1 = np.empty(n)
        lat1 = np.empty(n)
        valid = np.zeros(n, dtype=bool)
        for i, w in enumerate(wkt):
            # NULL / EMPTY / numberless WKT -> empty cover (row drops at the
            # explode), mirroring add_point_cells' null handling
            vals = _nums.findall(w) if isinstance(w, str) else None
            if not vals:
                continue
            v = np.array([float(t) for t in vals])
            xs, ys = v[0::2], v[1::2]
            lon0[i], lat0[i] = xs.min(), ys.min()
            lon1[i], lat1[i] = xs.max(), ys.max()
            valid[i] = True
        out = [[] for _ in range(n)]
        vidx = np.flatnonzero(valid)
        if len(vidx):
            row, cells = grid.cover_bbox(
                lon0[vidx], lat0[vidx], lon1[vidx], lat1[vidx], res, curve)
            cells = cells.astype(np.int64)
            if len(row):
                bounds = np.flatnonzero(np.diff(row)) + 1
                chunks = np.split(cells, bounds)
                for r, ch in zip(row[np.concatenate(([0], bounds))], chunks):
                    out[int(vidx[int(r)])] = ch.tolist()
        return pd.Series(out)

    return _cov


def wkt_bbox_udf():
    """Vectorized WKT-geometry -> bbox struct (lon0, lat0, lon1, lat1)
    pandas UDF.  Pairs with `bbox_cells_udf` so the polygon x polygon SQL
    rewrite (`plans/sqlrewrite.rewrite_polypoly_join`) can compute both
    the cover cells and the reporting-cell dedup corner from ONE numeric
    extraction per geometry."""
    import re as _re

    from pyspark.sql.types import DoubleType, StructField, StructType

    _nums = _re.compile(r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?")
    schema = StructType([
        StructField("lon0", DoubleType()), StructField("lat0", DoubleType()),
        StructField("lon1", DoubleType()), StructField("lat1", DoubleType()),
    ])

    @F.pandas_udf(schema)
    def _bb(wkt: pd.Series) -> pd.DataFrame:
        n = len(wkt)
        lon0 = np.empty(n)
        lat0 = np.empty(n)
        lon1 = np.empty(n)
        lat1 = np.empty(n)
        for i, w in enumerate(wkt):
            # NULL / EMPTY / numberless WKT -> NaN bbox; downstream covers
            # (bbox_cells_udf) emit no cells for NaN, so the row drops at
            # the explode instead of crashing the rewritten plan
            vals = _nums.findall(w) if isinstance(w, str) else None
            if not vals:
                lon0[i] = lat0[i] = lon1[i] = lat1[i] = np.nan
                continue
            v = np.array([float(t) for t in vals])
            xs, ys = v[0::2], v[1::2]
            lon0[i], lat0[i] = xs.min(), ys.min()
            lon1[i], lat1[i] = xs.max(), ys.max()
        return pd.DataFrame(
            {"lon0": lon0, "lat0": lat0, "lon1": lon1, "lat1": lat1})

    return _bb
