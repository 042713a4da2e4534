"""Multi-resolution global grid: the cell engine at the heart of this design.

Role model: GeoWave's tiered SFC index strategy
(`core/index/.../sfc/tiered/TieredSFCIndexStrategy.java:345-407` in
/root/reference): a geometry is inserted at the finest *tier* whose cell cover
has at most K cells; the tier byte + SFC key form the sort key.  Here a tier is
a **resolution** r (grid of 2**r x 2**r cells over lon [-180,180], lat
[-90,90] — latitude stretched to a square grid exactly like GeoWave's
`LatitudeDefinition.java:34-43`), and the cell id is the 2-D Hilbert distance
at r bits/dim, so `(res:int, cell:int64)` columns replace byte-array keys.

Normalization uses GeoWave's boundary convention (value -> ceil(c*n)-1,
clamped), verified against the golden ids in
`core/geotime/src/test/java/.../sfc/hilbert/HilbertSFCTest.java:29-110`:
(90,180)->3074457345618258602, (-90,-180)->0, (0,0)->768614336404564650.

Everything is vectorized numpy over whole arrays — the per-row Python ban in
the north rule applies inside pandas UDF bodies too.
"""

from __future__ import annotations

import numpy as np

from . import hilbert, zorder

MAX_RES = 31

LON_MIN, LON_MAX = -180.0, 180.0
LAT_MIN, LAT_MAX = -90.0, 90.0


def _normalize(v: np.ndarray, lo: float, hi: float, r: int) -> np.ndarray:
    """Continuous value -> integer grid ordinate in [0, 2**r) (GeoWave convention).

    Matches the reference's SFC dimension normalization: interior bin
    boundaries map to the *lower* cell, the domain max maps to the top cell.

    Like `table/geo.grid_xy_sql`, ceil(c*n) is clamped to [1, n] before
    the cast: -inf and -1e300 then map to 0 instead of wrapping through
    int64.  NaN is left out: SQL gives null there and numpy has no null;
    the last clip only keeps it in range.
    """
    n = np.int64(1) << np.int64(r)
    c = (np.asarray(v, dtype=np.float64) - lo) / (hi - lo)
    idx = np.clip(np.ceil(c * n), 1, n).astype(np.int64) - 1
    return np.clip(idx, 0, n - 1).astype(np.uint64)


def _denormalize(idx: np.ndarray, lo: float, hi: float, r: int) -> tuple[np.ndarray, np.ndarray]:
    """Grid ordinate -> (low_edge, high_edge) continuous bounds."""
    n = float(1 << r)
    idx = np.asarray(idx, dtype=np.float64)
    w = (hi - lo) / n
    return lo + idx * w, lo + (idx + 1.0) * w


def latlng_to_xy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    return _normalize(lon, LON_MIN, LON_MAX, res), _normalize(lat, LAT_MIN, LAT_MAX, res)


def xy_to_cell(x: np.ndarray, y: np.ndarray, res: int, curve: str = "hilbert") -> np.ndarray:
    if curve == "hilbert":
        return hilbert.encode(x, y, res)
    if curve == "zorder":
        return zorder.encode(x, y)
    if curve == "rowmajor":
        return (np.asarray(y, dtype=np.uint64) << np.uint64(res)) | np.asarray(x, dtype=np.uint64)
    raise ValueError(f"unknown curve {curve!r}")


def cell_to_xy(cell: np.ndarray, res: int, curve: str = "hilbert") -> tuple[np.ndarray, np.ndarray]:
    if curve == "hilbert":
        return hilbert.decode(cell, res)
    if curve == "zorder":
        return zorder.decode(cell)
    if curve == "rowmajor":
        cell = np.asarray(cell, dtype=np.uint64)
        mask = (np.uint64(1) << np.uint64(res)) - np.uint64(1)
        return cell & mask, cell >> np.uint64(res)
    raise ValueError(f"unknown curve {curve!r}")


def latlng_to_cell(lon: np.ndarray, lat: np.ndarray, res: int, curve: str = "hilbert") -> np.ndarray:
    """Point -> int64 cell id at resolution ``res`` (vectorized)."""
    x, y = latlng_to_xy(lon, lat, res)
    return xy_to_cell(x, y, res, curve)


def cell_bounds(cell: np.ndarray, res: int, curve: str = "hilbert") -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Cell id -> (lon0, lat0, lon1, lat1) edges.

    Analog of the reference's key->range inverse
    (`TieredSFCIndexStrategy.java:230-247`, used for raster tile geometry).
    """
    x, y = cell_to_xy(cell, res, curve)
    lon0, lon1 = _denormalize(x, LON_MIN, LON_MAX, res)
    lat0, lat1 = _denormalize(y, LAT_MIN, LAT_MAX, res)
    return lon0, lat0, lon1, lat1


def cell_to_parent(cell: np.ndarray, res: int, parent_res: int, curve: str = "hilbert") -> np.ndarray:
    """Re-key a cell at a coarser resolution (reference: reprojectToTier,
    `TieredSFCIndexStrategy.java:514-529`)."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    x, y = cell_to_xy(cell, res, curve)
    shift = np.uint64(res - parent_res)
    return xy_to_cell(x >> shift, y >> shift, parent_res, curve)


def grid_disk(cell: np.ndarray, res: int, k: int, curve: str = "hilbert") -> np.ndarray:
    """Chebyshev-ring neighborhood: all cells within k rings of each input cell.

    Longitude wraps (dateline); latitude clamps at the poles.  Returns an
    array of shape (len(cell), (2k+1)**2).  This is the kNN candidate
    generator (reference: OrthodromicDistancePartitioner neighbor expansion,
    `analytics/api/.../partitioner/OrthodromicDistancePartitioner.java`).
    """
    n = np.int64(1) << np.int64(res)
    x, y = cell_to_xy(np.asarray(cell, dtype=np.uint64), res, curve)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    dx, dy = np.meshgrid(offs, offs)
    nx = (x.astype(np.int64)[:, None] + dx.ravel()[None, :]) % n  # lon wrap
    ny = np.clip(y.astype(np.int64)[:, None] + dy.ravel()[None, :], 0, n - 1)
    return xy_to_cell(nx.astype(np.uint64), ny.astype(np.uint64), res, curve)


def cover_bbox(lon0, lat0, lon1, lat1, res: int, curve: str = "hilbert") -> tuple[np.ndarray, np.ndarray]:
    """Cover N bboxes with cells at ``res``.

    Returns (row_index, cell) pairs — the explode-ready cover set.  This is
    the insertion-id generation step (reference:
    `GeoWaveIndexedRDD.java:106-141` getInsertionIds from envelope).
    """
    x0, y0 = latlng_to_xy(np.asarray(lon0), np.asarray(lat0), res)
    x1, y1 = latlng_to_xy(np.asarray(lon1), np.asarray(lat1), res)
    nx = (x1 - x0 + np.uint64(1)).astype(np.int64)
    ny = (y1 - y0 + np.uint64(1)).astype(np.int64)
    counts = nx * ny
    row = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    total = int(counts.sum())
    if total == 0:
        return row, np.empty(0, dtype=np.uint64)
    # local offset within each bbox, decomposed into (ox, oy)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    local = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    nx_r = np.repeat(nx, counts)
    ox = local % nx_r
    oy = local // nx_r
    cx = np.repeat(x0.astype(np.int64), counts) + ox
    cy = np.repeat(y0.astype(np.int64), counts) + oy
    return row, xy_to_cell(cx.astype(np.uint64), cy.astype(np.uint64), res, curve)


def bbox_cover_count(lon0, lat0, lon1, lat1, res: int) -> np.ndarray:
    """Number of cells a bbox spans at ``res`` without materializing them."""
    x0, y0 = latlng_to_xy(np.asarray(lon0), np.asarray(lat0), res)
    x1, y1 = latlng_to_xy(np.asarray(lon1), np.asarray(lat1), res)
    return ((x1 - x0 + np.uint64(1)) * (y1 - y0 + np.uint64(1))).astype(np.int64)


def adaptive_res(lon0, lat0, lon1, lat1, max_cells: int, res_candidates=None) -> np.ndarray:
    """Per-geometry tier selection: the finest resolution whose bbox cover has
    <= ``max_cells`` cells.

    Reference semantics: `TieredSFCIndexStrategy.getRowIds:345-390` — insert
    at the lowest tier where the entry spans at most maxDuplicates cells.
    Vectorized: evaluates each candidate resolution on the whole array.
    """
    if res_candidates is None:
        res_candidates = range(0, MAX_RES + 1)
    lon0 = np.asarray(lon0, dtype=np.float64)
    out = np.zeros(lon0.shape, dtype=np.int64)
    for r in sorted(res_candidates):
        ok = bbox_cover_count(lon0, lat0, lon1, lat1, r) <= max_cells
        out = np.where(ok, r, out)
    return out


R_KM = 6371.0088
KM_PER_DEG = np.pi * R_KM / 180.0  # great-circle km per degree (111.19...)


def geodisk_cells(lon, lat, res: int, radius_km: float,
                  curve: str = "rowmajor"):
    """Latitude-aware candidate disk for a GEODESIC radius: lat rings are
    fixed (ky = floor(r/cell)+1), lon rings widen per point by
    1/cos(worst latitude in the reachable band), capped at full wrap.

    The lon bound uses d >= 2 R cos(phi_max) |sin(dlam/2)| >= (2/pi) R
    cos(phi_max) dlam, i.e. dlon_deg <= (pi/2) * r_km / (KM_PER_DEG *
    cos(phi_max)) — conservative, so the exact haversine refine never
    loses a pair.  Reference analog: the orthodromic neighbor expansion of
    `OrthodromicDistancePartitioner.java` (/root/reference), which also
    sizes its grid from the worst-case meters-per-degree at the partition
    latitude.

    Returns (row_index, cell) explode-ready pairs, deduped per row.
    Vectorized: rows are grouped by their distinct kx (a handful of
    values), each group generated as one meshgrid — no per-row Python.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = np.int64(1) << np.int64(res)
    cell_h = 180.0 / float(n)
    cell_w = 360.0 / float(n)
    r_deg = radius_km / KM_PER_DEG
    ky = int(r_deg // cell_h) + 1

    phi_worst = np.minimum(np.abs(lat) + r_deg + cell_h, 89.9999)
    dlon_max = (np.pi / 2) * radius_km / (
        KM_PER_DEG * np.cos(np.radians(phi_worst))
    )
    kx = np.minimum(dlon_max // cell_w + 1, float(n // 2)).astype(np.int64)

    x, y = latlng_to_xy(lon, lat, res)
    x = x.astype(np.int64)
    y = y.astype(np.int64)
    rows_out, cells_out = [], []
    for k in np.unique(kx):
        m = kx == k
        ox = np.arange(-int(k), int(k) + 1, dtype=np.int64)
        oy = np.arange(-ky, ky + 1, dtype=np.int64)
        dx, dy = np.meshgrid(ox, oy)
        nx = (x[m][:, None] + dx.ravel()[None, :]) % n       # lon wraps
        ny = np.clip(y[m][:, None] + dy.ravel()[None, :], 0, n - 1)
        cells = xy_to_cell(nx.astype(np.uint64), ny.astype(np.uint64),
                           res, curve).astype(np.int64)
        # in-batch dedup (wrap/clamp repeats): sort rows, mask repeats
        cells.sort(axis=1)
        keep = np.ones(cells.shape, dtype=bool)
        keep[:, 1:] = cells[:, 1:] != cells[:, :-1]
        ridx = np.flatnonzero(m)
        rows_out.append(np.repeat(ridx, keep.sum(axis=1)))
        cells_out.append(cells[keep])
    if not rows_out:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))
    row = np.concatenate(rows_out)
    cell = np.concatenate(cells_out)
    order = np.argsort(row, kind="stable")
    return row[order], cell[order]
