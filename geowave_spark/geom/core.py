"""Vectorized computational geometry (pure numpy) — the exact-refine kernel.

Role model: GeoWave's spatial predicate set
(`core/geotime/.../store/query/filter/SpatialQueryFilter.java:47-140` and the
filter-expression tree `.../filter/expression/spatial/*.java` in
/root/reference) which refines candidate rows with exact JTS geometry tests
after the index range scan.  shapely is unavailable in this environment, so
the predicates are implemented directly as numpy array ops: every function is
vectorized over N points (or N cells) against one polygon; multi-polygon
candidate sets are handled by the callers grouping per polygon.

Polygons are flat float64 arrays [x0, y0, x1, y1, ...] (unclosed ring is
accepted; closure is implicit).
"""

from __future__ import annotations

import numpy as np


def poly_xy(poly) -> tuple[np.ndarray, np.ndarray]:
    a = np.asarray(poly, dtype=np.float64).reshape(-1, 2)
    return a[:, 0], a[:, 1]


def as_rings(g) -> list[np.ndarray]:
    """Normalize a geometry to a list of (n, 2) rings.

    Accepts a flat [x,y,...] array or (n,2) array (single ring — the
    historical representation), or a list/tuple of such (polygon with
    holes, MultiPolygon: shells and holes concatenated; the even-odd rule
    makes the distinction irrelevant for membership).  Mirrors JTS's
    Polygon(shell, holes[]) / MultiPolygon surface
    (`analytics/spark/.../sparksql/udt/MultiPolygonUDT.java` in
    /root/reference) without a class hierarchy.
    """
    if isinstance(g, (list, tuple)):
        return [np.asarray(r, dtype=np.float64).reshape(-1, 2) for r in g]
    return [np.asarray(g, dtype=np.float64).reshape(-1, 2)]


def rings_edges(g) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """All boundary edges of a (possibly multi-ring) geometry as flat
    (ax, ay, bx, by) arrays — per ring, edge i runs predecessor
    b=v[i-1] -> a=v[i] (wrapping), matching `point_in_polygon`'s edge
    orientation so XOR-over-edges is bit-identical to XOR-over-rings."""
    axs, ays, bxs, bys = [], [], [], []
    for r in as_rings(g):
        vx, vy = r[:, 0], r[:, 1]
        axs.append(vx)
        ays.append(vy)
        bxs.append(np.roll(vx, 1))
        bys.append(np.roll(vy, 1))
    return (np.concatenate(axs), np.concatenate(ays),
            np.concatenate(bxs), np.concatenate(bys))


def point_in_rings(px, py, g) -> np.ndarray:
    """Even-odd membership for multi-ring geometries: XOR of the per-ring
    ray casts.  holes subtract, disjoint shells union — exactly JTS's
    evaluation for Polygon-with-holes and MultiPolygon interiors."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    for r in as_rings(g):
        inside ^= point_in_polygon(px, py, r)
    return inside


def poly_bbox(poly) -> tuple[float, float, float, float]:
    rings = as_rings(poly)
    x = np.concatenate([r[:, 0] for r in rings])
    y = np.concatenate([r[:, 1] for r in rings])
    return float(x.min()), float(y.min()), float(x.max()), float(y.max())


def point_in_polygon(px: np.ndarray, py: np.ndarray, poly) -> np.ndarray:
    """Ray-cast point-in-polygon, vectorized over points.

    Boundary semantics ~ JTS `contains`: points exactly on a horizontal-ray
    crossing edge follow the half-open rule (consistent, deterministic).
    """
    vx, vy = poly_xy(poly)
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape, dtype=bool)
    j = len(vx) - 1
    for i in range(len(vx)):
        xi, yi, xj, yj = vx[i], vy[i], vx[j], vy[j]
        cond = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= cond & (px < xint)
        j = i
    return inside


def pack_polygons(polys: dict[int, np.ndarray]):
    """Pack a geometry dict into padded EDGE matrices for the batch kernel.

    Returns (ids_sorted, AX, AY, BX, BY): ids_sorted is the sorted
    geometry-id vector; AX/AY are (P, max_ne) "current vertex" and BX/BY
    the "predecessor vertex" of each boundary edge (all rings of a
    geometry concatenated — holes and MultiPolygon parts ride the same
    matrices under the even-odd rule).  Rows are padded by repeating edge
    0's endpoint as a degenerate zero-length edge, whose crossing
    condition is identically false.  `np.searchsorted(ids_sorted, id_col)`
    maps a per-row geometry-id column to row indices.
    """
    ids_sorted = np.array(sorted(polys), dtype=np.int64)
    edges = [rings_edges(polys[int(p)]) for p in ids_sorted]
    max_ne = max(len(e[0]) for e in edges)
    mats = [np.empty((len(ids_sorted), max_ne), dtype=np.float64) for _ in range(4)]
    for r, (eax, eay, ebx, eby) in enumerate(edges):
        n_e = len(eax)
        for m, src in zip(mats, (eax, eay, ebx, eby)):
            m[r, :n_e] = src
        pad_x, pad_y = eax[0], eay[0]
        mats[0][r, n_e:] = pad_x
        mats[1][r, n_e:] = pad_y
        mats[2][r, n_e:] = pad_x
        mats[3][r, n_e:] = pad_y
    return (ids_sorted, *mats)


def point_in_polygons(px, py, poly_rows, ax_pad, ay_pad, bx_pad, by_pad) -> np.ndarray:
    """Batch ray-cast: point i against geometry ``poly_rows[i]``.

    Bit-identical to `point_in_rings` (same per-edge formula; XOR is
    order-independent) but vectorized across a batch of MIXED geometries —
    no per-geometry sub-slicing.  Degenerate padding edges contribute
    false.  The crossing abscissa is computed only for the points whose
    horizontal line the edge straddles, so it never divides by zero.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    poly_rows = np.asarray(poly_rows)
    inside = np.zeros(px.shape, dtype=bool)
    for k in range(ax_pad.shape[1]):
        yi = ay_pad[:, k].take(poly_rows)
        yj = by_pad[:, k].take(poly_rows)
        c = np.flatnonzero((yi > py) != (yj > py))
        r, y, yi, yj = poly_rows[c], py[c], yi[c], yj[c]
        xi = ax_pad[:, k].take(r)
        xint = (bx_pad[:, k].take(r) - xi) * (y - yi) / (yj - yi) + xi
        inside[c] ^= px[c] < xint
    return inside


def _segments_intersect(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> np.ndarray:
    """Proper/improper segment intersection, vectorized (orientations)."""

    def orient(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    d1 = orient(bx0, by0, bx1, by1, ax0, ay0)
    d2 = orient(bx0, by0, bx1, by1, ax1, ay1)
    d3 = orient(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = orient(ax0, ay0, ax1, ay1, bx1, by1)
    general = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)

    def on_seg(ox, oy, px_, py_, qx, qy, d):
        return (d == 0) & (np.minimum(ox, px_) <= qx) & (qx <= np.maximum(ox, px_)) & \
               (np.minimum(oy, py_) <= qy) & (qy <= np.maximum(oy, py_))

    col = on_seg(bx0, by0, bx1, by1, ax0, ay0, d1) | on_seg(bx0, by0, bx1, by1, ax1, ay1, d2) | \
          on_seg(ax0, ay0, ax1, ay1, bx0, by0, d3) | on_seg(ax0, ay0, ax1, ay1, bx1, by1, d4)
    return general | col


# The (box x edge) overlap matrix is built at most this many elements at a
# time, so one polygon with thousands of edges cannot blow up memory.
_PAIR_CHUNK = 1 << 20
# Each box is inflated by this much (degrees) before it is classified: the
# encoder's rounding can put a point just past its cell's edge
_BOX_MARGIN = 1e-9


def _box_edge_hits(x0, y0, x1, y1, rows, ax, ay, bx, by) -> np.ndarray:
    """Which boxes hold a vertex of, or are crossed by an edge of, geometry
    ``rows[i]`` (padded edge matrices, `pack_polygons` layout).

    Only (box, edge) pairs whose bounding boxes overlap are tested: a vertex
    inside the closed box, or any point common to an edge and a box side,
    lies in both bounding boxes.  Padding edges are single points at a real
    vertex, so they add nothing the vertex test does not already find.
    """
    hit = np.zeros(len(x0), dtype=bool)
    exlo, exhi = np.minimum(ax, bx), np.maximum(ax, bx)
    eylo, eyhi = np.minimum(ay, by), np.maximum(ay, by)
    step = max(1, _PAIR_CHUNK // ax.shape[1])
    for s in range(0, len(x0), step):
        r = rows[s:s + step]
        c0, d0 = x0[s:s + step, None], y0[s:s + step, None]
        c1, d1 = x1[s:s + step, None], y1[s:s + step, None]
        i, k = np.nonzero((exlo[r] <= c1) & (exhi[r] >= c0)
                          & (eylo[r] <= d1) & (eyhi[r] >= d0))
        pr = r[i]
        hx, hy, tx, ty = ax[pr, k], ay[pr, k], bx[pr, k], by[pr, k]
        c0, d0, c1, d1 = c0[i, 0], d0[i, 0], c1[i, 0], d1[i, 0]
        h = (hx >= c0) & (hx <= c1) & (hy >= d0) & (hy <= d1)
        for sx0, sy0, sx1, sy1 in ((c0, d0, c1, d0), (c1, d0, c1, d1),
                                   (c1, d1, c0, d1), (c0, d1, c0, d0)):
            h |= _segments_intersect(tx, ty, hx, hy, sx0, sy0, sx1, sy1)
        hit[s + i[h]] = True
    return hit


def classify_bboxes(lon0, lat0, lon1, lat1, rows, ax_pad, ay_pad, bx_pad,
                    by_pad, within: bool = False) -> np.ndarray:
    """Box i against geometry ``rows[i]`` (`pack_polygons` matrices), for
    boxes of MIXED geometries in one batch — the polygon-cover classifier.

    Both modes test the box inflated by ``_BOX_MARGIN``.

    ``within=False``: does the box intersect the geometry — any box corner
    inside (even-odd), any vertex inside the box, or any edge crossing a
    box side (reference: `RDDUtils.java:158-183` trims insertion ids to
    cells actually intersecting the geometry).  The margin keeps a cell
    whose edge lies a rounding error from the geometry: a point on the
    grid line between two rows, or less than half an ulp of ``lat + 90``
    north of it, encodes into the row below.

    ``within=True``: does the box lie FULLY inside — all corners inside, no
    vertex inside and no edge crossing, so any edge passing within the
    margin demotes the box to "partial" and float rounding in the exact
    ray cast (~1e-14 abs) can never disagree with it.  Points in a
    fully-interior cell need no exact refine (GeoWave's XZ-order makes the
    same interior/boundary split).

    The corners decide most boxes; the vertex and crossing tests run only
    on the boxes they leave open.
    """
    m = _BOX_MARGIN
    x0, y0, x1, y1 = (np.asarray(v, dtype=np.float64) + d
                      for v, d in ((lon0, -m), (lat0, -m), (lon1, m), (lat1, m)))
    rows = np.asarray(rows, dtype=np.int64)
    n = len(x0)
    corners = point_in_polygons(
        np.concatenate((x0, x0, x1, x1)), np.concatenate((y0, y1, y0, y1)),
        np.tile(rows, 4), ax_pad, ay_pad, bx_pad, by_pad).reshape(4, n)
    out = corners.all(axis=0) if within else corners.any(axis=0)
    open_ = np.flatnonzero(out if within else ~out)
    hits = _box_edge_hits(x0[open_], y0[open_], x1[open_], y1[open_],
                          rows[open_], ax_pad, ay_pad, bx_pad, by_pad)
    out[open_] = ~hits if within else hits
    return out


def bboxes_intersect_polygon(lon0, lat0, lon1, lat1, poly) -> np.ndarray:
    """Which of N bboxes (cells) intersect one geometry
    (`classify_bboxes` for a single geometry)."""
    return classify_bboxes(lon0, lat0, lon1, lat1, np.zeros(len(lon0), np.int64),
                           *pack_polygons({0: poly})[1:])


def planar_distance(ax, ay, bx, by) -> np.ndarray:
    """Euclidean distance in degree space — the join/kNN metric.

    Deliberately planar so the DuckDB oracle can reproduce it bit-for-bit
    with sqrt(dx*dx + dy*dy); haversine() exists for real deployments.
    """
    dx = np.asarray(ax, dtype=np.float64) - np.asarray(bx, dtype=np.float64)
    dy = np.asarray(ay, dtype=np.float64) - np.asarray(by, dtype=np.float64)
    return np.sqrt(dx * dx + dy * dy)


def haversine_km(ax, ay, bx, by) -> np.ndarray:
    """Great-circle distance in km (reference: orthodromic distance in
    `OrthodromicDistancePartitioner.java`)."""
    lon1, lat1, lon2, lat2 = (np.radians(np.asarray(v, dtype=np.float64)) for v in (ax, ay, bx, by))
    dlat = lat2 - lat1
    dlon = lon2 - lon1
    h = np.sin(dlat / 2) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin(dlon / 2) ** 2
    return 2 * 6371.0088 * np.arcsin(np.sqrt(np.clip(h, 0, 1)))


def point_to_polygon_distance(px, py, poly) -> np.ndarray:
    """Min distance from N points to a geometry boundary (0 if inside;
    even-odd for multi-ring geometries, so points inside a hole get the
    distance to the hole's ring)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    return np.where(
        point_in_rings(px, py, poly), 0.0, point_to_ring_distance(px, py, poly)
    )


def point_to_ring_distance(px, py, poly) -> np.ndarray:
    """Min distance from N points to the geometry *boundary* (any ring;
    not 0 inside)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    eax, eay, ebx, eby = rings_edges(poly)
    best = np.full(px.shape, np.inf)
    for k in range(len(eax)):
        x0, y0, x1, y1 = ebx[k], eby[k], eax[k], eay[k]
        dx, dy = x1 - x0, y1 - y0
        L2 = dx * dx + dy * dy
        t = np.zeros(px.shape) if L2 == 0 else np.clip(
            ((px - x0) * dx + (py - y0) * dy) / L2, 0.0, 1.0
        )
        best = np.minimum(best, np.hypot(px - (x0 + t * dx), py - (y0 + t * dy)))
    return best


def point_strictly_in_polygon(px, py, poly) -> np.ndarray:
    """Interior-only membership (the half-open ray cast counts left/bottom
    boundary as inside; touch/overlap semantics need the strict interior)."""
    return point_in_rings(px, py, poly) & (point_to_ring_distance(px, py, poly) > 0)


def _poly_edges(poly) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    ax, ay, bx, by = rings_edges(poly)
    return bx, by, ax, ay


def _ring_verts(g) -> tuple[np.ndarray, np.ndarray]:
    rings = as_rings(g)
    return (np.concatenate([r[:, 0] for r in rings]),
            np.concatenate([r[:, 1] for r in rings]))


def polygons_edges_intersect(a, b) -> bool:
    """Any boundary edge of geometry a intersects any boundary edge of b
    (mesh of the two edge sets through the vectorized segment test; edges
    from ALL rings of each side)."""
    ax0, ay0, ax1, ay1 = _poly_edges(a)
    bx0, by0, bx1, by1 = _poly_edges(b)
    n, m = len(ax0), len(bx0)
    ii, jj = np.meshgrid(np.arange(n), np.arange(m), indexing="ij")
    return bool(
        _segments_intersect(
            ax0[ii], ay0[ii], ax1[ii], ay1[ii],
            bx0[jj], by0[jj], bx1[jj], by1[jj],
        ).any()
    )


def polygons_intersect(a, b) -> bool:
    """Area-area intersects: any vertex containment either way (even-odd
    membership, so a vertex sitting inside the other's hole does NOT
    count), or any boundary-edge crossing.  Exact for generic-position
    multi-ring geometries."""
    ax, ay = _ring_verts(a)
    bx, by = _ring_verts(b)
    if point_in_rings(bx, by, a).any() or point_in_rings(ax, ay, b).any():
        return True
    return polygons_edges_intersect(a, b)


def polygon_contains_polygon(a, b) -> bool:
    """a contains b: every vertex of b interior to a (even-odd), no edge
    crossings, and no ring of a strictly inside b (otherwise a hole of a
    punches through b's interior).  Exact for generic-position multi-ring
    geometries."""
    bx, by = _ring_verts(b)
    if not point_in_rings(bx, by, a).all():
        return False
    if polygons_edges_intersect(a, b):
        return False
    ax, ay = _ring_verts(a)
    return not point_strictly_in_polygon(ax, ay, b).any()


def _rings_equal(va: np.ndarray, vb: np.ndarray) -> bool:
    if len(va) != len(vb):
        return False
    for cand in (vb, vb[::-1]):
        starts = np.flatnonzero((cand == va[0]).all(axis=1))
        for s in starts:
            if np.array_equal(np.roll(cand, -s, axis=0), va):
                return True
    return False


def polygons_equal(a, b) -> bool:
    """Ring-set equality, each ring up to rotation and direction."""
    ra, rb = as_rings(a), as_rings(b)
    if len(ra) != len(rb):
        return False
    unused = list(range(len(rb)))
    for va in ra:
        for k in unused:
            if _rings_equal(va, rb[k]):
                unused.remove(k)
                break
        else:
            return False
    return True


def polygons_overlap(a, b) -> bool:
    """DE-9IM overlaps for areas: interiors intersect, neither contains the
    other, intersection has interior extent (edge crossing or mutual
    strict vertex containment)."""
    if polygon_contains_polygon(a, b) or polygon_contains_polygon(b, a):
        return False
    ax, ay = _ring_verts(a)
    bx, by = _ring_verts(b)
    some_inside = (
        point_strictly_in_polygon(bx, by, a).any()
        or point_strictly_in_polygon(ax, ay, b).any()
    )
    return some_inside or (
        polygons_edges_intersect(a, b) and _interior_probe_overlap(a, b)
    )


def _interior_probe_overlap(a, b) -> bool:
    """Edge-crossing rings without vertex containment: probe edge-midpoint
    neighborhoods of a for interior-of-b membership."""
    ax0, ay0, ax1, ay1 = _poly_edges(a)
    mx, my = (ax0 + ax1) / 2, (ay0 + ay1) / 2
    return bool(point_strictly_in_polygon(mx, my, b).any())


def polygons_touch(a, b) -> bool:
    """Boundaries meet but interiors do not (no vertex of either strictly
    inside the other, yet some edge contact exists)."""
    ax, ay = _ring_verts(a)
    bx, by = _ring_verts(b)
    if (
        point_strictly_in_polygon(bx, by, a).any()
        or point_strictly_in_polygon(ax, ay, b).any()
    ):
        return False
    return polygons_edges_intersect(a, b)


def _line_edges(line) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Open polyline [x0,y0,x1,y1,...] -> consecutive segment endpoints."""
    vx, vy = poly_xy(line)
    return vx[:-1], vy[:-1], vx[1:], vy[1:]


def _segments_properly_cross(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> np.ndarray:
    """Proper (interior-point) crossing only — excludes touch/collinear."""

    def orient(ox, oy, px_, py_, qx, qy):
        return (px_ - ox) * (qy - oy) - (py_ - oy) * (qx - ox)

    d1 = orient(bx0, by0, bx1, by1, ax0, ay0)
    d2 = orient(bx0, by0, bx1, by1, ax1, ay1)
    d3 = orient(ax0, ay0, ax1, ay1, bx0, by0)
    d4 = orient(ax0, ay0, ax1, ay1, bx1, by1)
    return (
        ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        & (d1 != 0) & (d2 != 0) & (d3 != 0) & (d4 != 0)
    )


def line_crosses_polygon(line, poly) -> bool:
    """DE-9IM crosses for line/area: the line has points in the polygon's
    interior AND exterior.  Exact for the generic cases: a proper crossing
    of any boundary edge, or vertices strictly on both sides."""
    lx0, ly0, lx1, ly1 = _line_edges(line)
    px0, py0, px1, py1 = _poly_edges(poly)
    n, m = len(lx0), len(px0)
    ii, jj = np.meshgrid(np.arange(n), np.arange(m), indexing="ij")
    if _segments_properly_cross(
        lx0[ii], ly0[ii], lx1[ii], ly1[ii],
        px0[jj], py0[jj], px1[jj], py1[jj],
    ).any():
        return True
    vx, vy = poly_xy(line)
    inside = point_strictly_in_polygon(vx, vy, poly)
    on_b = point_to_ring_distance(vx, vy, poly) == 0
    return bool(inside.any() and (~inside & ~on_b).any())


def line_intersects_polygon(line, poly) -> bool:
    """Line touches or enters the polygon (closed-region semantics)."""
    vx, vy = poly_xy(line)
    if point_in_polygon(vx, vy, poly).any() or (
        point_to_ring_distance(vx, vy, poly) == 0
    ).any():
        return True
    lx0, ly0, lx1, ly1 = _line_edges(line)
    px0, py0, px1, py1 = _poly_edges(poly)
    n, m = len(lx0), len(px0)
    ii, jj = np.meshgrid(np.arange(n), np.arange(m), indexing="ij")
    return bool(
        _segments_intersect(
            lx0[ii], ly0[ii], lx1[ii], ly1[ii],
            px0[jj], py0[jj], px1[jj], py1[jj],
        ).any()
    )


def line_within_polygon(line, poly) -> bool:
    """Every vertex inside (closed) and no boundary crossing."""
    vx, vy = poly_xy(line)
    closed_in = point_in_polygon(vx, vy, poly) | (
        point_to_ring_distance(vx, vy, poly) == 0
    )
    if not closed_in.all():
        return False
    lx0, ly0, lx1, ly1 = _line_edges(line)
    px0, py0, px1, py1 = _poly_edges(poly)
    n, m = len(lx0), len(px0)
    ii, jj = np.meshgrid(np.arange(n), np.arange(m), indexing="ij")
    return not _segments_properly_cross(
        lx0[ii], ly0[ii], lx1[ii], ly1[ii],
        px0[jj], py0[jj], px1[jj], py1[jj],
    ).any()


def lines_cross(a, b) -> bool:
    """DE-9IM crosses for line/line: a proper interior crossing point."""
    ax0, ay0, ax1, ay1 = _line_edges(a)
    bx0, by0, bx1, by1 = _line_edges(b)
    n, m = len(ax0), len(bx0)
    ii, jj = np.meshgrid(np.arange(n), np.arange(m), indexing="ij")
    return bool(
        _segments_properly_cross(
            ax0[ii], ay0[ii], ax1[ii], ay1[ii],
            bx0[jj], by0[jj], bx1[jj], by1[jj],
        ).any()
    )


def lines_intersect(a, b) -> bool:
    ax0, ay0, ax1, ay1 = _line_edges(a)
    bx0, by0, bx1, by1 = _line_edges(b)
    n, m = len(ax0), len(bx0)
    ii, jj = np.meshgrid(np.arange(n), np.arange(m), indexing="ij")
    return bool(
        _segments_intersect(
            ax0[ii], ay0[ii], ax1[ii], ay1[ii],
            bx0[jj], by0[jj], bx1[jj], by1[jj],
        ).any()
    )


def point_to_line_distance(px, py, line) -> np.ndarray:
    """Min distance from N points to an open polyline."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x0s, y0s, x1s, y1s = _line_edges(line)
    best = np.full(px.shape, np.inf)
    for x0, y0, x1, y1 in zip(x0s, y0s, x1s, y1s):
        dx, dy = x1 - x0, y1 - y0
        L2 = dx * dx + dy * dy
        t = np.zeros(px.shape) if L2 == 0 else np.clip(
            ((px - x0) * dx + (py - y0) * dy) / L2, 0.0, 1.0
        )
        best = np.minimum(best, np.hypot(px - (x0 + t * dx), py - (y0 + t * dy)))
    return best


def regular_polygon(cx: float, cy: float, radius: float, sides: int, phase: float = 0.0) -> np.ndarray:
    """Deterministic test-polygon factory (flat [x,y,...] ring)."""
    ang = phase + 2 * np.pi * np.arange(sides) / sides
    return np.stack([cx + radius * np.cos(ang), cy + radius * np.sin(ang)], axis=1).ravel()
