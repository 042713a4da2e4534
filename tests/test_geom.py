"""Geometry predicate truth tables (reference analog:
`core/geotime/src/test/.../store/query/SpatialQueryTest.java:27-80`)."""

import numpy as np
import pandas as pd
import pytest

from geowave_spark.geom import core as g


SQUARE = np.array([0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0])  # flat ring
CONCAVE = np.array([0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 5.0, 5.0, 0.0, 10.0])


def test_point_in_polygon_square():
    px = np.array([5.0, -1.0, 15.0, 5.0])
    py = np.array([5.0, 5.0, 5.0, -2.0])
    np.testing.assert_array_equal(g.point_in_polygon(px, py, SQUARE), [True, False, False, False])


def test_point_in_polygon_concave():
    # the notch at (5, 7) is outside the concave polygon
    px = np.array([5.0, 2.0, 8.0])
    py = np.array([7.0, 2.0, 2.0])
    np.testing.assert_array_equal(g.point_in_polygon(px, py, CONCAVE), [False, True, True])


def test_bbox_intersects_polygon_cases():
    # fully inside, overlapping edge, fully outside, bbox containing polygon,
    # crossing without any vertex containment (thin sliver)
    lon0 = np.array([2.0, 8.0, 20.0, -5.0, -1.0])
    lat0 = np.array([2.0, 8.0, 20.0, -5.0, 4.0])
    lon1 = np.array([3.0, 12.0, 21.0, 15.0, 11.0])
    lat1 = np.array([3.0, 12.0, 21.0, 15.0, 6.0])
    got = g.bboxes_intersect_polygon(lon0, lat0, lon1, lat1, SQUARE)
    np.testing.assert_array_equal(got, [True, True, False, True, True])


def test_point_to_polygon_distance():
    px = np.array([5.0, 15.0, -3.0])
    py = np.array([5.0, 5.0, 0.0])
    d = g.point_to_polygon_distance(px, py, SQUARE)
    np.testing.assert_allclose(d, [0.0, 5.0, 3.0])


def test_planar_and_haversine():
    assert g.planar_distance(0, 0, 3, 4) == 5.0
    # quarter of the equator
    np.testing.assert_allclose(g.haversine_km(0, 0, 90, 0), 6371.0088 * np.pi / 2, rtol=1e-6)


def test_regular_polygon_closed_ring_area_sign():
    p = g.regular_polygon(0, 0, 1, 8)
    x, y = g.poly_xy(p)
    assert len(x) == 8
    inside = g.point_in_polygon(np.array([0.0]), np.array([0.0]), p)
    assert inside[0]


def test_point_in_polygons_batch_matches_scalar_kernel():
    """The padded-matrix batch kernel must agree bit-for-bit with the
    per-polygon ray-cast on mixed polygons of different vertex counts,
    including points on edges/vertices and far outside."""
    rng = np.random.RandomState(7)
    polys = {
        3: g.regular_polygon(10, 5, 4.0, 5),
        8: g.regular_polygon(-20, -10, 7.0, 12, phase=0.3),
        11: np.array([0, 0, 10, 0, 10, 10, 5, 3, 0, 10], dtype=float),  # concave
        40: g.regular_polygon(100, 40, 2.0, 3),
    }
    n = 5000
    px = rng.uniform(-40, 120, n)
    py = rng.uniform(-30, 60, n)
    ids = np.array(sorted(polys))
    poly_id = ids[rng.randint(0, len(ids), n)]
    # sprinkle exact vertices (boundary half-open semantics must agree too)
    for k, p in polys.items():
        vx, vy = g.poly_xy(p)
        px[:len(vx)] = vx
        py[:len(vy)] = vy
        poly_id[:len(vx)] = k

    ids_sorted, eax, eay, ebx, eby = g.pack_polygons(polys)
    rows = np.searchsorted(ids_sorted, poly_id)
    batch = g.point_in_polygons(px, py, rows, eax, eay, ebx, eby)

    expect = np.zeros(n, dtype=bool)
    for k, p in polys.items():
        m = poly_id == k
        expect[m] = g.point_in_polygon(px[m], py[m], p)
    assert (batch == expect).all()


class TestMultiRingGeometries:
    """Holed-polygon / MultiPolygon truth tables (mirrors the reference's
    SpatialQueryTest coverage of the full JTS geometry surface,
    core/geotime/src/test/.../SpatialQueryTest.java:27-80)."""

    HOLED = [
        np.asarray([0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0]),   # shell
        np.asarray([3.0, 3.0, 7.0, 3.0, 7.0, 7.0, 3.0, 7.0]),       # hole
    ]
    MULTI = [
        np.asarray([0.0, 0.0, 4.0, 0.0, 2.0, 3.0]),
        np.asarray([10.0, 10.0, 14.0, 10.0, 12.0, 13.0]),
    ]

    def test_point_in_rings_even_odd(self):
        px = np.array([1.0, 5.0, 11.0, 5.0])
        py = np.array([1.0, 5.0, 5.0, 9.0])
        # in shell / in hole / outside / in shell above hole
        assert g.point_in_rings(px, py, self.HOLED).tolist() == [
            True, False, False, True]

    def test_point_in_rings_multipolygon(self):
        px = np.array([2.0, 12.0, 7.0])
        py = np.array([1.0, 11.0, 7.0])
        assert g.point_in_rings(px, py, self.MULTI).tolist() == [
            True, True, False]

    def test_distance_zero_only_in_interior(self):
        d = g.point_to_polygon_distance(
            np.array([5.0, 1.0]), np.array([5.0, 1.0]), self.HOLED)
        assert d[1] == 0.0 and d[0] > 0.0  # hole center is OUTSIDE

    def test_contains_respects_holes(self):
        inner = np.asarray([4.0, 4.0, 6.0, 4.0, 6.0, 6.0, 4.0, 6.0])
        ring_band = np.asarray([1.0, 1.0, 2.0, 1.0, 2.0, 2.0, 1.0, 2.0])
        # square inside the hole: not contained, not intersecting
        assert not g.polygon_contains_polygon(self.HOLED, inner)
        assert not g.polygons_intersect(self.HOLED, inner)
        # square inside the solid band: contained
        assert g.polygon_contains_polygon(self.HOLED, ring_band)
        # shell-sized square is NOT contained by the holed polygon
        big = np.asarray([0.5, 0.5, 9.5, 0.5, 9.5, 9.5, 0.5, 9.5])
        assert not g.polygon_contains_polygon(self.HOLED, big)
        # ...but it does intersect
        assert g.polygons_intersect(self.HOLED, big)

    def test_cover_classify_ring_aware(self):
        # a cell fully inside the hole neither intersects nor is within
        inter = g.bboxes_intersect_polygon(
            [4.0, 1.0, 20.0], [4.0, 1.0, 20.0], [6.0, 2.0, 21.0],
            [6.0, 2.0, 21.0], self.HOLED)
        assert inter.tolist() == [False, True, False]
        within = g.classify_bboxes(
            [4.0, 1.0], [4.0, 1.0], [6.0, 2.0], [6.0, 2.0], [0, 0],
            *g.pack_polygons({0: self.HOLED})[1:], within=True)
        assert within.tolist() == [False, True]

    def test_wkt_roundtrip_holes_and_multi(self):
        from geowave_spark.geom import wkt as wktm

        w = wktm.polygon_wkt_holes(self.HOLED)
        rings = wktm.parse_polygon_rings(w)
        assert len(rings) == 2 and wktm.geom_type(w) == "polygon"
        assert g.polygons_equal(list(rings), self.HOLED)
        mw = wktm.multipolygon_wkt(self.MULTI)
        mrings = wktm.parse_polygon_rings(mw)
        assert len(mrings) == 2 and wktm.geom_type(mw) == "polygon"
        assert g.polygons_equal(list(mrings), self.MULTI)

    def test_edge_kernel_matches_ring_kernel(self):
        rng = np.random.default_rng(3)
        px = rng.uniform(-2, 16, 500)
        py = rng.uniform(-2, 16, 500)
        for gm in (self.HOLED, self.MULTI):
            ids, eax, eay, ebx, eby = g.pack_polygons({0: gm, 1: self.HOLED})
            rows = np.zeros(len(px), dtype=np.int64)
            batch = g.point_in_polygons(px, py, rows, eax, eay, ebx, eby)
            assert (batch == g.point_in_rings(px, py, gm)).all()


def _brute_cover(polys, res, max_cells, curve):
    """Reference cover: per polygon, every bbox cell, inflated by the
    1e-9 margin, against every edge in a dense (cell x edge) matrix, with
    no pruning."""
    from geowave_spark.sfc import grid

    def classify(x0, y0, x1, y1, poly):
        corners = [g.point_in_rings(cx, cy, poly)
                   for cx, cy in ((x0, y0), (x0, y1), (x1, y0), (x1, y1))]
        ax, ay, bx, by = (e[None, :] for e in g.rings_edges(poly))
        x0, y0, x1, y1 = (v[:, None] for v in (x0, y0, x1, y1))
        touch = (ax >= x0) & (ax <= x1) & (ay >= y0) & (ay <= y1)
        for side in ((x0, y0, x1, y0), (x1, y0, x1, y1),
                     (x1, y1, x0, y1), (x0, y1, x0, y0)):
            touch |= g._segments_intersect(bx, by, ax, ay, *side)
        return (np.any(corners, axis=0), np.all(corners, axis=0),
                touch.any(axis=1))

    cols = {"poly_id": [], "res": [], "cell": [], "full": []}
    for pid, poly in polys.items():
        bb = [[v] for v in g.poly_bbox(poly)]
        r = int(grid.adaptive_res(*bb, max_cells)[0]) if res is None else res
        _, cells = grid.cover_bbox(*bb, r, curve)
        x0, y0, x1, y1 = grid.cell_bounds(cells, r, curve)
        m = 1e-9
        x0, y0, x1, y1 = x0 - m, y0 - m, x1 + m, y1 + m
        some, _, touch = classify(x0, y0, x1, y1, poly)
        keep = some | touch
        _, every, touch = classify(x0[keep], y0[keep], x1[keep], y1[keep], poly)
        cols["poly_id"].append(np.full(keep.sum(), pid, dtype=np.int64))
        cols["res"].append(np.full(keep.sum(), r, dtype=np.int64))
        cols["cell"].append(cells[keep].astype(np.int64))
        cols["full"].append(every & ~touch)
    return pd.DataFrame({k: np.concatenate(v) for k, v in cols.items()})


def _flagship_subset(n=8):
    rng = np.random.default_rng(1)
    lon, lat = rng.uniform(-175.0, 175.0, 100), rng.uniform(-70.0, 70.0, 100)
    rad = rng.permutation(np.linspace(0.75, 4.0, 100))
    return {i: g.regular_polygon(lon[i], lat[i], rad[i], 12) for i in range(n)}


def _grid_aligned(r=8):
    """Squares and triangles whose vertices sit exactly on res-``r`` cell
    corners (the `grid.cell_bounds` formula)."""
    w, h = 360.0 / (1 << r), 180.0 / (1 << r)

    def corner(i, j):
        return -180.0 + i * w, -90.0 + j * h

    out = {}
    for k, (i, j, a, b) in enumerate([(3, 200, 4, 3), (130, 100, 1, 1),
                                      (255, 10, 1, 4), (40, 128, 5, 2)]):
        (x0, y0), (x1, y1) = corner(i - 1, j - 1), corner(i - 1 + a, j - 1 + b)
        out[2 * k] = np.array([x0, y0, x1, y0, x1, y1, x0, y1])
        out[2 * k + 1] = np.array([x0, y0, x1, y0, x0, y1])
    return out


def _cell_edge_cases(r=8):
    """Shapes only one test of the classifier decides, at res ``r``: a
    diamond whose left and bottom vertices sit on cell lines (the
    closed-box vertex test), a triangle inside one cell and a hole inside
    one cell (the vertex test alone), and a square whose sides lie 5e-10
    outside cell lines (the ``full`` margin)."""
    w, h = 360.0 / (1 << r), 180.0 / (1 << r)

    def x(i):
        return -180.0 + i * w

    def y(j):
        return -90.0 + j * h

    tri = np.array([0.3, 0.3, 0.6, 0.4, 0.4, 0.7])
    eps = 5e-10
    return {
        0: np.array([x(100), y(100) + h / 2, x(102) + w / 2, y(97),
                     x(104), y(100) + h / 2, x(102) + w / 2, y(104)]),
        1: tri * np.tile([w, h], 3) + np.tile([x(50), y(50)], 3),
        2: [np.array([x(20), y(20), x(26), y(20), x(26), y(26), x(20), y(26)]),
            tri * np.tile([w, h], 3) + np.tile([x(22), y(22)], 3)],
        3: np.array([x(10) - eps, y(10) - eps, x(14) + eps, y(10) - eps,
                     x(14) + eps, y(14) + eps, x(10) - eps, y(14) + eps]),
    }


_COVER_CASES = {
    "cell-edge-cases-res8": (_cell_edge_cases(), 8, 256),
    "flagship-res10": (_flagship_subset(), 10, 1024),
    "flagship-adaptive": (_flagship_subset(), None, 1024),
    "holed-multi": ({5: TestMultiRingGeometries.HOLED,
                     9: TestMultiRingGeometries.MULTI}, None, 256),
    "grid-aligned-res8": (_grid_aligned(), 8, 256),
    "grid-aligned-adaptive": (_grid_aligned(), None, 64),
    "mixed-400-vertex": ({1: g.regular_polygon(30.0, 10.0, 2.0, 400),
                          2: g.regular_polygon(31.0, 11.0, 1.0, 12),
                          3: np.array([25.0, 5.0, 35.0, 5.0, 30.0, 14.0]),
                          4: TestMultiRingGeometries.HOLED}, None, 256),
}


@pytest.mark.parametrize("curve", ["rowmajor", "hilbert"])
@pytest.mark.parametrize("case", sorted(_COVER_CASES))
def test_polygon_cover_matches_brute_force(case, curve, monkeypatch):
    """The batched cover (all polygons of a tier at once, vertex and
    crossing tests only on overlapping (cell, edge) pairs) returns exactly
    the rows of the unpruned per-polygon, per-edge classification."""
    from geowave_spark.index import cover as cov

    polys, res, max_cells = _COVER_CASES[case]
    if case.startswith("mixed"):
        # a chunk of a few cells: the 400-edge rows pad every 12-gon row
        # and the overlap matrix is built in many chunks
        monkeypatch.setattr(g, "_PAIR_CHUNK", 2048)
    got = cov.polygon_cover(polys, res=res, max_cells=max_cells, curve=curve)
    want = _brute_cover(polys, res, max_cells, curve)
    assert len(want) and want["full"].any() and not want["full"].all()
    pd.testing.assert_frame_equal(got, want)
