"""SFC golden + round-trip tests.

Mirrors the reference's test strategy (SURVEY.md §5.1-5.2):
`core/geotime/src/test/java/.../sfc/hilbert/HilbertSFCTest.java:29-110` golden
ids and `TieredSFCIndexStrategyTest.java` tier semantics.
"""

import numpy as np
import pytest

from geowave_spark.sfc import grid, hilbert, zorder


def test_hilbert_golden_geowave_values():
    # HilbertSFCTest golden ids at 31 bits/dim with GeoWave's normalization.
    lon = np.array([180.0, -180.0, 0.0])
    lat = np.array([90.0, -90.0, 0.0])
    cells = grid.latlng_to_cell(lon, lat, 31)
    assert cells.tolist() == [3074457345618258602, 0, 768614336404564650]


def test_hilbert_roundtrip():
    rng = np.random.default_rng(7)
    x = rng.integers(0, 2**31, 5000).astype(np.uint64)
    y = rng.integers(0, 2**31, 5000).astype(np.uint64)
    for bits in (4, 16, 31):
        xb, yb = x >> np.uint64(31 - bits), y >> np.uint64(31 - bits)
        d = hilbert.encode(xb, yb, bits)
        x2, y2 = hilbert.decode(d, bits)
        np.testing.assert_array_equal(xb, x2)
        np.testing.assert_array_equal(yb, y2)


def test_hilbert_locality():
    # adjacent grid steps move hilbert distance by exactly 1 along the curve
    d = np.arange(0, 2**10, dtype=np.uint64)
    x, y = hilbert.decode(d, 5)
    dx = np.abs(np.diff(x.astype(np.int64)))
    dy = np.abs(np.diff(y.astype(np.int64)))
    assert ((dx + dy) == 1).all()


def test_zorder_roundtrip():
    rng = np.random.default_rng(11)
    x = rng.integers(0, 2**31, 5000).astype(np.uint64)
    y = rng.integers(0, 2**31, 5000).astype(np.uint64)
    z = zorder.encode(x, y)
    x2, y2 = zorder.decode(z)
    np.testing.assert_array_equal(x, x2)
    np.testing.assert_array_equal(y, y2)


def test_cell_bounds_contains_point():
    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 2000)
    lat = rng.uniform(-90, 90, 2000)
    for res in (4, 10, 16):
        c = grid.latlng_to_cell(lon, lat, res)
        lo0, la0, lo1, la1 = grid.cell_bounds(c, res)
        # GeoWave convention: interior boundaries belong to the lower cell,
        # so the half-open interval is (lo, hi].
        assert (lon <= lo1 + 1e-9).all() and (lon >= lo0 - 1e-9).all()
        assert (lat <= la1 + 1e-9).all() and (lat >= la0 - 1e-9).all()


def test_parent_child_consistency():
    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    fine = grid.latlng_to_cell(lon, lat, 12)
    coarse_direct = grid.latlng_to_cell(lon, lat, 8)
    coarse_via_parent = grid.cell_to_parent(fine, 12, 8)
    np.testing.assert_array_equal(coarse_direct, coarse_via_parent)


def test_grid_disk_shape_and_wrap():
    c = grid.latlng_to_cell(np.array([179.99]), np.array([0.0]), 8)
    disk = grid.grid_disk(c, 8, 1)
    assert disk.shape == (1, 9)
    assert len(np.unique(disk[0])) == 9  # wraps across dateline, no clamping dupes
    # center cell is a member
    assert c[0] in disk[0]


def test_cover_bbox_covers_inserted_points():
    # query-ranges ⊇ insertion-ids property (TieredSFCIndexStrategyTest analog)
    rng = np.random.default_rng(9)
    lon = rng.uniform(-10, 10, 500)
    lat = rng.uniform(-5, 5, 500)
    res = 9
    pts = grid.latlng_to_cell(lon, lat, res)
    _, cover = grid.cover_bbox([-10.0], [-5.0], [10.0], [5.0], res)
    assert np.isin(pts, cover).all()


def test_adaptive_res_tier_selection():
    # small bbox -> fine res; huge bbox -> coarse res; cover size bounded by K
    res = grid.adaptive_res([0.0, -170.0], [0.0, -80.0], [0.01, 170.0], [0.01, 80.0], max_cells=16)
    assert res[0] > res[1]
    for i, r in enumerate(res):
        n = grid.bbox_cover_count([[0.0, -170.0][i]], [[0.0, -80.0][i]], [[0.01, 170.0][i]], [[0.01, 80.0][i]], int(r))
        assert n[0] <= 16


def test_geohash_golden_and_sql_twin():
    """Golden geohash (wikipedia example) + numpy == SQL-fragment parity
    via DuckDB evaluation on random points."""
    import duckdb
    import numpy as np

    from geowave_spark.sfc import geohash

    # canonical example: (lat 57.64911, lon 10.40744) -> u4pruydqqvj
    assert geohash.encode(np.array([10.40744]), np.array([57.64911]), 6)[0] == "u4pruy"
    assert geohash.encode(np.array([10.40744]), np.array([57.64911]), 11)[0] == "u4pruydqqvj"

    rng = np.random.default_rng(5)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-90, 90, 200)
    want = geohash.encode(lon, lat, 5)
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lon": lon, "lat": lat}))
    got = con.sql(
        f"SELECT {geohash.geohash_sql('lon', 'lat', 5)} AS gh FROM pts"
    ).df()["gh"].to_numpy()
    assert (got == want).all()


def test_rowmajor_numpy_matches_sql_at_extremes():
    """`latlng_to_cell(..., "rowmajor")` equals DuckDB's evaluation of
    `geo.rowmajor_cell_sql` at -inf, -1e300, 1e300, +inf, on every grid
    line and one ulp either side of it, in each coordinate.  -inf and
    -1e300 must clamp to the first row/column, not wrap to the last.
    NaN is left out: SQL gives null there and numpy has no null."""
    import duckdb
    import pandas as pd

    from geowave_spark.table import geo

    res = 8
    n = 1 << res

    def probes(lo: float, span: float) -> np.ndarray:
        lines = lo + np.arange(n + 1) * (span / n)
        return np.concatenate([
            [-np.inf, -1e300, 1e300, np.inf], lines,
            np.nextafter(lines, -np.inf), np.nextafter(lines, np.inf)])

    lons, lats = probes(-180.0, 360.0), probes(-90.0, 180.0)
    lon = np.concatenate([lons, np.full(len(lats), 10.0)])
    lat = np.concatenate([np.full(len(lons), 25.0), lats])
    want = grid.latlng_to_cell(lon, lat, res, "rowmajor").astype(np.int64)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat}))
    got = con.sql(
        f"SELECT {geo.rowmajor_cell_sql('lon', 'lat', res)} AS c FROM pts ORDER BY i"
    ).df()["c"].to_numpy()
    np.testing.assert_array_equal(got, want)
    # lon -inf and -1e300 at lat 25: row 163, column 0
    assert want[0] == want[1] == 163 * n
