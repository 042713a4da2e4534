"""EPSG:3857 web-mercator CRS (sfc/crs.py): round trips, SQL/numpy
parity, and known slippy-map tile assignments (reference custom-CRS path:
`test/.../CustomCRSKDERasterResizeIT.java`)."""

import numpy as np
import pandas as pd

from geowave_spark.sfc import crs


def test_roundtrip_forward_inverse():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-179.9, 179.9, 2000)
    lat = rng.uniform(-84.9, 84.9, 2000)
    x, y = crs.merc_xy(lon, lat)
    lon2, lat2 = crs.inv_merc(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_known_anchor_values():
    # equator/prime meridian maps to the mercator origin
    x, y = crs.merc_xy([0.0], [0.0])
    assert abs(x[0]) < 1e-9 and abs(y[0]) < 1e-6
    # the world square corner: lon 180 -> pi*R
    x, _ = crs.merc_xy([180.0], [0.0])
    np.testing.assert_allclose(x[0], np.pi * crs.R_MERC)
    # poles clamp to the validity band (finite y)
    _, y = crs.merc_xy([0.0], [90.0])
    assert np.isfinite(y[0])


def test_known_tiles():
    # zoom 1: the world is 2x2; (0,0) is the NW quadrant
    tx, ty = crs.tile_xy([-90.0], [45.0], 1)
    assert (tx[0], ty[0]) == (0, 0)
    tx, ty = crs.tile_xy([90.0], [-45.0], 1)
    assert (tx[0], ty[0]) == (1, 1)
    # zoom 0: everything is tile (0,0)
    tx, ty = crs.tile_xy([123.0], [-67.0], 0)
    assert (tx[0], ty[0]) == (0, 0)


def test_sql_matches_numpy(spark):
    rng = np.random.default_rng(13)
    pdf = pd.DataFrame({
        "lon": rng.uniform(-180, 180, 3000),
        "lat": rng.uniform(-89.9, 89.9, 3000),  # includes clamp band
    })
    df = spark.createDataFrame(pdf)
    tx_sql, ty_sql = crs.tile_xy_sql("lon", "lat", 7)
    out = df.selectExpr(f"{tx_sql} AS tx", f"{ty_sql} AS ty").toPandas()
    tx, ty = crs.tile_xy(pdf["lon"], pdf["lat"], 7)
    assert (out["tx"].to_numpy() == tx).all()
    assert (out["ty"].to_numpy() == ty).all()
