"""Custom-CRS support: EPSG:3857 (web mercator) as closed-form SQL.

The reference supports indexing and KDE/raster operations in arbitrary
CRSs (`core/geotime/.../GeometryUtils.java` decode/transform plumbing,
exercised end-to-end by `test/.../CustomCRSKDERasterResizeIT.java` in
/root/reference) through GeoTools referencing.  Spark-first re-expression:
the one projection that covers the dominant real-world use (meters-true web
map tiling) is a closed-form transform, so it compiles to whole-stage
codegen SQL — no UDF, no GeoTools — and the SAME expression text runs on
DuckDB for the oracle.

Provided:
- forward/inverse EPSG:4326 <-> EPSG:3857 (SQL generators + numpy twins)
- slippy-map tile ids (z/x/y) from lon/lat — the standard web-mercator
  tiling pyramid, i.e. raster tile assignment in the custom CRS

Latitudes are clamped to the web-mercator validity band (+-85.05113) the
way every tiling stack does.
"""

from __future__ import annotations

import numpy as np

R_MERC = 6378137.0  # WGS84 spherical authalic radius used by EPSG:3857
MAX_LAT = 85.05112877980659


def merc_x_sql(lon: str) -> str:
    return f"(radians({lon}) * {R_MERC!r})"


def merc_y_sql(lat: str) -> str:
    clamped = f"least(greatest({lat}, {-MAX_LAT!r}), {MAX_LAT!r})"
    return f"(ln(tan(pi() / 4 + radians({clamped}) / 2)) * {R_MERC!r})"


def inv_merc_lon_sql(x: str) -> str:
    return f"(degrees({x} / {R_MERC!r}))"


def inv_merc_lat_sql(y: str) -> str:
    return f"(degrees(2 * atan(exp({y} / {R_MERC!r})) - pi() / 2))"


def tile_xy_sql(lon: str, lat: str, z: int) -> tuple[str, str]:
    """Slippy-map tile (tx, ty) at zoom z — integer SQL, shared by Spark
    and the DuckDB oracle.  ty grows southward (the map-tile convention)."""
    n = 1 << z
    tx = (f"cast(least(greatest(floor((radians({lon}) / pi() + 1) / 2 "
          f"* {n}), 0), {n - 1}) as bigint)")
    merc_frac = (f"(1 - ln(tan(pi() / 4 + radians(least(greatest({lat}, "
                 f"{-MAX_LAT!r}), {MAX_LAT!r})) / 2)) / pi()) / 2")
    ty = (f"cast(least(greatest(floor({merc_frac} * {n}), 0), {n - 1}) "
          f"as bigint)")
    return tx, ty


# ---------------------------------------------------------------- numpy twins

def merc_xy(lon, lat) -> tuple[np.ndarray, np.ndarray]:
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    x = np.radians(lon) * R_MERC
    y = np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)) * R_MERC
    return x, y


def inv_merc(x, y) -> tuple[np.ndarray, np.ndarray]:
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / R_MERC)
    lat = np.degrees(2 * np.arctan(np.exp(y / R_MERC)) - np.pi / 2)
    return lon, lat


def tile_xy(lon, lat, z: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << z
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -MAX_LAT, MAX_LAT)
    tx = np.floor((np.radians(lon) / np.pi + 1) / 2 * n)
    frac = (1 - np.log(np.tan(np.pi / 4 + np.radians(lat) / 2)) / np.pi) / 2
    ty = np.floor(frac * n)
    return (np.clip(tx, 0, n - 1).astype(np.int64),
            np.clip(ty, 0, n - 1).astype(np.int64))
