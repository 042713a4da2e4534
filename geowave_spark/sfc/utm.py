"""Arbitrary-CRS ingest, UTM family: closed-form ellipsoidal transverse
Mercator (WGS84) in pure vectorized numpy.

The reference reprojects any GeoTools-resolvable CRS at ingest and query
time (`core/geotime/src/main/java/.../GeometryUtils.java` transform
plumbing; exercised end-to-end by
`test/.../CustomCRSKDERasterResizeIT.java` in /root/reference).  This
engine has no GeoTools/pyproj, so it carries the projection math itself
for the CRS family that actually shows up in vector ingest: the 120 UTM
zones (EPSG:326xx north / 327xx south).  Web Mercator (EPSG:3857) lives
in `sfc/crs.py`.

Math: the Krueger series in the third flattening n, order n^6, as given
in Karney, "Transverse Mercator with an accuracy of a few nanometers",
J. Geod. 85(8) 2011 (the exact series PROJ's default tmerc uses) —
forward and inverse are sub-micrometer over a zone's width, far inside
any ingest tolerance.  All operations are whole-array numpy; the UDF
wrappers are Arrow-batched pandas UDFs (no per-row Python).

Golden values are pinned in tests/test_utm.py against published PROJ
output (e.g. lon 12 lat 55 in zone 32N -> 691875.632 6098907.825).
"""

from __future__ import annotations

import math
import re

import numpy as np

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_E = math.sqrt(_F * (2.0 - _F))      # first eccentricity
_N3 = _F / (2.0 - _F)                # third flattening n
_K0 = 0.9996
_FE = 500000.0
_FN_SOUTH = 10000000.0

# rectifying radius A = a/(1+n) (1 + n^2/4 + n^4/64 + n^6/256)
_AR = _A / (1 + _N3) * (1 + _N3**2 / 4 + _N3**4 / 64 + _N3**6 / 256)

_n = _N3
_ALPHA = (
    _n / 2 - 2 * _n**2 / 3 + 5 * _n**3 / 16 + 41 * _n**4 / 180
    - 127 * _n**5 / 288 + 7891 * _n**6 / 37800,
    13 * _n**2 / 48 - 3 * _n**3 / 5 + 557 * _n**4 / 1440
    + 281 * _n**5 / 630 - 1983433 * _n**6 / 1935360,
    61 * _n**3 / 240 - 103 * _n**4 / 140 + 15061 * _n**5 / 26880
    + 167603 * _n**6 / 181440,
    49561 * _n**4 / 161280 - 179 * _n**5 / 168 + 6601661 * _n**6 / 7257600,
    34729 * _n**5 / 80640 - 3418889 * _n**6 / 1995840,
    212378941 * _n**6 / 319334400,
)
_BETA = (
    _n / 2 - 2 * _n**2 / 3 + 37 * _n**3 / 96 - _n**4 / 360
    - 81 * _n**5 / 512 + 96199 * _n**6 / 604800,
    _n**2 / 48 + _n**3 / 15 - 437 * _n**4 / 1440 + 46 * _n**5 / 105
    - 1118711 * _n**6 / 3870720,
    17 * _n**3 / 480 - 37 * _n**4 / 840 - 209 * _n**5 / 4480
    + 5569 * _n**6 / 90720,
    4397 * _n**4 / 161280 - 11 * _n**5 / 504 - 830251 * _n**6 / 7257600,
    4583 * _n**5 / 161280 - 108847 * _n**6 / 3991680,
    20648693 * _n**6 / 638668800,
)


def zone_central_lon(zone: int) -> float:
    """Central meridian of UTM zone 1..60 (zone 31 spans 0..6E)."""
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone out of range: {zone}")
    return -183.0 + 6.0 * zone


def lonlat_zone(lon, lat) -> np.ndarray:
    """The standard UTM zone for coordinates (no Norway/Svalbard
    exceptions — those are a cartographic convention, not a CRS fact)."""
    lon = np.asarray(lon, dtype=np.float64)
    return (np.clip(np.floor((lon + 180.0) / 6.0), 0, 59) + 1).astype(np.int64)


def utm_forward(lon, lat, zone: int, north: bool = True):
    """(lon, lat) degrees -> (easting, northing) meters in the given zone.

    Karney 2011 eqs. (7)-(11): conformal latitude via tau/tau', then the
    alpha series on the sphere-to-TM map.  Vectorized numpy throughout.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lam = np.radians(lon - zone_central_lon(zone))
    phi = np.radians(lat)
    s = np.sin(phi)
    # tau' = conformal tangent
    t = np.sinh(np.arctanh(s) - _E * np.arctanh(_E * s))
    cl = np.cos(lam)
    xi_p = np.arctan2(t, cl)
    eta_p = np.arcsinh(np.sin(lam) / np.hypot(t, cl))
    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xi += a * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += a * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    easting = _FE + _K0 * _AR * eta
    northing = (0.0 if north else _FN_SOUTH) + _K0 * _AR * xi
    return easting, northing


def utm_inverse(easting, northing, zone: int, north: bool = True):
    """(easting, northing) meters -> (lon, lat) degrees.

    Beta series back to the conformal sphere, then 3 Newton steps for the
    geographic tangent tau from the conformal tau' (Karney 2011 eq. 19 —
    quadratically convergent; 3 steps reach double precision)."""
    easting = np.asarray(easting, dtype=np.float64)
    northing = np.asarray(northing, dtype=np.float64)
    xi = (northing - (0.0 if north else _FN_SOUTH)) / (_K0 * _AR)
    eta = (easting - _FE) / (_K0 * _AR)
    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xi_p -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    ce = np.cos(xi_p)
    sh = np.sinh(eta_p)
    tau_p = np.sin(xi_p) / np.hypot(sh, ce)
    # Newton: solve tau'(tau) = tau_p for tau
    e2 = _E * _E
    tau = tau_p / max(1.0 - e2, 1e-12)
    for _ in range(3):
        s_t = tau / np.sqrt(1.0 + tau * tau)
        sig = np.sinh(_E * np.arctanh(_E * s_t))
        f_t = tau * np.sqrt(1.0 + sig * sig) - sig * np.sqrt(1.0 + tau * tau)
        df = ((np.sqrt((1.0 + sig * sig) * (1.0 + tau * tau)) - sig * tau)
              * (1.0 - e2) * np.sqrt(1.0 + tau * tau)
              / (1.0 + (1.0 - e2) * tau * tau))
        tau = tau - (f_t - tau_p) / df
    lat = np.degrees(np.arctan(tau))
    lon = zone_central_lon(zone) + np.degrees(np.arctan2(sh, ce))
    return lon, lat


# ---------------------------------------------------------------------------
# CRS resolution: EPSG codes + .prj WKT sniffing

_EPSG_RE = re.compile(r"^EPSG:(\d+)$", re.I)
_PRJ_UTM_RE = re.compile(r"UTM[ _]zone[ _](\d+)([NS])", re.I)
_PRJ_EPSG_RE = re.compile(
    r'AUTHORITY\[\s*"EPSG"\s*,\s*"?(\d+)"?\s*\]\s*\]\s*$', re.I)


def parse_crs(crs: str | int) -> tuple[str, int, bool]:
    """Resolve a CRS spec to ('lonlat'|'utm', zone, north).

    Accepts 'EPSG:4326' (identity), 'EPSG:326xx'/'EPSG:327xx' (UTM
    north/south), bare integer codes, or ESRI .prj WKT text (sniffed for
    the UTM zone name or a trailing EPSG authority code — the same two
    signals GeoTools' CRS.decode path keys on)."""
    from . import conic as _conic
    from . import polar as _polar

    if isinstance(crs, int):
        crs = f"EPSG:{crs}"
    m = _EPSG_RE.match(crs.strip())
    if m:
        code = int(m.group(1))
        if code == 4326:
            return "lonlat", 0, True
        if 32601 <= code <= 32660:
            return "utm", code - 32600, True
        if 32701 <= code <= 32760:
            return "utm", code - 32700, False
        if code in _conic.EPSG_CONIC:
            # conic family: the params object rides in the zone slot
            return "conic", _conic.EPSG_CONIC[code], True
        if code in _polar.EPSG_POLAR:
            return "polar", _polar.EPSG_POLAR[code], True
        from . import oblique as _obl

        if code in _obl.EPSG_HOTINE:
            return "hotine", _obl.EPSG_HOTINE[code], True
        from . import pseudocyl as _pc

        if code in _pc.EPSG_EQC:
            return "eqc", _pc.EPSG_EQC[code], True
        raise ValueError(f"unsupported CRS code EPSG:{code}")
    # .prj WKT text
    m = _PRJ_UTM_RE.search(crs)
    if m:
        return "utm", int(m.group(1)), m.group(2).upper() == "N"
    cp = _conic.parse_prj_conic(crs)
    if cp is not None:
        return "conic", cp, True
    pp = _polar.parse_prj_polar(crs)
    if pp is not None:
        return "polar", pp, True
    from . import oblique as _obl

    hp = _obl.parse_prj_hotine(crs)
    if hp is not None:
        return "hotine", hp, True
    from . import pseudocyl as _pc

    pcp = _pc.parse_prj_pseudocyl(crs)
    if pcp is not None:
        kind = "sinu" if isinstance(pcp, _pc.SinusoidalParams) else "eqc"
        return kind, pcp, True
    m = _PRJ_EPSG_RE.search(crs.strip())
    if m:
        return parse_crs(int(m.group(1)))
    if "GEOGCS" in crs.upper() and "PROJCS" not in crs.upper():
        return "lonlat", 0, True
    raise ValueError(f"cannot resolve CRS from: {crs[:80]!r}")


def reproject_xy(x, y, crs: str | int):
    """Coordinates in `crs` -> (lon, lat) EPSG:4326 (numpy arrays)."""
    kind, zone, north = parse_crs(crs)
    if kind == "lonlat":
        return (np.asarray(x, dtype=np.float64),
                np.asarray(y, dtype=np.float64))
    if kind == "conic":
        from . import conic as _conic

        return _conic.conic_inverse(x, y, zone)
    if kind == "polar":
        from . import polar as _polar

        return _polar.polar_inverse(x, y, zone)
    if kind == "hotine":
        from . import oblique as _obl

        return _obl.hotine_inverse(x, y, zone)
    if kind == "sinu":
        from . import pseudocyl as _pc

        return _pc.sinusoidal_inverse(x, y, zone)
    if kind == "eqc":
        from . import pseudocyl as _pc

        return _pc.equirect_inverse(x, y, zone)
    return utm_inverse(x, y, zone, north)


_WKT_NUMS = re.compile(r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?")


def reproject_wkt(wkt: str, crs: str | int) -> str:
    """Reproject every coordinate pair inside a WKT string to EPSG:4326,
    preserving the geometry structure byte-for-byte otherwise.  Used by
    the shapefile/GeoJSON ingest path when a source CRS is declared —
    vectorized per geometry (one regex pass + one array transform)."""
    kind, zone, north = parse_crs(crs)
    if kind == "lonlat":
        return wkt
    nums = _WKT_NUMS.findall(wkt)
    vals = np.array([float(v) for v in nums], dtype=np.float64)
    lon, lat = reproject_xy(vals[0::2], vals[1::2], crs)
    out = np.empty(len(vals))
    out[0::2] = lon
    out[1::2] = lat
    it = iter(repr(float(v)) for v in out)
    return _WKT_NUMS.sub(lambda _m: next(it), wkt)
