"""Spark SQL geometry function surface (names preserved from the reference).

Reference analog (/root/reference):
`analytics/spark/src/main/java/.../analytic/spark/sparksql/udf/
UDFRegistrySPI.java:15-27` registers GeomContains, GeomCovers, GeomCrosses,
GeomDisjoint, GeomEquals, GeomIntersects, GeomOverlaps, GeomTouches,
GeomWithin, GeomWithinDistance (+ GeomDistance, GeomFromWKT) via
`GeomFunctionRegistry.java:26-44` so Spark SQL strings can express spatial
predicates.

Spark-first re-expression: geometry values at the SQL surface are WKT
strings (POINT / single-ring POLYGON); each function is a **vectorized
pandas UDF** — point coordinates parse with pandas' C-level `str.extract`,
polygon literals parse once per distinct string (lru-cached), and the
predicate math is the numpy kernel in `geom.core`.  `GeomPoint(lon, lat)`
builds WKT from coordinate columns JVM-side (format_string), so the common
point-vs-literal-polygon case never leaves Arrow-batch vectorized code.

These UDFs are the *slow correctness path* of the SQL surface; the
optimizer in `plans/sqlrewrite.py` injects a cell-cover prefilter ahead of
them (the reference does the same surgery in SqlQueryRunner.java:109-245).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import BooleanType, DoubleType

from ..geom import core as geom
from ..geom import wkt as wktm

_POINT_EXTRACT = r"^\s*POINT\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)\s*\)\s*$"


def _series_points(s: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    ext = s.str.extract(_POINT_EXTRACT)
    return ext[0].astype(np.float64).to_numpy(), ext[1].astype(np.float64).to_numpy()


def _col_type(s: pd.Series) -> str:
    first = s.dropna()
    if first.empty:
        return "point"
    return wktm.geom_type(first.iloc[0])


def _poly_groups(s: pd.Series):
    """Iterate (ring_tuple, positional_bool_mask) per distinct WKT —
    ring-aware: POLYGON with holes and MULTIPOLYGON parse to ring sets the
    even-odd kernels in `geom.core` interpret directly."""
    codes, uniques = pd.factorize(s)
    for u_idx, u in enumerate(uniques):
        yield wktm.parse_polygon_rings(u), codes == u_idx


def _point_poly(pred: str, px, py, s_poly: pd.Series, radius: float = 0.0) -> np.ndarray:
    out = np.zeros(len(s_poly), dtype=bool)
    for poly, m in _poly_groups(s_poly):
        if pred in ("within", "intersects", "covers"):
            r = geom.point_in_rings(px[m], py[m], poly)
            if pred != "within":
                r = r | (geom.point_to_polygon_distance(px[m], py[m], poly) == 0.0)
        elif pred == "disjoint":
            r = ~(
                geom.point_in_rings(px[m], py[m], poly)
                | (geom.point_to_polygon_distance(px[m], py[m], poly) == 0.0)
            )
        elif pred == "touches":
            on_b = geom.point_to_polygon_distance(px[m], py[m], poly) == 0.0
            r = on_b & ~geom.point_in_rings(px[m], py[m], poly)
        elif pred == "within_distance":
            r = geom.point_to_polygon_distance(px[m], py[m], poly) <= radius
        else:
            raise ValueError(f"unsupported point-polygon predicate {pred!r}")
        out[m] = r
    return out


def _poly_poly(pred: str, s_a: pd.Series, s_b: pd.Series) -> np.ndarray:
    pairs = pd.DataFrame({"a": s_a, "b": s_b})
    codes, uniques = pd.factorize(pairs["a"] + "\x1f" + pairs["b"])
    out = np.zeros(len(pairs), dtype=bool)
    fn = {
        "intersects": geom.polygons_intersect,
        "disjoint": lambda a, b: not geom.polygons_intersect(a, b),
        "contains": geom.polygon_contains_polygon,
        "covers": geom.polygon_contains_polygon,
        "within": lambda a, b: geom.polygon_contains_polygon(b, a),
        "equals": geom.polygons_equal,
        "overlaps": geom.polygons_overlap,
        "touches": geom.polygons_touch,
    }.get(pred)
    if fn is None:
        raise ValueError(f"unsupported polygon-polygon predicate {pred!r}")
    for u_idx, u in enumerate(uniques):
        a_wkt, b_wkt = u.split("\x1f")
        out[codes == u_idx] = fn(
            wktm.parse_polygon_rings(a_wkt), wktm.parse_polygon_rings(b_wkt)
        )
    return out


def _pair_loop(pred_fn, s_a: pd.Series, s_b: pd.Series, parse_a, parse_b) -> np.ndarray:
    """Evaluate a scalar predicate per distinct (a, b) WKT pair (literals
    are few; lru-cached parsers make repeats free)."""
    codes, uniques = pd.factorize(s_a + "\x1f" + s_b)
    out = np.zeros(len(s_a), dtype=bool)
    for u_idx, u in enumerate(uniques):
        a_wkt, b_wkt = u.split("\x1f")
        out[codes == u_idx] = pred_fn(parse_a(a_wkt), parse_b(b_wkt))
    return out


def _line_parts(wkt: str) -> tuple[np.ndarray, ...]:
    """LINESTRING -> one part; MULTILINESTRING -> its parts (the predicates
    below reduce with any/all over parts)."""
    if wktm.geom_type(wkt) == "multilinestring":
        return wktm.parse_multilinestring(wkt)
    return (wktm.parse_linestring(wkt),)


def _line_dispatch(pred: str, left: pd.Series, right: pd.Series,
                   lt: str, rt: str) -> pd.Series:
    """Predicates with at least one (MULTI)LINESTRING side."""
    if lt == "linestring" and rt == "polygon":
        fn = {
            # any part crossing / intersecting; ALL parts within
            "crosses": lambda ps, b: any(geom.line_crosses_polygon(p, b) for p in ps),
            "intersects": lambda ps, b: any(geom.line_intersects_polygon(p, b) for p in ps),
            "disjoint": lambda ps, b: not any(geom.line_intersects_polygon(p, b) for p in ps),
            "within": lambda ps, b: all(geom.line_within_polygon(p, b) for p in ps),
        }.get(pred)
        if fn is None:
            raise ValueError(f"unsupported linestring-polygon predicate {pred!r}")
        return pd.Series(_pair_loop(
            fn, left, right, _line_parts, wktm.parse_polygon_rings,
        ))
    if lt == "polygon" and rt == "linestring":
        flip = {"crosses": "crosses", "intersects": "intersects",
                "disjoint": "disjoint", "contains": "within"}
        mapped = flip.get(pred)
        if mapped is None:
            raise ValueError(f"unsupported polygon-linestring predicate {pred!r}")
        return _line_dispatch(mapped, right, left, "linestring", "polygon")
    if lt == "linestring" and rt == "linestring":
        fn = {
            "crosses": lambda pa, pb: any(
                geom.lines_cross(a, b) for a in pa for b in pb),
            "intersects": lambda pa, pb: any(
                geom.lines_intersect(a, b) for a in pa for b in pb),
            "disjoint": lambda pa, pb: not any(
                geom.lines_intersect(a, b) for a in pa for b in pb),
        }.get(pred)
        if fn is None:
            raise ValueError(f"unsupported linestring-linestring predicate {pred!r}")
        return pd.Series(_pair_loop(
            fn, left, right, _line_parts, _line_parts,
        ))
    # point-vs-linestring combos: intersects/disjoint/touches via distance
    pts, lines = (left, right) if lt == "point" else (right, left)
    px, py = _series_points(pts)
    out = np.zeros(len(pts), dtype=bool)
    codes, uniques = pd.factorize(lines)
    for u_idx, u in enumerate(uniques):
        parts = _line_parts(u)
        m = codes == u_idx
        d = np.full(int(m.sum()), np.inf)
        for part in parts:
            d = np.minimum(d, geom.point_to_line_distance(px[m], py[m], part.ravel()))
        if pred in ("intersects", "touches"):
            out[m] = d == 0
        elif pred == "disjoint":
            out[m] = d > 0
        else:
            raise ValueError(f"unsupported point-linestring predicate {pred!r}")
    return pd.Series(out)


def _dispatch(pred: str, left: pd.Series, right: pd.Series,
              radius: float = 0.0) -> pd.Series:
    lt, rt = _col_type(left), _col_type(right)
    lt = "linestring" if lt == "multilinestring" else lt
    rt = "linestring" if rt == "multilinestring" else rt
    if "linestring" in (lt, rt):
        return _line_dispatch(pred, left, right, lt, rt)
    if pred == "crosses":
        # DE-9IM crosses is undefined for point/point and area/area pairs
        return pd.Series(np.zeros(len(left), dtype=bool))
    if lt == "point" and rt == "point":
        lx, ly = _series_points(left)
        rx, ry = _series_points(right)
        if pred in ("equals", "intersects", "within", "contains", "covers", "touches"):
            r = (lx == rx) & (ly == ry)
            if pred == "touches":
                r = np.zeros(len(left), dtype=bool)
        elif pred == "disjoint":
            r = ~((lx == rx) & (ly == ry))
        elif pred == "within_distance":
            r = geom.planar_distance(lx, ly, rx, ry) <= radius
        else:
            raise ValueError(f"unsupported point-point predicate {pred!r}")
        return pd.Series(r)
    if lt == "point" and rt == "polygon":
        px, py = _series_points(left)
        mapped = {"contains": None, "within": "within"}.get(pred, pred)
        if pred == "contains":  # a point cannot contain an area
            return pd.Series(np.zeros(len(left), dtype=bool))
        return pd.Series(_point_poly(mapped, px, py, right, radius))
    if lt == "polygon" and rt == "point":
        px, py = _series_points(right)
        flip = {"contains": "within", "covers": "covers", "within": "contains",
                "intersects": "intersects", "disjoint": "disjoint",
                "touches": "touches", "within_distance": "within_distance"}
        mapped = flip.get(pred)
        if pred == "within":  # an area is never within a point
            return pd.Series(np.zeros(len(left), dtype=bool))
        if mapped is None:
            raise ValueError(f"unsupported polygon-point predicate {pred!r}")
        return pd.Series(_point_poly(mapped, px, py, left, radius))
    return pd.Series(_poly_poly(pred, left, right))


def _distance(left: pd.Series, right: pd.Series) -> pd.Series:
    lt, rt = _col_type(left), _col_type(right)
    if lt == "point" and rt == "point":
        lx, ly = _series_points(left)
        rx, ry = _series_points(right)
        return pd.Series(geom.planar_distance(lx, ly, rx, ry))
    if lt == "point" or rt == "point":
        pts, other = (left, right) if lt == "point" else (right, left)
        ot = rt if lt == "point" else lt
        px, py = _series_points(pts)
        out = np.zeros(len(pts), dtype=np.float64)
        if ot == "polygon":
            for poly, m in _poly_groups(other):
                out[m] = geom.point_to_polygon_distance(px[m], py[m], poly)
        else:
            codes, uniques = pd.factorize(other)
            for u_idx, u in enumerate(uniques):
                m = codes == u_idx
                d = np.full(int(m.sum()), np.inf)
                for part in _line_parts(u):
                    d = np.minimum(d, geom.point_to_line_distance(px[m], py[m], part))
                out[m] = d
        return pd.Series(out)
    raise ValueError("GeomDistance supports point-point, point-polygon, point-line")


_PREDICATES = [
    ("GeomContains", "contains"),
    ("GeomCovers", "covers"),
    ("GeomCrosses", "crosses"),
    ("GeomDisjoint", "disjoint"),
    ("GeomEquals", "equals"),
    ("GeomIntersects", "intersects"),
    ("GeomOverlaps", "overlaps"),
    ("GeomTouches", "touches"),
    ("GeomWithin", "within"),
]


def register_geometry_functions(spark: SparkSession) -> list[str]:
    """Register the Geom* surface on this session; returns registered names."""
    names = []

    def make(pred: str):
        @F.pandas_udf(BooleanType())
        def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
            return _dispatch(pred, a, b)

        return _udf

    for name, pred in _PREDICATES:
        spark.udf.register(name, make(pred))
        names.append(name)

    @F.pandas_udf(DoubleType())
    def _dist(a: pd.Series, b: pd.Series) -> pd.Series:
        return _distance(a, b)

    spark.udf.register("GeomDistance", _dist)
    names.append("GeomDistance")

    @F.pandas_udf(BooleanType())
    def _wd(a: pd.Series, b: pd.Series, r: pd.Series) -> pd.Series:
        return _dispatch("within_distance", a, b, radius=float(r.iloc[0]))

    spark.udf.register("GeomWithinDistance", _wd)
    names.append("GeomWithinDistance")

    @F.pandas_udf(BooleanType())
    def _gwd(a: pd.Series, b: pd.Series, r_km: pd.Series) -> pd.Series:
        # point-point geodesic "within r km" — CQL DWITHIN(meters/km)
        # surface (reference: OrthodromicDistancePartitioner.java)
        ax, ay = _series_points(a)
        bx, by = _series_points(b)
        return pd.Series(geom.haversine_km(ax, ay, bx, by)
                         <= float(r_km.iloc[0]))

    spark.udf.register("GeodesicWithinDistance", _gwd)
    names.append("GeodesicWithinDistance")

    from pyspark.sql.types import StringType

    @F.pandas_udf(StringType())
    def _pt(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return "POINT (" + lon.astype(str) + " " + lat.astype(str) + ")"

    spark.udf.register("GeomPoint", _pt)
    names.append("GeomPoint")

    @F.pandas_udf(StringType())
    def _fromwkt(w: pd.Series) -> pd.Series:
        # geometries ARE canonical WKT strings in this engine, so FromWKT
        # validates + canonicalizes (parse -> re-emit); name parity with
        # the reference registry (`UDFRegistrySPI.java:15-27`)
        out = []
        for s in w:
            t = wktm.geom_type(s)
            if t == "point":
                out.append(wktm.point_wkt(*wktm.parse_point(s)))
            elif t == "polygon":
                rings = wktm.parse_polygon_rings(s)
                if len(rings) == 1:
                    out.append(wktm.polygon_wkt(rings[0]))
                elif s.lstrip()[:5].upper() == "MULTI":
                    out.append(wktm.multipolygon_wkt(rings))
                else:
                    out.append(wktm.polygon_wkt_holes(rings))
            elif t == "linestring":
                out.append(wktm.linestring_wkt(wktm.parse_linestring(s)))
            elif t == "multilinestring":
                out.append(s.strip())
            else:
                raise ValueError(f"unsupported WKT type in {s[:40]!r}")
        return pd.Series(out)

    spark.udf.register("GeomFromWKT", _fromwkt)
    names.append("GeomFromWKT")

    @F.pandas_udf(StringType())
    def _envelope(w: pd.Series) -> pd.Series:
        out = []
        for s in w:
            x0, y0, x1, y1 = wktm.bounds(s)
            if x0 == x1 and y0 == y1:
                out.append(wktm.point_wkt(x0, y0))
            else:
                out.append(f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, "
                           f"{x0} {y1}, {x0} {y0}))")
        return pd.Series(out)

    spark.udf.register("GeomEnvelope", _envelope)
    names.append("GeomEnvelope")

    for nm, idx in (("GeomMinX", 0), ("GeomMinY", 1),
                    ("GeomMaxX", 2), ("GeomMaxY", 3)):
        def _mk(i):
            @F.pandas_udf(DoubleType())
            def _coord(w: pd.Series) -> pd.Series:
                return pd.Series([wktm.bounds(s)[i] for s in w],
                                 dtype="float64")

            return _coord

        spark.udf.register(nm, _mk(idx))
        names.append(nm)
    return names
