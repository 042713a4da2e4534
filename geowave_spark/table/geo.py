"""Deterministic geo-derivation shared by Spark queries and the DuckDB oracle.

The provided testdata tables have no spatial columns, so spatial operators run
over lon/lat derived from integer keys with arithmetic that BOTH engines
(Spark SQL and DuckDB) evaluate identically:

- mod-reduce before multiplying (DuckDB raises on int64 overflow, Spark wraps)
- integer ops only until one final float division (IEEE-deterministic)

Every helper returns a SQL string fragment usable verbatim in both dialects;
`F.expr` turns it into a Spark Column.  This is the single source of truth —
queries() and oracle_sql() both build from these strings, so they cannot
drift apart.
"""

from __future__ import annotations

LON_MULT = 2654435761
LAT_MULT = 2246822519
LON_MOD = 360_000_000
LAT_MOD = 180_000_000

# the synthetic lineitem is unique ONLY on all four of these columns
LINEITEM_KEY = "(((l_orderkey * 8 + l_linenumber) * 200000 + l_partkey) * 10000 + l_suppkey)"


def lon_sql(key: str) -> str:
    """Key -> longitude in [-180, 180): identical in Spark SQL and DuckDB.

    The key expression is parenthesized before the mod so composite keys
    like ``doc_id * 104729 + 19`` reduce BEFORE the avalanche multiply —
    without it, % binds tighter than + and the unreduced product
    overflows int64 once keys reach ~4e9 (DuckDB raises, Spark ANSI
    raises; found by the sf1 scale run)."""
    return f"(((({key}) % {LON_MOD}) * {LON_MULT} % {LON_MOD}) / 1e6 - 180e0)"


def lat_sql(key: str) -> str:
    """Key -> latitude in [-90, 90)."""
    return f"(((({key}) % {LAT_MOD}) * {LAT_MULT} % {LAT_MOD}) / 1e6 - 90e0)"


def lineitem_points_sql(sf_dir: str | None = None, table: str = "lineitem") -> str:
    """Point table derived from lineitem: (pid, lon, lat, qty, price).

    GROUP BY pid because the synthetic lineitem contains a few fully
    duplicated rows (found at sf0.001); the derived point table must have a
    unique row id for join/dedup semantics to be well-defined.
    """
    src = f"parquet.`{sf_dir}/lineitem.parquet`" if sf_dir else table
    k = LINEITEM_KEY
    return (
        f"SELECT pid, {lon_sql('pid')} AS lon, {lat_sql('pid')} AS lat, qty, price FROM "
        f"(SELECT {k} AS pid, max(l_quantity) AS qty, max(l_extendedprice) AS price "
        f"FROM {src} GROUP BY 1) t"
    )


def events_points_sql(sf_dir: str | None = None, table: str = "events") -> str:
    """Point table derived from events: (eid, lon, lat, value, event_type)."""
    src = f"parquet.`{sf_dir}/events.parquet`" if sf_dir else table
    return (
        f"SELECT event_id AS eid, {lon_sql('event_id')} AS lon, "
        f"{lat_sql('event_id')} AS lat, value, event_type FROM {src}"
    )


def supplier_rects_sql(sf_dir: str | None = None, table: str = "supplier") -> str:
    """Rectangle (query-region) table derived from supplier keys:
    (rid, lon0, lat0, lon1, lat1) with deterministic centers and sizes."""
    src = f"parquet.`{sf_dir}/supplier.parquet`" if sf_dir else table
    cx = lon_sql("s_suppkey * 7919 + 13")
    cy = lat_sql("s_suppkey * 104729 + 7")
    w = "(2e0 + (s_suppkey % 700) / 1e2)"  # half-width 2.0 .. 8.99 deg
    h = "(1e0 + (s_suppkey % 500) / 1e2)"  # half-height 1.0 .. 5.99 deg
    return (
        f"SELECT s_suppkey AS rid, "
        f"greatest({cx} - {w}, -180e0) AS lon0, greatest({cy} - {h}, -90e0) AS lat0, "
        f"least({cx} + {w}, 180e0) AS lon1, least({cy} + {h}, 90e0) AS lat1 "
        f"FROM {src}"
    )


def supplier_windows_sql(sf_dir: str | None = None, table: str = "supplier") -> str:
    """Spatiotemporal query windows: the supplier rects plus a deterministic
    time range per window — t0 staggered over the events table's January
    2024 span, duration 1..7 days (epoch seconds; 1704067200 = 2024-01-01)."""
    t0 = "cast(1704067200 + (rid % 20) * 86400 + (rid % 5) * 3600 as bigint)"
    return (
        f"SELECT rid AS wid, lon0, lat0, lon1, lat1, {t0} AS t0, "
        f"cast({t0} + (1 + rid % 7) * 86400 as bigint) AS t1 "
        f"FROM ({supplier_rects_sql(sf_dir, table)}) r"
    )


def events_points_ts_sql(sf_dir: str | None = None, table: str = "events",
                         dialect: str = "spark") -> str:
    """Event points with epoch-second timestamps: (eid, lon, lat, tsec).
    The epoch extraction is the only dialect split (both floor)."""
    src = f"parquet.`{sf_dir}/events.parquet`" if sf_dir else table
    # Spark reads the parquet ts as TIMESTAMP_NTZ; the cast is wall-clock
    # identity under the UTC session timezone pinned by bench/tests
    ep = ("unix_micros(cast(ts as timestamp)) div 1000000" if dialect == "spark"
          else "epoch_us(ts) // 1000000")
    return (
        f"SELECT event_id AS eid, {lon_sql('event_id')} AS lon, "
        f"{lat_sql('event_id')} AS lat, cast({ep} as bigint) AS tsec FROM {src}"
    )


def track_segments_sql(sf_dir: str | None = None, table: str = "events") -> str:
    """Polyline segments from the track users (user_id % 20 = 0):
    consecutive points per user ordered by event_id form (sid, ax, ay,
    bx, by) segments — the road-network / reference-trajectory side of the
    map-matching join.  Same text in both dialects."""
    src = f"parquet.`{sf_dir}/events.parquet`" if sf_dir else table
    ax, ay = lon_sql("event_id"), lat_sql("event_id")
    w = "OVER (PARTITION BY user_id ORDER BY event_id)"
    return (
        f"SELECT sid, ax, ay, bx, by FROM ("
        f"SELECT event_id AS sid, {ax} AS ax, {ay} AS ay, "
        f"lead({ax}) {w} AS bx, lead({ay}) {w} AS by "
        f"FROM {src} WHERE user_id % 20 = 0) t WHERE bx IS NOT NULL"
    )


def road_segments_sql(n: int = 20_000) -> str:
    """Fixed synthetic ROAD NETWORK: ``n`` LOCAL segments (extent <= 0.3
    deg per axis) hash-scattered uniformly over the globe — ONE text for
    both dialects (``FROM range(n) AS t(sid)`` parses identically in
    Spark SQL and DuckDB).

    Locality + fixedness are the modeling point (VERDICT r3 item 1): a
    real road network is short-segment and does not grow with the fleet,
    so cell-cover blocking bounds the map-matching candidate join
    intrinsically — unlike `track_segments_sql`'s global-chord tracks,
    which defeat any spatial blocking by construction.  Reference analog:
    the partition-then-search NN layout of
    `analytics/mapreduce/.../nn/NNMapReduce.java`."""
    ax = lon_sql("sid * 7919 + 13")
    ay = lat_sql("sid * 104729 + 7")
    dx = "(((sid * 53) % 101) / 101e0 * 0.6e0 - 0.3e0)"
    dy = "(((sid * 71) % 89) / 89e0 * 0.6e0 - 0.3e0)"
    return (
        f"SELECT sid, ax, ay, "
        f"least(greatest(ax + {dx}, -180e0), 180e0) AS bx, "
        f"least(greatest(ay + {dy}, -90e0), 90e0) AS by "
        f"FROM (SELECT sid, {ax} AS ax, {ay} AS ay "
        f"FROM range({n}) AS t(sid)) r"
    )


def customer_points_sql(sf_dir: str | None = None, table: str = "customer") -> str:
    """Small point table from customer keys (kNN/distance-join query side)."""
    src = f"parquet.`{sf_dir}/customer.parquet`" if sf_dir else table
    return (
        f"SELECT c_custkey AS cid, {lon_sql('c_custkey * 31 + 5')} AS lon, "
        f"{lat_sql('c_custkey * 37 + 11')} AS lat FROM {src}"
    )


def planar_dist_sql(ax: str, ay: str, bx: str, by: str) -> str:
    return f"sqrt(({ax} - {bx}) * ({ax} - {bx}) + ({ay} - {by}) * ({ay} - {by}))"


def convex_inside_sql(ring, lon: str, lat: str) -> str:
    """Strict point-in-convex-polygon as AND of half-plane sign tests — the
    DuckDB-expressible oracle twin of the engine's ray-cast PIP (agrees
    everywhere except the measure-zero boundary).  ``ring`` is a CCW
    (n, 2) vertex array (unclosed)."""
    import numpy as np

    v = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    terms = []
    for i in range(len(v)):
        x0, y0 = v[i]
        x1, y1 = v[(i + 1) % len(v)]
        terms.append(
            f"(({x1!r} - {x0!r}) * (({lat}) - {y0!r}) - "
            f"({y1!r} - {y0!r}) * (({lon}) - {x0!r}) > 0)"
        )
    return "(" + " AND ".join(terms) + ")"


def convex_inside_cols_sql(nv: int, lon: str, lat: str,
                           vx: str = "vx", vy: str = "vy") -> str:
    """Strict point-in-convex-polygon over VERTEX COLUMNS (``vx0..vx{nv-1}``,
    ``vy0..``, CCW) — the column twin of :func:`convex_inside_sql`; one
    text both engines evaluate in the same IEEE op order."""
    terms = []
    for i in range(nv):
        j = (i + 1) % nv
        terms.append(
            f"(({vx}{j} - {vx}{i}) * (({lat}) - {vy}{i}) - "
            f"({vy}{j} - {vy}{i}) * (({lon}) - {vx}{i}) > 0)"
        )
    return "(" + " AND ".join(terms) + ")"


def cell_center_sql(res: int) -> tuple[str, str]:
    """(cx, cy) expressions for grid indexes ``gx``/``gy`` at ``res`` —
    shared text, exact-double arithmetic."""
    n = 1 << res
    return (f"((cast(gx as double) + 0.5e0) / {n} * 360e0 - 180e0)",
            f"((cast(gy as double) + 0.5e0) / {n} * 180e0 - 90e0)")


def grid_xy_sql(lon: str, lat: str, n) -> tuple[str, str]:
    """Grid ordinates (x, y) in [0, n) of a point on an n x n lon/lat grid
    (``n`` a number or a SQL expression), valid in both SQL dialects.

    GeoWave's ceil(c*n)-1 normalization (SURVEY.md §5.1), clamped BEFORE
    the subtraction: Spark's ``ceil`` of a double below -2^63 (-inf,
    -1e300) is Long.MIN, so ``ceil(...) - 1`` would overflow under ANSI.
    Finite values, NaN and +inf get the same ordinate as unclamped; -inf
    maps to 0.
    """
    def ordinate(v: str, lo: str, span: str) -> str:
        return (f"(cast(least(greatest(ceil((({v}) + {lo}) / {span} * {n}), 1), "
                f"{n}) as bigint) - 1)")

    return ordinate(lon, "180e0", "360e0"), ordinate(lat, "90e0", "180e0")


def rowmajor_cell_sql(lon: str, lat: str, res: int) -> str:
    """Row-major grid id — closed form identical to
    grid.latlng_to_cell(curve='rowmajor') for finite points."""
    n = 1 << res
    x, y = grid_xy_sql(lon, lat, n)
    return f"({y} * {n} + {x})"


# exact-double hexagon offsets (cos/sin would differ across engines in the
# last ulp; these literals multiply identically everywhere)
HEX_OFFSETS = [(1.0, 0.0), (0.5, 0.866), (-0.5, 0.866),
               (-1.0, 0.0), (-0.5, -0.866), (0.5, -0.866)]


def hex_a_sql() -> str:
    """Side-A polygon table for the polygon x polygon join: one hexagon per
    image, centered on its footprint, scale from doc_id — every vertex a
    closed-form double both engines derive identically."""
    from . import images as images_mod

    s = "((1 + doc_id % 4) * 0.7)"
    cols = ", ".join(
        f"(lon0 + lon1) / 2 + {ox!r} * {s} AS vx{k}, "
        f"(lat0 + lat1) / 2 + {oy!r} * {s} AS vy{k}"
        for k, (ox, oy) in enumerate(HEX_OFFSETS)
    )
    return (
        f"SELECT image_id AS aid, {cols} "
        f"FROM ({images_mod.images_base_sql()}) base"
    )


def hex_b_sql() -> str:
    """Side-B polygon table for the big-big polygon join: a second
    deterministic hexagon per image, offset and differently scaled so the
    overlap pattern is non-trivial."""
    from . import images as images_mod

    s = "((1 + doc_id % 3) * 0.9)"
    cols = ", ".join(
        f"(lon0 + lon1) / 2 + 0.8 + {ox!r} * {s} AS vx{k}, "
        f"(lat0 + lat1) / 2 - 0.5 + {oy!r} * {s} AS vy{k}"
        for k, (ox, oy) in enumerate(HEX_OFFSETS)
    )
    return (
        f"SELECT image_id AS bid, {cols} "
        f"FROM ({images_mod.images_base_sql()}) base"
    )

