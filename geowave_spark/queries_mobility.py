"""Mobility / tessellation operators (q216-q218).

Hexagonal tessellation binning, polyline decimation, and convoy (co-movement)
pair detection — the movement-analytics layer over the binned-aggregation and
track primitives (reference analogs: `SpatialBinningType` H3 hex binning
`core/geotime/.../binning/SpatialBinningType.java:15-16`; trajectory rollups
`extensions/formats/gpx/.../GPXConsumer.java`; NN partitioning
`analytics/mapreduce/.../nn/NNMapReduce.java`).

Same dual-dialect discipline as queries.py: every derived value is a shared
SQL text (or differs only in the integer-division / epoch spelling), floats
stay IEEE-identical by construction, outputs are integerized.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .table import geo
from .table.views import register_views

# --------------------------------------------------------------- q216 hex bin


def _q216_sql() -> str:
    """Hexagonal tessellation binning (pointy-top axial coordinates, cube
    rounding per Amit Patel's canonical construction): the H3-style hex
    binned aggregation of `SpatialBinningType.java` expressed in pure
    closed-form SQL — no library, no UDF, identical text in both engines.

    Scale shape: projection + cube-round are whole-stage-codegen
    arithmetic; the only shuffle is the final keyed aggregate with
    map-side partials.  Hexagons have uniform area and 6-neighbor
    adjacency (vs the row-major grid's 4/8 ambiguity), which is why the
    reference ships H3 alongside square SFC cells.

    Float discipline: sqrt(3e0) is IEEE-correctly-rounded in both
    engines; rounding is floor(v + 0.5e0) (identical, no banker's
    ambiguity); the axial->cube adjustment uses only abs/compare on
    doubles produced by the same expression text.
    """
    s = "5e0"  # hex size (circumradius) in degrees
    lon, lat = geo.lon_sql("event_id"), geo.lat_sql("event_id")
    qf = f"((sqrt(3e0) / 3e0 * lon - lat / 3e0) / {s})"
    rf = f"((2e0 / 3e0 * lat) / {s})"
    return f"""
WITH p AS (
  SELECT event_id, value, {lon} AS lon, {lat} AS lat FROM events
),
ax AS (
  SELECT event_id, value, {qf} AS qf, {rf} AS rf, (-{qf} - {rf}) AS sf
  FROM p
),
cr AS (
  SELECT event_id, value, qf, rf, sf,
         floor(qf + 0.5e0) AS rq, floor(rf + 0.5e0) AS rr,
         floor(sf + 0.5e0) AS rs
  FROM ax
),
hx AS (
  SELECT event_id, value,
         cast(CASE WHEN abs(rq - qf) > abs(rr - rf)
                    AND abs(rq - qf) > abs(rs - sf)
                   THEN -rr - rs ELSE rq END as bigint) AS hq,
         cast(CASE WHEN NOT (abs(rq - qf) > abs(rr - rf)
                             AND abs(rq - qf) > abs(rs - sf))
                    AND abs(rr - rf) > abs(rs - sf)
                   THEN -rq - rs ELSE rr END as bigint) AS hr
  FROM cr
)
SELECT hq, hr, cast(count(*) as bigint) AS n,
       cast(sum(cast(round(value * 100) as bigint)) as bigint) AS val_cents
FROM hx GROUP BY hq, hr ORDER BY hq, hr
"""


def q216_hex_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q216_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q216_sql())


# -------------------------------------------------------- q217 decimation


def _q217_sql() -> str:
    """Polyline decimation by perpendicular offset (the one-pass
    Lang/radial-offset simplification family; the streaming-friendly
    sibling of Douglas-Peucker, which is recursive and therefore not a
    per-row operator): an interior vertex is DROPPED when its
    perpendicular distance to the chord between its window neighbors is
    below tol — compared squared (cross^2 <= tol^2 * |chord|^2) so no
    sqrt/division enters the float path.  Track endpoints always kept;
    a degenerate chord (prev == next) falls back to point-to-prev
    distance.

    Scale shape: ONE window shuffle keyed by track (user_id), then a
    keyed aggregate that reuses the same hash partitioning — vertices
    never fan out, no joins.  Output per track: vertex counts before /
    after and an id-checksum of the kept vertices.
    """
    lon, lat = geo.lon_sql("event_id"), geo.lat_sql("event_id")
    w = "OVER (PARTITION BY user_id ORDER BY event_id)"
    tol2 = "400e0"  # tol = 20 degrees, squared
    cross = ("((nx - px) * (lat - py) - (ny - py) * (lon - px))")
    chord2 = "((nx - px) * (nx - px) + (ny - py) * (ny - py))"
    dprev2 = "((lon - px) * (lon - px) + (lat - py) * (lat - py))"
    return f"""
WITH pts AS (
  SELECT user_id, event_id, {lon} AS lon, {lat} AS lat
  FROM events WHERE user_id % 20 = 0
),
nb AS (
  SELECT user_id, event_id, lon, lat,
         lag(lon) {w} AS px, lag(lat) {w} AS py,
         lead(lon) {w} AS nx, lead(lat) {w} AS ny
  FROM pts
),
k AS (
  SELECT user_id, event_id,
         CASE
           WHEN px IS NULL OR nx IS NULL THEN 1
           WHEN {chord2} = 0e0 THEN
             CASE WHEN {dprev2} > {tol2} THEN 1 ELSE 0 END
           WHEN {cross} * {cross} > {tol2} * {chord2} THEN 1
           ELSE 0
         END AS keep
  FROM nb
)
SELECT user_id, cast(count(*) as bigint) AS n_pts,
       cast(sum(keep) as bigint) AS n_kept,
       cast(sum(CASE WHEN keep = 1 THEN event_id ELSE 0 END) as bigint)
         AS kept_id_sum
FROM k GROUP BY user_id ORDER BY user_id
"""


def q217_polyline_decimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q217_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q217_sql())


# ------------------------------------------------------------- q218 convoy


_Q218_CELLBITS = 20  # row-major res-9 cell ids fit in 2^18; 2^20 is safe


def _q218_sql(epoch_us: str, intdiv: str) -> str:
    """Convoy / flock pair detection (Gudmundsson & van Kreveld's flock
    pattern, pairwise form): two users are a convoy pair when they share
    a grid cell in >= 3 CONSECUTIVE day bins.  Positions use the
    flock-correlated derivation (users in the same flock share a
    daily-moving base point, plus per-event jitter) so the pattern is
    non-trivially present in the synthetic table.

    Scale shape — never all-pairs: (1) per (user, day) reduce to ONE
    representative cell (encoded argmin by event_id — hash aggregate,
    no window sort); (2) the pair generator is an equi-join keyed by
    (day, cell), so fan-out is bounded by per-cell occupancy exactly
    like the spatial cover join (hot cells are the same salting story as
    `join/spatial.py`); (3) consecutive-run length per pair is one
    gaps-and-islands window over the tiny (pair, hour) co-binning list.
    """
    flock_lon = geo.lon_sql("((user_id % 7) * 1000003 + tbin * 7919)")
    flock_lat = geo.lat_sql("((user_id % 7) * 999983 + tbin * 104729)")
    cell = geo.rowmajor_cell_sql(
        "(blon + (event_id % 997) / 1e4 - 0.0498e0)",
        "(blat + (event_id % 991) / 1e4 - 0.0495e0)", 9)
    enc = 1 << _Q218_CELLBITS
    return f"""
WITH e AS (
  SELECT event_id, user_id,
         cast(({epoch_us}) {intdiv} 86400000000 as bigint) AS tbin
  FROM events
),
pos AS (
  SELECT event_id, user_id, tbin, {flock_lon} AS blon, {flock_lat} AS blat
  FROM e
),
uc AS (
  SELECT user_id, tbin,
         cast(min(event_id * {enc} + {cell}) % {enc} as bigint) AS cell
  FROM pos GROUP BY user_id, tbin
),
pairs AS (
  SELECT a.user_id AS u1, b.user_id AS u2, a.tbin
  FROM uc a JOIN uc b
    ON b.tbin = a.tbin AND b.cell = a.cell AND a.user_id < b.user_id
),
runs AS (
  SELECT u1, u2, tbin,
         tbin - row_number() OVER (PARTITION BY u1, u2 ORDER BY tbin) AS grp
  FROM pairs
),
scored AS (
  SELECT u1, u2, grp, cast(count(*) as bigint) AS run_len
  FROM runs GROUP BY u1, u2, grp
)
SELECT u1, u2, cast(sum(run_len) as bigint) AS n_cobins,
       cast(max(run_len) as bigint) AS max_run
FROM scored GROUP BY u1, u2 HAVING max(run_len) >= 3
ORDER BY u1, u2
"""


def q218_convoy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q218_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q218_sql("unix_micros(cast(ts as timestamp))", "div"))


def _q286_sql(epoch_us: str, intdiv: str) -> str:
    """Co-movement DWELL duration: for every user pair sharing a
    (region, day) bucket, the summed overlap of their presence intervals
    — the time-weighted refinement of q218's convoy count (q218 counts
    co-occurrence windows; this measures HOW LONG pairs actually
    coexisted, the contact-duration statistic of proximity-tracing and
    ride-sharing analytics).

    Plan: one scan collapses the corpus to per-(user, region, day)
    presence intervals [min_ts, max_ts] (a keyed aggregate — the
    interval table is orders of magnitude smaller than the event
    stream); the pair self-join runs INSIDE (region, day) buckets only,
    overlap is pure codegen interval arithmetic, and the final rollup is
    keyed by the pair.  The bucket granularity is the recall dial
    (exactly q164's blocking contract): finer buckets = fewer candidate
    pairs but missed cross-boundary dwell."""
    lon, lat = geo.lon_sql("event_id"), geo.lat_sql("event_id")
    cell = geo.rowmajor_cell_sql(lon, lat, 2)
    d = intdiv
    return f"""
WITH p AS (
  SELECT user_id, {cell} AS cell,
         ({epoch_us}) {d} 86400000000 AS day,
         {epoch_us} AS tus
  FROM events
),
pres AS (
  SELECT user_id, cell, day, min(tus) AS t0, max(tus) AS t1
  FROM p GROUP BY user_id, cell, day
),
ov AS (
  SELECT a.user_id AS u1, b.user_id AS u2,
         least(a.t1, b.t1) - greatest(a.t0, b.t0) AS ol
  FROM pres a JOIN pres b
    ON b.cell = a.cell AND b.day = a.day AND a.user_id < b.user_id
)
SELECT u1, u2, cast(sum(ol) as bigint) AS dwell_us,
       cast(count(*) as bigint) AS n_buckets
FROM ov WHERE ol > 0
GROUP BY u1, u2
HAVING sum(ol) >= 3600000000
ORDER BY u1, u2
"""


def q286_comovement_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q286_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q286_sql("unix_micros(cast(ts as timestamp))", "div"))


_Q290_T = 6            # observation sequence length per vehicle
_Q290_K = 4            # candidate road segments per observation
_Q290_R2 = 9.0         # candidate gate: snap distance^2 <= 9 deg^2
_Q290_P = 2_000_000    # segment-switch penalty (micro-deg^2 units)
_Q290_ENC = 68719476736  # 2^36: score/sid encoding base
_Q290_BIG = 4611686018427387904


_Q290_NSEG = 20_000    # fixed road-network size (does not grow with sf)
_Q290_RES = 6          # blocking cell res: 2.8125-deg cells vs R = 3 deg


def _q290_obs_sql() -> str:
    """Observation side: the first T points of every fleet user — ONE
    text for both engines."""
    lon, lat = geo.lon_sql("event_id"), geo.lat_sql("event_id")
    return f"""
  SELECT user_id, rn - 1 AS t, lon, lat FROM (
    SELECT user_id, event_id, {lon} AS lon, {lat} AS lat,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
    FROM events WHERE user_id % 20 <> 0
  ) e WHERE rn <= {_Q290_T}"""


def _q290_rank_sql(cand0_rel: str) -> str:
    """Top-K ranking + complete-sequence gate over a candidate relation
    (user_id, t, sid, emis) — shared text; ties break on (emis, sid)
    deterministically.  Users missing a candidate at any step drop
    (their DP would have no path)."""
    return f"""
ranked AS (
  SELECT user_id, t, sid, emis,
         row_number() OVER (PARTITION BY user_id, t
                            ORDER BY emis, sid) AS rk
  FROM {cand0_rel}
),
good AS (
  SELECT user_id FROM (SELECT DISTINCT user_id, t FROM {cand0_rel}) g
  GROUP BY user_id HAVING count(*) = {_Q290_T}
),
cand AS (
  SELECT r.user_id, r.t, r.sid, r.emis
  FROM ranked r JOIN good ON good.user_id = r.user_id
  WHERE r.rk <= {_Q290_K}
)"""


def _q290_cand_sql() -> str:
    """ORACLE-side candidate relation: brute-force R-gated join of every
    observation against the full fixed road network (DuckDB at gate sf
    only) — deliberately shares NO candidate-generation logic with the
    engine's cell-cover blocking path, so the gate independently proves
    the blocking has exact recall."""
    from .join import spatial

    d2 = spatial.seg_dist2_sql("o.lon", "o.lat", "s.ax", "s.ay",
                               "s.bx", "s.by")
    return f"""
obs AS ({_q290_obs_sql()}
),
segs AS ({geo.road_segments_sql(_Q290_NSEG)}),
cand0 AS (
  SELECT o.user_id, o.t, s.sid,
         cast(floor(({d2}) * 1000000e0) as bigint) AS emis
  FROM obs o JOIN segs s ON {d2} <= {_Q290_R2}
),
{_q290_rank_sql("cand0")}"""


def _q290_candidates(spark: SparkSession) -> DataFrame:
    """ENGINE-side candidate relation (user_id, t, sid, emis): the q120
    cell-cover blocking path.  Segment bboxes expand by R and cover to
    res-6 cells (exact recall: any point within R of a segment lies
    inside the expanded bbox, hence inside its cover); observations
    compute their single cell closed-form in JVM; ONE broadcast hash
    equi-join on cell (the road network is the fixed small side, as in
    `snap_to_segments`), then the exact gate + integer-micro
    emission refine in codegen.  Candidates are unique by construction
    (one cell per obs, distinct cover cells per segment), so no dedup
    shuffle.  This replaces the r3 fixture-capped obs x segs
    BroadcastNestedLoopJoin: candidate volume is now bounded by network
    density x disk area per observation, not by network size."""
    from pyspark.sql import functions as F  # noqa: N812

    from .index import cover as cov
    from .join import spatial

    r = float(np.sqrt(_Q290_R2))
    obs = spark.sql(f"SELECT * FROM ({_q290_obs_sql()}) o")
    segs = spark.sql(geo.road_segments_sql(_Q290_NSEG))
    s = segs.select(
        "sid", "ax", "ay", "bx", "by",
        F.explode(
            cov.bbox_cells_udf(_Q290_RES, curve="rowmajor")(
                F.expr(f"least(ax, bx) - {r!r}"),
                F.expr(f"least(ay, by) - {r!r}"),
                F.expr(f"greatest(ax, bx) + {r!r}"),
                F.expr(f"greatest(ay, by) + {r!r}"))
        ).alias("cell"),
    )
    obs_c = cov.add_point_cells_jvm(obs, "lon", "lat", _Q290_RES)
    d2 = spatial.seg_dist2_sql("lon", "lat", "ax", "ay", "bx", "by")
    return (
        obs_c.join(F.broadcast(s), "cell")
        .filter(F.expr(f"{d2} <= {_Q290_R2}"))
        .select(
            "user_id", "t", "sid",
            F.expr(f"cast(floor(({d2}) * 1000000e0) as bigint)")
            .alias("emis"))
    )


def _q290_round_sql(prev: str, cand: str, t: int) -> str:
    """One Viterbi step: score(t, s) = emis(t, s) + min(score(t-1, s),
    min_all + P).  The two-term form is exact for a same-segment-free /
    switch-penalty transition: if the overall min m1 comes from s
    itself, m1 + P >= score(t-1, s), so the first term wins — no
    second-best bookkeeping needed."""
    return f"""
SELECT c.user_id, c.sid,
       c.emis + least(coalesce(ps.score, {_Q290_BIG}), pm.m1 + {_Q290_P})
         AS score
FROM (SELECT * FROM {cand} WHERE t = {t}) c
JOIN (SELECT user_id, min(score) AS m1 FROM {prev} GROUP BY user_id) pm
  ON pm.user_id = c.user_id
LEFT JOIN {prev} ps ON ps.user_id = c.user_id AND ps.sid = c.sid
"""


_Q290_FINAL = f"""
SELECT user_id,
       cast(enc {{d}} {_Q290_ENC} as bigint) AS best_score_micro,
       cast(enc % {_Q290_ENC} as bigint) AS end_sid
FROM (SELECT user_id, min(score * {_Q290_ENC} + sid) AS enc
      FROM {{last}} GROUP BY user_id) f
ORDER BY user_id
"""


def q290_viterbi_map_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi map matching: decode the most-probable road-segment
    sequence for each vehicle's observation sequence — the HMM form of
    map matching (Newson & Krumm 2009), where q120's independent
    per-point snap is the emission-only special case.  Emissions are
    integer-micro snap distances (`seg_dist2_sql`, the q120 kernel);
    transitions charge a constant switch penalty, rewarding
    segment-coherent paths over per-point nearest.

    Plan: candidates via `_q290_candidates` — the q120 cell-cover
    blocking path (segment bbox + R -> cover cells -> ONE broadcast hash
    equi-join; exact recall, no BroadcastNestedLoopJoin, plan-pinned in
    tests) — then one top-K window; then T-1 Viterbi rounds, each ONE
    keyed min-aggregate + one per-state equi-join on relations bounded
    by users x K — the materialized-loop pattern (q226/q128), rounds cut
    with localCheckpoint because each round reads the previous twice.
    Oracle: BRUTE-FORCE candidates (no blocking logic shared) + the
    identical rank/round texts as a MATERIALIZED CTE chain, so the gate
    independently proves blocking recall.
    """
    from .table.views import mat_view

    register_views(spark, sf_dir)
    _q290_candidates(spark).createOrReplaceTempView("q290_cand0")
    mat_view(
        spark, "q290_cand",
        f"WITH {_q290_rank_sql('q290_cand0')} SELECT * FROM cand")
    cur = "q290_d0"
    mat_view(
        spark, cur,
        "SELECT user_id, sid, emis AS score FROM q290_cand WHERE t = 0",
    )
    for t in range(1, _Q290_T):
        nxt = f"q290_d{t}"
        mat_view(spark, nxt, _q290_round_sql(cur, "q290_cand", t))
        cur = nxt
    return spark.sql(_Q290_FINAL.format(d="div", last=cur))


def _q290_sql() -> str:
    rounds = ",\n".join(
        f"d{t} AS MATERIALIZED ({_q290_round_sql(f'd{t - 1}', 'cand', t)})"
        for t in range(1, _Q290_T)
    )
    return f"""
WITH {_q290_cand_sql()},
d0 AS MATERIALIZED (
  SELECT user_id, sid, emis AS score FROM cand WHERE t = 0
),
{rounds}
{_Q290_FINAL.format(d="//", last=f"d{_Q290_T - 1}")}
"""


MOBILITY_QUERIES = {
    "q290_viterbi_map_matching": (q290_viterbi_map_matching, _q290_sql()),
    "q216_hex_binning": (q216_hex_binning, _q216_sql()),
    "q217_polyline_decimation": (q217_polyline_decimation, _q217_sql()),
    "q218_convoy_pairs": (q218_convoy_pairs,
                          _q218_sql("epoch_us(ts)", "//")),
    "q286_comovement_dwell": (q286_comovement_dwell,
                              _q286_sql("epoch_us(ts)", "//")),
}


# ----------------------------------------------------- q220 polygon measures


def _q220_sql(intdiv: str) -> str:
    """Polygon measure functions — shoelace signed area + polygon
    centroid (the ST_Area / ST_Centroid surface the reference's Geom*
    UDF registry stops short of, `analytics/spark/.../udf/
    UDFRegistrySPI.java:15-27` has predicates+distance only) — over the
    deterministic hexagon table.  Pure unrolled closed-form arithmetic:
    the 6-term shoelace cross sum and the centroid cross-weighted sums
    are IEEE-exact doubles from one shared expression text; only the
    final micro floors divide.

    Scale shape: per-row arithmetic in whole-stage codegen, zero
    shuffles before the ORDER BY (which a real pipeline drops) — the
    map-side-only vector-measure scan.
    """
    from .table import geo as geo_mod

    nv = len(geo_mod.HEX_OFFSETS)
    cross = " + ".join(
        f"(vx{k} * vy{(k + 1) % nv} - vx{(k + 1) % nv} * vy{k})"
        for k in range(nv))
    cxs = " + ".join(
        f"((vx{k} + vx{(k + 1) % nv}) * "
        f"(vx{k} * vy{(k + 1) % nv} - vx{(k + 1) % nv} * vy{k}))"
        for k in range(nv))
    cys = " + ".join(
        f"((vy{k} + vy{(k + 1) % nv}) * "
        f"(vx{k} * vy{(k + 1) % nv} - vx{(k + 1) % nv} * vy{k}))"
        for k in range(nv))
    return f"""
WITH h AS ({geo_mod.hex_a_sql()}),
m AS (
  SELECT aid, ({cross}) AS a2, ({cxs}) AS cxs, ({cys}) AS cys FROM h
)
SELECT aid,
       cast(floor(abs(a2) / 2e0 * 1000000e0) as bigint) AS area_micro,
       cast(floor(cxs / (3e0 * a2) * 1000000e0) as bigint) AS cx_micro,
       cast(floor(cys / (3e0 * a2) * 1000000e0) as bigint) AS cy_micro
FROM m ORDER BY aid
"""


def q220_polygon_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q220_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q220_sql("div"))


MOBILITY_QUERIES["q220_polygon_measures"] = (
    q220_polygon_measures, _q220_sql("//"))


# ------------------------------------------------- q226 shortest paths


def _q226_edges_sql(epoch_us: str, intdiv: str) -> str:
    """The weighted OD edge relation ed(u, v, w) — both directions,
    planar cell-center weights in integer micro-degrees."""
    res = 3
    n = 1 << res
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), res)
    gap_us = 86_400_000_000

    def center(node: str) -> tuple[str, str]:
        gx = f"({node} % {n})"
        gy = f"({node} {intdiv} {n})"
        return (f"((cast({gx} as double) + 0.5e0) / {n} * 360e0 - 180e0)",
                f"((cast({gy} as double) + 0.5e0) / {n} * 180e0 - 90e0)")

    ux, uy = center("u")
    vx, vy = center("v")
    w = (f"cast(floor(sqrt(({ux} - {vx}) * ({ux} - {vx}) + "
         f"({uy} - {vy}) * ({uy} - {vy})) * 1000000e0) as bigint)")
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
tr AS (
  SELECT lag(cell) OVER win AS f, cell AS g, us - lag(us) OVER win AS dt
  FROM t WINDOW win AS (PARTITION BY user_id ORDER BY us)
),
eu AS (
  SELECT DISTINCT least(f, g) AS u, greatest(f, g) AS v
  FROM tr WHERE f IS NOT NULL AND dt < {gap_us} AND f <> g
)
SELECT u, v, {w} AS w FROM eu
UNION ALL
SELECT v AS u, u AS v, {w} AS w FROM eu
"""


def _q226_round_sql(ed: str, prev: str) -> str:
    """One Bellman-Ford min-plus round over view names."""
    return f"""
SELECT node, min(dist) AS dist FROM (
  SELECT node, dist FROM {prev}
  UNION ALL
  SELECT e.v AS node, d.dist + e.w AS dist
  FROM {ed} e JOIN {prev} d ON d.node = e.u
) s GROUP BY node
"""


def _q226_sql(epoch_us: str, intdiv: str) -> str:
    """Single-source shortest paths over the weighted OD mobility graph
    (4 Bellman-Ford / min-plus rounds — the routing primitive; q163
    counts triangles on this graph, q162 runs its random walk, this
    runs its METRIC).  Edge weight = planar cell-center distance in
    integer micro-degrees; source = the smallest node id with an edge.

    This unrolled-CTE form is the ORACLE (DuckDB materializes each CTE
    once).  The Spark path (`q226_shortest_paths`) materializes the
    edge relation with `mat_view` and iterates — Spark inlines CTEs, so
    the unrolled text would re-execute the edge build 2^rounds times.

    Scale shape: each round is ONE hash join (frontier x edges) + keyed
    min aggregate — the textbook distributed Bellman-Ford step; no
    driver-side data, rounds build on checkpointed <= |V|-row frames.
    Integer-exact: weights floored to micro BEFORE summing, so path
    lengths are order-independent int64."""
    ed = _q226_edges_sql(epoch_us, intdiv)
    rounds = []
    for k in range(1, 5):
        body = _q226_round_sql("ed", f"d{k - 1}")
        rounds.append(f"d{k} AS ({body})")
    return f"""
WITH ed AS ({ed}),
src AS (SELECT min(u) AS s FROM ed),
d0 AS (SELECT s AS node, cast(0 as bigint) AS dist FROM src),
{','.join(rounds)}
SELECT node, dist AS dist_micro FROM d4 ORDER BY node
"""


def q226_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q226_sql`; materialized-loop Spark path."""
    from .table.views import mat_view

    register_views(spark, sf_dir)
    mat_view(spark, "q226_ed",
             _q226_edges_sql("unix_micros(cast(ts as timestamp))", "div"))
    d = spark.sql("SELECT min(u) AS node, cast(0 as bigint) AS dist "
                  "FROM q226_ed")
    for k in range(4):
        d.createOrReplaceTempView("q226_d")
        d = spark.sql(_q226_round_sql("q226_ed", "q226_d"))
        d = d.localCheckpoint(eager=True)
    d.createOrReplaceTempView("q226_final")
    return spark.sql(
        "SELECT node, dist AS dist_micro FROM q226_final ORDER BY node")


# --------------------------------------------------- q227 gini diversity


def _q227_sql(intdiv: str) -> str:
    """Simpson/Gini diversity of event types per spatial bin — the
    land-use-mix / category-diversity metric (1 - sum p_i^2), computed
    WITHOUT logs so it stays integer-exact across engines (the entropy
    twin would need ln, which is not cross-engine reproducible):
    gini_micro = (N^2 - sum n_i^2) * 1e6 / N^2 in pure int64.

    Scale shape: one (cell, type) keyed count (map-side combined), one
    per-cell re-aggregate — the two-level rollup; type vocabulary is
    tiny so the second aggregate is bounded."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), 5)
    return f"""
WITH t AS (SELECT event_id, event_type, {cell} AS cell FROM events),
c AS (
  SELECT cell, event_type, cast(count(*) as bigint) AS n
  FROM t GROUP BY cell, event_type
),
g AS (
  SELECT cell, sum(n) AS nn, sum(n * n) AS sq,
         cast(count(*) as bigint) AS n_types
  FROM c GROUP BY cell
)
SELECT cell, cast(nn as bigint) AS n_events, n_types,
       cast(((nn * nn - sq) * 1000000) {intdiv} (nn * nn) as bigint)
         AS gini_micro
FROM g ORDER BY cell
"""


def q227_gini_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q227_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q227_sql("div"))


MOBILITY_QUERIES["q226_shortest_paths"] = (
    q226_shortest_paths, _q226_sql("epoch_us(ts)", "//"))
MOBILITY_QUERIES["q227_gini_diversity"] = (
    q227_gini_diversity, _q227_sql("//"))


# -------------------------------------------- q231 label propagation


_Q231_BIG = 1 << 20


def _q231_edges_sql(epoch_us: str) -> str:
    """Directed-both-ways OD edge relation at res 5 (sparser than
    q226's res-3 routing graph, so community structure survives)."""
    res = 5
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), res)
    gap_us = 86_400_000_000
    return f"""
WITH t AS (
  SELECT user_id, {epoch_us} AS us, {cell} AS cell FROM events
),
tr AS (
  SELECT lag(cell) OVER win AS f, cell AS g, us - lag(us) OVER win AS dt
  FROM t WINDOW win AS (PARTITION BY user_id ORDER BY us)
),
eu AS (
  SELECT DISTINCT least(f, g) AS u, greatest(f, g) AS v
  FROM tr WHERE f IS NOT NULL AND dt < {gap_us} AND f <> g
)
SELECT u, v FROM eu UNION ALL SELECT v AS u, u AS v FROM eu
"""


def _q231_round_sql(ed: str, nodes: str, prev: str) -> str:
    """One synchronous label-propagation round over view names."""
    big = _Q231_BIG
    return f"""
SELECT n0.node,
       coalesce(cast({big - 1} - max(c.c * {big} + ({big - 1} - c.lbl))
                     % {big} as bigint), n0.node) AS lbl
FROM {nodes} n0 LEFT JOIN (
  SELECT e.v AS node, l.lbl, count(*) AS c
  FROM {ed} e JOIN {prev} l ON l.node = e.u
  GROUP BY e.v, l.lbl
) c ON c.node = n0.node
GROUP BY n0.node
"""


def _q231_sql(epoch_us: str, intdiv: str) -> str:
    """Community detection by synchronous LABEL PROPAGATION (Raghavan et
    al. 2007; 4 rounds) over the OD mobility graph — the community
    structure q163's triangles measure locally, extracted globally.
    Each node starts as its own label; each round every node adopts the
    most frequent label among its neighbors (encoded argmax, tie ->
    smallest label), synchronously, so the result is deterministic and
    identically reproducible in both engines.

    This unrolled-CTE form is the ORACLE; the Spark path materializes
    edges/l0 with `mat_view` and iterates (CTE inlining would re-run
    the edge build every round).  Scale shape per round: ONE edges x
    labels hash join, one (node, label) count, one per-node
    encoded-argmax hash aggregate — no window sort, no driver loop.
    Output: per-community member count + min node (stable key)."""
    rounds = []
    for k in range(1, 5):
        body = _q231_round_sql("ed", "l0n", f"l{k - 1}")
        rounds.append(f"l{k} AS ({body})")
    return f"""
WITH ed AS ({_q231_edges_sql(epoch_us)}),
l0n AS (SELECT DISTINCT u AS node, u AS lbl FROM ed),
l0 AS (SELECT node, lbl FROM l0n),
{','.join(rounds)}
SELECT lbl AS community, cast(count(*) as bigint) AS n_members,
       cast(min(node) as bigint) AS min_node
FROM l4 GROUP BY lbl ORDER BY lbl
"""


def q231_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q231_sql`; materialized-loop Spark path."""
    from .table.views import mat_view

    register_views(spark, sf_dir)
    mat_view(spark, "q231_ed",
             _q231_edges_sql("unix_micros(cast(ts as timestamp))"))
    lbl = mat_view(spark, "q231_l0",
                   "SELECT DISTINCT u AS node, u AS lbl FROM q231_ed")
    for k in range(4):
        lbl.createOrReplaceTempView("q231_prev")
        lbl = spark.sql(_q231_round_sql("q231_ed", "q231_l0", "q231_prev"))
        lbl = lbl.localCheckpoint(eager=True)
    lbl.createOrReplaceTempView("q231_final")
    return spark.sql("""
SELECT lbl AS community, cast(count(*) as bigint) AS n_members,
       cast(min(node) as bigint) AS min_node
FROM q231_final GROUP BY lbl ORDER BY lbl""")


# --------------------------------------- q232 keyword geo-density


def _q232_sql(intdiv: str) -> str:
    """Caption-keyword geo-density — the text x geo FUSION rollup: for
    every spatial cell, the fraction of image captions containing a
    keyword (the "beach photos cluster on coasts" analytics shape; the
    reference keeps text predicates and spatial binning in separate
    layers — `StartsWith.java` vs `SpatialBinningType.java` — this
    composes them in one pass).

    Scale shape: the keyword test is a codegen `like` on the caption,
    the cell comes from the footprint center closed-form — one scan,
    one keyed aggregate, map-side partials; no join at all."""
    from .table import images as images_mod

    cell = geo.rowmajor_cell_sql("(lon0 + lon1) / 2", "(lat0 + lat1) / 2", 4)
    return f"""
WITH b AS ({images_mod.images_base_sql()}),
t AS (
  SELECT {cell} AS cell,
         CASE WHEN caption LIKE '%stream%' THEN 1 ELSE 0 END AS hit
  FROM b
)
SELECT cell, cast(count(*) as bigint) AS n_images,
       cast(sum(hit) as bigint) AS n_hits,
       cast((sum(hit) * 1000000) {intdiv} count(*) as bigint) AS rate_micro
FROM t GROUP BY cell ORDER BY cell
"""


def q232_keyword_geo_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q232_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q232_sql("div"))


# -------------------------------------------- q233 split boundaries


def _q233_sql() -> str:
    """Equi-depth split boundaries (exact deciles per event type) — the
    statistics-balanced split PLAN exposed as a query: the reference
    computes these boundaries from its row-range histogram to cut
    balanced input splits (`SplitsProvider.java:284-325`).  ntile(10)
    over a total order (value cents, then event_id) is deterministic and
    identical across engines.

    Scale shape: one window sort per type (the inherent cost of exact
    quantiles — the approximate path is percentile_approx / q25), one
    keyed min/max roll-up per bucket."""
    return """
WITH t AS (
  SELECT event_type, event_id,
         cast(round(value * 100) as bigint) AS cents
  FROM events
),
b AS (
  SELECT event_type, cents,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY cents, event_id) AS bucket
  FROM t
)
SELECT event_type, cast(bucket as int) AS bucket,
       cast(count(*) as bigint) AS n,
       cast(min(cents) as bigint) AS lo_cents,
       cast(max(cents) as bigint) AS hi_cents
FROM b GROUP BY event_type, bucket ORDER BY event_type, bucket
"""


def q233_split_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q233_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q233_sql())


MOBILITY_QUERIES["q231_label_propagation"] = (
    q231_label_propagation, _q231_sql("epoch_us(ts)", "//"))
MOBILITY_QUERIES["q232_keyword_geo_density"] = (
    q232_keyword_geo_density, _q232_sql("//"))
MOBILITY_QUERIES["q233_split_boundaries"] = (
    q233_split_boundaries, _q233_sql())


# ------------------------------------------------ q234 lag-1 autocorrelation


def _q234_sql(epoch_us: str, intdiv: str) -> str:
    """Lag-1 temporal autocorrelation of the daily count series per
    spatial cell — the persistence/memory diagnostic of a time series
    (complements q182's CUSUM level-shift and q102's Mann-Kendall
    trend): acf1_micro = 1e6 * sum((x_t - m)(x_{t+1} - m)) /
    sum((x_t - m)^2), computed in integers over MILLI-scaled deviations
    (the mean is a trunc-divided integer milli, so both engines agree;
    the final ratio is one sign-safe trunc division).

    Scale shape: one (cell, day) count, one lag window per cell over
    <= 30 rows, two keyed aggregates — nothing wider than the binned
    series ever shuffles."""
    cell = geo.rowmajor_cell_sql(geo.lon_sql("event_id"),
                                 geo.lat_sql("event_id"), 4)
    num = "cast(sum(CASE WHEN nxt IS NULL THEN 0 ELSE dv * (nxt * 1000 - m) END) as bigint)"
    den = "cast(sum(dv * dv) as bigint)"
    ratio = (f"(CASE WHEN {num} >= 0 THEN ({num} * 1000000) {intdiv} {den} "
             f"ELSE -((-({num}) * 1000000) {intdiv} {den}) END)")
    return f"""
WITH t AS (
  SELECT {cell} AS cell,
         cast(({epoch_us}) {intdiv} 86400000000 as bigint) AS day
  FROM events
),
c AS (
  SELECT cell, day, cast(count(*) as bigint) AS x
  FROM t GROUP BY cell, day
),
m AS (
  SELECT cell, (sum(x) * 1000) {intdiv} count(*) AS m,
         cast(count(*) as bigint) AS n_days
  FROM c GROUP BY cell
),
d AS (
  SELECT c.cell, c.x * 1000 - m.m AS dv,
         lead(c.x) OVER (PARTITION BY c.cell ORDER BY c.day) AS nxt,
         m.m, m.n_days
  FROM c JOIN m ON m.cell = c.cell
)
SELECT cell, max(n_days) AS n_days,
       cast({ratio} as bigint) AS acf1_micro
FROM d GROUP BY cell HAVING max(n_days) >= 10 AND {den} > 0
ORDER BY cell
"""


def q234_lag1_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q234_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q234_sql("unix_micros(cast(ts as timestamp))", "div"))


# ----------------------------------------------- q235 geometric median


def _q235_points_sql() -> str:
    """Event points with micro-integer coordinates, keyed by type."""
    lon, lat = geo.lon_sql("event_id"), geo.lat_sql("event_id")
    return (f"SELECT event_type, "
            f"cast(floor(({lon}) * 1000000) as bigint) AS xm, "
            f"cast(floor(({lat}) * 1000000) as bigint) AS ym FROM events")


def _q235_round_sql(pts: str, prev: str, intdiv: str) -> str:
    """One Weiszfeld round: inverse-distance weights to the current
    center, re-weighted integer centroid (weights 1e12/d_micro)."""
    d2 = "((p.xm - c.cx) * (p.xm - c.cx) + (p.ym - c.cy) * (p.ym - c.cy))"
    w = (f"(1000000000000 {intdiv} "
         f"greatest(cast(floor(sqrt(cast({d2} as double))) as bigint), 1))")
    return f"""
SELECT p.event_type,
       cast(sum({w} * p.xm) {intdiv} sum({w}) as bigint) AS cx,
       cast(sum({w} * p.ym) {intdiv} sum({w}) as bigint) AS cy
FROM {pts} p JOIN {prev} c ON c.event_type = p.event_type
GROUP BY p.event_type
"""


def _q235_sql(intdiv: str) -> str:
    """Geometric median per event type by WEISZFELD iteration (3
    rounds from the centroid) — the robust central-location estimator
    (the L1 answer to q33's L2 KMeans centers; one distant outlier
    moves the mean, not this).  Fixed-point integer throughout: micro
    coordinates, inverse-distance weights 1e12/d floored before the
    weighted sums, so both engines agree bit-for-bit.

    This unrolled form is the ORACLE; the Spark path materializes the
    micro-point relation once and iterates (each round is one
    points x 5-row-centers hash join + keyed aggregate).  Weights
    bound: w <= 1e12, |xm| <= 1.8e8, n <= rows => sums < 2^63 at any
    tested scale; at 1e12 rows the weight scale drops a digit."""
    rounds = []
    for k in range(1, 4):
        rounds.append(
            f"c{k} AS ({_q235_round_sql('pts', f'c{k - 1}', intdiv)})")
    return f"""
WITH pts AS ({_q235_points_sql()}),
c0 AS (
  SELECT event_type,
         cast(sum(xm) {intdiv} count(*) as bigint) AS cx,
         cast(sum(ym) {intdiv} count(*) as bigint) AS cy
  FROM pts GROUP BY event_type
),
{','.join(rounds)}
SELECT event_type, cx AS cx_micro, cy AS cy_micro FROM c3
ORDER BY event_type
"""


def q235_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q235_sql`; materialized-loop Spark path."""
    from .table.views import mat_view

    register_views(spark, sf_dir)
    mat_view(spark, "q235_pts", _q235_points_sql())
    c = spark.sql("""
SELECT event_type, cast(sum(xm) div count(*) as bigint) AS cx,
       cast(sum(ym) div count(*) as bigint) AS cy
FROM q235_pts GROUP BY event_type""")
    for _ in range(3):
        c.createOrReplaceTempView("q235_prev")
        c = spark.sql(_q235_round_sql("q235_pts", "q235_prev", "div"))
        c = c.localCheckpoint(eager=True)
    c.createOrReplaceTempView("q235_final")
    return spark.sql("SELECT event_type, cx AS cx_micro, cy AS cy_micro "
                     "FROM q235_final ORDER BY event_type")


# --------------------------------------------------- q236 KS drift


def _q236_sql(epoch_us: str, intdiv: str) -> str:
    """Two-sample Kolmogorov-Smirnov drift statistic between the first
    and second half of the month, per event type — the
    distribution-shift gate (q193's chi-square compares token
    HISTOGRAMS; KS compares full CDFs of a continuous value, catching
    shape changes a binned test misses).  D_micro = max over observed
    values of |CDF_a - CDF_b| * 1e6, exact integers: cross-multiplied
    counts so no per-row division at all.

    Scale shape: one (type, half, cents) count, one value-ordered
    window per type building both running CDFs in a single pass
    (conditional cumsums), one max aggregate.  The window is over the
    DISTINCT value domain, not raw rows."""
    half = f"(CASE WHEN ({epoch_us}) {intdiv} 86400000000 < 19737 THEN 0 ELSE 1 END)"
    return f"""
WITH t AS (
  SELECT event_type, {half} AS half,
         cast(round(value * 100) as bigint) AS cents
  FROM events
),
c AS (
  SELECT event_type, cents,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS nb
  FROM t GROUP BY event_type, cents
),
tot AS (
  SELECT event_type, sum(na) AS ta, sum(nb) AS tb FROM c GROUP BY event_type
),
cum AS (
  SELECT c.event_type,
         sum(c.na) OVER (PARTITION BY c.event_type ORDER BY c.cents
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ca,
         sum(c.nb) OVER (PARTITION BY c.event_type ORDER BY c.cents
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cb,
         t.ta, t.tb
  FROM c JOIN tot t ON t.event_type = c.event_type
)
SELECT event_type,
       cast(max(abs(ca * tb - cb * ta) * 1000000 {intdiv} (ta * tb))
            as bigint) AS ks_micro,
       cast(max(ta) as bigint) AS n_first,
       cast(max(tb) as bigint) AS n_second
FROM cum GROUP BY event_type ORDER BY event_type
"""


def q236_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q236_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q236_sql("unix_micros(cast(ts as timestamp))", "div"))


MOBILITY_QUERIES["q234_lag1_autocorrelation"] = (
    q234_lag1_autocorrelation, _q234_sql("epoch_us(ts)", "//"))
MOBILITY_QUERIES["q235_geometric_median"] = (
    q235_geometric_median, _q235_sql("//"))
MOBILITY_QUERIES["q236_ks_drift"] = (
    q236_ks_drift, _q236_sql("epoch_us(ts)", "//"))


# ------------------------------------------------- q241 record linkage


def _q241_sql(intdiv: str) -> str:
    """Probabilistic record linkage (Fellegi-Sunter shape) with
    MULTI-PASS BLOCKING — the entity-resolution primitive of any data
    integration pipeline, absent from the dedup family (q15..q206 all
    match a table against itself on content; this links TWO tables by
    field-agreement evidence).  The dirty side is constructed
    deterministically from customer (dropped rows, perturbed names /
    nations / balances / segments), so both engines derive an
    identical fixture and ground truth stays known to the pytest.

    Mechanics: candidate pairs come from the union of two blocking
    passes (nationkey; mktsegment x coarse balance bucket) — a pair
    missed by one pass because its blocking field was corrupted is
    caught by the other (the multi-pass recall argument).  Each
    candidate scores integer log-odds-style agreement weights (name
    +24/-8, balance-within-1-cent +10/-5, segment +3/-2); score >= 25
    emits a link.

    Scale shape: blocking bounds the quadratic — pair counts are
    sum of per-block sizes squared, never |A| x |B|; scoring is one
    codegen projection over the candidate join.  Both passes carry
    `b.name = a.name` in the join key: the agreement weights make name
    agreement NECESSARY for a link (the best non-name score is
    -8 + 10 + 3 = 5 < 25), so the predicate is output-identical — and
    without it the nationkey pass is n^2/25 blocking on a
    25-value field (the r5 full-registry sweep measured 1057 s at sf1,
    ~900M candidate pairs through the DISTINCT; with name in the key,
    blocks hold ~1 customer and candidates are linear)."""
    return f"""
WITH a AS (
  SELECT c_custkey AS akey, c_name AS name, c_nationkey AS nat,
         c_mktsegment AS seg,
         cast(round(c_acctbal * 100) as bigint) AS bal
  FROM customer
),
b AS (
  SELECT c_custkey AS bkey,
         CASE WHEN c_custkey % 13 = 0 THEN c_name || 'x'
              ELSE c_name END AS name,
         CASE WHEN c_custkey % 7 = 0
              THEN cast((c_nationkey + 1) % 25 as int)
              ELSE c_nationkey END AS nat,
         CASE WHEN c_custkey % 11 = 0 THEN 'CORRUPTED' ELSE c_mktsegment
              END AS seg,
         cast(round(c_acctbal * 100) as bigint)
           + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END AS bal
  FROM customer WHERE c_custkey % 5 < 4
),
p1 AS (
  SELECT a.akey, b.bkey FROM a
  JOIN b ON b.name = a.name AND b.nat = a.nat
),
p2 AS (
  SELECT a.akey, b.bkey FROM a
  JOIN b ON b.name = a.name AND b.seg = a.seg
        AND (b.bal {intdiv} 10000) = (a.bal {intdiv} 10000)
),
cand AS (SELECT DISTINCT akey, bkey FROM (
  SELECT * FROM p1 UNION ALL SELECT * FROM p2) u
),
scored AS (
  SELECT c.akey, c.bkey,
         (CASE WHEN a.name = b.name THEN 24 ELSE -8 END
          + CASE WHEN abs(a.bal - b.bal) <= 1 THEN 10 ELSE -5 END
          + CASE WHEN a.seg = b.seg THEN 3 ELSE -2 END) AS score
  FROM cand c JOIN a ON a.akey = c.akey JOIN b ON b.bkey = c.bkey
)
SELECT akey, bkey, cast(score as bigint) AS score
FROM scored WHERE score >= 25 ORDER BY akey, bkey
"""


def q241_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q241_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q241_sql("div"))


# --------------------------------------------------- q242 discrete hazard


def _q242_sql(epoch_us: str, intdiv: str, day_gen: str = 'unnest(generate_series(0, 29))') -> str:
    """Discrete hazard curve for time-to-conversion (the Kaplan-Meier
    life table without its float product): per whole-day duration d,
    the risk set (users still unconverted and uncensored at d), the
    conversion events at d, and the integer-micro hazard d_events /
    n_risk — survival analysis over the view -> purchase funnel (q178
    counts stage totals; this resolves WHEN conversions happen, with
    right-censoring at the observation end handled correctly).

    Scale shape: two per-user min-aggregates, a 30-row day lattice,
    and two broadcastable inequality joins against the tiny per-user
    duration table — at production scale the duration table is the
    aggregate, never raw events."""
    day_us = 86_400_000_000
    return f"""
WITH t AS (SELECT user_id, event_type, {epoch_us} AS us FROM events),
obs_end AS (SELECT max(us) AS e FROM t),
s1 AS (
  SELECT user_id, min(us) AS t0 FROM t WHERE event_type = 'view'
  GROUP BY user_id
),
conv AS (
  SELECT t.user_id, min(t.us) AS tp
  FROM t JOIN s1 ON s1.user_id = t.user_id
  WHERE t.event_type = 'purchase' AND t.us > s1.t0
  GROUP BY t.user_id
),
dur AS (
  SELECT s1.user_id,
         CASE WHEN c.tp IS NULL THEN (o.e - s1.t0) {intdiv} {day_us}
              ELSE (c.tp - s1.t0) {intdiv} {day_us} END AS d,
         CASE WHEN c.tp IS NULL THEN 0 ELSE 1 END AS converted
  FROM s1 LEFT JOIN conv c ON c.user_id = s1.user_id
  CROSS JOIN obs_end o
),
days AS (SELECT {day_gen} AS d),
km AS (
  SELECT days.d,
         (SELECT count(*) FROM dur WHERE dur.d >= days.d) AS n_risk,
         (SELECT count(*) FROM dur
          WHERE dur.d = days.d AND dur.converted = 1) AS n_events
  FROM days
)
SELECT cast(d as int) AS day, cast(n_risk as bigint) AS n_risk,
       cast(n_events as bigint) AS n_events,
       cast(CASE WHEN n_risk > 0 THEN (n_events * 1000000) {intdiv} n_risk
                 ELSE 0 END as bigint) AS hazard_micro
FROM km WHERE n_risk > 0 ORDER BY day
"""


def q242_discrete_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q242_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q242_sql("unix_micros(cast(ts as timestamp))", "div",
                  day_gen="explode(sequence(0, 29))"))


MOBILITY_QUERIES["q241_record_linkage"] = (
    q241_record_linkage, _q241_sql("//"))
MOBILITY_QUERIES["q242_discrete_hazard"] = (
    q242_discrete_hazard, _q242_sql("epoch_us(ts)", "//"))


# --------------------------------------------- q244 active-user curves


def _q244_sql(epoch_us: str, intdiv: str,
              day7: str = "unnest(generate_series(0, 6))") -> str:
    """Active-user curves — DAU, rolling 7-day WAU, daily new users and
    cumulative uniques (the product-analytics growth dashboard; q173's
    cohort retention slices by signup week, this tracks the aggregate
    curves).  Rolling distinct counts cannot use a window frame
    directly, so each (user, day) activity row fans out to the <= 7
    window ends it supports (a BOUNDED explode) and WAU is a keyed
    distinct-count — the standard relational rolling-distinct plan.

    Scale shape: everything reduces to the distinct (user, day)
    activity relation first (one keyed dedup of the raw events); the
    7x fan-out and the first-day aggregate are both over that reduced
    relation, never raw events."""
    day_us = 86_400_000_000
    return f"""
WITH act AS (
  SELECT DISTINCT user_id,
         cast(({epoch_us}) {intdiv} {day_us} as bigint) AS day
  FROM events
),
dau AS (
  SELECT day, cast(count(*) as bigint) AS dau FROM act GROUP BY day
),
wau AS (
  SELECT day + o.g AS day, cast(count(DISTINCT user_id) as bigint) AS wau
  FROM act, LATERAL (SELECT {day7} AS g) o
  GROUP BY day + o.g
),
firstday AS (
  SELECT user_id, min(day) AS d0 FROM act GROUP BY user_id
),
newu AS (
  SELECT d0 AS day, cast(count(*) as bigint) AS new_users
  FROM firstday GROUP BY d0
)
SELECT d.day, d.dau, w.wau,
       cast(coalesce(n.new_users, 0) as bigint) AS new_users,
       cast(sum(coalesce(n.new_users, 0))
            OVER (ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) as bigint) AS cum_users
FROM dau d
JOIN wau w ON w.day = d.day
LEFT JOIN newu n ON n.day = d.day
ORDER BY d.day
"""


def q244_active_user_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q244_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q244_sql("unix_micros(cast(ts as timestamp))", "div",
                  day7="explode(sequence(0, 6))"))


MOBILITY_QUERIES["q244_active_user_curves"] = (
    q244_active_user_curves, _q244_sql("epoch_us(ts)", "//"))


# ------------------------------------------------ q247 data contract audit


def _q247_sql() -> str:
    """Data-contract audit — the expectations suite every ingest gate
    runs before publishing a batch (null rates, value ranges,
    referential integrity, key uniqueness, freshness window), emitted
    as one violations summary (the Great-Expectations / dbt-test shape
    as a single relational pass; the reference's ingest layer validates
    per-feature via its adapter schema, `FeatureDataAdapter.java:71` in
    /root/reference — this is the table-level generalization).

    Scale shape: each check is one aggregate or one broadcastable
    anti-join; the union is a 6-row result.  Same text in both
    engines."""
    return """
SELECT * FROM (
  SELECT 'ref_orders_custkey' AS check_name,
         cast(count(*) as bigint) AS n_checked,
         cast(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
              as bigint) AS n_violations
  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
  UNION ALL
  SELECT 'range_lineitem_qty',
         cast(count(*) as bigint),
         cast(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                       THEN 1 ELSE 0 END) as bigint)
  FROM lineitem
  UNION ALL
  SELECT 'null_events_value',
         cast(count(*) as bigint),
         cast(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) as bigint)
  FROM events
  UNION ALL
  SELECT 'fresh_events_ts',
         cast(count(*) as bigint),
         cast(sum(CASE WHEN ts < timestamp '2024-01-01 00:00:00'
                        OR ts >= timestamp '2024-02-01 00:00:00'
                       THEN 1 ELSE 0 END) as bigint)
  FROM events
  UNION ALL
  SELECT 'unique_part_key',
         cast(count(*) as bigint),
         cast(count(*) - count(DISTINCT p_partkey) as bigint)
  FROM part
  UNION ALL
  SELECT 'ref_lineitem_orderkey',
         cast(count(*) as bigint),
         cast(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
              as bigint)
  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
) u ORDER BY check_name
"""


def q247_data_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q247_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q247_sql())


MOBILITY_QUERIES["q247_data_contract_audit"] = (
    q247_data_contract_audit, _q247_sql())


# --------------------------------------------------- q248 peak burst


def _q248_sql(epoch_us: str, intdiv: str) -> str:
    """Peak sliding-window burst per user — the rate-limiting /
    abuse-detection primitive: the maximum number of events any user
    fires within ANY 1-hour window (exact, not binned: hour BINS miss
    bursts straddling a boundary, which is precisely why rate limiters
    use sliding windows; q172's burstiness moments summarize the
    distribution, this finds the worst case).  Exact via the classic
    observation that the peak window starts at an event: count events
    in [t, t+1h) for every event t.

    Scale shape: the candidate join is keyed by user and bounded by
    per-user in-window fan-out (never cross-user); one keyed max
    aggregate, then a tiny distribution roll-up per event-type."""
    return f"""
WITH t AS (
  SELECT user_id, event_type, {epoch_us} AS us FROM events
),
w AS (
  SELECT a.user_id, a.us, cast(count(*) as bigint) AS in_window
  FROM t a JOIN t b ON b.user_id = a.user_id
                   AND b.us >= a.us AND b.us < a.us + 3600000000
  GROUP BY a.user_id, a.us
),
peak AS (
  SELECT user_id, max(in_window) AS peak_1h FROM w GROUP BY user_id
)
SELECT peak_1h, cast(count(*) as bigint) AS n_users
FROM peak GROUP BY peak_1h ORDER BY peak_1h
"""


def q248_peak_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q248_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q248_sql("unix_micros(cast(ts as timestamp))", "div"))


MOBILITY_QUERIES["q248_peak_burst"] = (
    q248_peak_burst, _q248_sql("epoch_us(ts)", "//"))
