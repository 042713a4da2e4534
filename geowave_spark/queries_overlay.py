"""Overlay sweeps, track-similarity DPs, order statistics and
training-shuffle audits (q277-q297, session 8).

- q277/q282 sweep-line dissolve + coverage-depth histogram (binned
  slab-coverage join, gaps-and-islands / +1-1 depth events)
- q278 discrete Frechet DP (Arrow-batched kernel; the ORDERED companion
  of q164's set-based Hausdorff)
- q279/q287 bit-reversal epoch shuffle + cross-epoch repeat-pair audit
  (with the GF(2)-linear and ring-arithmetic broken-seed proofs)
- q280/q284 segment-crossing and uncertainty-radius cover joins
- q281 areal interpolation; q283/q291 exact global/windowed percentiles
  (no-sort histogram collapse; q291 has a streaming twin)
- q292 skyline; q293 Gini concentration; q294 A-ES weighted sampling;
  q295 track summaries (the stream assembler's batch twin);
  q297 Spearman out-of-orderness audit
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .table import geo
from .table.views import register_views

# ---------------------------------------------------------------------------
# q277 — rectangle dissolve (union area) per zone group
# ---------------------------------------------------------------------------

_Q277_GROUPS = 48


def _adaptive_groups_sql(d) -> str:
    """Group-count expression that SCALES with the input: the dissolve's
    documented scale path ("a planet-scale dissolve first grid-partitions
    so each group holds a bounded rectangle count") made concrete.  At
    <= 25k events the multiplier is 1 — byte-identical to the fixed-48
    text at the sf0.001/sf0.01 gate sfs.

    Divisor history: r3 shipped 100k (group size n_g ~ 2083), which
    turned the density-quadratic sweep linear — but with a large
    constant: the sweep's TOTAL mass is n_rects x (slabs covered per
    rect), and slabs-covered-per-rect = rect_width x (2 n_g / 360)
    ~ 22 at n_g = 2083 — the coverage mass per GROUP grows with n_g^2,
    so bounding the rect COUNT still left a 22-rows-per-rect multiplier
    flowing through the slab join and both windows (q277's sf10 wall
    ratio sat at 35x vs the ~10-20x flagship band, VERDICT r4).  r5
    shrinks the divisor to 25k (n_g ~ 520, coverage ~ 5.5 rows/rect):
    a strict 4x cut of window+join mass at every sf >= 0.1, while the
    per-slab expected depth stays ~ 2.7 — still a real dissolve (the
    q249 non-triviality lesson)."""
    return (f"({_Q277_GROUPS} * (SELECT greatest(cast(1 as bigint), "
            f"{d.intdiv('cast(count(*) as bigint)', '25000')}) "
            f"FROM events))")


def _q277_sql(d=None) -> str:
    """Rectangle dissolve / union area per group (vector overlay UNION).

    The sweep is the textbook algorithm, expressed relationally so BOTH
    engines run the identical text: (1) coordinate compression — the
    distinct x-edges of a group's rectangles cut the plane into vertical
    slabs (`lead` window); (2) a rect covers a slab iff the slab lies
    inside its x-range (equi-join on the group + range filter — slab
    edges are exactly rect edges, so coverage is all-or-nothing);
    (3) within (group, slab) the covered y-length is a classic
    gaps-and-islands union: running `max(y1)` over the y0-ordered
    intervals marks island starts, a running sum numbers them, and each
    island contributes `max(y1)-min(y0)`.  Contributions are floored to
    integer micro-deg^2 per (slab, island) so the cross-engine hash is
    exact.

    Scale shape: every window and join is PARTITIONED BY the group key —
    a planet-scale dissolve first grid-partitions rectangles (clipping
    at cell borders exactly like `index/cover` clamps covers) so each
    group holds a bounded rectangle count; within a group the sweep is
    O(n log n) rows through two window Exchanges that AQE coalesces.
    The corpus is scanned once (reference:
    `RasterTileResizeSparkRunner.java` merges per-tile; no dissolve
    exists for vector footprints).

    r5 plan surgery (the VERDICT r4 "name the term" item — the sf10
    ratio was 35x vs the ~10-20x flagship band): (1) the named term was
    coverage mass ~ 22 slab-coverage rows PER RECT at group size 2083
    (see `_adaptive_groups_sql` — now ~ 5.5 at n_g ~ 520); (2) the
    global `xs` UNION-distinct Exchange is gone — duplicate edges flow
    into the SAME per-group lead() window that builds slabs, and the
    `xe > xs` filter yields the identical distinct slab set (for a run
    of k equal edges, only the last gets the next distinct value as its
    lead; the rest produce zero-width rows the filter drops); (3) the
    slab-join bin width follows the density (1 deg at n_g ~ 520, where
    candidates/rect = (B + w)(2 n_g / 360 B-occupancy) + explode rows
    is minimized) so the bin join stays within ~2x of the true
    coverage output.
    """
    # NONLINEAR key perturbation: a purely linear key would make each
    # group's centers an arithmetic progression mod the lon/lat modulus —
    # equally spaced, zero overlaps, a trivial dissolve (the q249 lesson:
    # linear hashes are progressions)
    from .functions import sqlgen as _G

    if d is None:
        d = _G.SPARK
    cx = geo.lon_sql("event_id * 13 + (event_id % 131) * (event_id % 137) + 7")
    cy = geo.lat_sql("event_id * 17 + (event_id % 127) * (event_id % 139) + 3")
    w = "(5e-1 + (event_id % 37) / 2e1)"
    h = "(4e-1 + (event_id % 29) / 2e1)"
    # x-bin equi-key for the slab-coverage join: a bare group-equi-join
    # degenerates to O(rects x slabs) per group (measured 12s at sf0.1
    # on the q282 sibling); a rect explodes to the 1-degree bins it
    # spans and meets only slabs whose LEFT edge shares the bin —
    # exact, because a covered slab's left edge lies inside the rect's
    # x-range
    xb = d.explode(d.seq(
        "cast(floor(x0 + 180e0) as bigint)",
        "cast(floor(x1 + 180e0) as bigint)"))
    return f"""
WITH r AS (
  SELECT event_id AS rid, cast(event_id % {_adaptive_groups_sql(d)} as bigint) AS g,
         {cx} - {w} AS x0, {cy} - {h} AS y0,
         {cx} + {w} AS x1, {cy} + {h} AS y1
  FROM events
),
xs AS (
  SELECT g, x0 AS x FROM r UNION ALL SELECT g, x1 FROM r
),
slabs AS (
  SELECT g, x AS xs, lead(x) OVER (PARTITION BY g ORDER BY x) AS xe
  FROM (SELECT /*+ REPARTITION(g) */ * FROM xs) xs1
),
rb AS (
  SELECT r.*, {xb} AS xb FROM r
),
sb AS (
  SELECT g, xs, xe, cast(floor(xs + 180e0) as bigint) AS xb
  FROM slabs WHERE xe IS NOT NULL AND xe > xs
),
cov AS (
  SELECT /*+ REPARTITION(g, xs) */ * FROM (
    SELECT rb.g, sb.xs, sb.xe, rb.y0, rb.y1, rb.rid
    FROM rb JOIN sb ON sb.g = rb.g AND sb.xb = rb.xb
    WHERE rb.x0 <= sb.xs AND sb.xe <= rb.x1
  ) cov0
),
marked AS (
  SELECT g, xs, xe, y0, y1, rid,
         max(y1) OVER (PARTITION BY g, xs ORDER BY y0, y1, rid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max
  FROM cov
),
isl AS (
  SELECT g, xs, xe, y0, y1,
         sum(CASE WHEN prev_max IS NULL OR y0 > prev_max THEN 1 ELSE 0 END)
           OVER (PARTITION BY g, xs ORDER BY y0, y1, rid
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
),
seg AS (
  SELECT g, xs, xe, island, min(y0) AS ylo, max(y1) AS yhi
  FROM isl GROUP BY g, xs, xe, island
)
SELECT g, cast(count(*) as bigint) AS n_segments,
       cast(count(DISTINCT xs) as bigint) AS n_slabs,
       cast(sum(cast(floor(1000000.0 * (xe - xs) * (yhi - ylo)) as bigint))
            as bigint) AS union_area_micro
FROM seg GROUP BY g ORDER BY g
"""


def q277_rect_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q277_sql` (dialect-free SQL)."""
    from .functions import sqlgen as _G

    register_views(spark, sf_dir)
    return spark.sql(_q277_sql(_G.SPARK))


# ---------------------------------------------------------------------------
# q278 — discrete Frechet distance join between resampled user tracks
# ---------------------------------------------------------------------------

_Q278_M = 8          # resampled points per track
_Q278_HOME_RES = 2   # start-cell blocking resolution (q164's candidate idiom)

# shared adaptive-blocking CTE (both dialects): grid doubles per 4x users
_Q278_PARAMS = (
    "params AS (SELECT CASE WHEN count(DISTINCT user_id) <= 2000 THEN 1 "
    "WHEN count(DISTINCT user_id) <= 8000 THEN 2 "
    "WHEN count(DISTINCT user_id) <= 32000 THEN 4 "
    "ELSE 8 END AS s FROM events)")
_BIG = 4611686018427387904  # 2^62: +inf stand-in for DP boundary cells


def _q278_tracks_spark_sql() -> str:
    """Per-user resampled track arrays (Spark dialect): events ordered by
    event_id -> micro-int coordinate arrays -> m evenly spaced indices
    (1 + i*(n-1) div (m-1), the nearest-rank resample of q113's grid)."""
    lon = f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint)"
    lat = f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint)"
    m = _Q278_M
    pick = (f"transform(sequence(0, {m - 1}), "
            f"i -> element_at({{a}}, cast(1 + (i * (size({{a}}) - 1)) div {m - 1} as int)))")
    return f"""
SELECT user_id,
       {pick.format(a="xs")} AS px, {pick.format(a="ys")} AS py,
       element_at(xs, 1) AS x0, element_at(ys, 1) AS y0
FROM (
  SELECT user_id,
         transform(array_sort(collect_list(struct(event_id AS o, {lon} AS v))), s -> s.v) AS xs,
         transform(array_sort(collect_list(struct(event_id AS o, {lat} AS v))), s -> s.v) AS ys
  FROM events GROUP BY user_id
)
"""


def _q278_pairs_spark_sql() -> str:
    """Candidate pairs: tracks whose FIRST point falls in the same coarse
    cell (the same-home blocking contract of q164, applied to the track
    START — Frechet walks both tracks from their starts, so far-apart
    starts bound the distance from below).  Emits both tracks' resampled
    coordinate arrays for the vectorized DP kernel."""
    # home-cell resolution SCALES with the fleet: the same-home blocker
    # at a fixed 16 cells goes quadratic as users/cell grows (sf1
    # measured 13.2x wall at 10x rows); doubling the grid per 4x users
    # keeps users-per-cell ~constant.  <= 2000 users (every sf <= 0.1)
    # is byte-identical to the fixed-res text.
    n = f"({1 << _Q278_HOME_RES} * (SELECT s FROM params))"
    cell = (f"cast(floor((y0 / 1e6 + 90) / 180 * {n}) as bigint) * {n} "
            f"+ cast(floor((x0 / 1e6 + 180) / 360 * {n}) as bigint)")
    return f"""
WITH {_Q278_PARAMS},
t AS ({_q278_tracks_spark_sql()}),
h AS (SELECT user_id, px, py, {cell} AS home FROM t)
SELECT a.user_id AS u1, b.user_id AS u2,
       a.px AS px1, a.py AS py1, b.px AS px2, b.py AS py2
FROM h a JOIN h b ON b.home = a.home AND a.user_id < b.user_id
"""


def _q278_frechet_udf():
    """Arrow-batched DP kernel: the 8x8 recurrence runs as 64 numpy
    vector steps ACROSS the whole candidate batch (vectorized over
    pairs, looped over cells) — all integer, so the result is exactly
    the relational DP's.

    Measured: the pure-SQL formulation (8 chained `aggregate` folds over
    the previous column attribute) is CodegenFallback — Spark interprets
    lambda HOFs — and cost 11.9s at sf0.1 (70k pairs); this kernel runs
    the same recurrence in ~1s including the Arrow transfer.  (The fold
    formulation survives as the DuckDB-independent spirit of the oracle;
    a scalar-column unrolling was rejected because CollapseProject would
    substitute the 14-deep dependency chain into a 3^14-node tree — the
    q275 trap.)"""
    from pyspark.sql.functions import pandas_udf

    m = _Q278_M

    @pandas_udf("long")
    def frechet_sq(px1: pd.Series, py1: pd.Series,
                   px2: pd.Series, py2: pd.Series) -> pd.Series:
        ax = np.stack(px1.to_numpy()).astype(np.int64)
        ay = np.stack(py1.to_numpy()).astype(np.int64)
        bx = np.stack(px2.to_numpy()).astype(np.int64)
        by = np.stack(py2.to_numpy()).astype(np.int64)
        n = ax.shape[0]
        dist = np.empty((m, m, n), dtype=np.int64)
        for i in range(m):
            for j in range(m):
                dist[i, j] = ((ax[:, i] - bx[:, j]) ** 2
                              + (ay[:, i] - by[:, j]) ** 2)
        prev = np.empty((m, n), dtype=np.int64)
        cur = np.empty((m, n), dtype=np.int64)
        for i in range(m):
            for j in range(m):
                d = dist[i, j]
                if i == 0 and j == 0:
                    cur[j] = d
                elif i == 0:
                    cur[j] = np.maximum(d, cur[j - 1])
                elif j == 0:
                    cur[j] = np.maximum(d, prev[j])
                else:
                    cur[j] = np.maximum(
                        d, np.minimum(np.minimum(prev[j], cur[j - 1]),
                                      prev[j - 1]))
            prev, cur = cur, prev
        return pd.Series(prev[m - 1])

    return frechet_sq


def q278_track_frechet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Frechet distance between same-start-cell user tracks.

    Spark plan: one scan -> per-user ordered-array aggregate (one keyed
    shuffle) -> blocked self-join on the start cell -> the 8x8 DP as
    one Arrow-batched vectorized kernel (`_q278_frechet_udf` — see
    there for why not pure SQL).  Per-pair cost is a fixed 64-cell
    recurrence, so the operator scales as O(pairs-per-block), the same
    contract as q164.

    Oracle: an antidiagonal-unrolled relational DP (15 MATERIALIZED CTE
    rounds) — an independent formulation of the same recurrence, so an
    index-base or recurrence bug in either side breaks the hash.
    """
    register_views(spark, sf_dir)
    df = spark.sql(_q278_pairs_spark_sql())
    fr = _q278_frechet_udf()
    return (
        df.select(
            "u1", "u2",
            fr("px1", "py1", "px2", "py2").alias("frechet_sq"),
        ).orderBy("u1", "u2")
    )


def _q278_oracle_sql() -> str:
    """DuckDB twin: same tracks/candidates (DuckDB array idioms), DP
    unrolled over antidiagonals k=i+j — round k's cells depend only on
    rounds k-1 and k-2, so each is one small MATERIALIZED CTE join."""
    lon = f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint)"
    lat = f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint)"
    m = _Q278_M
    n = f"({1 << _Q278_HOME_RES} * (SELECT s FROM params))"
    pick = (f"list_transform(generate_series(0, {m - 1}), "
            f"i -> {{a}}[1 + (i * (len({{a}}) - 1)) // {m - 1}])")
    cell = (f"cast(floor((y0 / 1e6 + 90) / 180 * {n}) as bigint) * {n} "
            f"+ cast(floor((x0 / 1e6 + 180) / 360 * {n}) as bigint)")
    rounds = []
    for k in range(1, 2 * m - 1):
        joins = [f"LEFT JOIN a{k - 1} p1 ON p1.u1 = d.u1 AND p1.u2 = d.u2 AND p1.i = d.i - 1",
                 f"LEFT JOIN a{k - 1} p2 ON p2.u1 = d.u1 AND p2.u2 = d.u2 AND p2.i = d.i"]
        p3 = (f"LEFT JOIN a{k - 2} p3 ON p3.u1 = d.u1 AND p3.u2 = d.u2 AND p3.i = d.i - 1"
              if k >= 2 else "")
        p3v = "coalesce(p3.v, {B})" if k >= 2 else "{B}"
        rounds.append(f"""
a{k} AS MATERIALIZED (
  SELECT d.u1, d.u2, d.i,
         greatest(d.d2, least(coalesce(p1.v, {{B}}), coalesce(p2.v, {{B}}), {p3v})) AS v
  FROM (SELECT * FROM dist WHERE k = {k}) d
  {joins[0]}
  {joins[1]}
  {p3}
)""".replace("{B}", str(_BIG)))
    return f"""
WITH {_Q278_PARAMS},
t0 AS (
  SELECT user_id, list({lon} ORDER BY event_id) AS xs,
         list({lat} ORDER BY event_id) AS ys
  FROM events GROUP BY user_id
),
t AS (
  SELECT user_id, {pick.format(a="xs")} AS px, {pick.format(a="ys")} AS py,
         xs[1] AS x0, ys[1] AS y0
  FROM t0
),
h AS (SELECT user_id, px, py, {cell} AS home FROM t),
pairs AS (
  SELECT a.user_id AS u1, b.user_id AS u2, a.px AS ax, a.py AS ay,
         b.px AS bx, b.py AS by
  FROM h a JOIN h b ON b.home = a.home AND a.user_id < b.user_id
),
dist AS MATERIALIZED (
  SELECT u1, u2, t // {m} AS i, t % {m} AS j, (t // {m}) + (t % {m}) AS k,
         (ax[t // {m} + 1] - bx[t % {m} + 1]) * (ax[t // {m} + 1] - bx[t % {m} + 1])
       + (ay[t // {m} + 1] - by[t % {m} + 1]) * (ay[t // {m} + 1] - by[t % {m} + 1]) AS d2
  FROM pairs, unnest(generate_series(0, {m * m - 1})) AS u(t)
),
a0 AS MATERIALIZED (
  SELECT u1, u2, i, d2 AS v FROM dist WHERE k = 0
),{",".join(rounds)}
SELECT u1, u2, cast(v as bigint) AS frechet_sq
FROM a{2 * m - 2} ORDER BY u1, u2
"""


# ---------------------------------------------------------------------------
# q279 — bit-reversal epoch shuffle + per-batch source-mixing audit
# ---------------------------------------------------------------------------

_Q279_BITS = 10        # permutation width: 1024 interleave classes
_Q279_BATCH = 64       # documents per training batch


def _q279_sql(intdiv: str) -> str:
    """Deterministic global shuffle for training epochs + mixing audit.

    A training pipeline must feed batches that interleave sources, but a
    stored random key costs a full-table write per epoch.  Instead:
    a BIJECTIVE bit-reversal permutation — global_pos = bitrev_10(id mod
    1024) * ceil(N/1024) + id div 1024 — computed in closed form (ten
    shift-mask-shift terms, pure codegen; epoch e would add `id -> id
    XOR e` before the reversal).  Neighbouring ids land ~N/1024 apart,
    so any ingest-order clustering (per-source contiguous blocks —
    exactly how corpus dumps arrive) is spread across batches.  The
    position is CLOSED FORM — no global row_number sort: batch ids come
    from `gpos div B` directly (positions have gaps only where the final
    id block is short, so tail batches run slightly light — the price of
    keeping the shuffle count at exactly one keyed aggregate).

    The audit aggregates per batch: row count, distinct sources, the
    dominant source's share (micro), and the mean absolute id-gap between
    batch neighbours (big gap = well spread).  Scale: one scan, one
    broadcast of the scalar row count, one keyed aggregate on batch.
    """
    d = intdiv
    b = _Q279_BITS
    terms = " + ".join(
        f"((doc_id {d} {1 << i}) % 2) * {1 << (b - 1 - i)}" for i in range(b)
    )
    return f"""
WITH n AS (
  SELECT (count(*) + {(1 << b) - 1}) {d} {1 << b} AS nblk FROM documents
),
perm AS (
  SELECT doc_id, source, ({terms}) AS rev,
         (doc_id {d} {1 << b}) AS blk
  FROM documents
),
batched AS (
  SELECT doc_id, source, rev * n.nblk + blk AS gpos,
         (rev * n.nblk + blk) {d} {_Q279_BATCH} AS batch
  FROM perm CROSS JOIN n
),
gaps AS (
  SELECT batch, source, doc_id,
         abs(doc_id - lag(doc_id) OVER (PARTITION BY batch ORDER BY gpos)) AS gap
  FROM batched
),
src AS (
  SELECT batch, source, count(*) AS ns FROM gaps GROUP BY batch, source
),
dom AS (
  SELECT batch, max(ns) AS max_ns, sum(ns) AS n,
         count(*) AS n_sources
  FROM src GROUP BY batch
),
spread AS (
  SELECT batch, cast(sum(gap) {d} count(gap) as bigint) AS mean_gap
  FROM gaps WHERE gap IS NOT NULL GROUP BY batch
)
SELECT d.batch, cast(d.n as bigint) AS n,
       cast(d.n_sources as bigint) AS n_sources,
       cast(d.max_ns * 1000000 {d} d.n as bigint) AS dom_share_micro,
       s.mean_gap
FROM dom d JOIN spread s ON s.batch = d.batch
ORDER BY d.batch
"""


def q279_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q279_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q279_sql("div"))


# ---------------------------------------------------------------------------
# q280 — line x line segment-intersection overlay join
# ---------------------------------------------------------------------------

from .functions import sqlgen as G  # noqa: E402

_Q280_RES = 6  # 64x64 candidate grid; segments are <= ~2.5 deg by construction


def _q280_segments_sql() -> str:
    """Short event-derived segments (aid, axi..byi in micro-int coords):
    deterministic start + bounded offset, so a segment's bbox covers O(1)
    cells at the candidate resolution."""
    ax = geo.lon_sql("event_id * 11 + 5")
    ay = geo.lat_sql("event_id * 23 + 9")
    dx = "((1e0 + (event_id % 23) / 1e1) * (cast(event_id % 2 as int) * 2 - 1))"
    dy = "((5e-1 + (event_id % 17) / 1e1) * (cast(event_id % 3 as int) - 1))"
    return (
        f"SELECT event_id AS aid, "
        f"cast(floor(({ax}) * 1000000) as bigint) AS ax, "
        f"cast(floor(({ay}) * 1000000) as bigint) AS ay, "
        f"cast(floor(({ax} + {dx}) * 1000000) as bigint) AS bx, "
        f"cast(floor(({ay} + {dy}) * 1000000) as bigint) AS by "
        f"FROM events WHERE event_id % 3 = 0"
    )


def _q280_roads_sql() -> str:
    """Supplier-derived 'road' segments (bid, cxi..dyi micro-int)."""
    cx = geo.lon_sql("s_suppkey * 41 + 13")
    cy = geo.lat_sql("s_suppkey * 43 + 17")
    dx = "((1e0 + (s_suppkey % 25) / 1e1) * (cast(s_suppkey % 2 as int) * 2 - 1))"
    dy = "((5e-1 + (s_suppkey % 19) / 1e1) * (cast(s_suppkey % 3 as int) - 1))"
    return (
        f"SELECT s_suppkey AS bid, "
        f"cast(floor(({cx}) * 1000000) as bigint) AS cx, "
        f"cast(floor(({cy}) * 1000000) as bigint) AS cy, "
        f"cast(floor(({cx} + {dx}) * 1000000) as bigint) AS dx, "
        f"cast(floor(({cy} + {dy}) * 1000000) as bigint) AS dy "
        f"FROM supplier"
    )


_Q280_CROSS = """
sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))
  * sign((bx - ax) * (dy - ay) - (by - ay) * (dx - ax)) < 0
AND sign((dx - cx) * (ay - cy) - (dy - cy) * (ax - cx))
  * sign((dx - cx) * (by - cy) - (dy - cy) * (bx - cx)) < 0
"""


def _q280_cover_arr(d: G.Dialect, x0: str, x1: str, y0: str, y1: str) -> str:
    """Covered-cell array: outer lambda over gx, inner over gy."""
    n = 1 << _Q280_RES
    dv = "div" if d.is_spark else "//"
    gx0 = f"((least({x0}, {x1}) + 180000000) * {n}) {dv} 360000001"
    gx1 = f"((greatest({x0}, {x1}) + 180000000) * {n}) {dv} 360000001"
    gy0 = f"((least({y0}, {y1}) + 90000000) * {n}) {dv} 180000001"
    gy1 = f"((greatest({y0}, {y1}) + 90000000) * {n}) {dv} 180000001"
    if d.is_spark:
        return (f"flatten(transform(sequence({gx0}, {gx1}), "
                f"gx -> transform(sequence({gy0}, {gy1}), gy -> gy * {n} + gx)))")
    return (f"flatten(list_transform(generate_series({gx0}, {gx1}), "
            f"gx -> list_transform(generate_series({gy0}, {gy1}), gy -> gy * {n} + gx)))")


def _q280_sql(d: G.Dialect, brute: bool = False) -> str:
    """Segment x segment intersection join (vector overlay 'crossings').

    Engine path: both sides explode their bbox cover at the candidate
    grid (cell recall for bbox overlap is EXACT — overlapping real
    intervals have overlapping floored cell ranges), hash equi-join on
    the cell, pair-dedup by GROUP BY (the SW-owner-cell dedup of
    `rect_overlay_join` is the zero-shuffle variant at scale), then the
    exact integer orientation refine: proper crossing iff the endpoint
    orientation signs differ on both segments — sign() BEFORE the
    product so the int64 cross products never multiply each other.

    Oracle (`brute=True`): bbox-overlap theta join + the identical
    refine — independent candidate machinery, same exact result.
    Reference: overlay intersection is the GeomCrosses predicate of the
    Geom* UDF surface (`analytics/spark/.../udf/GeomFunction.java`);
    the reference never materializes crossing PAIRS between two stores.
    """
    exp = d.explode(_q280_cover_arr(d, "ax", "bx", "ay", "by"))
    expb = d.explode(_q280_cover_arr(d, "cx", "dx", "cy", "dy"))
    if brute:
        # bbox corners are materialized as plain columns: DuckDB's
        # inequality join (IEJoin) asserts on non-flat vectors when the
        # join keys are least()/greatest() expressions (internal error,
        # observed on 1.x) — and precomputed corners are clearer anyway
        cand = """
SELECT a.aid, b.bid, ax, ay, bx, by, cx, cy, dx, dy
FROM (SELECT aid, ax, ay, bx, by,
             least(ax, bx) AS alo, greatest(ax, bx) AS ahi,
             least(ay, by) AS alo2, greatest(ay, by) AS ahi2 FROM a) a
JOIN (SELECT bid, cx, cy, dx, dy,
             least(cx, dx) AS blo, greatest(cx, dx) AS bhi,
             least(cy, dy) AS blo2, greatest(cy, dy) AS bhi2 FROM b) b
  ON a.alo <= b.bhi AND b.blo <= a.ahi
 AND a.alo2 <= b.bhi2 AND b.blo2 <= a.ahi2
"""
    else:
        cand = f"""
SELECT a.aid, b.bid, ax, ay, bx, by, cx, cy, dx, dy
FROM (SELECT aid, ax, ay, bx, by, {exp} AS cell FROM a) a
JOIN (SELECT bid, cx, cy, dx, dy, {expb} AS cell FROM b) b
  ON b.cell = a.cell
GROUP BY a.aid, b.bid, ax, ay, bx, by, cx, cy, dx, dy
"""
    return f"""
WITH a AS ({_q280_segments_sql()}),
b AS ({_q280_roads_sql()}),
cand AS ({cand})
SELECT aid, bid FROM cand
WHERE {_Q280_CROSS}
ORDER BY aid, bid
"""


def q280_segment_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q280_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q280_sql(G.SPARK))


# ---------------------------------------------------------------------------
# q281 — areal interpolation (value reaggregation source zones -> grid)
# ---------------------------------------------------------------------------

_Q281_RES = 3  # 8x8 target zones


def _q281_sql(d: G.Dialect) -> str:
    """Areal interpolation: transfer a zone-level value onto a target
    grid proportional to overlap area (the GIS re-aggregation that moves
    census counts between incompatible zone systems; Goodchild & Lam
    1980).  Each source rect explodes to the coarse target cells its
    bbox touches (O(1) cells at res {res}), the overlap area is closed
    form (rect x rect), and the target aggregates floor(1e6 * value *
    overlap / zone_area) — the float chain is left-associative in both
    engines so the hash is exact.

    Scale shape: one explode (bounded fan-out) + one keyed aggregate;
    no window, no self-join; the value table never shuffles unexploded.
    """
    n = 1 << _Q281_RES
    dv = "div" if d.is_spark else "//"
    cellw, cellh = 360.0 / n, 180.0 / n
    gx0 = f"cast(floor((lon0 + 180e0) / {cellw}) as bigint)"
    gx1 = f"cast(floor((lon1 + 180e0) / {cellw}) as bigint)"
    gy0 = f"cast(floor((lat0 + 90e0) / {cellh}) as bigint)"
    gy1 = f"cast(floor((lat1 + 90e0) / {cellh}) as bigint)"
    if d.is_spark:
        cells = (f"flatten(transform(sequence(least({gx0}, {n - 1}), least({gx1}, {n - 1})), "
                 f"gx -> transform(sequence(least({gy0}, {n - 1}), least({gy1}, {n - 1})), "
                 f"gy -> gy * {n} + gx)))")
    else:
        cells = (f"flatten(list_transform(generate_series(least({gx0}, {n - 1}), least({gx1}, {n - 1})), "
                 f"gx -> list_transform(generate_series(least({gy0}, {n - 1}), least({gy1}, {n - 1})), "
                 f"gy -> gy * {n} + gx)))")
    exp = d.explode(cells)
    clon0 = f"((cell % {n}) * {cellw} - 180e0)"
    clat0 = f"((cell {dv} {n}) * {cellh} - 90e0)"
    inter = (f"(least(lon1, {clon0} + {cellw}) - greatest(lon0, {clon0}))"
             f" * (least(lat1, {clat0} + {cellh}) - greatest(lat0, {clat0}))")
    return f"""
WITH z AS (
  SELECT rid, lon0, lat0, lon1, lat1,
         cast(rid % 997 + 1 as bigint) AS pop,
         (lon1 - lon0) * (lat1 - lat0) AS zarea
  FROM ({geo.supplier_rects_sql()}) r
),
e AS (
  SELECT rid, pop, zarea, lon0, lat0, lon1, lat1, {exp} AS cell FROM z
)
SELECT cell,
       cast(count(*) as bigint) AS n_zones,
       cast(sum(cast(floor(1000000e0 * pop * ({inter}) / zarea) as bigint))
            as bigint) AS pop_micro
FROM e
WHERE {inter} > 0
GROUP BY cell ORDER BY cell
""".replace("{res}", str(_Q281_RES))


def q281_areal_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q281_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q281_sql(G.SPARK))


# ---------------------------------------------------------------------------
# q282 — coverage-depth histogram (how much area is covered k-deep)
# ---------------------------------------------------------------------------


def _q282_sql(d=None) -> str:
    """Coverage-depth histogram over the q277 rectangle groups: the area
    covered by exactly k rectangles, per group — the overlay-depth
    distribution (sensor/imagery redundancy planning: depth 0 = gap —
    q94's complement — depth >= 2 = the mosaic/merge mass q12 pays for).

    Same compressed-slab sweep as q277, but instead of merging islands,
    each covering interval emits +1/-1 boundary events; the running sum
    between consecutive distinct y-boundaries IS the depth of that
    segment.  Each (slab, segment) contributes floor-micro area to its
    depth bucket.  All windows are partitioned by (group, slab).
    """
    # NONLINEAR key perturbation: a purely linear key would make each
    # group's centers an arithmetic progression mod the lon/lat modulus —
    # equally spaced, zero overlaps, a trivial dissolve (the q249 lesson:
    # linear hashes are progressions)
    from .functions import sqlgen as _G

    if d is None:
        d = _G.SPARK
    cx = geo.lon_sql("event_id * 13 + (event_id % 131) * (event_id % 137) + 7")
    cy = geo.lat_sql("event_id * 17 + (event_id % 127) * (event_id % 139) + 3")
    w = "(5e-1 + (event_id % 37) / 2e1)"
    h = "(4e-1 + (event_id % 29) / 2e1)"
    # same binned slab-coverage join as q277 (exact; dedup-free slab
    # build + density-matched 1-degree bins — see there)
    xb = d.explode(d.seq(
        "cast(floor(x0 + 180e0) as bigint)",
        "cast(floor(x1 + 180e0) as bigint)"))
    return f"""
WITH r AS (
  SELECT event_id AS rid, cast(event_id % {_adaptive_groups_sql(d)} as bigint) AS g,
         {cx} - {w} AS x0, {cy} - {h} AS y0,
         {cx} + {w} AS x1, {cy} + {h} AS y1
  FROM events
),
xs AS (
  SELECT g, x0 AS x FROM r UNION ALL SELECT g, x1 FROM r
),
slabs AS (
  SELECT g, x AS xs, lead(x) OVER (PARTITION BY g ORDER BY x) AS xe
  FROM (SELECT /*+ REPARTITION(g) */ * FROM xs) xs1
),
rb AS (
  SELECT r.*, {xb} AS xb FROM r
),
sb AS (
  SELECT g, xs, xe, cast(floor(xs + 180e0) as bigint) AS xb
  FROM slabs WHERE xe IS NOT NULL AND xe > xs
),
cov AS (
  SELECT /*+ REPARTITION(g, xs) */ * FROM (
    SELECT rb.g, sb.xs, sb.xe, rb.y0, rb.y1
    FROM rb JOIN sb ON sb.g = rb.g AND sb.xb = rb.xb
    WHERE rb.x0 <= sb.xs AND sb.xe <= rb.x1
  ) cov0
),
ev AS (
  SELECT g, xs, xe, y0 AS y, 1 AS delta FROM cov
  UNION ALL
  SELECT g, xs, xe, y1 AS y, -1 AS delta FROM cov
),
net AS (
  SELECT g, xs, xe, y, sum(delta) AS d FROM ev GROUP BY g, xs, xe, y
),
seg AS (
  SELECT g, xs, xe, y,
         lead(y) OVER (PARTITION BY g, xs ORDER BY y) AS ynext,
         sum(d) OVER (PARTITION BY g, xs ORDER BY y
                      ROWS UNBOUNDED PRECEDING) AS depth
  FROM net
)
SELECT g, cast(depth as bigint) AS depth,
       cast(count(*) as bigint) AS n_segments,
       cast(sum(cast(floor(1000000.0 * (xe - xs) * (ynext - y)) as bigint))
            as bigint) AS area_micro
FROM seg
WHERE ynext IS NOT NULL AND depth > 0
GROUP BY g, depth ORDER BY g, depth
"""


def q282_coverage_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q282_sql` (dialect-free SQL)."""
    from .functions import sqlgen as _G

    register_views(spark, sf_dir)
    return spark.sql(_q282_sql(_G.SPARK))


# ---------------------------------------------------------------------------
# q283 — exact GLOBAL percentiles via value-domain histogram (no sort)
# ---------------------------------------------------------------------------


def _q283_sql(intdiv: str) -> str:
    """Exact global p50/p90/p99 with NO global sort and NO window over
    the data: integer cents are a bounded discrete domain, so one keyed
    histogram aggregate (map-side combinable) collapses the corpus to at
    most `distinct cents` rows; the cumulative window then runs over the
    HISTOGRAM relation only (executor-sized by construction).
    Rank r(q) = ceil(q*n)
    in exact integer arithmetic; answer = least cents with cum >= r.

    q159 gives exact per-group medians via a partitioned window sort;
    this is the GLOBAL exact quantile, where a window sort would be the
    single-partition antipattern — the histogram collapse is the
    100 TB-safe plan (percentile_approx trades exactness for one pass;
    this is exact AND one pass because the domain is discrete).
    """
    d = intdiv
    qs = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]
    targets = "\nUNION ALL\n".join(
        f"SELECT '{nm}' AS p, {num} AS qn, {den} AS qd" for nm, num, den in qs
    )
    return f"""
WITH v AS (
  SELECT cast(floor(value * 100) as bigint) AS cents FROM events
),
hist AS (
  SELECT cents, count(*) AS c FROM v GROUP BY cents
),
n AS (SELECT sum(c) AS n FROM hist),
cum AS (
  SELECT cents, sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
t AS ({targets})
SELECT t.p, cast(min(cum.cents) as bigint) AS cents,
       cast(max(n.n) as bigint) AS n
FROM t
CROSS JOIN n
JOIN cum ON cum.cum >= (n.n * t.qn + t.qd - 1) {d} t.qd
GROUP BY t.p
ORDER BY p
"""


def q283_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q283_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q283_sql("div"))


# ---------------------------------------------------------------------------
# q284 — uncertainty-radius spatial join (per-row positional error)
# ---------------------------------------------------------------------------

def _q284_sql(d: G.Dialect, brute: bool = False) -> str:
    """Spatial join under positional uncertainty: every point carries its
    own error radius (GPS fix quality), and a point matches a zone iff
    its error DISK intersects the zone rect — the per-row-radius
    generalization of `within_distance_join`'s constant radius (and of
    the reference's buffered-envelope candidate contract,
    `GeomWithinDistance.java:30-46`).

    Exact refine: squared distance from the point to the rect-CLAMPED
    nearest point <= r^2, all micro-int (the clamp is least/greatest —
    no case analysis).  Engine candidates: each point explodes the cells
    of its disk's bbox (bounded fan-out — radius is capped by data
    contract); zones explode their rect cover; hash equi-join on cell +
    pair GROUP BY.  Oracle: expanded-bbox theta join (flat corner
    columns — the IEJoin lesson) + the identical refine.
    """
    lon = geo.lon_sql("event_id")
    lat = geo.lat_sql("event_id")
    pts = (
        f"SELECT event_id AS pid, "
        f"cast(floor(({lon}) * 1000000) as bigint) AS px, "
        f"cast(floor(({lat}) * 1000000) as bigint) AS py, "
        f"cast((50000 + (event_id % 17) * 25000) as bigint) AS r "
        f"FROM events WHERE event_id % 5 = 0"
    )
    zones = (
        f"SELECT rid, "
        f"cast(floor(lon0 * 1000000) as bigint) AS zx0, "
        f"cast(floor(lat0 * 1000000) as bigint) AS zy0, "
        f"cast(floor(lon1 * 1000000) as bigint) AS zx1, "
        f"cast(floor(lat1 * 1000000) as bigint) AS zy1 "
        f"FROM ({geo.supplier_rects_sql()}) s"
    )
    refine = """
  (px - greatest(zx0, least(px, zx1))) * (px - greatest(zx0, least(px, zx1)))
+ (py - greatest(zy0, least(py, zy1))) * (py - greatest(zy0, least(py, zy1)))
 <= r * r
"""
    if brute:
        cand = """
SELECT p.pid, z.rid, px, py, r, zx0, zy0, zx1, zy1
FROM (SELECT pid, px, py, r,
             px - r AS bx0, px + r AS bx1, py - r AS by0, py + r AS by1
      FROM p) p
JOIN z ON p.bx0 <= z.zx1 AND z.zx0 <= p.bx1
      AND p.by0 <= z.zy1 AND z.zy0 <= p.by1
"""
    else:
        pexp = d.explode(_q280_cover_arr(d, "px - r", "px + r", "py - r", "py + r"))
        zexp = d.explode(_q280_cover_arr(d, "zx0", "zx1", "zy0", "zy1"))
        cand = f"""
SELECT p.pid, z.rid, px, py, r, zx0, zy0, zx1, zy1
FROM (SELECT pid, px, py, r, {pexp} AS cell FROM p) p
JOIN (SELECT rid, zx0, zy0, zx1, zy1, {zexp} AS cell FROM z) z
  ON z.cell = p.cell
GROUP BY p.pid, z.rid, px, py, r, zx0, zy0, zx1, zy1
"""
    return f"""
WITH p AS ({pts}),
z AS ({zones}),
cand AS ({cand})
SELECT rid, cast(count(*) as bigint) AS n_points,
       cast(min(pid) as bigint) AS min_pid,
       cast(max(r) as bigint) AS max_r
FROM cand
WHERE {refine}
GROUP BY rid ORDER BY rid
"""


def q284_uncertainty_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q284_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q284_sql(G.SPARK))


# ---------------------------------------------------------------------------
# q287 — multi-epoch shuffle repeat-pair audit
# ---------------------------------------------------------------------------

_Q287_EPOCHS = (0, 5, 9)


def _q287_sql(intdiv: str) -> str:
    """Cross-epoch batch-diversity audit of the q279 shuffle: how many
    document PAIRS share a training batch in more than one epoch?  Two
    documents that repeatedly land in the same batch see correlated
    gradients every epoch — the failure mode an epoch-seeded shuffle
    exists to prevent.

    MEASURED TRAPS (the audit's reason to exist — both verified as
    shared_pairs == pairs before the fix):
    (1) id XOR e does not remix: bit reversal is GF(2)-linear, so
        rev(i xor e) = rev(i) xor rev(e), and xor-by-constant followed
        by `div B` is a bijective RELABELING of batch ids preserving
        every membership set.
    (2) id * m_e mod 2^bits (odd multiplier) does not remix either —
        nor does ANY permutation built from +,* mod 2^bits: reduction
        mod 16 is a ring homomorphism, so polynomial maps preserve the
        mod-16 residue classes, and the reversed LOW 4 bits (= the
        batch id) read exactly that preserved structure.
    The epoch transform must mix across bit halves: a FEISTEL network
    on the 10-bit id (lo += F(hi,e); hi += F(lo,e), mod 32) is
    bijective for any F and breaks the residue-class invariant; five
    rounds bring cross-epoch shared pairs to ~1.5x the true-random
    collision floor (round-count measurements in `mix`).

    Scale shape: the co-batch pair relation is LINEAR in the corpus —
    each batch contributes C(B,2) pairs with B constant (64), so the
    per-epoch pair table is ~31.5n rows, built by one equi-join on the
    batch id; the cross-epoch overlap is a pair-key equi-join of two
    such linear relations.  Nothing is quadratic in n.
    """
    d = intdiv
    b = _Q279_BITS

    h = 1 << (b // 2)  # 32: half-width of the Feistel split

    def mix(e: int) -> str:
        # 2-round Feistel on the b-bit id, keyed by the epoch, then the
        # bit reversal.  Expanded as nested closed-form SQL (pure
        # codegen; each half value appears once per bit extraction).
        # FIVE rounds, measured: 3 rounds leave ~1800 cross-epoch shared
        # pairs (the batch id reads only the low half, set by a single
        # F(hi) at round 3); 4 adds nothing (an even round touches hi,
        # which the batch id never reads directly); 5 reaches ~650-830
        # vs ~470 for a true random permutation — the 5-bit Feistel
        # halves simply need the extra diffusion pass.
        x = f"(doc_id % {1 << b})"
        lo = f"({x} % {h})"
        hi = f"({x} {d} {h})"
        for r in range(1, 6):
            f = (f"(((({hi if r % 2 == 1 else lo}) + {e * 40503 + r * 69069})"
                 f" * 2654435761) {d} 64) % {h}")
            if r % 2 == 1:
                lo = f"(({lo} + {f}) % {h})"
            else:
                hi = f"(({hi} + {f}) % {h})"
        return f"({hi} * {h} + {lo})"

    # the Feistel value materializes ONCE per epoch as a column; the ten
    # bit-reversal extractions then read the column (a nested re-derive
    # per bit made the statement 47 KB and 4x slower to plan)
    rev = " + ".join(
        f"((x1 {d} {1 << i}) % 2) * {1 << (b - 1 - i)}" for i in range(b)
    )
    epochs = ",\n".join(
        f"m{e} AS (SELECT doc_id, {mix(e)} AS x1 FROM documents),\n"
        f"e{e} AS (SELECT doc_id, (({rev}) * n.nblk + (doc_id {d} {1 << b}))"
        f" {d} {_Q279_BATCH} AS batch FROM m{e} CROSS JOIN n)"
        for e in _Q287_EPOCHS
    )
    pairs = ",\n".join(
        f"p{e} AS (SELECT a.doc_id AS d1, b.doc_id AS d2 FROM e{e} a "
        f"JOIN e{e} b ON b.batch = a.batch AND a.doc_id < b.doc_id)"
        for e in _Q287_EPOCHS
    )
    combos = [(a, b2) for i, a in enumerate(_Q287_EPOCHS)
              for b2 in _Q287_EPOCHS[i + 1:]]
    unions = "\nUNION ALL\n".join(
        f"SELECT {a} AS e1, {b2} AS e2, "
        f"(SELECT count(*) FROM p{a}) AS pairs_e1, "
        f"(SELECT count(*) FROM p{a} x JOIN p{b2} y "
        f" ON y.d1 = x.d1 AND y.d2 = x.d2) AS shared_pairs"
        for a, b2 in combos
    )
    return f"""
WITH n AS (
  SELECT (count(*) + {(1 << b) - 1}) {d} {1 << b} AS nblk FROM documents
),
{epochs},
{pairs}
SELECT cast(e1 as bigint) AS e1, cast(e2 as bigint) AS e2,
       cast(pairs_e1 as bigint) AS pairs_e1,
       cast(shared_pairs as bigint) AS shared_pairs
FROM ({unions}) u
ORDER BY e1, e2
"""


def q287_epoch_pair_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q287_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q287_sql("div"))


# ---------------------------------------------------------------------------
# q298 — corridor join (points within distance of route segments)
# ---------------------------------------------------------------------------

_Q298_R = 1.5  # corridor half-width, planar degrees


def _q298_sql(d, brute: bool = False) -> str:
    """Corridor join: every point within R of a route segment, rolled up
    per segment (route monitoring / buffer-along-path — the SELECT-ALL
    companion of q120's nearest-only snap; the reference expresses this
    only as GeomWithinDistance against a materialized buffer geometry,
    `GeomWithinDistance.java:30-46`).

    Engine: segments expand their bbox by R and explode to candidate
    cells (exact recall: a point within R of the segment lies inside the
    expanded bbox), points explode to their cell, hash equi-join + pair
    GROUP BY, then the exact codegen point-to-segment refine
    (`seg_dist2_sql`, the q120 kernel) and one keyed rollup per segment.
    Oracle: expanded-bbox theta join (flat corners — the IEJoin lesson)
    with the identical refine."""
    from .join import spatial

    pts = (
        f"SELECT event_id AS eid, {geo.lon_sql('event_id')} AS lon, "
        f"{geo.lat_sql('event_id')} AS lat, "
        f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint) AS pxm, "
        f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint) AS pym "
        f"FROM events WHERE event_id % 4 = 0"
    )
    cx = geo.lon_sql("s_suppkey * 41 + 13")
    cy = geo.lat_sql("s_suppkey * 43 + 17")
    dx = "((1e0 + (s_suppkey % 25) / 1e1) * (cast(s_suppkey % 2 as int) * 2 - 1))"
    dy = "((5e-1 + (s_suppkey % 19) / 1e1) * (cast(s_suppkey % 3 as int) - 1))"
    rm = int(_Q298_R * 1_000_000)
    segs = (
        f"SELECT s_suppkey AS sid, {cx} AS ax, {cy} AS ay, "
        f"{cx} + {dx} AS bx, {cy} + {dy} AS by, "
        f"cast(floor(({cx}) * 1000000) as bigint) AS axm, "
        f"cast(floor(({cy}) * 1000000) as bigint) AS aym, "
        f"cast(floor(({cx} + {dx}) * 1000000) as bigint) AS bxm, "
        f"cast(floor(({cy} + {dy}) * 1000000) as bigint) AS bym "
        f"FROM supplier"
    )
    d2 = spatial.seg_dist2_sql("lon", "lat", "ax", "ay", "bx", "by")
    if brute:
        cand = f"""
SELECT s.sid, p.eid, lon, lat, ax, ay, bx, by
FROM (SELECT *, least(axm, bxm) - {rm} AS lo_x,
             greatest(axm, bxm) + {rm} AS hi_x,
             least(aym, bym) - {rm} AS lo_y,
             greatest(aym, bym) + {rm} AS hi_y FROM s) s
JOIN p ON p.pxm >= s.lo_x AND p.pxm <= s.hi_x
      AND p.pym >= s.lo_y AND p.pym <= s.hi_y
"""
    else:
        # expand the MIN and MAX corner, not endpoint a and endpoint b —
        # a leftward/downward segment (b < a) would otherwise SHRINK its
        # cover by 2R (measured: 6 of 49 corridor segments lost)
        sexp = d.explode(_q280_cover_arr(
            d,
            f"least(axm, bxm) - {rm}", f"greatest(axm, bxm) + {rm}",
            f"least(aym, bym) - {rm}", f"greatest(aym, bym) + {rm}"))
        pexp = d.explode(_q280_cover_arr(d, "pxm", "pxm", "pym", "pym"))
        cand = f"""
SELECT s.sid, p.eid, lon, lat, ax, ay, bx, by
FROM (SELECT sid, ax, ay, bx, by, {sexp} AS cell FROM s) s
JOIN (SELECT eid, lon, lat, {pexp} AS cell FROM p) p
  ON p.cell = s.cell
GROUP BY s.sid, p.eid, lon, lat, ax, ay, bx, by
"""
    return f"""
WITH p AS ({pts}),
s AS ({segs}),
cand AS ({cand})
SELECT sid, cast(count(*) as bigint) AS n_pts,
       cast(min(cast(floor(({d2}) * 1000000e0) as bigint)) as bigint)
         AS min_d2_micro,
       cast(sum(cast(floor(({d2}) * 1000000e0) as bigint)) as bigint)
         AS sum_d2_micro
FROM cand
WHERE {d2} <= {_Q298_R * _Q298_R}
GROUP BY sid ORDER BY sid
"""


def q298_corridor_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q298_sql`."""
    from .functions import sqlgen as _G

    register_views(spark, sf_dir)
    return spark.sql(_q298_sql(_G.SPARK))


# ---------------------------------------------------------------------------
# q300 — off-network anti-corridor (points near NO route segment)
# ---------------------------------------------------------------------------


def _q300_sql(d, brute: bool = False) -> str:
    """Anti-corridor: points within R of NO route segment — off-network
    detection (GPS spoofing, off-road driving, mis-geocoded records);
    the anti form of q298 exactly as q30 is the anti form of the rect
    join.  Rolled up per coarse cell: the spatial distribution of
    off-network mass is what an anomaly triage map shows.

    Engine: q298's cover-join candidates LEFT ANTI the point set — a
    point survives iff no candidate pair refines within R; expressed as
    a left join + HAVING no-match so one text serves both engines
    (candidates are cover-join or bbox-theta per the q298 contract).
    """
    from .join import spatial

    pts = (
        f"SELECT event_id AS eid, {geo.lon_sql('event_id')} AS lon, "
        f"{geo.lat_sql('event_id')} AS lat, "
        f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint) AS pxm, "
        f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint) AS pym "
        f"FROM events WHERE event_id % 4 = 0"
    )
    cx = geo.lon_sql("s_suppkey * 41 + 13")
    cy = geo.lat_sql("s_suppkey * 43 + 17")
    dx = "((1e0 + (s_suppkey % 25) / 1e1) * (cast(s_suppkey % 2 as int) * 2 - 1))"
    dy = "((5e-1 + (s_suppkey % 19) / 1e1) * (cast(s_suppkey % 3 as int) - 1))"
    rm = int(_Q298_R * 1_000_000)
    segs = (
        f"SELECT s_suppkey AS sid, {cx} AS ax, {cy} AS ay, "
        f"{cx} + {dx} AS bx, {cy} + {dy} AS by, "
        f"cast(floor(({cx}) * 1000000) as bigint) AS axm, "
        f"cast(floor(({cy}) * 1000000) as bigint) AS aym, "
        f"cast(floor(({cx} + {dx}) * 1000000) as bigint) AS bxm, "
        f"cast(floor(({cy} + {dy}) * 1000000) as bigint) AS bym "
        f"FROM supplier"
    )
    d2 = spatial.seg_dist2_sql("lon", "lat", "ax", "ay", "bx", "by")
    if brute:
        cand = f"""
SELECT p.eid, lon, lat, ax, ay, bx, by
FROM p JOIN (SELECT *, least(axm, bxm) - {rm} AS lo_x,
             greatest(axm, bxm) + {rm} AS hi_x,
             least(aym, bym) - {rm} AS lo_y,
             greatest(aym, bym) + {rm} AS hi_y FROM s) s
  ON p.pxm >= s.lo_x AND p.pxm <= s.hi_x
 AND p.pym >= s.lo_y AND p.pym <= s.hi_y
"""
    else:
        sexp = d.explode(_q280_cover_arr(
            d,
            f"least(axm, bxm) - {rm}", f"greatest(axm, bxm) + {rm}",
            f"least(aym, bym) - {rm}", f"greatest(aym, bym) + {rm}"))
        pexp = d.explode(_q280_cover_arr(d, "pxm", "pxm", "pym", "pym"))
        cand = f"""
SELECT p.eid, lon, lat, ax, ay, bx, by
FROM (SELECT sid, ax, ay, bx, by, {sexp} AS cell FROM s) s
JOIN (SELECT eid, lon, lat, pxm, pym, {pexp} AS cell FROM p) p
  ON p.cell = s.cell
GROUP BY p.eid, lon, lat, ax, ay, bx, by
"""
    cell8 = geo.rowmajor_cell_sql("lon", "lat", 3)
    return f"""
WITH p AS ({pts}),
s AS ({segs}),
cand AS ({cand}),
hit AS (
  SELECT DISTINCT eid FROM cand WHERE {d2} <= {_Q298_R * _Q298_R}
),
off AS (
  SELECT p.eid, p.lon, p.lat
  FROM p LEFT JOIN hit ON hit.eid = p.eid
  WHERE hit.eid IS NULL
)
SELECT {cell8} AS cell, cast(count(*) as bigint) AS n_off,
       cast(min(eid) as bigint) AS min_eid
FROM off GROUP BY {cell8} ORDER BY cell
"""


def q300_off_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q300_sql`."""
    from .functions import sqlgen as _G

    register_views(spark, sf_dir)
    return spark.sql(_q300_sql(_G.SPARK))


# ---------------------------------------------------------------------------
# q297 — ingest-order vs event-time Spearman (out-of-orderness audit)
# ---------------------------------------------------------------------------


def _q297_sql(epoch_us: str, intdiv: str) -> str:
    """How out-of-order does each event stream arrive?  Spearman rank
    correlation between INGEST order (event_id) and EVENT-TIME order per
    event_type — the scalar that prices a watermark: rho ~ 1 means
    near-ordered arrival (tight watermark, little state), low rho means
    heavy reordering (q266's late-audit tells you how MUCH data a given
    watermark drops; this tells you how disordered the stream
    intrinsically is).  rho = 1 - 6*sum(d^2)/(n(n^2-1)), exact integer
    arithmetic floored to micro — first rank-correlation statistic in
    the registry.

    The testdata arrives perfectly ordered (rho = 1.0 exactly — itself
    a verified fact), so the audit also reports its own calibration:
    rho under a BIT-REVERSED replay of the same stream (the q279
    permutation as an adversarial arrival order), which sits near 0 —
    the two columns bracket the statistic's range on identical data.

    Plan: three ranking windows per group + one keyed aggregate, all
    partitioned by event_type; no joins."""
    b = 14
    rev = " + ".join(
        f"((event_id {intdiv} {1 << i}) % 2) * {1 << (b - 1 - i)}"
        for i in range(b)
    )
    return f"""
WITH mx AS (SELECT cast(max(event_id) as bigint) + 1 AS m FROM events),
p AS (
  SELECT event_type, event_id, {epoch_us} AS ts_us,
         ({rev}) * (SELECT m FROM mx) + event_id AS replay_key
  FROM events
),
r AS (
  -- ranks cast to bigint: Spark's row_number is INT32 (DuckDB's is
  -- already BIGINT), so the (ra-rb)^2 squares overflow 32-bit once a
  -- group's rank displacement passes ~46k — ANSI Spark raised at sf1
  -- (r5 full-registry sweep) while sf0.1 sat just under the edge
  SELECT event_type,
         cast(row_number() OVER (PARTITION BY event_type
                                 ORDER BY event_id) as bigint) AS ra,
         cast(row_number() OVER (PARTITION BY event_type
                                 ORDER BY ts_us, event_id) as bigint) AS rb,
         cast(row_number() OVER (PARTITION BY event_type
                                 ORDER BY replay_key) as bigint) AS rc
  FROM p
),
agg AS (
  SELECT event_type, count(*) AS n,
         sum((ra - rb) * (ra - rb)) AS s2,
         sum((rc - rb) * (rc - rb)) AS s2_replay
  FROM r GROUP BY event_type
)
SELECT event_type, cast(n as bigint) AS n,
       cast(floor(1000000e0 * cast(n * (n * n - 1) - 6 * s2 as double)
                  / cast(n * (n * n - 1) as double)) as bigint)
         AS spearman_micro,
       cast(floor(1000000e0 * cast(n * (n * n - 1) - 6 * s2_replay as double)
                  / cast(n * (n * n - 1) as double)) as bigint)
         AS spearman_replay_micro
FROM agg ORDER BY event_type
"""
# ^ the 1e6 scaling runs in IEEE double with explicit casts: a bare
# `1000000.0 *` literal is DECIMAL in BOTH engines, and their decimal
# division scale/rounding rules differ — at rho == 1 exactly (s2 = 0)
# Spark printed 1000000 and DuckDB 999999.  Double ops on identical
# text round identically everywhere.  The n(n^2-1) core stays exact
# int64 to ~2.09e6 rows per event_type, but 6*s2 = n(n^2-1)(1 - rho)
# reaches 2n(n^2-1) at rho = -1 (fully anti-correlated ranks), which
# overflows from ~1.66e6 rows.  The sf10 fixture's 2.0e6/type fits only
# while rho > ~-0.15; past that the whole statistic needs the double
# form — documented ceiling, not a silent wrap (ANSI raises).


def q297_order_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q297_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q297_sql("unix_micros(cast(ts as timestamp))", "div"))


# ---------------------------------------------------------------------------
# q295 — batch track summaries
# ---------------------------------------------------------------------------


def _q295_sql(epoch_us: str) -> str:
    """Per-user assembled-track summary: point count, micro-int bbox and
    integer path length over the ts-ordered point sequence, as one lag
    window + one keyed aggregate.  `floor(sqrt(...))` of an int64 sum is
    IEEE-correctly-rounded in both engines, so the path is hash-exact."""
    lon = f"cast(floor(({geo.lon_sql('event_id')}) * 1000000) as bigint)"
    lat = f"cast(floor(({geo.lat_sql('event_id')}) * 1000000) as bigint)"
    w = "OVER (PARTITION BY user_id ORDER BY ts_us, event_id)"
    return f"""
WITH p AS (
  SELECT user_id, event_id, {epoch_us} AS ts_us,
         {lon} AS x, {lat} AS y
  FROM events
),
seg AS (
  SELECT user_id, x, y,
         lag(x) {w} AS px, lag(y) {w} AS py
  FROM (SELECT user_id, event_id, ts_us, x, y FROM p) q
)
SELECT user_id, cast(count(*) as bigint) AS n_points,
       cast(min(x) as bigint) AS x0_micro,
       cast(min(y) as bigint) AS y0_micro,
       cast(max(x) as bigint) AS x1_micro,
       cast(max(y) as bigint) AS y1_micro,
       cast(sum(CASE WHEN px IS NULL THEN 0 ELSE
         cast(floor(sqrt(cast((x - px) * (x - px) + (y - py) * (y - py)
                               as double))) as bigint) END) as bigint)
         AS path_micro
FROM seg GROUP BY user_id ORDER BY user_id
"""


def q295_track_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q295_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q295_sql("unix_micros(cast(ts as timestamp))"))


# ---------------------------------------------------------------------------
# q294 — weighted sample without replacement (deterministic A-ES)
# ---------------------------------------------------------------------------

_Q294_K = 200


def _q294_sql(intdiv: str) -> str:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    each row draws a pseudo-random u and competes with key u^(1/w), the
    largest k keys winning — equivalently, in the exponential
    formulation, rank by priority -ln(u)/w ascending (Exp(w) draws; the
    k smallest win).  Training pipelines use this to sample proportional
    to quality/importance weights (q74's stratified sample is unweighted
    Bernoulli; q75's reservoir is per-stratum).

    Determinism without a stored random key: u = a splitmix-style
    integer hash of the row id, scaled to (0, 1]; priority = -ln(u)/w
    as a double (libm log + one IEEE division — identical in both
    engines on the same host, hash-checked by the gate).  The global
    smallest-k is ORDER BY + LIMIT — Spark executes that as distributed
    TakeOrdered (per-partition top-k then a k-row merge on the driver),
    NOT a full sort; the same merge property makes the sample
    incrementally maintainable (keep each shard's top-k, merge).

    Output: the selected ids + integer-micro weight mass captured, and
    per-source selection counts as the proportionality audit.
    """
    d = intdiv
    h = ("cast((((doc_id * 2654435761) % 4294967296) * 40503 + 7919) "
         f"% 4294967291 as bigint)")
    return f"""
WITH w AS (
  SELECT doc_id, source,
         cast(1 + n_chars as bigint) AS wt,
         ({h} + 1) / 4294967292e0 AS u
  FROM documents
),
pri AS (
  SELECT doc_id, source, wt, -ln(u) / wt AS priority FROM w
),
sel AS (
  SELECT doc_id, source, wt FROM pri
  ORDER BY priority, doc_id LIMIT {_Q294_K}
)
SELECT source, cast(count(*) as bigint) AS n_sel,
       cast(sum(wt) as bigint) AS wt_sel,
       cast(min(doc_id) as bigint) AS min_doc
FROM sel GROUP BY source ORDER BY source
"""


def q294_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q294_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q294_sql("div"))


# ---------------------------------------------------------------------------
# q293 — value-concentration audit (Gini + top-decile share) per group
# ---------------------------------------------------------------------------


def _q293_sql(intdiv: str) -> str:
    """Per-event-type value concentration: exact Gini coefficient (the
    rank-weighted closed form G = (2*sum(i*x_i) - (n+1)*sum(x)) /
    (n*sum(x)) over ascending x) plus the top-decile share — the
    inequality statistics a data-pipeline budget audit runs on source
    contribution and a marketplace runs on revenue (complement of
    q274's heavy-hitter COUNTS: this measures how concentrated the
    MASS is).

    Plan: one ranking window per group (deterministic ties by event_id)
    feeding one keyed aggregate — both partitioned by the group key, no
    self-joins; every statistic is a rational of two int64 sums, floored
    to micro at the end, so the cross-engine hash is exact."""
    d = intdiv
    return f"""
WITH v AS (
  SELECT event_type, event_id,
         cast(floor(value * 100) as bigint) AS cents
  FROM events
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
agg AS (
  SELECT event_type, max(n) AS n,
         sum(cents) AS s, sum(rk * cents) AS s1,
         sum(CASE WHEN rk > n - (n {d} 10) THEN cents ELSE 0 END) AS top_s
  FROM r GROUP BY event_type
)
SELECT event_type, cast(n as bigint) AS n,
       cast(floor(1000000.0 * (2 * s1 - (n + 1) * s) / (n * s)) as bigint)
         AS gini_micro,
       cast(top_s * 1000000 {d} s as bigint) AS top_decile_share_micro
FROM agg ORDER BY event_type
"""


def q293_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q293_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(_q293_sql("div"))


# ---------------------------------------------------------------------------
# q292 — skyline / Pareto frontier (multi-criteria dominance)
# ---------------------------------------------------------------------------


def _q292_sql(window: bool) -> str:
    """2-D skyline (Pareto frontier) over parts: the rows no other row
    dominates on (price, size) — both minimized; `r` dominates `s` iff
    r.price <= s.price AND r.size <= s.size AND one is strict.  The
    multi-criteria shortlist query (Borzsony/Kossmann/Stocker 2001)
    neither the reference nor plain aggregates express.

    Two INDEPENDENT formulations, hash-compared:
    - engine (`window=True`): sort-free-of-self-joins — a row survives
      iff no strictly-cheaper row is as small (prefix `min(size)` over
      `RANGE ... 1 PRECEDING` on integer cents) and no same-price row
      is strictly smaller (`min(size)` partitioned by price).  One
      window pipeline, O(n log n), no n^2 pair work; at 100 TB the
      prefix-min runs per price-range partition and the per-partition
      frontiers merge associatively (a frontier is a monoid).
    - oracle (`window=False`): the textbook NOT EXISTS dominance
      anti-join — quadratic but definitional.
    """
    base = """
SELECT p_partkey AS pk,
       cast(floor(p_retailprice * 100) as bigint) AS price_c,
       cast(p_size as bigint) AS size
FROM part"""
    if not window:
        return f"""
WITH b AS ({base})
SELECT pk, price_c, size FROM b r
WHERE NOT EXISTS (
  SELECT 1 FROM b s
  WHERE s.price_c <= r.price_c AND s.size <= r.size
    AND (s.price_c < r.price_c OR s.size < r.size)
)
ORDER BY price_c, size, pk
"""
    return f"""
WITH b AS ({base}),
w AS (
  SELECT pk, price_c, size,
         min(size) OVER (ORDER BY price_c
                         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS min_sz_cheaper,
         min(size) OVER (PARTITION BY price_c) AS min_sz_same
  FROM b
)
SELECT pk, price_c, size FROM w
WHERE (min_sz_cheaper IS NULL OR min_sz_cheaper > size)
  AND size = min_sz_same
ORDER BY price_c, size, pk
"""


def q292_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q292_sql` (window formulation)."""
    register_views(spark, sf_dir)
    return spark.sql(_q292_sql(window=True))


# ---------------------------------------------------------------------------
# q291 — windowed exact percentiles (event-time windows, streaming-portable)
# ---------------------------------------------------------------------------

_Q291_WIN_US = 6 * 3600 * 1_000_000  # tumbling 6-hour windows


def _q291_sql(epoch_us: str, intdiv: str) -> str:
    """Exact per-window p50/p95 latency-style percentiles over tumbling
    event-time windows — q283's histogram collapse PARTITIONED by the
    window, which is precisely the aggregation Structured Streaming can
    maintain incrementally (the histogram is a commutative monoid per
    (window, cents)).  No sort of the data: the cumulative window
    runs over the per-window HISTOGRAM relation only."""
    d = intdiv
    qs = [("p50", 1, 2), ("p95", 19, 20)]
    targets = "\nUNION ALL\n".join(
        f"SELECT '{nm}' AS p, {num} AS qn, {den} AS qd" for nm, num, den in qs
    )
    return f"""
WITH v AS (
  SELECT ({epoch_us}) {d} {_Q291_WIN_US} AS win,
         cast(floor(value * 100) as bigint) AS cents
  FROM events
),
hist AS (
  SELECT win, cents, count(*) AS c FROM v GROUP BY win, cents
),
n AS (SELECT win, sum(c) AS n FROM hist GROUP BY win),
cum AS (
  SELECT win, cents,
         sum(c) OVER (PARTITION BY win ORDER BY cents
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
),
t AS ({targets})
SELECT cum.win, t.p, cast(min(cum.cents) as bigint) AS cents,
       cast(max(n.n) as bigint) AS n
FROM t
CROSS JOIN n
JOIN cum ON cum.win = n.win
        AND cum.cum >= (n.n * t.qn + t.qd - 1) {d} t.qd
GROUP BY cum.win, t.p
ORDER BY cum.win, p
"""


def q291_windowed_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See `_q291_sql`."""
    register_views(spark, sf_dir)
    return spark.sql(
        _q291_sql("unix_micros(cast(ts as timestamp))", "div"))


OVERLAY_QUERIES = {
    "q277_rect_dissolve": (q277_rect_dissolve, _q277_sql(G.DUCK)),
    "q278_track_frechet": (q278_track_frechet, _q278_oracle_sql()),
    "q279_epoch_shuffle": (q279_epoch_shuffle, _q279_sql("//")),
    "q280_segment_crossings": (
        q280_segment_crossings, _q280_sql(G.DUCK, brute=True)),
    "q281_areal_interp": (q281_areal_interp, _q281_sql(G.DUCK)),
    "q282_coverage_depth": (q282_coverage_depth, _q282_sql(G.DUCK)),
    "q283_exact_percentiles": (q283_exact_percentiles, _q283_sql("//")),
    "q284_uncertainty_join": (
        q284_uncertainty_join, _q284_sql(G.DUCK, brute=True)),
    "q287_epoch_pair_audit": (q287_epoch_pair_audit, _q287_sql("//")),
    "q291_windowed_percentiles": (q291_windowed_percentiles,
                                  _q291_sql("epoch_us(ts)", "//")),
    "q292_skyline": (q292_skyline, _q292_sql(window=False)),
    "q293_value_concentration": (q293_value_concentration, _q293_sql("//")),
    "q294_weighted_sample": (q294_weighted_sample, _q294_sql("//")),
    "q295_track_summaries": (q295_track_summaries,
                             _q295_sql("epoch_us(ts)")),
    "q297_order_correlation": (q297_order_correlation,
                               _q297_sql("epoch_us(ts)", "//")),
    "q298_corridor_join": (q298_corridor_join, _q298_sql(G.DUCK, brute=True)),
    "q300_off_network": (q300_off_network, _q300_sql(G.DUCK, brute=True)),
}
