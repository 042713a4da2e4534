"""Fleet-scale operational audits: the queries an operator of this engine
runs ON the engine itself when the corpus is 10^12 rows and the cluster is
1000 executors — reshard-stability planning, SFC-locality verification,
dateline-wrapping join correctness, and deterministic curriculum ordering.

All four are pure relational expressions built through the dual-dialect
generator (`functions/sqlgen.py`): the Spark path is whole-stage-codegen
SQL (no Python in the hot loop) and the DuckDB oracle evaluates the same
closed-form spec, so the check is engine-vs-spec.

Reference parity notes:
- q250 audits the locality property GeoWave's SFC tests assert pointwise
  (`core/index/src/test/java/org/locationtech/geowave/core/index/sfc/zorder/
  ZOrderSFCTest.java`) as a *distributed aggregate* over the whole key
  space — the quantity that decides range-scan amplification at scale.
- q253 is the distributed form of GeoWave's dateline handling
  (`core/geotime/.../GeometryUtils.java` splitting at the antimeridian;
  binned dataset tests) as a join: wrapped query rects are split into two
  normal rects BEFORE indexing, so the engine join never sees a
  wrap-around range.
- q249/q254 extend the engine toward corpus-operations (same lane as
  q74-q77): consistent-hash reshard planning and curriculum interleave.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .functions import sqlgen as G
from .table import geo
from .table.views import register_views

# --------------------------------------------------------------- q249

_P249 = 1000003  # prime modulus for the per-(row, shard) rendezvous hash


def _q249_hrw_shard(d: G.Dialect, key: str, n_shards: int) -> str:
    """Rendezvous (highest-random-weight) shard for ``key`` among
    ``n_shards`` buckets: argmax_k h(key, k), ties to the lowest k.

    h(key, k) = m^5 mod P with m = (key + 104729*k + 17) mod P — a
    degree-5 permutation polynomial of Z_P (gcd(5, P-1) = 1), chosen
    because a hash LINEAR in k is an arithmetic progression mod P whose
    argmax is structurally biased toward late k (measured: 52% of keys
    moved on 16->20 instead of the theoretical 20%); the nonlinear
    permutation restores per-bucket uniformity (measured 17% moved on
    the sf0.01 corpus).  The argmax is a fold over an encoded max, so
    the whole thing is one codegen expression per row — no explode, no
    join, no shuffle.  Encoding: enc = h * 64 + (63 - k); max(enc)
    decodes to the winning k with lowest-k tie-breaks.  n_shards <= 64.
    All intermediates bounded by P^2 < 1e12 — int64-safe in both
    engines.
    """
    m = f"(({key} % {_P249} + 104729 * x + 17) % {_P249})"
    m2 = f"(({m} * {m}) % {_P249})"
    m4 = f"(({m2} * {m2}) % {_P249})"
    h = f"((({m4}) * {m}) % {_P249})"
    enc = f"({h} * 64 + (63 - x))"
    folded = d.fold(
        d.seq("0", str(n_shards - 1)),
        "cast(-1 as bigint)",
        f"greatest(acc, {enc})",
    )
    return f"(63 - ({folded}) % 64)"


def _q249(d: G.Dialect) -> str:
    """Reshard-stability audit: growing the corpus layout from 16 to 20
    shards, what fraction of rows must physically move under (a) naive
    mod-N assignment vs (b) rendezvous hashing?

    At 10^12 rows a reshard IS a full-corpus shuffle unless the assignment
    is consistent: mod-N moves ~1 - 1/lcm ≈ 95% of rows, rendezvous moves
    only the ~4/20 = 20% that land in the new buckets.  This query is the
    planning tool that quantifies the difference per source before anyone
    pays for the move.  One scan, one keyed aggregate.
    """
    hrw16 = _q249_hrw_shard(d, "doc_id", 16)
    hrw20 = _q249_hrw_shard(d, "doc_id", 20)
    return f"""
SELECT source,
       count(*) AS n,
       cast(sum(CASE WHEN doc_id % 16 <> doc_id % 20 THEN 1 ELSE 0 END) as bigint) AS moved_mod,
       cast(sum(CASE WHEN hrw16 <> hrw20 THEN 1 ELSE 0 END) as bigint) AS moved_hrw,
       cast(floor(1000.0 * sum(CASE WHEN doc_id % 16 <> doc_id % 20 THEN 1 ELSE 0 END) / count(*)) as bigint) AS moved_mod_milli,
       cast(floor(1000.0 * sum(CASE WHEN hrw16 <> hrw20 THEN 1 ELSE 0 END) / count(*)) as bigint) AS moved_hrw_milli
FROM (
  SELECT source, doc_id, {hrw16} AS hrw16, {hrw20} AS hrw20
  FROM documents
) t
GROUP BY source
ORDER BY source
"""


# --------------------------------------------------------------- q250

_R250 = 8  # grid resolution: 2^8 x 2^8 cells


def _q250_zkey(d: G.Dialect, x: str, y: str) -> str:
    """Z-order (Morton) key by bit interleave — pure int arithmetic,
    identical in Spark SQL and DuckDB (no engine-specific bit builtins)."""
    terms = []
    for i in range(_R250):
        bx = f"({d.intdiv(x, str(1 << i))} % 2)"
        by = f"({d.intdiv(y, str(1 << i))} % 2)"
        terms.append(f"{bx} * {1 << (2 * i)} + {by} * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def _q250(d: G.Dialect) -> str:
    """SFC locality audit: over the OCCUPIED cells of the corpus, how far
    apart do spatially-adjacent cells land in key space under Z-order vs
    row-major?  Reported per adjacency direction (E = x+1, N = y+1):
    pair count, total and max |key gap| for both curves.

    This is the aggregate that predicts range-decomposition quality: a
    query window touches adjacent cells, and the sum of key gaps is
    (up to constants) the number of extra keys a contiguous range scan
    would read.  Row-major is the control: E gaps are exactly 1 but N
    gaps are exactly 2^res — Z-order trades a slightly worse E for an
    exponentially better N.  Occupied cells come from the lineitem point
    corpus; the whole query is scan -> distinct-cell aggregate ->
    self-join on (x±1, y) which Spark executes as one shuffle on the
    small distinct-cell relation, never on the point corpus.
    """
    n = 1 << _R250
    pts = geo.lineitem_points_sql()
    zk = _q250_zkey(d, "c1.x", "c1.y")
    zk2 = _q250_zkey(d, "c2.x", "c2.y")
    return f"""
WITH pts AS ({pts}),
cells AS (
  SELECT DISTINCT
    cast(floor((lon + 180e0) / 360e0 * {n}) as bigint) AS x,
    cast(floor((lat + 90e0) / 180e0 * {n}) as bigint) AS y
  FROM pts
  WHERE lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
),
pairs AS (
  SELECT 'E' AS dir,
         abs({zk2} - {zk}) AS zgap,
         abs((c2.y * {n} + c2.x) - (c1.y * {n} + c1.x)) AS rgap
  FROM cells c1 JOIN cells c2 ON c2.x = c1.x + 1 AND c2.y = c1.y
  UNION ALL
  SELECT 'N' AS dir,
         abs({zk2} - {zk}) AS zgap,
         abs((c2.y * {n} + c2.x) - (c1.y * {n} + c1.x)) AS rgap
  FROM cells c1 JOIN cells c2 ON c2.x = c1.x AND c2.y = c1.y + 1
)
SELECT dir, count(*) AS pairs,
       cast(sum(zgap) as bigint) AS z_total_gap, max(zgap) AS z_max_gap,
       cast(sum(rgap) as bigint) AS row_total_gap, max(rgap) AS row_max_gap
FROM pairs
GROUP BY dir
ORDER BY dir
"""


# --------------------------------------------------------------- q261


def hilbert_ctes(d: G.Dialect, src: str, res: int = 8,
                 carry: str = "") -> list[str]:
    """Chained CTEs computing the res-bit 2-D Hilbert key of (cx, cy) —
    the classic iterative rotate/reflect mapping (`sfc/hilbert.py`, after
    GeoWave's `PrimitiveHilbertSFCOperations.java`) re-expressed as ONE
    relational pass per bit: each CTE folds one scale s into (hx, hy,
    acc), state kept in [0, s) by mod-reducing BEFORE the reflection so
    every intermediate is nonnegative and signed SQL div/mod semantics
    match the uint64 numpy bit arithmetic exactly (asserted against
    `sfc.hilbert.encode` in tests).  Linear expression growth (8 chained
    selects), not the 4^res blowup of a single inlined CASE tree.
    """
    cc = f"{carry}, " if carry else ""
    ctes = [
        f"h{res} AS (SELECT {cc}cx, cy, cast(cx as bigint) AS hx, "
        f"cast(cy as bigint) AS hy, cast(0 as bigint) AS acc FROM {src})"
    ]
    for k in range(res - 1, -1, -1):
        s = 1 << k
        rx = f"({d.intdiv('hx', str(s))})"
        ry = f"({d.intdiv('hy', str(s))})"
        xl = f"(hx % {s})" if s > 1 else "0"
        yl = f"(hy % {s})" if s > 1 else "0"
        digit = (f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
                 f"WHEN {rx} = 0 THEN 1 WHEN {ry} = 1 THEN 2 ELSE 3 END)")
        nx = (f"(CASE WHEN {ry} = 1 THEN {xl} "
              f"WHEN {rx} = 1 THEN {s - 1} - {yl} ELSE {yl} END)")
        ny = (f"(CASE WHEN {ry} = 1 THEN {yl} "
              f"WHEN {rx} = 1 THEN {s - 1} - {xl} ELSE {xl} END)")
        ctes.append(
            f"h{k} AS (SELECT {cc}cx, cy, {nx} AS hx, {ny} AS hy, "
            f"acc + {s * s} * {digit} AS acc FROM h{k + 1})"
        )
    return ctes


def _q261(d: G.Dialect) -> str:
    """Hilbert-vs-Z locality audit: q250's adjacency key-gap aggregate,
    now comparing the PRIMARY curve of the reference (Hilbert — GeoWave's
    default SFC) against Z-order over the same occupied cells.  Hilbert's
    selling point is exactly this number: every unit step of the curve is
    a unit step in space, so adjacent-cell key gaps stay small where
    Z-order pays 'seam' jumps at quadrant boundaries; this query measures
    the claim on the real corpus instead of asserting it.
    """
    return (f"WITH keyed AS ({_q261_keyed_sql(d)})"
            f"{_q261_tail_sql(d)}")


def _q261_keyed_sql(d: G.Dialect) -> str:
    n = 1 << _R250
    pts = geo.lineitem_points_sql()
    hc = ",".join(hilbert_ctes(d, "cells", _R250))
    return f"""
SELECT cx, cy, acc AS hkey FROM (
  WITH pts AS ({pts}),
  cells AS (
    SELECT DISTINCT
      cast(floor((lon + 180e0) / 360e0 * {n}) as bigint) AS cx,
      cast(floor((lat + 90e0) / 180e0 * {n}) as bigint) AS cy
    FROM pts
    WHERE lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
  ),
  {hc}
  SELECT cx, cy, acc FROM h0
) hk
"""


def _q261_tail_sql(d: G.Dialect) -> str:
    n = 1 << _R250
    zk1 = _q250_zkey(d, "c1.cx", "c1.cy")
    zk2 = _q250_zkey(d, "c2.cx", "c2.cy")
    return f""",
pairs AS (
  SELECT 'E' AS dir,
         abs(c2.hkey - c1.hkey) AS hgap,
         abs({zk2} - {zk1}) AS zgap
  FROM keyed c1 JOIN keyed c2 ON c2.cx = c1.cx + 1 AND c2.cy = c1.cy
  UNION ALL
  SELECT 'N' AS dir,
         abs(c2.hkey - c1.hkey) AS hgap,
         abs({zk2} - {zk1}) AS zgap
  FROM keyed c1 JOIN keyed c2 ON c2.cx = c1.cx AND c2.cy = c1.cy + 1
)
SELECT dir, count(*) AS pairs,
       cast(sum(hgap) as bigint) AS h_total_gap, max(hgap) AS h_max_gap,
       cast(sum(zgap) as bigint) AS z_total_gap, max(zgap) AS z_max_gap,
       cast(sum(CASE WHEN hgap = 1 THEN 1 ELSE 0 END) as bigint) AS h_unit_steps,
       cast(sum(CASE WHEN zgap = 1 THEN 1 ELSE 0 END) as bigint) AS z_unit_steps
FROM pairs
GROUP BY dir
ORDER BY dir
"""


def _q261_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized Spark path for `_q261` (same reason as `_q275_spark`:
    the keyed relation is referenced twice in the adjacency joins, and
    inlining the chained Hilbert encoder into both references doubles a
    Catalyst traversal of an exponentially-substituted tree)."""
    from .table.views import mat_view

    d = G.SPARK
    register_views(spark, sf_dir)
    mat_view(spark, "q261_keyed", _q261_keyed_sql(d))
    return spark.sql("WITH keyed AS (SELECT cx, cy, hkey FROM q261_keyed)"
                     + _q261_tail_sql(d))



# --------------------------------------------------------------- q262

_W262 = 16  # sampled 8x8 query windows


def _q262(d: G.Dialect) -> str:
    """Range-decomposition cluster audit — the metric Hilbert actually
    wins: for a query window, how many CONTIGUOUS key ranges cover its
    cells?  Every cluster is one range scan the decomposed query must
    issue (`BinaryUtils`/range-decomposition in the reference; our
    `index/cover.py`), so clusters-per-window is the read-amplification
    constant of the whole tiered-scan design.  q261 shows neighbor GAP
    totals can favor Z; THIS aggregate is why GeoWave still defaults to
    Hilbert — fewer, longer runs per window (Moon et al. 2001, the
    clustering property of Hilbert curves).

    16 deterministic 8x8 windows; for each, all 64 cell keys under
    Hilbert / Z-order / row-major; clusters = 1 + #(sorted-key diffs >
    1), via one lag window per curve.  Everything operates on 16*64 =
    1024 generated rows — the corpus is not involved; this audits the
    index geometry itself.
    """
    n = 1 << _R250
    zk = _q250_zkey(d, "cx", "cy")
    hc = ",".join(hilbert_ctes(d, "wcells", _R250, carry="wid"))
    return f"""
WITH wins AS (
  SELECT w AS wid,
         cast((w * 29) % {n - 8} as bigint) AS ox,
         cast((w * 37) % {n - 8} as bigint) AS oy
  FROM (SELECT {d.explode(d.seq('0', str(_W262 - 1)))} AS w) s
),
wcells AS (
  SELECT w.wid, w.ox + dx.g AS cx, w.oy + dy.g AS cy
  FROM wins w,
       LATERAL (SELECT {d.explode(d.seq('0', '7'))} AS g) dx,
       LATERAL (SELECT {d.explode(d.seq('0', '7'))} AS g) dy
),
{hc},
keyed AS (
  SELECT wid, acc AS hkey, {zk} AS zkey, cy * {n} + cx AS rkey
  FROM h0
),
runs AS (
  SELECT wid,
         CASE WHEN hkey - lag(hkey) OVER (PARTITION BY wid ORDER BY hkey)
                   > 1 THEN 1 ELSE 0 END AS hbrk,
         CASE WHEN zkey - lag(zkey) OVER (PARTITION BY wid ORDER BY zkey)
                   > 1 THEN 1 ELSE 0 END AS zbrk,
         CASE WHEN rkey - lag(rkey) OVER (PARTITION BY wid ORDER BY rkey)
                   > 1 THEN 1 ELSE 0 END AS rbrk
  FROM keyed
)
SELECT wid,
       cast(1 + sum(hbrk) as bigint) AS hilbert_clusters,
       cast(1 + sum(zbrk) as bigint) AS zorder_clusters,
       cast(1 + sum(rbrk) as bigint) AS rowmajor_clusters
FROM runs
GROUP BY wid
ORDER BY wid
"""


# --------------------------------------------------------------- q263

_R263 = 6   # 64 x 64 planning grid
_K263 = 8   # target neighbor count


def _q263(d: G.Dialect) -> str:
    """kNN ring-size planner: from the per-cell histogram alone, the
    minimal Chebyshev ring radius r around each sampled query cell whose
    cumulative point count reaches k+1 — i.e. how far `knn/knn.py`'s
    doubling-ring join would have to expand before the window top-k can
    terminate.  The output distribution (queries per required radius,
    plus the max) is the planner number that sizes the broadcast
    ring-cover fan-out at 10^12 rows BEFORE running the join: if p99
    needs r=1, covering r=4 up front wastes 25x the candidate volume;
    if the histogram says r=4, start there and skip the doubling
    iterations.

    Shape: histogram (one keyed aggregate of the corpus) x 81 ring
    offsets (generated) x sampled queries — the corpus appears once; the
    planning join touches only cell relations.
    """
    n = 1 << _R263
    pts = geo.lineitem_points_sql()
    return f"""
WITH pts AS ({pts}),
hist AS (
  SELECT cast(floor((lon + 180e0) / 360e0 * {n}) as bigint) AS cx,
         cast(floor((lat + 90e0) / 180e0 * {n}) as bigint) AS cy,
         cast(count(*) as bigint) AS cnt
  FROM pts
  WHERE lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
  GROUP BY 1, 2
),
qs AS (
  SELECT DISTINCT
    cast(floor((lon + 180e0) / 360e0 * {n}) as bigint) AS qx,
    cast(floor((lat + 90e0) / 180e0 * {n}) as bigint) AS qy
  FROM pts
  WHERE pid % 199 = 0
    AND lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
),
offs AS (
  SELECT a.g AS dx, b.g AS dy
  FROM (SELECT {d.explode(d.seq('-4', '4'))} AS g) a
  CROSS JOIN (SELECT {d.explode(d.seq('-4', '4'))} AS g) b
),
ring AS (
  SELECT q.qx, q.qy,
         greatest(abs(o.dx), abs(o.dy)) AS r,
         coalesce(h.cnt, 0) AS cnt
  FROM qs q
  CROSS JOIN offs o
  LEFT JOIN hist h ON h.cx = q.qx + o.dx AND h.cy = q.qy + o.dy
),
rsum AS (
  SELECT qx, qy, r, cast(sum(cnt) as bigint) AS s
  FROM ring GROUP BY qx, qy, r
),
cum AS (
  SELECT qx, qy, r,
         sum(s) OVER (PARTITION BY qx, qy ORDER BY r) AS cum_cnt
  FROM rsum
),
need AS (
  SELECT qx, qy,
         coalesce(min(CASE WHEN cum_cnt >= {_K263 + 1} THEN r END), 5)
           AS r_needed
  FROM cum GROUP BY qx, qy
)
SELECT cast(r_needed as int) AS r_needed,
       cast(count(*) as bigint) AS n_queries
FROM need
GROUP BY r_needed
ORDER BY r_needed
"""


# --------------------------------------------------------------- q265

_R265 = 6
_TGT265 = 128  # target rows per (cell, salt) shuffle key


def _q265(d: G.Dialect) -> str:
    """Skew-salt planner: `agg/stats.recommend_salt`'s design exposed as
    an oracle-checked query.  From the per-cell histogram, salt factor =
    ceil(cnt / target) per cell; the summary compares the worst shuffle
    key BEFORE (max cell count) and AFTER salting (max ceil(cnt/salt)) —
    the load-balance number that decides whether the tiered join's
    hot-cell salting (`join/spatial.py` salted path) is worth its probe
    fan-out at the current data shape.

    One corpus scan -> histogram; everything after is cell-relation
    arithmetic.  milli loads are normalized by the MEAN key load so the
    numbers read as 'x times the ideal balanced load'.
    """
    n = 1 << _R265
    pts = geo.lineitem_points_sql()
    ceil_div = d.intdiv(f"(cnt + {_TGT265} - 1)", str(_TGT265))
    return f"""
WITH pts AS ({pts}),
hist AS (
  SELECT cast(floor((lon + 180e0) / 360e0 * {n}) as bigint) AS cx,
         cast(floor((lat + 90e0) / 180e0 * {n}) as bigint) AS cy,
         cast(count(*) as bigint) AS cnt
  FROM pts
  WHERE lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
  GROUP BY 1, 2
),
salted AS (
  SELECT cnt, cast({ceil_div} as bigint) AS salt,
         cast({ceil_div} as bigint) AS nkeys
  FROM hist
)
SELECT cast(count(*) as bigint) AS n_cells,
       cast(sum(CASE WHEN salt > 1 THEN 1 ELSE 0 END) as bigint) AS hot_cells,
       cast(sum(cnt) as bigint) AS n_rows,
       cast(sum(nkeys) as bigint) AS shuffle_keys,
       max(cnt) AS max_key_before,
       max(cast({d.intdiv('(cnt + salt - 1)', 'salt')} as bigint))
         AS max_key_after,
       cast(floor(1000.0 * max(cnt) * count(*) / sum(cnt)) as bigint)
         AS imbalance_before_milli,
       cast(floor(1000.0 * max(cast({d.intdiv('(cnt + salt - 1)', 'salt')} as bigint))
            * sum(nkeys) / sum(cnt)) as bigint) AS imbalance_after_milli
FROM salted
"""


# --------------------------------------------------------------- q266


def _q266(d: G.Dialect) -> str:
    """Watermark lateness audit: before committing a Structured-Streaming
    watermark, measure what each candidate watermark would DROP.  Arrival
    order is the event_id sequence (the ingest log order); an event is
    late for watermark w if its timestamp is more than w behind the
    running maximum event time at its arrival — exactly the condition
    under which a watermarked streaming aggregate would discard it.
    Reported per event type for w = 1, 5 and
    15 minutes, plus the max observed disorder, so the operator picks the
    smallest watermark with acceptable loss instead of guessing.

    One scan + one running-max window over arrival order + one keyed
    aggregate — the batch twin that makes the streaming config an
    informed decision.
    """
    us = ("unix_micros(cast(ts as timestamp))" if d.is_spark
          else "epoch_us(ts)")
    return f"""
WITH arr AS (
  SELECT event_type, {us} AS us,
         max({us}) OVER (ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high
  FROM events
),
lag_s AS (
  SELECT event_type,
         {d.intdiv("(high - us)", "1000000")} AS behind_s
  FROM arr
)
SELECT event_type,
       cast(count(*) as bigint) AS n_events,
       max(behind_s) AS max_disorder_s,
       cast(sum(CASE WHEN behind_s > 60 THEN 1 ELSE 0 END) as bigint)
         AS late_1m,
       cast(sum(CASE WHEN behind_s > 300 THEN 1 ELSE 0 END) as bigint)
         AS late_5m,
       cast(sum(CASE WHEN behind_s > 900 THEN 1 ELSE 0 END) as bigint)
         AS late_15m
FROM lag_s
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------- q269

_R269 = 7  # source grid: 128 x 128


def _q269(d: G.Dialect) -> str:
    """Conservative (mass-preserving) regridding between misaligned
    grids — the climate/raster remap primitive: source res-7 cell masses
    re-binned onto a 2x-coarser target grid OFFSET BY HALF A SOURCE CELL,
    so cells do not nest and every even-indexed source cell straddles a
    target boundary.  Overlap fractions are exact rationals (1, 1/2, 1/4
    per axis pair), carried as integer quarter-units so total mass is
    conserved EXACTLY (sum(mass4) == 4 * total points — asserted in
    tests; float-weighted remaps drift, integer ones cannot).

    Per source cell the fan-out is its 1/2/4 overlapping targets via a
    generated 2-row axis split — a bounded explode, then one keyed
    aggregate; the corpus appears once in the histogram scan.  Edge
    strips fall into target index -1/64, kept so conservation holds.
    """
    n = 1 << _R269
    pts = geo.lineitem_points_sql()
    return f"""
WITH pts AS ({pts}),
hist AS (
  SELECT cast(floor((lon + 180e0) / 360e0 * {n}) as bigint) AS sx,
         cast(floor((lat + 90e0) / 180e0 * {n}) as bigint) AS sy,
         cast(count(*) as bigint) AS cnt
  FROM pts
  WHERE lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
  GROUP BY 1, 2
),
xparts AS (
  SELECT h.sx, h.sy, h.cnt,
         CASE WHEN h.sx % 2 = 0 THEN {d.intdiv('h.sx', '2')} - 1 + s.g
              ELSE {d.intdiv('(h.sx - 1)', '2')} END AS jx,
         CASE WHEN h.sx % 2 = 0 THEN 1 ELSE 2 END AS wx2
  FROM hist h
  CROSS JOIN (SELECT {d.explode(d.seq('0', '1'))} AS g) s
  WHERE h.sx % 2 = 0 OR s.g = 0
),
parts AS (
  SELECT x.jx,
         CASE WHEN x.sy % 2 = 0 THEN {d.intdiv('x.sy', '2')} - 1 + t.g
              ELSE {d.intdiv('(x.sy - 1)', '2')} END AS jy,
         x.cnt * x.wx2 *
           (CASE WHEN x.sy % 2 = 0 THEN 1 ELSE 2 END) AS units
  FROM xparts x
  CROSS JOIN (SELECT {d.explode(d.seq('0', '1'))} AS g) t
  WHERE x.sy % 2 = 0 OR t.g = 0
)
SELECT jx, jy, cast(sum(units) as bigint) AS mass4
FROM parts
GROUP BY jx, jy
ORDER BY jx, jy
"""


# --------------------------------------------------------------- q270

_K270 = 64          # sketch size (k minimum values)
_P270 = 2147483647  # hash modulus (2^31 - 1)


def _q270(d: G.Dialect) -> str:
    """KMV (k-minimum-values) sketch set operations with an exactness
    audit: per event-type pair, the estimated user-set union, Jaccard and
    intersection from two merged 64-value sketches, NEXT TO the exact
    values — the mergeable-and-INTERSECTABLE distinct sketch the
    HyperLogLog statistic (q25) cannot provide (HLL unions but never
    intersects; reference statistics keep only per-type cardinalities,
    `core/store/.../statistics/`).

    At 10^12 rows the sketches are what ships: 64 int64s per partition
    per type, merged associatively (k smallest of the union of two
    sketches), estimates are closed-form integer arithmetic —
    union_est = (k-1) * P / kth_min, jaccard_est = |A_k ∩ B_k ∩ M_k| / k,
    inter_est = jaccard_est * union_est (Beyer et al. 2007).  The exact
    side here is the audit that prices the sketch's error (err columns in
    milli), so an operator knows what 64 values buy before trusting them
    fleet-wide.  Set elements are ACTIVE (user, day) pairs per type\n    (plain user sets are fully dense at test scale), h = element *\n    2654435761 mod P, deterministic; BOTH sides
    count in hash space (distinct h, not distinct u), so a hash collision
    cannot produce a spurious sketch-vs-exact discrepancy — the audit
    prices the SKETCH truncation error, nothing else.
    """
    us = ("unix_micros(cast(ts as timestamp))" if d.is_spark
          else "epoch_us(ts)")
    day = d.intdiv(us, "86400000000")
    return f"""
WITH uh AS (
  SELECT DISTINCT event_type,
         ((user_id * 100000 + {day}) * 2654435761 % {_P270}) AS h
  FROM events
),
rk AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
  FROM uh
),
sk AS (SELECT event_type, h, r FROM rk WHERE r <= {_K270}),
types AS (SELECT DISTINCT event_type FROM events),
prs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM types a JOIN types b ON a.event_type < b.event_type
),
merged AS (
  SELECT p.ta, p.tb, u.h,
         row_number() OVER (PARTITION BY p.ta, p.tb ORDER BY u.h) AS r
  FROM prs p
  JOIN (SELECT event_type, h FROM sk) u
    ON u.event_type = p.ta OR u.event_type = p.tb
  GROUP BY p.ta, p.tb, u.h
),
mk AS (SELECT ta, tb, h, r FROM merged WHERE r <= {_K270}),
kth AS (SELECT ta, tb, max(h) AS kmax, count(*) AS km FROM mk GROUP BY ta, tb),
inter_k AS (
  SELECT m.ta, m.tb, cast(count(*) as bigint) AS both_k
  FROM mk m
  JOIN sk a ON a.event_type = m.ta AND a.h = m.h
  JOIN sk b ON b.event_type = m.tb AND b.h = m.h
  GROUP BY m.ta, m.tb
),
eu AS (
  SELECT p.ta, p.tb, u.h,
         max(CASE WHEN u.event_type = p.ta THEN 1 ELSE 0 END) AS ina,
         max(CASE WHEN u.event_type = p.tb THEN 1 ELSE 0 END) AS inb
  FROM prs p JOIN uh u ON u.event_type = p.ta OR u.event_type = p.tb
  GROUP BY p.ta, p.tb, u.h
),
exact AS (
  SELECT ta, tb, cast(count(*) as bigint) AS x_union,
         cast(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END)
              as bigint) AS x_inter
  FROM eu GROUP BY ta, tb
)
SELECT k.ta, k.tb,
       cast({d.intdiv(f"(({_K270} - 1) * cast({_P270} as bigint))", "k.kmax")}
            as bigint) AS union_est,
       cast(coalesce(i.both_k, 0) as bigint) AS both_k,
       cast({d.intdiv(
           f"coalesce(i.both_k, 0) * "
           f"{d.intdiv(f'(({_K270} - 1) * cast({_P270} as bigint))', 'k.kmax')}",
           str(_K270))} as bigint) AS inter_est,
       e.x_union AS union_exact,
       e.x_inter AS inter_exact
FROM kth k
JOIN exact e ON e.ta = k.ta AND e.tb = k.tb
LEFT JOIN inter_k i ON i.ta = k.ta AND i.tb = k.tb
ORDER BY k.ta, k.tb
"""


# --------------------------------------------------------------- q271

_M271 = 256  # bloom bits per file (sized for a visible, measurable fp rate)
_H271 = 3     # hash functions


def _q271_bits(d: G.Dialect, key: str) -> list[str]:
    """The 3 bloom bit positions of ``key``: double hashing h1 + i*h2
    (Kirsch-Mitzenmacher), both hashes nonlinear mod-P then folded into
    [0, 1024)."""
    h1 = f"(({key} * 2654435761) % 1000003)"
    h2 = f"((({key} + 7) * 2246822519) % 999983 + 1)"
    return [f"(({h1} + {i} * {h2}) % {_M271})" for i in range(_H271)]


def _q271(d: G.Dialect) -> str:
    """Bloom-filter file-skipping audit: per 'file' (= source shard of the
    documents table), a 256-bit / 3-hash bloom over its doc_ids, probed
    with 100 lookups (half present, half absent by construction), NEXT TO
    exact membership — reporting files scanned with vs without the bloom
    and the realized false-positive rate.  This is the parquet-footer /
    manifest bloom path every lakehouse point-lookup rides
    (`agg/stats.py`'s bloom builder as an oracle-checked relational
    query); the audit answers 'what fraction of file opens does the
    bloom actually save at this key density', which decides whether to
    pay for blooms in the manifest at 10^12 rows.

    Fully relational bloom: the filter IS the distinct (file, bit)
    relation (explode keys x 3 positions); a probe hits a file iff all 3
    of its bits are present — a join + count(*) = 3 group filter.  No
    bitmap UDF, so the oracle evaluates the identical spec.
    """
    kb = _q271_bits(d, "doc_id")
    pb = _q271_bits(d, "probe_key")
    kb_rows = " UNION ALL ".join(
        f"SELECT source, {b} AS bit FROM documents" for b in kb
    )
    pb_rows = " UNION ALL ".join(
        f"SELECT probe_id, probe_key, {b} AS bit FROM probes" for b in pb
    )
    return f"""
WITH fbits AS (
  SELECT DISTINCT source, bit FROM ({kb_rows}) u
),
probes AS (
  SELECT g AS probe_id,
         CASE WHEN g % 2 = 0
              THEN (SELECT min(doc_id) FROM documents) + g * 7
              ELSE 900000000 + g * 13 END AS probe_key
  FROM (SELECT {d.explode(d.seq('0', '99'))} AS g) s
),
pbits AS ({pb_rows}),
pq AS (SELECT DISTINCT probe_id, probe_key, bit FROM pbits),
pcnt AS (
  -- a probe's 3 hash positions may collide; membership requires all of
  -- its DISTINCT bits present, not literally 3
  SELECT probe_id, cast(count(*) as bigint) AS nb FROM pq GROUP BY probe_id
),
cand AS (
  SELECT p.probe_id, p.probe_key, f.source
  FROM pq p
  JOIN fbits f ON f.bit = p.bit
  JOIN pcnt c ON c.probe_id = p.probe_id
  GROUP BY p.probe_id, p.probe_key, f.source
  HAVING count(*) = min(c.nb)
),
truth AS (
  SELECT DISTINCT p.probe_id, d2.source
  FROM probes p JOIN documents d2 ON d2.doc_id = p.probe_key
),
joined AS (
  SELECT c.probe_id, c.source,
         CASE WHEN t.source IS NOT NULL THEN 1 ELSE 0 END AS real_hit
  FROM cand c
  LEFT JOIN truth t ON t.probe_id = c.probe_id AND t.source = c.source
),
nfiles AS (SELECT cast(count(DISTINCT source) as bigint) AS nf FROM documents)
SELECT cast(100 as bigint) AS n_probes,
       nf.nf AS n_files,
       cast(100 * nf.nf as bigint) AS opens_without_bloom,
       cast(count(*) as bigint) AS opens_with_bloom,
       cast(sum(real_hit) as bigint) AS true_hits,
       cast(count(*) - sum(real_hit) as bigint) AS false_positives,
       cast(floor(1000.0 * (count(*) - sum(real_hit))
            / (100 * nf.nf - sum(real_hit))) as bigint) AS fp_milli
FROM joined, nfiles nf
GROUP BY nf.nf
"""


# --------------------------------------------------------------- q273

_NP273 = 12  # synthesized polygons
_NV273 = 8   # vertices per ring


def _q273(d: G.Dialect) -> str:
    """Polygon validity/winding audit — the ingest 'make valid' gate
    (JTS `isValid`/CCW normalization behind GeoWave's geometry adapters,
    `core/geotime/.../GeometryUtils`): per ring, the integer shoelace
    signed area (micro-degree^2), detected orientation, a needs_reversal
    flag against the CCW-exterior convention, squared perimeter mass and
    the vertex bbox.  Run before indexing a vendor polygon feed: a CW
    exterior ring silently inverts every containment test downstream, so
    the fix-up (reverse the ring) must happen at ingest, keyed by this
    flag.

    12 deterministic star polygons, vertex v of polygon p at angle-step v
    with radius r(p, v) closed-form; polygons with p % 3 = 0 are emitted
    REVERSED (the planted defect).  Vertices explode from a seq — the
    shoelace is one lag window per ring (wrap term added separately), all
    integer micro coordinates, exact in both engines.
    """
    # vertex (p, v): integer micro-degree offsets from a per-polygon center
    # using a 16-point integer cos/sin table scaled by 1000 (exact in SQL)
    cos_t = [1000, 924, 707, 383, 0, -383, -707, -924,
             -1000, -924, -707, -383, 0, 383, 707, 924]
    sin_t = [0, 383, 707, 924, 1000, 924, 707, 383,
             0, -383, -707, -924, -1000, -924, -707, -383]
    cos_c = " ".join(f"WHEN {i} THEN {c}" for i, c in enumerate(cos_t))
    sin_c = " ".join(f"WHEN {i} THEN {c}" for i, c in enumerate(sin_t))
    return f"""
WITH verts AS (
  SELECT p.g AS poly_id, v.g AS vi,
         -- reversed polygons traverse their vertices backwards
         CASE WHEN p.g % 3 = 0 THEN ({_NV273 - 1} - v.g) * 2 ELSE v.g * 2 END
           AS step,
         (1000 + (p.g * 173 + v.g * 97) % 800) AS r
  FROM (SELECT {d.explode(d.seq('0', str(_NP273 - 1)))} AS g) p
  CROSS JOIN (SELECT {d.explode(d.seq('0', str(_NV273 - 1)))} AS g) v
),
xy AS (
  SELECT poly_id, vi,
         cast(r * (CASE step {cos_c} END) as bigint) AS x,
         cast(r * (CASE step {sin_c} END) as bigint) AS y
  FROM verts
),
seq_xy AS (
  SELECT poly_id, vi, x, y,
         lead(x) OVER (PARTITION BY poly_id ORDER BY vi) AS xn,
         lead(y) OVER (PARTITION BY poly_id ORDER BY vi) AS yn,
         first_value(x) OVER (PARTITION BY poly_id ORDER BY vi) AS x0,
         first_value(y) OVER (PARTITION BY poly_id ORDER BY vi) AS y0
  FROM xy
),
terms AS (
  SELECT poly_id,
         (x * coalesce(yn, y0) - coalesce(xn, x0) * y) AS cross_t,
         ((coalesce(xn, x0) - x) * (coalesce(xn, x0) - x)
          + (coalesce(yn, y0) - y) * (coalesce(yn, y0) - y)) AS seg2
  FROM seq_xy
),
shoe AS (
  SELECT poly_id,
         cast(sum(cross_t) as bigint) AS area2_signed,
         cast(sum(seg2) as bigint) AS perim2_sum
  FROM terms GROUP BY poly_id
),
bbox AS (
  SELECT poly_id, min(x) AS xmin, max(x) AS xmax,
         min(y) AS ymin, max(y) AS ymax
  FROM xy GROUP BY poly_id
)
SELECT s.poly_id, s.area2_signed,
       cast(CASE WHEN s.area2_signed > 0 THEN 1 ELSE 0 END as int) AS is_ccw,
       cast(CASE WHEN s.area2_signed <= 0 THEN 1 ELSE 0 END as int)
         AS needs_reversal,
       s.perim2_sum,
       b.xmin, b.xmax, b.ymin, b.ymax
FROM shoe s JOIN bbox b ON b.poly_id = s.poly_id
ORDER BY s.poly_id
"""


# --------------------------------------------------------------- q274

_W274 = 256  # CMS width
_D274 = 3    # CMS depth


def _q274(d: G.Dialect) -> str:
    """Count-min sketch heavy-hitters audit: the CMS statistic
    (`agg/stats.py`, GeoWave's CountMinSketchStatistic) as an
    oracle-checked relational query — for the top-20 tokens by EXACT
    count, the 3x256 sketch's estimate next to the truth, plus the
    overcount.  CMS never undercounts (est = min over depth of the
    bucket sums that include the key), so est >= exact is a structural
    invariant the pytest pins; the overcount column is what collisions
    cost at this width, priced before shipping 3KB sketches instead of
    full vocab counts from every partition.

    Relational sketch: counters are GROUP BY (row, bucket) sums over the
    exploded token stream — exactly the map-side-combinable shape that
    merges associatively across 10^12-row partitions; the estimate is a
    3-way join of each key's buckets taking the least.
    """
    wv = G.WORDVAL.replace("x", "w")
    rows = []
    for r in range(_D274):
        h = (f"(((wv % 1000003) * {2 * r + 3} + {104729 * (r + 1)}) "
             f"% 1000003) % {_W274}")
        rows.append(f"SELECT {r} AS rw, {h} AS bkt, wv FROM wvals")
    wv_rows = " UNION ALL ".join(rows)
    return f"""
WITH trows AS (
  SELECT {d.explode(d.split_ws('text'))} AS w FROM documents
),
wvals AS (
  SELECT w, cast({wv} as bigint) AS wv FROM trows
),
keyed AS ({wv_rows}),
cms AS (
  SELECT rw, bkt, cast(count(*) as bigint) AS c
  FROM keyed GROUP BY rw, bkt
),
exact AS (
  SELECT w, min(wv) AS wv, cast(count(*) as bigint) AS n
  FROM wvals GROUP BY w
),
top AS (
  SELECT w, wv, n FROM (
    SELECT w, wv, n,
           row_number() OVER (ORDER BY n DESC, w ASC) AS rk
    FROM exact
  ) t WHERE rk <= 20
),
kb AS (SELECT DISTINCT rw, bkt, wv FROM keyed),
est AS (
  SELECT t.w, t.n, min(c.c) AS est
  FROM top t
  JOIN kb k ON k.wv = t.wv
  JOIN cms c ON c.rw = k.rw AND c.bkt = k.bkt
  GROUP BY t.w, t.n
)
SELECT w AS token, n AS exact_count, cast(est as bigint) AS cms_est,
       cast(est - n as bigint) AS overcount
FROM est
ORDER BY exact_count DESC, token
"""


# --------------------------------------------------------------- q275


def _q275(d: G.Dialect) -> str:
    """Learned-index feasibility audit (RMI/PGM-style): approximate the
    CDF of the corpus's Hilbert key distribution with an equi-width
    histogram-interpolated model of B = 16 and 64 buckets, and measure
    the worst and mean |predicted rank - true rank| — the error bound
    that IS the learned index's search-window size (Kraska et al. 2018;
    a PGM/RMI over SFC keys replaces the B-tree fan-in for the tiered
    range scan).  If max_err is small relative to rows-per-partition,
    position prediction can skip the per-partition binary search
    entirely; the two-model output shows how the bound shrinks with
    model size, which is the whole sizing decision.

    Plan: Hilbert keys of the occupied cells (the chained-CTE encoder,
    one relational pass), true rank = one global row_number over the
    SMALL cell relation, model = 16/64-row cumulative histogram joined
    back by bucket id — corpus appears once in the histogram scan.
    """
    return (f"WITH keyed AS ({_q275_keyed_sql(d)})"
            f"{_q275_tail_sql(d)}")


def _q275_keyed_sql(d: G.Dialect) -> str:
    n = 1 << _R250
    hc = ",".join(hilbert_ctes(d, "cells", _R250))
    return f"""
SELECT acc AS hkey,
       cast(row_number() OVER (ORDER BY acc) as bigint) AS rk
FROM (
  WITH pts AS ({geo.lineitem_points_sql()}),
  cells AS (
    SELECT DISTINCT
      cast(floor((lon + 180e0) / 360e0 * {n}) as bigint) AS cx,
      cast(floor((lat + 90e0) / 180e0 * {n}) as bigint) AS cy
    FROM pts
    WHERE lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
  ),
  {hc}
  SELECT acc FROM h0
) hk
"""


def _q275_tail_sql(d: G.Dialect) -> str:
    n = 1 << _R250
    space = n * n
    parts = []
    for b in (16, 64):
        w = space // b
        parts.append(f"""
m{b} AS (
  SELECT {d.intdiv('hkey', str(w))} AS bkt, cast(count(*) as bigint) AS c
  FROM keyed GROUP BY 1
),
cum{b} AS (
  SELECT bkt, c,
         cast(sum(c) OVER (ORDER BY bkt) - c as bigint) AS cum_before
  FROM m{b}
),
err{b} AS (
  SELECT abs(m.cum_before
             + {d.intdiv(f"(k.hkey - m.bkt * {w}) * m.c", str(w))}
             + 1 - k.rk) AS e
  FROM keyed k JOIN cum{b} m ON m.bkt = {d.intdiv('k.hkey', str(w))}
)""")
    body = ",".join(parts)
    sels = " UNION ALL ".join(
        f"SELECT {b} AS model_buckets, cast(count(*) as bigint) AS n_keys, "
        f"max(e) AS max_err, "
        f"cast({d.intdiv('sum(e) * 1000', 'count(*)')} as bigint) "
        f"AS mean_err_milli FROM err{b}"
        for b in (16, 64)
    )
    return (f",{body}\n"
            f"SELECT * FROM ({sels}) u ORDER BY model_buckets")


def _q275_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized Spark path for `_q275`: the Hilbert-keyed relation is
    checkpointed BEFORE the model CTEs reference it 4x — inlining the
    8-level chained encoder into every reference makes Catalyst traverse
    an exponentially-substituted expression tree (analysis alone hangs;
    the same reason DuckDB is fine is that it materializes CTEs once).
    """
    from .table.views import mat_view

    d = G.SPARK
    register_views(spark, sf_dir)
    mat_view(spark, "q275_keyed", _q275_keyed_sql(d))
    return spark.sql("WITH keyed AS (SELECT hkey, rk FROM q275_keyed)"
                     + _q275_tail_sql(d))


# --------------------------------------------------------------- q253

_N253 = 12  # wrapped query rects


def _q253_rects(d: G.Dialect) -> str:
    """12 deterministic antimeridian-crossing rects: rect r spans
    [lon_min, 180) U [-180, lon_max) with lon_min in (168..179) and
    lon_max in (-180..-169) — every one wraps."""
    return f"""
SELECT x AS rect_id,
       cast(168 + (x * 7) % 12 as double) AS lon_min,
       cast(-180 + (x * 5) % 11 + 1 as double) AS lon_max,
       cast(-60 + (x * 23) % 100 as double) AS lat_min,
       cast(-60 + (x * 23) % 100 + 14 as double) AS lat_max
FROM (SELECT {d.explode(d.seq('0', str(_N253 - 1)))} AS x) s
"""


def _q253(d: G.Dialect) -> str:
    """Dateline-wrapping containment join, oracle form: the wrap is an OR
    of the two longitude intervals evaluated directly per (point, rect)."""
    pts = geo.lineitem_points_sql()
    return f"""
WITH pts AS ({pts}),
rects AS ({_q253_rects(d)})
SELECT r.rect_id,
       count(*) AS n_pts,
       cast(sum(cast(p.qty as bigint)) as bigint) AS sum_qty
FROM pts p JOIN rects r
  ON (p.lon >= r.lon_min OR p.lon < r.lon_max)
 AND p.lat >= r.lat_min AND p.lat < r.lat_max
GROUP BY r.rect_id
ORDER BY r.rect_id
"""


def _q253_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine path: split every wrapped rect at the antimeridian into two
    normal rects tagged with the same rect_id, then run ONE broadcast
    range join against the split set — the engine join itself never sees
    a wrap-around longitude range, exactly GeoWave's strategy of
    splitting geometries at the dateline before indexing
    (`core/geotime/.../GeometryUtils.java`).  A point matches exactly one
    half (the halves are disjoint), so no dedup pass is needed; the
    aggregate keys on the original rect_id.  The point corpus is never
    shuffled: scan -> broadcast join -> partial agg."""
    d = G.SPARK
    register_views(spark, sf_dir)
    pts = geo.lineitem_points_sql()
    return spark.sql(f"""
WITH pts AS ({pts}),
rects AS ({_q253_rects(d)}),
split AS (
  SELECT rect_id, lon_min, cast(180 as double) AS lon_hi, lat_min, lat_max
  FROM rects
  UNION ALL
  SELECT rect_id, cast(-180 as double) AS lon_min, lon_max AS lon_hi,
         lat_min, lat_max
  FROM rects
)
SELECT /*+ BROADCAST(split) */ s.rect_id,
       count(*) AS n_pts,
       cast(sum(cast(p.qty as bigint)) as bigint) AS sum_qty
FROM pts p JOIN split s
  ON p.lon >= s.lon_min AND p.lon < s.lon_hi
 AND p.lat >= s.lat_min AND p.lat < s.lat_max
GROUP BY s.rect_id
ORDER BY s.rect_id
""")


# --------------------------------------------------------------- q254

def _q254(d: G.Dialect) -> str:
    """Deterministic curriculum interleave: order the corpus easy->hard
    WITHOUT starving any difficulty band.  Docs are cut into 10 length
    deciles (the difficulty proxy); within a decile they are ranked by a
    seeded hash (deterministic shuffle); the global position interleaves
    deciles round-robin — position = (rank-1)*10 + (decile-1).

    This is the ordering a 10^12-row training run wants: streaming the
    output sequentially gives every shard the same difficulty mixture,
    with no global sort by the raw score (which would hot-spot long docs
    into the tail shards).  Two window functions over one scan; the
    oracle evaluates the identical spec.  Output: the first 240 rows of
    the curriculum.
    """
    return f"""
WITH ranked AS (
  SELECT doc_id, lang,
         ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile,
         ((doc_id * 40503 + 2531011) % 1000003) AS shuf
  FROM documents
),
pos AS (
  SELECT doc_id, lang, decile,
         (row_number() OVER (PARTITION BY decile ORDER BY shuf, doc_id) - 1)
           * 10 + (decile - 1) AS pos
  FROM ranked
)
SELECT cast(pos as bigint) AS pos, doc_id, cast(decile as int) AS decile, lang
FROM pos
ORDER BY pos
LIMIT 240
"""


# --------------------------------------------------------------- q251

_K251 = 5  # selections after the seed


def _q251_cand_sql(d: G.Dialect, pts: str, sel: str) -> str:
    """One MMR round: among candidates not yet selected, pick the argmax of
    score = 7e10 * rel - 3 * (max_dot_to_selected div 100), ties to the
    lowest vec_id (encoded argmax — score * 4096 + (4095 - vec_id))."""
    dot = _q251_dot(d, "c.iv", "s.iv")
    return f"""
SELECT cast(4095 - enc % 4096 as bigint) AS vec_id,
       cast({d.intdiv("enc", "4096")} as bigint) AS score
FROM (
  SELECT max(sc * 4096 + (4095 - vec_id)) AS enc FROM (
    SELECT c.vec_id,
           7 * c.rel * 10000000000 - 3 * ({d.intdiv(f"max({dot})", "100")}) AS sc
    FROM {pts} c CROSS JOIN {sel} s
    WHERE c.vec_id NOT IN (SELECT vec_id FROM {sel})
    GROUP BY c.vec_id, c.rel
  ) scored
) mx
"""


def _q251_dot(d: G.Dialect, a: str, b: str) -> str:
    ea, eb = d.at(a, "i"), d.at(b, "i")
    prods = (f"transform(sequence(1, 64), i -> {ea} * {eb})" if d.is_spark
             else f"list_transform(generate_series(1, 64), i -> {ea} * {eb})")
    return d.fold(prods, "cast(0 as bigint)", "acc + x")


def _q251_pts_sql(d: G.Dialect) -> str:
    arr = d.xform(G.to_double_arr(d, "embedding"),
                  "cast(floor(x * 1000000) as bigint)")
    return (f"SELECT vec_id, (vec_id * 48271 + 11) % 1000 AS rel, "
            f"{arr} AS iv FROM embeddings")


def _q251(d: G.Dialect) -> str:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    greedily pick items maximizing relevance MINUS similarity to what is
    already picked — the relevance-aware twin of q246's pure-diversity
    k-center.  This is the eval-set / prompt-dedup sampler of a training
    pipeline: top-quality examples that are not near-copies of each other.

    Integer-exact spec: iv = floor(1e6 * embedding); rel = closed-form
    per-id relevance in 0..999; similarity = int64 dot(iv, iv); score =
    7e10*rel - 3*(max-dot-to-selected div 100).  Seed = argmax rel.  Each
    round is ONE candidates x selected broadcast join (selected <= 6 rows)
    + per-candidate max + encoded argmax — no all-pairs.  The unrolled-CTE
    form is the oracle; the Spark path materializes the integer-vector
    relation once and loops, checkpointing the tiny selected set
    (`table/views.mat_view`, same shape as q246)."""
    parts = [f"pts AS ({_q251_pts_sql(d)})",
             "s0 AS (SELECT vec_id, rel, iv FROM pts WHERE "
             "(SELECT max(rel * 4096 + (4095 - vec_id)) FROM pts) "
             "= rel * 4096 + (4095 - vec_id))"]
    sels = ["SELECT 0 AS round, vec_id, cast(0 as bigint) AS score FROM s0"]
    for k in range(1, _K251 + 1):
        parts.append(
            f"p{k} AS ({_q251_cand_sql(d, 'pts', f's{k - 1}')})")
        parts.append(
            f"s{k} AS (SELECT vec_id, rel, iv FROM s{k - 1} UNION ALL "
            f"SELECT pts.vec_id, pts.rel, pts.iv FROM pts "
            f"JOIN p{k} ON p{k}.vec_id = pts.vec_id)")
        sels.append(f"SELECT {k} AS round, vec_id, score FROM p{k}")
    body = "\nUNION ALL\n".join(sels)
    return (f"WITH {','.join(parts)}\n"
            f"SELECT cast(round as int) AS round, vec_id, score "
            f"FROM ({body}) u ORDER BY round")


def _q251_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-loop Spark path for `_q251` (see q246 for why: WITH-CTE
    inlining re-executes the base relation 2^rounds times otherwise)."""
    from .table.views import mat_view

    d = G.SPARK
    register_views(spark, sf_dir)
    mat_view(spark, "q251_pts", _q251_pts_sql(d))
    sel = spark.sql(
        "SELECT vec_id, rel, iv FROM q251_pts WHERE "
        "(SELECT max(rel * 4096 + (4095 - vec_id)) FROM q251_pts) "
        "= rel * 4096 + (4095 - vec_id)")
    sel = sel.localCheckpoint(eager=True)
    picks = None
    for k in range(_K251 + 1):
        sel.createOrReplaceTempView("q251_sel")
        if k == 0:
            picks = spark.sql(
                "SELECT 0 AS round, vec_id, cast(0 as bigint) AS score "
                "FROM q251_sel")
            continue
        pick = spark.sql(_q251_cand_sql(d, "q251_pts", "q251_sel"))
        pick = pick.localCheckpoint(eager=True)
        pick.createOrReplaceTempView("q251_pick")
        picks = picks.unionAll(spark.sql(
            f"SELECT {k} AS round, vec_id, score FROM q251_pick"))
        sel = sel.unionAll(spark.sql(
            "SELECT p.vec_id, p.rel, p.iv FROM q251_pts p "
            "JOIN q251_pick x ON x.vec_id = p.vec_id"))
        sel = sel.localCheckpoint(eager=True)
    picks.createOrReplaceTempView("q251_picks")
    return spark.sql("SELECT cast(round as int) AS round, vec_id, score "
                     "FROM q251_picks ORDER BY round")


# --------------------------------------------------------------- q255

_R255 = 7   # 128 x 128 cell grid
_K255 = 24  # facilities


def _q255_owner(d: G.Dialect, x: str, y: str) -> str:
    """Nearest facility (squared cell distance, ties to lowest k) among 24
    closed-form facilities fcx=(k*97+13)%128, fcy=(k*61+29)%128 — one fold,
    no join: enc = d2 * 32 + k, min-decode."""
    n = 1 << _R255
    fx = f"((x * 97 + 13) % {n})"
    fy = f"((x * 61 + 29) % {n})"
    d2 = f"(({x} - {fx}) * ({x} - {fx}) + ({y} - {fy}) * ({y} - {fy}))"
    folded = d.fold(
        d.seq("0", str(_K255 - 1)),
        "cast(9223372036854775807 as bigint)",
        f"least(acc, {d2} * 32 + x)",
    )
    return f"(({folded}) % 32)"


def _q255(d: G.Dialect) -> str:
    """Voronoi service-area audit over the occupied corpus grid: assign
    every occupied cell to its nearest of 24 facilities (codegen argmin
    fold — no facility join), then measure each area's size, point mass,
    and BOUNDARY length (grid edges whose two cells have different
    owners).  Boundary length is the quantity a partition planner needs:
    it is the volume of cross-partition neighbor traffic if the corpus is
    sharded by service area.  Plan shape: scan -> distinct-cell aggregate
    -> owner fold -> two self-joins on the tiny cell relation (E and N
    adjacency) -> keyed count; the point corpus is never shuffled."""
    n = 1 << _R255
    pts = geo.lineitem_points_sql()
    # cell coords are named cx/cy: the argmin fold's lambda variable is `x`
    # (the facility index), which would shadow a cell column named `x`
    owner = _q255_owner(d, "cx", "cy")
    return f"""
WITH pts AS ({pts}),
cells AS (
  SELECT cx, cy, count(*) AS n_pts FROM (
    SELECT cast(floor((lon + 180e0) / 360e0 * {n}) as bigint) AS cx,
           cast(floor((lat + 90e0) / 180e0 * {n}) as bigint) AS cy
    FROM pts
    WHERE lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
  ) g GROUP BY cx, cy
),
owned AS (
  SELECT cx, cy, n_pts, {owner} AS owner FROM cells
),
edges AS (
  SELECT c1.owner AS o1, c2.owner AS o2
  FROM owned c1 JOIN owned c2 ON c2.cx = c1.cx + 1 AND c2.cy = c1.cy
  WHERE c1.owner <> c2.owner
  UNION ALL
  SELECT c1.owner AS o1, c2.owner AS o2
  FROM owned c1 JOIN owned c2 ON c2.cx = c1.cx AND c2.cy = c1.cy + 1
  WHERE c1.owner <> c2.owner
),
edge_sides AS (
  SELECT o1 AS owner FROM edges
  UNION ALL
  SELECT o2 AS owner FROM edges
),
bnd AS (
  SELECT owner, count(*) AS boundary_edges FROM edge_sides GROUP BY owner
)
SELECT o.owner, count(*) AS n_cells,
       cast(sum(o.n_pts) as bigint) AS n_pts,
       cast(coalesce(max(b.boundary_edges), 0) as bigint) AS boundary_edges
FROM owned o LEFT JOIN bnd b ON b.owner = o.owner
GROUP BY o.owner
ORDER BY o.owner
"""


# --------------------------------------------------------------- q259

_R259 = 6   # 64 x 64 statistics grid
_N259 = 20  # query rects


def _q259(d: G.Dialect) -> str:
    """Join-selectivity estimator audit: predict each rect-join's output
    size from the per-cell point histogram ALONE (the cost-based-optimizer
    statistic — GeoWave keeps exactly this per-bin row-count statistic for
    split planning, `core/store/.../statistics/` + `SplitsProvider`), then
    run the real join and report estimate vs actual.

    est(rect) = sum of counts of every res-6 cell the rect's bbox touches
    (an upper bound: boundary cells count fully).  The estimator relation
    is rects x their covered cells (bounded by rect area / cell area) JOIN
    the 4096-row histogram — never the point corpus; the exact join is the
    engine's normal broadcast range join.  err_milli = 1000*est/actual
    quantifies how much the planner would over-provision per rect.
    """
    n = 1 << _R259
    pts = geo.lineitem_points_sql()
    # 20 deterministic rects, various sizes
    rects = f"""
SELECT r AS rect_id,
       cast(-170 + (r * 53) % 300 as double) AS lon0,
       cast(-80 + (r * 37) % 140 as double) AS lat0,
       cast(4 + (r * 7) % 30 as double) AS dw,
       cast(3 + (r * 11) % 20 as double) AS dh
FROM (SELECT {d.explode(d.seq('0', str(_N259 - 1)))} AS r) s
"""
    return f"""
WITH pts AS ({pts}),
rects AS (
  SELECT rect_id, lon0, lat0, lon0 + dw AS lon1, lat0 + dh AS lat1
  FROM ({rects}) rr
),
hist AS (
  SELECT cast(floor((lon + 180e0) / 360e0 * {n}) as bigint) AS cx,
         cast(floor((lat + 90e0) / 180e0 * {n}) as bigint) AS cy,
         cast(count(*) as bigint) AS cnt
  FROM pts
  WHERE lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
  GROUP BY 1, 2
),
cover AS (
  SELECT r.rect_id, gx.g AS cx, gy.g AS cy
  FROM rects r,
       LATERAL (SELECT {d.explode(d.seq(
           f"cast(floor((r.lon0 + 180e0) / 360e0 * {n}) as bigint)",
           f"cast(floor((r.lon1 + 180e0) / 360e0 * {n}) as bigint)"))} AS g) gx,
       LATERAL (SELECT {d.explode(d.seq(
           f"cast(floor((r.lat0 + 90e0) / 180e0 * {n}) as bigint)",
           f"cast(floor((r.lat1 + 90e0) / 180e0 * {n}) as bigint)"))} AS g) gy
),
est AS (
  SELECT c.rect_id, cast(sum(h.cnt) as bigint) AS est_rows
  FROM cover c JOIN hist h ON h.cx = c.cx AND h.cy = c.cy
  GROUP BY c.rect_id
),
act AS (
  SELECT r.rect_id, cast(count(*) as bigint) AS actual_rows
  FROM pts p JOIN rects r
    ON p.lon >= r.lon0 AND p.lon < r.lon1
   AND p.lat >= r.lat0 AND p.lat < r.lat1
  GROUP BY r.rect_id
)
SELECT r.rect_id,
       coalesce(e.est_rows, 0) AS est_rows,
       coalesce(a.actual_rows, 0) AS actual_rows,
       cast(CASE WHEN coalesce(a.actual_rows, 0) = 0 THEN -1
            ELSE floor(1000.0 * e.est_rows / a.actual_rows) END as bigint)
         AS over_milli
FROM rects r
LEFT JOIN est e ON e.rect_id = r.rect_id
LEFT JOIN act a ON a.rect_id = r.rect_id
ORDER BY r.rect_id
"""


# --------------------------------------------------------------- q260

_CAP260 = 256  # split a cell while it holds more than this many points


def _q260(d: G.Dialect) -> str:
    """Adaptive quadtree tiering: split any cell holding more than CAP
    points, to depth 4 — the leaf set IS the tier assignment of the
    reference's statistics-balanced tiered SFC index
    (`TieredSFCIndexStrategy` + `SplitsProvider.java:284-325`: coarse
    tiers where data is sparse, fine tiers in hot spots), exposed as an
    observable query.

    Relational form (no recursion needed): ancestor counts are monotone
    non-increasing with depth, so a level-k cell is in the tree iff its
    PARENT count > CAP, and it is a leaf iff additionally its own count
    <= CAP (or k = maxdepth).  One scan computes the finest-level counts;
    every coarser level is a 4-to-1 parent roll-up of the previous (the
    q53 pyramid pattern); leaves fall out of 5 small joins on the cell
    relations.
    """
    # The corpus is cube-compressed toward the origin (lon' = lon^3/180^2)
    # because the synthetic points are hash-uniform and a uniform density
    # yields one flat tier; the compression plants the central hot spot
    # that makes the tiering observable (fine tiers at the center, coarse
    # at the edges) — the data shape the tiered index exists for.
    pts = geo.lineitem_points_sql()
    n4 = 16  # 2^4
    lvl_cte = [f"""
skew AS (
  SELECT lon * lon * lon / 32400e0 AS lon, lat * lat * lat / 8100e0 AS lat
  FROM pts
),
c4 AS (
  SELECT cast(floor((lon + 180e0) / 360e0 * {n4}) as bigint) AS cx,
         cast(floor((lat + 90e0) / 180e0 * {n4}) as bigint) AS cy,
         cast(count(*) as bigint) AS n
  FROM skew
  WHERE lon >= -180 AND lon < 180 AND lat >= -90 AND lat < 90
  GROUP BY 1, 2
)"""]
    for k in (3, 2, 1, 0):
        dv_x = d.intdiv("cx", "2")
        dv_y = d.intdiv("cy", "2")
        lvl_cte.append(f"""
c{k} AS (
  SELECT {dv_x} AS cx, {dv_y} AS cy, cast(sum(n) as bigint) AS n
  FROM c{k + 1} GROUP BY 1, 2
)""")
    leaves = [f"SELECT 0 AS level, cx, cy, n FROM c0 WHERE n <= {_CAP260}"]
    for k in (1, 2, 3):
        pdx = d.intdiv("c.cx", "2")
        pdy = d.intdiv("c.cy", "2")
        leaves.append(f"""
SELECT {k} AS level, c.cx, c.cy, c.n
FROM c{k} c JOIN c{k - 1} p ON p.cx = {pdx} AND p.cy = {pdy}
WHERE p.n > {_CAP260} AND c.n <= {_CAP260}""")
    pdx = d.intdiv("c.cx", "2")
    pdy = d.intdiv("c.cy", "2")
    leaves.append(f"""
SELECT 4 AS level, c.cx, c.cy, c.n
FROM c4 c JOIN c3 p ON p.cx = {pdx} AND p.cy = {pdy}
WHERE p.n > {_CAP260}""")
    body = "\nUNION ALL\n".join(leaves)
    return (f"WITH pts AS ({pts}),{','.join(lvl_cte)}\n"
            f"SELECT cast(level as int) AS level, cx, cy, n FROM ({body}) u "
            f"ORDER BY level, cx, cy")


def _dual(gen) -> tuple:
    def _spark(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(gen(G.SPARK))

    return _spark, gen(G.DUCK)


FLEET_QUERIES = {
    "q249_reshard_stability": _dual(_q249),
    "q250_sfc_locality": _dual(_q250),
    "q251_mmr_selection": (_q251_spark, _q251(G.DUCK)),
    "q253_dateline_wrap_join": (_q253_spark, _q253(G.DUCK)),
    "q254_curriculum_interleave": _dual(_q254),
    "q255_voronoi_boundary": _dual(_q255),
    "q259_selectivity_estimator": _dual(_q259),
    "q260_quadtree_tiering": _dual(_q260),
    "q261_hilbert_locality": (_q261_spark, _q261(G.DUCK)),
    "q262_sfc_window_clusters": _dual(_q262),
    "q263_knn_ring_planner": _dual(_q263),
    "q265_skew_salt_planner": _dual(_q265),
    "q266_watermark_late_audit": _dual(_q266),
    "q269_conservative_regrid": _dual(_q269),
    "q270_kmv_sketch_overlap": _dual(_q270),
    "q271_bloom_skipping_audit": _dual(_q271),
    "q273_polygon_winding_audit": _dual(_q273),
    "q274_cms_heavy_hitters": _dual(_q274),
    "q275_learned_index_audit": (_q275_spark, _q275(G.DUCK)),
}
