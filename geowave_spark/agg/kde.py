"""Kernel-density heatmap: splat points onto a grid, rank cells.

Reference analog (/root/reference): the Spark KDE runner
`analytics/spark/src/main/java/.../analytic/spark/kde/KDERunner.java:234-315`
— each point is splatted onto nearby cells of a 2^(L+1) x 2^L grid with a
gaussian weight (`analytics/mapreduce/.../kde/GaussianFilter.java:97-162`,
incrementPtFast), cell weights are summed (`combineByKey`), then a global
sort + zipWithIndex converts weight to a percentile per cell
(`KDERunner.java:252-291`), which becomes the heatmap raster value.

Spark-first re-expression, 100 TB shape:
- splat = broadcast cross join against a tiny (2k+1)^2 offset table +
  closed-form row-major cell arithmetic — pure JVM, whole-stage codegen,
  no Python anywhere;
- combineByKey -> groupBy(cell).sum() (partial aggregation is automatic);
- global-sort + zipWithIndex -> percent_rank() window (rank-based, so the
  result is identical regardless of partitioning).

The kernel uses integer weights w(dx,dy) = 1_000_000 // (1 + dx^2 + dy^2)
instead of a float gaussian: same monotone radial falloff, but sums are
order-independent integers, so the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..table import geo

KERNEL_SCALE = 1_000_000


def offsets_sql() -> str:
    """(dx, dy) offset relation for kernel half-width k — generated inline so
    Spark SQL and DuckDB share it verbatim (k=2 -> 25 cells)."""
    return (
        "SELECT (i % 5) - 2 AS dx, (i // 5) - 2 AS dy FROM "
        "(SELECT unnest(range(0, 25)) AS i) o"
    )


def _offsets_df(spark: SparkSession, k: int):
    m = 2 * k + 1
    return spark.range(0, m * m).select(
        (F.col("id") % m - k).cast("long").alias("dx"),
        (F.expr(f"id div {m}") - k).cast("long").alias("dy"),
    )


def weight_sql(dx: str = "dx", dy: str = "dy") -> str:
    """Integer kernel weight — identical arithmetic in both dialects."""
    return f"cast({KERNEL_SCALE} as bigint) // cast(1 + {dx} * {dx} + {dy} * {dy} as bigint)"


def kde_heatmap(spark: SparkSession, pts: DataFrame, res: int, k: int = 2,
                lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Points -> (cell, weight, pr_micro) heat cells at resolution ``res``.

    pr_micro = floor(percent_rank * 1e6) over descending weight — the
    KDERunner percentile. Returns one row per touched cell.
    """
    from pyspark.sql import Window

    n = 1 << res
    xs, ys = geo.grid_xy_sql(lon, lat, n)
    pts_o = pts.select(
        F.expr(xs).alias("x"), F.expr(ys).alias("y")
    )
    splat = (
        pts_o.join(F.broadcast(_offsets_df(spark, k)))
        .select(
            (F.col("x") + F.col("dx")).alias("nx"),
            (F.col("y") + F.col("dy")).alias("ny"),
            F.expr(
                f"cast({KERNEL_SCALE} as bigint) div "
                f"cast(1 + dx * dx + dy * dy as bigint)"
            ).alias("w"),
        )
        .filter(
            (F.col("nx") >= 0) & (F.col("nx") < n)
            & (F.col("ny") >= 0) & (F.col("ny") < n)
        )
        .select((F.col("ny") * n + F.col("nx")).alias("cell"), "w")
    )
    cells = splat.groupBy("cell").agg(F.sum("w").alias("weight"))
    win = Window.orderBy(F.desc("weight"))
    return cells.select(
        "cell", "weight",
        F.floor(F.percent_rank().over(win) * 1_000_000).cast("long").alias("pr_micro"),
    )


def kde_oracle_sql(points_sql: str, res: int, k: int = 2,
                   lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin of `kde_heatmap` (k=2 kernel)."""
    assert k == 2, "oracle fixed at k=2"
    n = 1 << res
    xs, ys = geo.grid_xy_sql(lon, lat, n)
    return f"""
WITH p AS ({points_sql}),
     o AS ({offsets_sql()}),
     s AS (
       SELECT ({ys}) + o.dy AS ny, ({xs}) + o.dx AS nx,
              {weight_sql('o.dx', 'o.dy')} AS w
       FROM p CROSS JOIN o
     ),
     c AS (
       SELECT ny * {n} + nx AS cell, cast(sum(w) as bigint) AS weight
       FROM s
       WHERE nx >= 0 AND nx < {n} AND ny >= 0 AND ny < {n}
       GROUP BY 1
     )
SELECT cell, weight,
       cast(floor(percent_rank() OVER (ORDER BY weight DESC) * 1000000) as bigint) AS pr_micro
FROM c
ORDER BY cell
"""


def _parent_sql(cell: str, n: int, intdiv: str = "div") -> str:
    """Row-major cell at grid n -> parent cell at grid n/2 (closed form,
    same arithmetic both dialects): ((y>>1)*(n/2) + (x>>1)).  ``intdiv`` is
    the only dialect difference: Spark spells integer division `div`,
    DuckDB spells it `//`."""
    d = intdiv
    return (f"(({cell}) {d} {n} {d} 2) * {n // 2} + (({cell}) % {n}) {d} 2")


def kde_pyramid(spark: SparkSession, pts: DataFrame, res: int, levels: int,
                k: int = 2, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Multi-level KDE: the finest splat rolled up the tile pyramid.

    Reference analog: KDERunner loops minLevel..maxLevel re-splatting every
    point per level (`analytics/spark/.../kde/KDERunner.java:234-315` driven
    by `KDEJobRunner`); the raster adapter ingests every pyramid substrategy
    (`RasterDataAdapter.java:525-528`).  Spark-first: splat ONCE at the
    finest res, then each coarser level is a closed-form parent-cell
    groupBy-sum of the previous — a pure-JVM rollup chain, one scan of the
    data total, partial aggregation at every level.  (Weights roll up
    exactly because the kernel is applied at the finest grid only — the
    coarse levels are aggregates of it, the pyramid contract of
    `RasterTileMergeStrategy`, not an independent re-splat.)

    Returns (res, cell, weight) for ``levels`` levels, finest first.
    """
    # persist the finest-level aggregate: every coarser level AND the final
    # union reference it, and the one-scan property must hold by
    # construction, not by hoping Catalyst's ReusedExchange dedupes the
    # identical splat subtrees across union branches (plan canonicalization
    # or AQE can break the reuse, silently re-splatting `levels` times).
    # The aggregate is tiny (<= 4^res cells), so the persist is free; the
    # eager count stops the union branches from racing to build the same
    # cached partitions (the q16 lesson).
    base = kde_heatmap(spark, pts, res, k, lon, lat).select("cell", "weight").persist()
    base.count()
    out = base.select(F.lit(res).cast("int").alias("res"), "cell", "weight")
    cur = base
    for r in range(res - 1, res - levels, -1):
        n = 1 << (r + 1)
        cur = (
            cur.select(
                F.expr(_parent_sql("cell", n)).alias("cell"), "weight"
            )
            .groupBy("cell")
            .agg(F.sum("weight").alias("weight"))
        )
        out = out.unionByName(
            cur.select(F.lit(r).cast("int").alias("res"), "cell", "weight")
        )
    return out


def kde_pyramid_oracle_sql(points_sql: str, res: int, levels: int,
                           k: int = 2, lon: str = "lon", lat: str = "lat") -> str:
    """DuckDB twin of `kde_pyramid`: same base CTE, same parent arithmetic."""
    assert k == 2
    n = 1 << res
    xs, ys = geo.grid_xy_sql(lon, lat, n)
    ctes = [f"""
l{res} AS (
  SELECT ny * {n} + nx AS cell, cast(sum(w) as bigint) AS weight
  FROM (
    SELECT ({ys}) + o.dy AS ny, ({xs}) + o.dx AS nx,
           {weight_sql('o.dx', 'o.dy')} AS w
    FROM p CROSS JOIN o
  ) s
  WHERE nx >= 0 AND nx < {n} AND ny >= 0 AND ny < {n}
  GROUP BY 1
)"""]
    selects = [f"SELECT {res} AS res, cell, weight FROM l{res}"]
    for r in range(res - 1, res - levels, -1):
        child_n = 1 << (r + 1)
        ctes.append(f"""
l{r} AS (
  SELECT {_parent_sql('cell', child_n, '//')} AS cell,
         cast(sum(weight) as bigint) AS weight
  FROM l{r + 1} GROUP BY 1
)""")
        selects.append(f"SELECT {r} AS res, cell, weight FROM l{r}")
    body = "\nUNION ALL\n".join(selects)
    return (f"WITH p AS ({points_sql}),\n o AS ({offsets_sql()}),"
            + ",".join(ctes)
            + f"\nSELECT cast(res as int) AS res, cell, weight FROM ({body}) u ORDER BY res, cell")
