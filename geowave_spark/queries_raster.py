"""Raster/image query registry entries: tile assignment, merge, pyramid.

The engine side runs the real distributed pipeline (mapInPandas synthesis ->
cover -> keyed shuffle merge); the oracle recomputes the closed-form
assignment plan in DuckDB SQL (level selection + generate_series bbox cover)
— the indexed-vs-independent-formulation equivalence pattern of the
reference (`test/.../spark/GeoWaveSparkSpatialJoinIT.java:98-176`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: N812

from .raster import tiles
from .table import images


def _register_documents(spark: SparkSession, sf_dir: str) -> None:
    images._register_documents(spark, sf_dir)


def _images(spark: SparkSession, sf_dir: str) -> DataFrame:
    return images.images_df(spark, sf_dir)


def q11_tile_assign_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster->vector tile assignment plan (image_id, res, tile_id).

    Runs the JVM-only closed-form path (no pixel synthesis, no Python):
    the plan needs only footprints, and `images_scalars_df` keeps Catalyst
    column pruning + WholeStageCodegen intact end-to-end.  Equality with
    the mapInPandas path is asserted in tests/test_raster.py.
    """
    return tiles.assign_plan_sql_df(
        images.images_scalars_df(spark, sf_dir)
    ).orderBy("image_id", "res", "tile_id")


def _plan_oracle_sql(order_by: bool = True) -> str:
    res_sql = tiles.level_res_sql("lon0", "lon1", "w")
    n = "cast(pow(2, res) as bigint)"
    return f"""
WITH base AS ({images.images_base_sql()}),
b2 AS (SELECT image_id, lon0, lat0, lon1, lat1, {res_sql} AS res FROM base),
b3 AS (SELECT image_id, res,
  least(greatest(cast(ceil((lon0 + 180e0) / 360e0 * {n}) as bigint) - 1, 0), {n}-1) AS x0,
  least(greatest(cast(ceil((lat0 + 90e0) / 180e0 * {n}) as bigint) - 1, 0), {n}-1) AS y0,
  least(greatest(cast(ceil((lon1 + 180e0) / 360e0 * {n}) as bigint) - 1, 0), {n}-1) AS x1,
  least(greatest(cast(ceil((lat1 + 90e0) / 180e0 * {n}) as bigint) - 1, 0), {n}-1) AS y1,
  {n} AS n FROM b2)
SELECT image_id, cast(res as int) AS res, (y0 + dy.g) * n + (x0 + dx.g) AS tile_id
FROM b3, LATERAL (SELECT unnest(generate_series(0, y1 - y0)) AS g) dy,
         LATERAL (SELECT unnest(generate_series(0, x1 - x0)) AS g) dx
{"ORDER BY image_id, res, tile_id" if order_by else ""}
"""


Q11_SQL = _plan_oracle_sql()


def q12_tile_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pixel path: synthesize -> decode -> tile -> no-data merge; the
    hash-checked output is the per-tile mosaic source count."""
    t = tiles.assign_tiles_df(_images(spark, sf_dir))
    merged = tiles.merge_tiles_df(t)
    return merged.select("res", "tile_id", "n_src").orderBy("res", "tile_id")


Q12_SQL = f"""
WITH plan AS ({_plan_oracle_sql(order_by=False)})
SELECT res, tile_id, cast(count(*) as int) AS n_src
FROM plan GROUP BY res, tile_id ORDER BY res, tile_id
"""


def q13_image_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-table integrity: the distributed synthesis (mapInPandas) must
    reproduce the closed-form scalar projection bit-for-bit, caption
    included (caption-equality invariant of the north rule)."""
    df = _images(spark, sf_dir)
    return df.select(
        "image_id", "w", "h", "fmt", "caption",
        F.expr("cast(floor(lon0 * 1000000) as bigint)").alias("lon0_micro"),
        F.expr("cast(floor(lat0 * 1000000) as bigint)").alias("lat0_micro"),
        F.expr("cast(floor(lon1 * 1000000) as bigint)").alias("lon1_micro"),
        F.expr("cast(floor(lat1 * 1000000) as bigint)").alias("lat1_micro"),
    ).orderBy("image_id")


Q13_SQL = f"""
WITH base AS ({images.images_base_sql()})
SELECT image_id, w, h, fmt, caption,
       cast(floor(lon0 * 1000000) as bigint) AS lon0_micro,
       cast(floor(lat0 * 1000000) as bigint) AS lat0_micro,
       cast(floor(lon1 * 1000000) as bigint) AS lon1_micro,
       cast(floor(lat1 * 1000000) as bigint) AS lat1_micro
FROM base ORDER BY image_id
"""


def q14_pyramid_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pyramid build: merged tiles -> parent level; verify parent tile ids +
    child counts against the closed-form parent computed in SQL."""
    t = tiles.assign_tiles_df(_images(spark, sf_dir))
    merged = tiles.merge_tiles_df(t)
    parents = tiles.pyramid_level_df(merged)
    return parents.select("res", "tile_id", "n_src").orderBy("res", "tile_id")


# parent of rowmajor cell at res r: (y>>1)*2^(r-1) + (x>>1)
Q14_SQL = f"""
WITH plan AS ({_plan_oracle_sql(order_by=False)}),
tiles AS (SELECT DISTINCT res, tile_id FROM plan),
parents AS (
  SELECT res,
         (tile_id // cast(pow(2, res) as bigint) // 2) * cast(pow(2, res - 1) as bigint)
           + (tile_id % cast(pow(2, res) as bigint)) // 2 AS ptile
  FROM tiles
)
SELECT cast(res - 1 as int) AS res, ptile AS tile_id, cast(count(*) as int) AS n_src
FROM parents GROUP BY 1, 2 ORDER BY res, tile_id
"""

def q35_raster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-coverage pixel statistics (RasterHistogramStatistic /
    RasterOverviewStatistic analogs).  The engine decodes real bytes
    (mapInPandas -> numpy); the oracle recomputes every pixel's luma from
    the closed-form synthesis parameters — two independent paths."""
    from .raster import stats as rstats

    return (
        rstats.image_stats_df(_images(spark, sf_dir))
        .select("image_id", "n_px", "luma_min", "luma_max", "luma_mean_milli")
        .orderBy("image_id")
    )


Q35_SQL = f"""
WITH dims AS (
  SELECT doc_id, {images.image_id_sql()} AS image_id,
         {images.w_sql()} AS w, {images.h_sql()} AS h
  FROM documents
),
lum AS (
  SELECT doc_id, image_id, {images.luma_sql('px.g', 'py.g', decoded=True)} AS luma
  FROM dims, LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) px,
             LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) py
)
SELECT image_id, cast(count(*) as bigint) AS n_px,
       cast(min(luma) as int) AS luma_min,
       cast(max(luma) as int) AS luma_max,
       cast((sum(luma) * 1000) // count(*) as bigint) AS luma_mean_milli
FROM lum GROUP BY image_id ORDER BY image_id
"""


def q49_tile_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile resize / re-tile (RasterTileResizeSparkRunner analog,
    `analytics/spark/.../resize/RasterTileResizeSparkRunner.java:100-178` in
    /root/reference): merged mosaics resampled to an 8px tile size; tile ids
    are preserved and every output tile decodes to the new dimensions.
    The oracle recomputes the surviving (res, tile_id) set closed-form."""
    import pandas as pd

    from .raster import codec

    t = tiles.assign_tiles_df(_images(spark, sf_dir))
    merged = tiles.merge_tiles_df(t)
    small = tiles.resize_tiles_df(merged.select("res", "tile_id", "px"), 8)

    def dims(pdf_iter):
        for pdf in pdf_iter:
            hw = [codec.png_decode(bytes(b)).shape[:2] for b in pdf["px"]]
            yield pd.DataFrame(
                {
                    "res": pdf["res"],
                    "tile_id": pdf["tile_id"],
                    "out_h": [h for h, _ in hw],
                    "out_w": [w for _, w in hw],
                }
            )

    return small.mapInPandas(
        dims, schema="res int, tile_id long, out_h int, out_w int"
    ).orderBy("res", "tile_id")


Q49_SQL = f"""
WITH plan AS ({_plan_oracle_sql(order_by=False)})
SELECT DISTINCT res, tile_id, cast(8 as int) AS out_h, cast(8 as int) AS out_w
FROM plan ORDER BY res, tile_id
"""


def _q87_zones_sql(src: str = "supplier") -> str:
    """Zone rectangles for q87 — deliberately NOT `geo.supplier_rects_sql`:
    that table's centers share the 7919 LCG multiplier with the image
    footprints, and two same-multiplier lattices are rigidly offset in the
    scrambled coordinate space (measured: ZERO bbox overlaps across all
    suppliers×images at sf0.01).  Distinct multipliers decorrelate the
    lattices, giving overlap rates near the area fraction — the same fix
    as `table/corpus._mixed_center` for the scaling bench."""
    from .table import geo

    cx = geo.lon_sql("s_suppkey * 6007 + 29")
    cy = geo.lat_sql("s_suppkey * 3001 + 11")
    w = "(2e0 + (s_suppkey % 700) / 1e2)"
    h = "(1e0 + (s_suppkey % 500) / 1e2)"
    return (
        f"SELECT s_suppkey AS rid, "
        f"greatest({cx} - {w}, -180e0) AS zlon0, "
        f"greatest({cy} - {h}, -90e0) AS zlat0, "
        f"least({cx} + {w}, 180e0) AS zlon1, "
        f"least({cy} + {h}, 90e0) AS zlat1 "
        f"FROM {src} WHERE s_suppkey % 5 = 0"
    )


def q87_zonal_stats(spark, sf_dir: str):
    """Zonal statistics — the classic raster×vector fusion op: aggregate
    DECODED pixel values of every raster whose footprint overlaps a vector
    zone, clipped to the zone, grouped per zone (per-district mean
    elevation / per-field NDVI; reference analog: coverage pixel
    aggregation `RasterTileResizeIT` + vector query regions
    `GeoWaveBasicSpatialVectorIT` combined, in /root/reference).

    Scale shape: zones broadcast (small dim side), bbox-overlap candidate
    join in pure codegen, then ONE narrow mapInPandas computes the clipped
    pixel-window sum per (image, zone) — the decode emits 3 scalars per
    pair, never pixels, so shuffle volume is O(pairs); the final rollup is
    a keyed hash aggregate.  Pixel-center inclusion uses the same float64
    expression order as the oracle (`lon0 + (x+0.5)*(lon1-lon0)/w`), so
    results are bit-identical.

    The oracle never decodes: it explodes the closed-form pixel field
    (`table/images.luma_sql(decoded=True)`) under the same clip — engine
    pixels come from real encoded bytes (the q6 format is lossy; both
    sides model its round-trip).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: N812

    from .raster import codec
    from .table import geo
    from .table.images import gray, images_df

    img = images_df(spark, sf_dir).select(
        "image_id", "bytes", "fmt", "w", "h", "lon0", "lat0", "lon1", "lat1"
    )
    zones = spark.sql(
        _q87_zones_sql(f"parquet.`{sf_dir}/supplier.parquet`")
    )
    pairs = img.join(
        F.broadcast(zones),
        (F.col("lon1") > F.col("zlon0")) & (F.col("lon0") < F.col("zlon1"))
        & (F.col("lat1") > F.col("zlat0")) & (F.col("lat0") < F.col("zlat1")),
    )

    def clip_sum(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rids, iids, npx, sums = [], [], [], []
            for _, r in pdf.iterrows():
                g = gray(codec.decode(r["bytes"], r["fmt"])).astype(np.int64)
                h, w = g.shape
                cx = r["lon0"] + (np.arange(w) + 0.5) * (r["lon1"] - r["lon0"]) / w
                cy = r["lat0"] + (np.arange(h) + 0.5) * (r["lat1"] - r["lat0"]) / h
                mx = (cx >= r["zlon0"]) & (cx < r["zlon1"])
                my = (cy >= r["zlat0"]) & (cy < r["zlat1"])
                n = int(mx.sum()) * int(my.sum())
                if n == 0:
                    continue
                rids.append(r["rid"])
                iids.append(r["image_id"])
                npx.append(n)
                sums.append(int(g[np.ix_(my, mx)].sum()))
            yield pd.DataFrame({
                "rid": pd.Series(rids, dtype="int64"),
                "image_id": pd.Series(iids, dtype="object"),
                "n_px": pd.Series(npx, dtype="int64"),
                "sum_luma": pd.Series(sums, dtype="int64"),
            })

    per_pair = pairs.mapInPandas(
        clip_sum, schema="rid long, image_id string, n_px long, sum_luma long"
    )
    return (
        per_pair.groupBy("rid")
        .agg(
            F.count("*").alias("n_images"),
            F.sum("n_px").alias("n_pixels"),
            F.sum("sum_luma").alias("sum_luma"),
        )
        .withColumn("mean_luma", F.expr("sum_luma div n_pixels"))
        .orderBy("rid")
    )


def _q87_sql() -> str:
    from .table import images as img_tab

    luma = img_tab.luma_sql("xs.g", "ys.g", decoded=True)
    return f"""
WITH z AS ({_q87_zones_sql()}),
img AS ({img_tab.images_base_sql()}),
pairs AS (
  SELECT img.*, z.rid, z.zlon0, z.zlat0, z.zlon1, z.zlat1
  FROM img JOIN z
    ON img.lon1 > z.zlon0 AND img.lon0 < z.zlon1
   AND img.lat1 > z.zlat0 AND img.lat0 < z.zlat1
),
px AS MATERIALIZED (
  SELECT rid, image_id, doc_id, {luma} AS luma
  FROM pairs,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
  WHERE lon0 + (xs.g + 0.5) * (lon1 - lon0) / w >= zlon0
    AND lon0 + (xs.g + 0.5) * (lon1 - lon0) / w < zlon1
    AND lat0 + (ys.g + 0.5) * (lat1 - lat0) / h >= zlat0
    AND lat0 + (ys.g + 0.5) * (lat1 - lat0) / h < zlat1
)
SELECT rid, cast(count(DISTINCT image_id) as bigint) AS n_images,
       cast(count(*) as bigint) AS n_pixels,
       cast(sum(luma) as bigint) AS sum_luma,
       cast(sum(luma) // count(*) as bigint) AS mean_luma
FROM px GROUP BY rid ORDER BY rid
"""


def q95_band_math(spark, sf_dir: str):
    """Per-image band math (map algebra 'local' op): an NDVI-style
    normalized difference index (g−r)/(g+r) over DECODED channels, rolled
    up per image — the band-arithmetic stage of any remote-sensing
    pipeline (reference analog: the per-band raster merge strategies,
    `extensions/adapters/raster/.../RasterTileMergeStrategy` family in
    /root/reference).

    Scale shape: one narrow mapInPandas (decode + vectorized numpy index
    per image, 4 scalars out — pixels never shuffle), then only a
    presentation sort.  Per-pixel index values floor to integer micro
    units, so sums are order-independent int64 and the closed-form oracle
    (channels re-derived without touching bytes) matches bit-for-bit;
    the mean is left as (sum, count) because negative intdiv semantics
    differ across engines.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .raster import codec
    from .table.images import images_df

    img = images_df(spark, sf_dir).select("image_id", "bytes", "fmt")

    def band_idx(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, npx, sums, mins, maxs = [], [], [], [], []
            for _, row in pdf.iterrows():
                px = codec.decode(row["bytes"], row["fmt"]).astype(np.int64)
                r, g = px[:, :, 0], px[:, :, 1]
                idx = np.floor(1_000_000.0 * (g - r) / (g + r + 1)).astype(np.int64)
                ids.append(row["image_id"])
                npx.append(idx.size)
                sums.append(int(idx.sum()))
                mins.append(int(idx.min()))
                maxs.append(int(idx.max()))
            yield pd.DataFrame({
                "image_id": pd.Series(ids, dtype="object"),
                "n_px": pd.Series(npx, dtype="int64"),
                "sum_idx_micro": pd.Series(sums, dtype="int64"),
                "min_idx_micro": pd.Series(mins, dtype="int64"),
                "max_idx_micro": pd.Series(maxs, dtype="int64"),
            })

    return img.mapInPandas(
        band_idx,
        schema=("image_id string, n_px long, sum_idx_micro long, "
                "min_idx_micro long, max_idx_micro long"),
    ).orderBy("image_id")


def _q95_sql() -> str:
    from .table import images as img_tab

    r, g, _b = img_tab.channels_sql("xs.g", "ys.g", decoded=True)
    idx = f"cast(floor(1000000.0 * ({g} - {r}) / ({g} + {r} + 1)) as bigint)"
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h
  FROM documents
),
px AS MATERIALIZED (
  SELECT doc_id, image_id, {idx} AS idx
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
)
SELECT image_id, cast(count(*) as bigint) AS n_px,
       cast(sum(idx) as bigint) AS sum_idx_micro,
       cast(min(idx) as bigint) AS min_idx_micro,
       cast(max(idx) as bigint) AS max_idx_micro
FROM px GROUP BY image_id ORDER BY image_id
"""


def _subset_images(spark: SparkSession, sf_dir: str, mod: int = 5,
                   rem: int = 3):
    """doc_id % mod = rem image subset (bounds pixel-level oracle joins
    only; the operators are subset-independent): distributed synthesis
    via one mapInPandas."""
    from .table.images import IMG_SCHEMA, gen_images_pdf

    _register_documents(spark, sf_dir)
    docs = spark.sql(
        f"SELECT doc_id, text FROM documents WHERE doc_id % {mod} = {rem}"
    ).repartition(spark.sparkContext.defaultParallelism)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield gen_images_pdf(pdf)

    return docs.mapInPandas(gen, schema=IMG_SCHEMA).select(
        "image_id", "bytes", "fmt")


def _focal_tiles(spark: SparkSession, sf_dir: str, halo: int = 1):
    """Shared focal-op input: the subset images split into a 16x16 luma
    tile relation with neighbor halo strips.  ``halo=2`` for the
    5x5-support kernels (q137 Harris, q138 NMS); image dims are
    multiples of 8, so every edge tile is >= 8 px and a 2-px halo never
    reaches past the adjacent tile."""
    from .raster import focal

    return focal.tile_rows(_subset_images(spark, sf_dir), tile=16,
                           with_halo=True, halo=halo)


def q98_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal map algebra: 3x3 edge-aware focal mean of the decoded luma,
    computed over a distributed tile relation via halo exchange — each
    16x16 tile ships only its 1-px edge strips to its neighbors, one
    shuffle on the tile key gathers tile+halo, a vectorized kernel pads
    and convolves (see `raster/focal.py`).  No node ever assembles a whole
    raster: at 100 TB the tiles ARE the table.  The doc_id % 5 subset
    bounds the 9-way oracle join; the operator itself is
    subset-independent.  (Reference ships per-tile merge/resize only —
    `RasterTileResizeSparkRunner.java` — no focal op; this is the
    slope/hillshade/smoothing gap.)"""
    from .raster import focal

    return focal.focal_mean_stats(_focal_tiles(spark, sf_dir), halo_included=True) \
        .orderBy("image_id", "ty", "tx")


def q103_focal_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal Sobel gradient magnitude |gx|+|gy| (slope / edge strength)
    over the same halo-exchange tile harness as q98 — integer-exact
    weighted kernel, border pixels (incomplete 3x3 neighborhood)
    excluded rather than zero-padded."""
    from .raster import focal

    return focal.focal_sobel_stats(_focal_tiles(spark, sf_dir), halo_included=True) \
        .orderBy("image_id", "ty", "tx")


def q121_focal_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hillshade (terrain illumination, fixed NW rational sun vector) over
    the halo-exchange tile harness — trig-free Horn normals so the DuckDB
    twin is bit-identical (see `focal.focal_hillshade_stats`)."""
    from .raster import focal

    return focal.focal_hillshade_stats(
        _focal_tiles(spark, sf_dir), halo_included=True
    ).orderBy("image_id", "ty", "tx")


def _q121_sql() -> str:
    from .table import images as img_tab

    luma = img_tab.luma_sql("xs.g", "ys.g", decoded=True)
    weights = ", ".join(
        f"({dx}, {dy}, {wx}, {wy})"
        for dx, dy, wx, wy in [
            (-1, -1, -1, -1), (-1, 0, -2, 0), (-1, 1, -1, 1),
            (0, -1, 0, -2), (0, 1, 0, 2),
            (1, -1, 1, -1), (1, 0, 2, 0), (1, 1, 1, 1),
        ])
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h
  FROM documents WHERE doc_id % 5 = 3
),
px AS MATERIALIZED (
  SELECT doc_id, image_id, w, h, xs.g AS x, ys.g AS y, {luma} AS v
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
),
o(dx, dy, wx, wy) AS (VALUES {weights}),
g AS MATERIALIZED (
  SELECT p.image_id, p.x, p.y,
         cast(sum(q.v * o.wx) as bigint) AS gx,
         cast(sum(q.v * o.wy) as bigint) AS gy
  FROM px p
  CROSS JOIN o
  JOIN px q ON q.doc_id = p.doc_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
  GROUP BY 1, 2, 3
),
f AS (
  SELECT image_id, x, y,
         cast(floor(1000e0 * (gx + gy + 16)
              / sqrt(cast(gx * gx + gy * gy + 64 as double))) as bigint) AS shade
  FROM g
)
SELECT image_id, cast(y // 16 as int) AS ty, cast(x // 16 as int) AS tx,
       cast(count(*) as bigint) AS n_px, cast(sum(shade) as bigint) AS sum_f,
       cast(min(shade) as bigint) AS min_f, cast(max(shade) as bigint) AS max_f
FROM f GROUP BY 1, 2, 3 ORDER BY image_id, ty, tx
"""


def q132_flow_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow direction over the halo-exchange tile harness (luma as
    elevation): per-tile stats of the drain-direction codes — the
    hydrology primitive (flow direction → accumulation → watershed) the
    reference's raster layer stops short of.  See
    `focal.focal_flow_direction_stats`."""
    from .raster import focal

    return focal.focal_flow_direction_stats(
        _focal_tiles(spark, sf_dir), halo_included=True
    ).orderBy("image_id", "ty", "tx")


def q137_harris_corners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harris corner response (integer-exact, rational k = 1/16) over the
    halo-exchange tile harness — the interest-point detector image
    pipelines run before geometric dedup/registration.  5x5 support
    (gradients at the core's 1-px ring feed the 3x3 structure tensor), so
    the exchange ships 2-px strips; see `focal.focal_harris_stats`."""
    from .raster import focal

    return focal.focal_harris_stats(
        _focal_tiles(spark, sf_dir, halo=2), halo_included=True
    ).orderBy("image_id", "ty", "tx")


def q138_edge_thinning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canny-style non-maximum suppression (edge thinning) over the
    halo-exchange tile harness: per-pixel |gx|+|gy| survives only where
    it beats both neighbors along the RATIONALLY quantized gradient
    direction (no atan2 — the DuckDB twin quantizes identically); see
    `focal.focal_nms_stats`."""
    from .raster import focal

    return focal.focal_nms_stats(
        _focal_tiles(spark, sf_dir, halo=2), halo_included=True
    ).orderBy("image_id", "ty", "tx")


def q139_morph_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morphological gradient (3x3 dilation − erosion) over the
    halo-exchange tile harness — the boundary-strength op of mathematical
    morphology (edge-aware min/max range over in-image neighbors); see
    `focal.focal_morph_gradient_stats`."""
    from .raster import focal

    return focal.focal_morph_gradient_stats(
        _focal_tiles(spark, sf_dir), halo_included=True
    ).orderBy("image_id", "ty", "tx")


def q140_lbp_texture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Binary Pattern texture codes over the halo-exchange tile
    harness — bit i set where the i-th 3x3 neighbor (fixed E..NE order)
    >= the center; per-tile code stats; see `focal.focal_lbp_stats`."""
    from .raster import focal

    return focal.focal_lbp_stats(
        _focal_tiles(spark, sf_dir), halo_included=True
    ).orderBy("image_id", "ty", "tx")


def q146_patch_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping training-patch grid (16x16 windows at stride 8 — the
    ML patch-sampling op; patches OVERLAP, unlike the disjoint tile
    relation) with per-patch integer stats.  Zero shuffles — numpy
    sliding windows inside one mapInPandas
    (`multimodal/image_ops.patch_stats_df`); the oracle derives the same
    patches with a pixel×patch-origin range join.  doc_id % 5 = 3 subset
    (bounds the oracle join only)."""
    from .multimodal.image_ops import patch_stats_df

    img = _subset_images(spark, sf_dir)
    return patch_stats_df(img).orderBy("image_id", "py", "px")


def _q146_sql() -> str:
    from .multimodal.image_ops import PATCH, PATCH_STRIDE

    return f"""
WITH {_px_cte_sql()},
po AS (
  SELECT image_id, gy.g AS py, gx.g AS px
  FROM (SELECT DISTINCT image_id, w, h FROM px) d,
       LATERAL (SELECT unnest(generate_series(0, (h - {PATCH}) // {PATCH_STRIDE})) AS g) gy,
       LATERAL (SELECT unnest(generate_series(0, (w - {PATCH}) // {PATCH_STRIDE})) AS g) gx
)
SELECT p.image_id, cast(o.py as int) AS py, cast(o.px as int) AS px,
       cast(count(*) as bigint) AS n_px,
       cast(sum(p.v) as bigint) AS sum_v,
       cast(min(p.v) as bigint) AS min_v,
       cast(max(p.v) as bigint) AS max_v
FROM po o JOIN px p
  ON p.image_id = o.image_id
 AND p.x >= o.px * {PATCH_STRIDE} AND p.x < o.px * {PATCH_STRIDE} + {PATCH}
 AND p.y >= o.py * {PATCH_STRIDE} AND p.y < o.py * {PATCH_STRIDE} + {PATCH}
GROUP BY 1, 2, 3
ORDER BY p.image_id, py, px
"""


def q174_hog_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global gradient-orientation histogram per image (HOG-lite; the
    appearance descriptor computed before geometric matching — Harris
    q137 finds WHERE, this summarizes WHICH WAY).  doc_id % 5 = 3 subset
    (bounds the oracle's 8-way gradient join only); engine is whole-
    image numpy in one mapInPandas (`image_ops.hog_lite_df`), zero
    shuffles."""
    from .multimodal.image_ops import hog_lite_df

    img = _subset_images(spark, sf_dir)
    return hog_lite_df(img).orderBy("image_id", "sector")


def _q174_sql() -> str:
    return f"""
WITH {_grad_cte_sql()},
s AS (
  SELECT image_id, abs(gx) + abs(gy) AS mag,
         CASE
           WHEN 5 * abs(gy) <= 2 * abs(gx) THEN
                CASE WHEN gx > 0 THEN 0 ELSE 4 END
           WHEN 5 * abs(gx) <= 2 * abs(gy) THEN
                CASE WHEN gy > 0 THEN 2 ELSE 6 END
           WHEN gx > 0 AND gy > 0 THEN 1
           WHEN gx < 0 AND gy > 0 THEN 3
           WHEN gx < 0 AND gy < 0 THEN 5
           ELSE 7
         END AS sector
  FROM g WHERE abs(gx) + abs(gy) > 0
)
SELECT image_id, cast(sector as int) AS sector,
       cast(count(*) as bigint) AS n_px,
       cast(sum(mag) as bigint) AS sum_mag
FROM s GROUP BY 1, 2 ORDER BY image_id, sector
"""


def q175_tile_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local complexity map: distinct luma values + value range per 16x16
    tile (the texture-richness screen a curation pipeline uses to drop
    flat/synthetic regions before training).  The tile relation rows are
    independent, so the whole op is one mapInPandas over tile rows —
    zero shuffles, zero joins."""
    import pandas as pd

    from .raster import focal

    core = focal.tile_rows(_subset_images(spark, sf_dir), tile=16,
                           with_halo=False)

    def stats(batches):
        import numpy as np

        for pdf in batches:
            rows = []
            for iid, ty, tx, th, tw, data in zip(
                    pdf["image_id"], pdf["ty"], pdf["tx"],
                    pdf["th"], pdf["tw"], pdf["data"]):
                blk = np.frombuffer(data, dtype=np.uint8)
                rows.append((iid, int(ty), int(tx), int(th) * int(tw),
                             int(len(np.unique(blk))),
                             int(blk.max()) - int(blk.min())))
            yield pd.DataFrame(rows, columns=[
                "image_id", "ty", "tx", "n_px", "n_distinct", "v_range"])

    return core.mapInPandas(
        stats,
        schema="image_id string, ty int, tx int, n_px long, "
               "n_distinct long, v_range long",
    ).orderBy("image_id", "ty", "tx")


def _q175_sql() -> str:
    return f"""
WITH {_px_cte_sql()}
SELECT image_id, cast(y // 16 as int) AS ty, cast(x // 16 as int) AS tx,
       cast(count(*) as bigint) AS n_px,
       cast(count(DISTINCT v) as bigint) AS n_distinct,
       cast(max(v) - min(v) as bigint) AS v_range
FROM px GROUP BY 1, 2, 3 ORDER BY image_id, ty, tx
"""


def q183_footprint_iou(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise IoU of overlapping image footprints — THE detection /
    scene-dedup overlap metric (q101 answers how much two rects share;
    IoU normalizes it for thresholding).  Engine: the q101 distributed
    cover overlay join run SELF-ways (both sides the image footprint
    table), aid < bid dedup, then IoU derived ONLY from already-floored
    integer areas (inter * 1e6 // (aA + aB - inter)) so the ratio is
    engine-exact despite the float geometry underneath."""
    from pyspark.sql import functions as F  # noqa: N812

    from .join import spatial
    from .table import images as images_mod
    from .table.views import register_views

    register_views(spark, sf_dir)
    fps = spark.sql(
        f"SELECT doc_id AS fid, lon0, lat0, lon1, lat1, "
        f"cast(floor(1000000.0 * (lon1 - lon0) * (lat1 - lat0)) as bigint) "
        f"AS area_micro "
        f"FROM ({images_mod.images_base_sql()})")
    pairs = spatial.rect_overlay_join(
        spark, fps.selectExpr("fid AS bid", "lon0", "lat0", "lon1", "lat1"),
        fps.selectExpr("fid AS aid", "lon0", "lat0", "lon1", "lat1"),
        res=7, aid_col="bid", bid_col="aid",
    ).filter("aid < bid")
    a = fps.selectExpr("fid AS aid", "area_micro AS a_area")
    b = fps.selectExpr("fid AS bid", "area_micro AS b_area")
    return (
        pairs.join(F.broadcast(a), "aid").join(F.broadcast(b), "bid")
        .selectExpr(
            "aid", "bid", "area_micro AS inter_micro",
            "cast(area_micro * 1000000 div "
            "(a_area + b_area - area_micro) as bigint) AS iou_micro")
        .orderBy("aid", "bid")
    )


def _q183_sql() -> str:
    from .table import images as images_mod

    inter = ("cast(floor(1000000.0 * (least(a.lon1, b.lon1) - greatest(a.lon0, b.lon0))"
             " * (least(a.lat1, b.lat1) - greatest(a.lat0, b.lat0))) as bigint)")
    area = "cast(floor(1000000.0 * (lon1 - lon0) * (lat1 - lat0)) as bigint)"
    return f"""
WITH f AS (
  SELECT doc_id AS fid, lon0, lat0, lon1, lat1, {area} AS area_micro
  FROM ({images_mod.images_base_sql()})
)
SELECT a.fid AS aid, b.fid AS bid, {inter} AS inter_micro,
       cast({inter} * 1000000 //
            (a.area_micro + b.area_micro - {inter}) as bigint) AS iou_micro
FROM f a JOIN f b
  ON a.lon0 < b.lon1 AND b.lon0 < a.lon1
 AND a.lat0 < b.lat1 AND b.lat0 < a.lat1
 AND a.fid < b.fid
ORDER BY aid, bid
"""


def _px_cte_sql() -> str:
    """Shared oracle prefix: decoded-luma pixel relation
    px(doc_id, image_id, w, h, x, y, v) for the doc_id % 5 = 3 subset."""
    from .table import images as img_tab

    luma = img_tab.luma_sql("xs.g", "ys.g", decoded=True)
    return f"""base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h
  FROM documents WHERE doc_id % 5 = 3
),
px AS MATERIALIZED (
  SELECT doc_id, image_id, w, h, xs.g AS x, ys.g AS y, {luma} AS v
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
)"""


def _q139_sql() -> str:
    n9 = ", ".join(f"({dx}, {dy})" for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return f"""
WITH {_px_cte_sql()},
o(dx, dy) AS (VALUES {n9}),
f AS (
  SELECT p.image_id, p.x, p.y,
         cast(max(q.v) - min(q.v) as bigint) AS f
  FROM px p
  CROSS JOIN o
  JOIN px q ON q.doc_id = p.doc_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  GROUP BY 1, 2, 3
)
{_TILE_ROLLUP_SQL}"""


def _q140_sql() -> str:
    from .raster.focal import _LBP_ORDER

    nbrs = ", ".join(f"({dx}, {dy}, {1 << i})"
                     for i, (dy, dx) in enumerate(_LBP_ORDER))
    return f"""
WITH {_px_cte_sql()},
o(dx, dy, wt) AS (VALUES {nbrs}),
f AS (
  SELECT p.image_id, p.x, p.y,
         cast(sum(CASE WHEN q.v >= p.v THEN o.wt ELSE 0 END) as bigint) AS f
  FROM px p
  CROSS JOIN o
  JOIN px q ON q.doc_id = p.doc_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
  GROUP BY 1, 2, 3
)
{_TILE_ROLLUP_SQL}"""


def _grad_cte_sql() -> str:
    """Shared q137/q138 oracle prefix: decoded-luma pixels -> per-pixel
    Sobel gradients g(doc_id, image_id, w, h, x, y, gx, gy) for every
    pixel with a full in-image 3x3 (x in [1, w-2], y in [1, h-2])."""
    weights = ", ".join(
        f"({dx}, {dy}, {wx}, {wy})"
        for dx, dy, wx, wy in [
            (-1, -1, -1, -1), (-1, 0, -2, 0), (-1, 1, -1, 1),
            (0, -1, 0, -2), (0, 1, 0, 2),
            (1, -1, 1, -1), (1, 0, 2, 0), (1, 1, 1, 1),
        ])
    return f"""{_px_cte_sql()},
o(dx, dy, wx, wy) AS (VALUES {weights}),
g AS MATERIALIZED (
  SELECT p.doc_id, p.image_id, p.w, p.h, p.x, p.y,
         cast(sum(q.v * o.wx) as bigint) AS gx,
         cast(sum(q.v * o.wy) as bigint) AS gy
  FROM px p
  CROSS JOIN o
  JOIN px q ON q.doc_id = p.doc_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
  GROUP BY 1, 2, 3, 4, 5, 6
)"""


_TILE_ROLLUP_SQL = """
SELECT image_id, cast(y // 16 as int) AS ty, cast(x // 16 as int) AS tx,
       cast(count(*) as bigint) AS n_px, cast(sum(f) as bigint) AS sum_f,
       cast(min(f) as bigint) AS min_f, cast(max(f) as bigint) AS max_f
FROM f GROUP BY 1, 2, 3 ORDER BY image_id, ty, tx
"""


def _q137_sql() -> str:
    n9 = ", ".join(f"({dx}, {dy})" for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return f"""
WITH {_grad_cte_sql()},
n9(dx, dy) AS (VALUES {n9}),
s AS (
  SELECT p.image_id, p.x, p.y,
         cast(sum(q.gx * q.gx) as bigint) AS sxx,
         cast(sum(q.gy * q.gy) as bigint) AS syy,
         cast(sum(q.gx * q.gy) as bigint) AS sxy
  FROM g p
  CROSS JOIN n9
  JOIN g q ON q.doc_id = p.doc_id
          AND q.x = p.x + n9.dx AND q.y = p.y + n9.dy
  WHERE p.x >= 2 AND p.x <= p.w - 3 AND p.y >= 2 AND p.y <= p.h - 3
  GROUP BY 1, 2, 3
),
f AS (
  SELECT image_id, x, y,
         16 * (sxx * syy - sxy * sxy) - (sxx + syy) * (sxx + syy) AS f
  FROM s
)
{_TILE_ROLLUP_SQL}"""


def _q138_sql() -> str:
    return f"""
WITH {_grad_cte_sql()},
f0 AS MATERIALIZED (
  SELECT doc_id, image_id, w, h, x, y, abs(gx) + abs(gy) AS mag,
         CASE WHEN 5 * abs(gy) <= 2 * abs(gx) THEN 1
              WHEN 5 * abs(gx) <= 2 * abs(gy) THEN 0
              ELSE 1 END AS ndx,
         CASE WHEN 5 * abs(gy) <= 2 * abs(gx) THEN 0
              WHEN 5 * abs(gx) <= 2 * abs(gy) THEN 1
              WHEN (gx > 0) = (gy > 0) THEN 1 ELSE -1 END AS ndy
  FROM g
),
f AS (
  SELECT p.image_id, p.x, p.y,
         CASE WHEN p.mag > n1.mag AND p.mag >= n2.mag
              THEN p.mag ELSE 0 END AS f
  FROM f0 p
  JOIN f0 n1 ON n1.doc_id = p.doc_id
            AND n1.x = p.x + p.ndx AND n1.y = p.y + p.ndy
  JOIN f0 n2 ON n2.doc_id = p.doc_id
            AND n2.x = p.x - p.ndx AND n2.y = p.y - p.ndy
  WHERE p.x >= 2 AND p.x <= p.w - 3 AND p.y >= 2 AND p.y <= p.h - 3
)
{_TILE_ROLLUP_SQL}"""


def _q132_sql() -> str:
    from .table import images as img_tab

    luma = img_tab.luma_sql("xs.g", "ys.g", decoded=True)
    codes = ", ".join(f"({dx}, {dy}, {code})"
                      for (dy, dx), code in [
                          ((0, 1), 1), ((1, 1), 2), ((1, 0), 3), ((1, -1), 4),
                          ((0, -1), 5), ((-1, -1), 6), ((-1, 0), 7), ((-1, 1), 8),
                      ])
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h
  FROM documents WHERE doc_id % 5 = 3
),
px AS MATERIALIZED (
  SELECT doc_id, image_id, w, h, xs.g AS x, ys.g AS y, {luma} AS v
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
),
o(dx, dy, code) AS (VALUES {codes}),
e AS (
  SELECT p.image_id, p.x, p.y,
         min((q.v - p.v + 256) * 16 + o.code) AS enc
  FROM px p
  CROSS JOIN o
  JOIN px q ON q.doc_id = p.doc_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
  GROUP BY 1, 2, 3
),
f AS (
  SELECT image_id, x, y,
         CASE WHEN enc // 16 - 256 < 0 THEN enc % 16 ELSE 0 END AS code
  FROM e
)
SELECT image_id, cast(y // 16 as int) AS ty, cast(x // 16 as int) AS tx,
       cast(count(*) as bigint) AS n_px, cast(sum(code) as bigint) AS sum_f,
       cast(min(code) as bigint) AS min_f, cast(max(code) as bigint) AS max_f
FROM f GROUP BY 1, 2, 3 ORDER BY image_id, ty, tx
"""


def q104_contour_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares contour segment counts per tile (the local step of
    raster -> vector isoline extraction) on the halo-exchange harness —
    2x2 blocks straddling tile edges read the exchanged halo.  Threshold
    128 on decoded luma."""
    from .raster import focal

    return focal.focal_contour_stats(_focal_tiles(spark, sf_dir), halo_included=True) \
        .orderBy("image_id", "ty", "tx")


def _q104_sql() -> str:
    from .table import images as img_tab

    def bit(x: str, y: str) -> str:
        return f"(CASE WHEN {img_tab.luma_sql(x, y, decoded=True)} >= 128 THEN 1 ELSE 0 END)"

    cfg = (f"({bit('xs.g', 'ys.g')} + 2 * {bit('(xs.g + 1)', 'ys.g')}"
           f" + 4 * {bit('xs.g', '(ys.g + 1)')}"
           f" + 8 * {bit('(xs.g + 1)', '(ys.g + 1)')})")
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h
  FROM documents WHERE doc_id % 5 = 3
),
blk AS (
  SELECT image_id, xs.g AS x, ys.g AS y,
         CASE WHEN {cfg} IN (0, 15) THEN 0
              WHEN {cfg} IN (6, 9) THEN 2 ELSE 1 END AS segs
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, w - 2)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 2)) AS g) ys
)
SELECT image_id, cast(y // 16 as int) AS ty, cast(x // 16 as int) AS tx,
       cast(count(*) as bigint) AS n_px, cast(sum(segs) as bigint) AS sum_f,
       cast(min(segs) as bigint) AS min_f, cast(max(segs) as bigint) AS max_f
FROM blk GROUP BY 1, 2, 3 ORDER BY image_id, ty, tx
"""


def _q103_sql() -> str:
    from .table import images as img_tab

    luma = img_tab.luma_sql("xs.g", "ys.g", decoded=True)
    weights = ", ".join(
        f"({dx}, {dy}, {wx}, {wy})"
        for dx, dy, wx, wy in [
            (-1, -1, -1, -1), (-1, 0, -2, 0), (-1, 1, -1, 1),
            (0, -1, 0, -2), (0, 1, 0, 2),
            (1, -1, 1, -1), (1, 0, 2, 0), (1, 1, 1, 1),
        ])
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h
  FROM documents WHERE doc_id % 5 = 3
),
px AS MATERIALIZED (
  SELECT doc_id, image_id, w, h, xs.g AS x, ys.g AS y, {luma} AS v
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
),
o(dx, dy, wx, wy) AS (VALUES {weights}),
f AS (
  SELECT p.image_id, p.x, p.y,
         abs(cast(sum(q.v * o.wx) as bigint))
         + abs(cast(sum(q.v * o.wy) as bigint)) AS mag
  FROM px p
  CROSS JOIN o
  JOIN px q ON q.doc_id = p.doc_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
  GROUP BY 1, 2, 3
)
SELECT image_id, cast(y // 16 as int) AS ty, cast(x // 16 as int) AS tx,
       cast(count(*) as bigint) AS n_px, cast(sum(mag) as bigint) AS sum_f,
       cast(min(mag) as bigint) AS min_f, cast(max(mag) as bigint) AS max_f
FROM f GROUP BY 1, 2, 3 ORDER BY image_id, ty, tx
"""


def _q98_sql() -> str:
    from .table import images as img_tab

    luma = img_tab.luma_sql("xs.g", "ys.g", decoded=True)
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h
  FROM documents WHERE doc_id % 5 = 3
),
px AS MATERIALIZED (
  SELECT doc_id, image_id, xs.g AS x, ys.g AS y, {luma} AS v
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
),
o AS (
  SELECT dxs.g AS dx, dys.g AS dy
  FROM (SELECT unnest(generate_series(-1, 1)) AS g) dxs,
       (SELECT unnest(generate_series(-1, 1)) AS g) dys
),
f AS (
  SELECT p.image_id, p.x, p.y,
         cast(sum(q.v) as bigint) // cast(count(*) as bigint) AS fv
  FROM px p
  CROSS JOIN o
  JOIN px q ON q.doc_id = p.doc_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  GROUP BY 1, 2, 3
)
SELECT image_id, cast(y // 16 as int) AS ty, cast(x // 16 as int) AS tx,
       cast(count(*) as bigint) AS n_px, cast(sum(fv) as bigint) AS sum_f,
       cast(min(fv) as bigint) AS min_f, cast(max(fv) as bigint) AS max_f
FROM f GROUP BY 1, 2, 3 ORDER BY image_id, ty, tx
"""


# ------------------------------------------------------------------ q108
# fixed global analysis lattice for the warp: 8 px/degree, 8x8-px tiles
_WARP_G = 8.0
_WARP_T = 8


def q108_raster_warp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster reprojection (warp): resample every image from its own pixel
    grid onto a FIXED global lon/lat analysis lattice (8 px/degree) by
    nearest-neighbor inverse mapping — the re-gridding step before
    mosaicking overlapping scenes (reference analog: the resample/merge
    path `RasterDataAdapter.java:444-550` + `RasterTileResizeSparkRunner
    .java`, which re-cuts tiles but only within one grid; warping BETWEEN
    grids is the gap).

    Scale shape: per-image independent, so ONE narrow mapInPandas (decode
    + vectorized inverse map per image, per-target-tile scalars out —
    pixels never shuffle), then only the presentation sort (the q95/q87
    pattern).  The inverse mapping is pure rational double arithmetic
    (+,-,*,/ and floor only, NO trig), written in the exact operation
    order of the oracle SQL, so IEEE determinism makes the DuckDB twin
    bit-identical; decoded luma floors the q6 lossy codec the same way
    q95 does.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .raster import codec
    from .table.images import IMG_SCHEMA, gen_images_pdf, gray

    _register_documents(spark, sf_dir)
    docs = spark.sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 7 = 1"
    ).repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield gen_images_pdf(pdf)

    img = docs.mapInPandas(gen, schema=IMG_SCHEMA).select(
        "image_id", "bytes", "fmt", "w", "h", "lon0", "lat0", "lon1", "lat1")

    G, T = _WARP_G, _WARP_T

    def warp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for iid, bts, fmt, w, h, lon0, lat0, lon1, lat1 in zip(
                    pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["w"],
                    pdf["h"], pdf["lon0"], pdf["lat0"], pdf["lon1"],
                    pdf["lat1"]):
                w, h = int(w), int(h)
                luma = gray(codec.decode(bts, fmt))
                # target-pixel window whose CENTERS fall inside the footprint
                x0 = int(np.ceil((lon0 + 180.0) * G - 0.5))
                x1 = int(np.ceil((lon1 + 180.0) * G - 0.5)) - 1
                y0 = int(np.ceil((lat0 + 90.0) * G - 0.5))
                y1 = int(np.ceil((lat1 + 90.0) * G - 0.5)) - 1
                if x1 < x0 or y1 < y0:
                    continue
                tx = np.arange(x0, x1 + 1, dtype=np.float64)
                ty = np.arange(y0, y1 + 1, dtype=np.float64)
                # EXACT oracle op order: ((X+0.5)/G - 180 - lon0) * w / span
                ix = np.floor(((tx + 0.5) / G - 180.0 - lon0) * w
                              / (lon1 - lon0)).astype(np.int64)
                iy = np.floor(((ty + 0.5) / G - 90.0 - lat0) * h
                              / (lat1 - lat0)).astype(np.int64)
                ix = np.clip(ix, 0, w - 1)   # ulp guard at the far edge
                iy = np.clip(iy, 0, h - 1)
                vals = luma[np.ix_(iy, ix)]
                tys = np.arange(y0, y1 + 1, dtype=np.int64) // T
                txs = np.arange(x0, x1 + 1, dtype=np.int64) // T
                for tty in np.unique(tys):
                    rmask = tys == tty
                    for ttx in np.unique(txs):
                        blk = vals[np.ix_(rmask, txs == ttx)]
                        out.append((iid, int(tty), int(ttx), int(blk.size),
                                    int(blk.sum()), int(blk.min()),
                                    int(blk.max())))
            if out:
                yield pd.DataFrame(out, columns=[
                    "image_id", "tty", "ttx", "n_px", "sum_luma",
                    "min_luma", "max_luma"])

    return img.mapInPandas(
        warp,
        schema=("image_id string, tty long, ttx long, n_px long, "
                "sum_luma long, min_luma long, max_luma long"),
    ).orderBy("image_id", "tty", "ttx")


def _q108_sql() -> str:
    from .table import images as img_tab

    fp = img_tab.footprint_sql()
    luma = img_tab.luma_sql("px.ix", "px.iy", decoded=True)
    g, t = _WARP_G, _WARP_T
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h,
         {fp['lon0']} AS lon0, {fp['lat0']} AS lat0,
         {fp['lon1']} AS lon1, {fp['lat1']} AS lat1
  FROM documents WHERE doc_id % 7 = 1
),
win AS (
  SELECT *,
         cast(ceil((lon0 + 180e0) * {g} - 0.5e0) as bigint) AS x0,
         cast(ceil((lon1 + 180e0) * {g} - 0.5e0) as bigint) - 1 AS x1,
         cast(ceil((lat0 + 90e0) * {g} - 0.5e0) as bigint) AS y0,
         cast(ceil((lat1 + 90e0) * {g} - 0.5e0) as bigint) - 1 AS y1
  FROM base
),
px AS MATERIALIZED (
  SELECT doc_id, image_id, ys.g // {t} AS tty, xs.g // {t} AS ttx,
         least(greatest(cast(floor(((xs.g + 0.5e0) / {g} - 180e0 - lon0)
               * w / (lon1 - lon0)) as bigint), 0), w - 1) AS ix,
         least(greatest(cast(floor(((ys.g + 0.5e0) / {g} - 90e0 - lat0)
               * h / (lat1 - lat0)) as bigint), 0), h - 1) AS iy
  FROM win,
       LATERAL (SELECT unnest(generate_series(x0, x1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(y0, y1)) AS g) ys
)
SELECT image_id, tty, ttx,
       cast(count(*) as bigint) AS n_px,
       cast(sum({luma}) as bigint) AS sum_luma,
       cast(min({luma}) as bigint) AS min_luma,
       cast(max({luma}) as bigint) AS max_luma
FROM px GROUP BY image_id, tty, ttx
ORDER BY image_id, tty, ttx
"""


# ----------------------------------------------------------------- q114
# composite lattice: 2 px/degree so scene footprints actually overlap
# (42% of covered cells see >= 2 scenes at sf0.01), 8x8-px tiles
_COMP_G = 2.0
_COMP_T = 8


def q114_temporal_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-value composite (MVC) across overlapping scenes — the
    classic EO time-series compositing operator (Holben 1986: per-pixel
    max over all scenes covering a lattice cell, e.g. cloud-free NDVI
    composites).  The reference merges tiles only within one coverage
    (`RasterTileMergeStrategy`, `NoDataMergeStrategy` in
    /root/reference/extensions/adapters/raster); compositing ACROSS
    scenes on a common lattice is the companion gap, and reuses q108's
    warp arithmetic to get every scene onto that lattice first.

    Scale shape: warp is per-scene narrow (mapInPandas decode + inverse
    map, identical double op order to the oracle); the composite itself
    is the one inherent shuffle of this operator — per-LATTICE-pixel max
    + scene count, a keyed integer aggregate whose volume is lattice
    coverage x scene redundancy, NOT raw pixels (the warp already
    collapsed each scene to its covered lattice cells).  The tile rollup
    reuses the aggregate's hash partitioning."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from .raster import codec
    from .table.images import IMG_SCHEMA, gen_images_pdf, gray

    _register_documents(spark, sf_dir)
    docs = spark.sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1"
    ).repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield gen_images_pdf(pdf)

    img = docs.mapInPandas(gen, schema=IMG_SCHEMA).select(
        "image_id", "bytes", "fmt", "w", "h", "lon0", "lat0", "lon1", "lat1")

    G = _COMP_G

    def warp_px(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            gxs: list[np.ndarray] = []
            gys: list[np.ndarray] = []
            vs: list[np.ndarray] = []
            for bts, fmt, w, h, lon0, lat0, lon1, lat1 in zip(
                    pdf["bytes"], pdf["fmt"], pdf["w"], pdf["h"],
                    pdf["lon0"], pdf["lat0"], pdf["lon1"], pdf["lat1"]):
                w, h = int(w), int(h)
                luma = gray(codec.decode(bts, fmt))
                x0 = int(np.ceil((lon0 + 180.0) * G - 0.5))
                x1 = int(np.ceil((lon1 + 180.0) * G - 0.5)) - 1
                y0 = int(np.ceil((lat0 + 90.0) * G - 0.5))
                y1 = int(np.ceil((lat1 + 90.0) * G - 0.5)) - 1
                if x1 < x0 or y1 < y0:
                    continue
                tx = np.arange(x0, x1 + 1, dtype=np.float64)
                ty = np.arange(y0, y1 + 1, dtype=np.float64)
                # EXACT oracle op order (q108's inverse mapping)
                ix = np.floor(((tx + 0.5) / G - 180.0 - lon0) * w
                              / (lon1 - lon0)).astype(np.int64)
                iy = np.floor(((ty + 0.5) / G - 90.0 - lat0) * h
                              / (lat1 - lat0)).astype(np.int64)
                ix = np.clip(ix, 0, w - 1)
                iy = np.clip(iy, 0, h - 1)
                vals = luma[np.ix_(iy, ix)]
                gx, gy = np.meshgrid(np.arange(x0, x1 + 1, dtype=np.int64),
                                     np.arange(y0, y1 + 1, dtype=np.int64))
                gxs.append(gx.ravel())
                gys.append(gy.ravel())
                vs.append(vals.ravel().astype(np.int64))
            if gxs:
                yield pd.DataFrame({
                    "gx": np.concatenate(gxs),
                    "gy": np.concatenate(gys),
                    "luma": np.concatenate(vs),
                })

    px = img.mapInPandas(warp_px, schema="gx long, gy long, luma long")
    comp = px.groupBy("gx", "gy").agg(
        F.max("luma").alias("comp_luma"),
        F.count(F.lit(1)).alias("n_scenes"),
    )
    T = _COMP_T
    return (
        comp.groupBy(
            # floor tile index via pmod (sign-safe; lattice coords are >= 0
            # for the global grid but the math must not depend on that)
            F.expr(f"(gy - pmod(gy, {T})) div {T}").alias("tty_k"),
            F.expr(f"(gx - pmod(gx, {T})) div {T}").alias("ttx_k"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_px"),
            F.sum(F.expr("case when n_scenes >= 2 then 1 else 0 end"))
             .alias("n_multi"),
            F.sum("comp_luma").alias("sum_comp_luma"),
            F.max("comp_luma").alias("max_comp_luma"),
        )
        .select(
            F.col("tty_k").cast("long").alias("tty"),
            F.col("ttx_k").cast("long").alias("ttx"),
            F.col("n_px").cast("long"),
            F.col("n_multi").cast("long"),
            F.col("sum_comp_luma").cast("long"),
            F.col("max_comp_luma").cast("long"),
        )
        .orderBy("tty", "ttx")
    )


def _q114_sql() -> str:
    from .table import images as img_tab

    fp = img_tab.footprint_sql()
    luma = img_tab.luma_sql("px.ix", "px.iy", decoded=True)
    g, t = _COMP_G, _COMP_T
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h,
         {fp['lon0']} AS lon0, {fp['lat0']} AS lat0,
         {fp['lon1']} AS lon1, {fp['lat1']} AS lat1
  FROM documents WHERE doc_id % 2 = 1
),
win AS (
  SELECT *,
         cast(ceil((lon0 + 180e0) * {g} - 0.5e0) as bigint) AS x0,
         cast(ceil((lon1 + 180e0) * {g} - 0.5e0) as bigint) - 1 AS x1,
         cast(ceil((lat0 + 90e0) * {g} - 0.5e0) as bigint) AS y0,
         cast(ceil((lat1 + 90e0) * {g} - 0.5e0) as bigint) - 1 AS y1
  FROM base
),
px AS MATERIALIZED (
  SELECT doc_id, xs.g AS gx, ys.g AS gy,
         least(greatest(cast(floor(((xs.g + 0.5e0) / {g} - 180e0 - lon0)
               * w / (lon1 - lon0)) as bigint), 0), w - 1) AS ix,
         least(greatest(cast(floor(((ys.g + 0.5e0) / {g} - 90e0 - lat0)
               * h / (lat1 - lat0)) as bigint), 0), h - 1) AS iy
  FROM win,
       LATERAL (SELECT unnest(generate_series(x0, x1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(y0, y1)) AS g) ys
),
comp AS (
  SELECT gx, gy, max({luma}) AS comp_luma, count(*) AS n_scenes
  FROM px GROUP BY gx, gy
)
SELECT cast(CASE WHEN gy >= 0 THEN gy // {t}
                 ELSE -((-gy + {t} - 1) // {t}) END as bigint) AS tty,
       cast(CASE WHEN gx >= 0 THEN gx // {t}
                 ELSE -((-gx + {t} - 1) // {t}) END as bigint) AS ttx,
       cast(count(*) as bigint) AS n_px,
       cast(sum(CASE WHEN n_scenes >= 2 THEN 1 ELSE 0 END) as bigint)
         AS n_multi,
       cast(sum(comp_luma) as bigint) AS sum_comp_luma,
       cast(max(comp_luma) as bigint) AS max_comp_luma
FROM comp GROUP BY 1, 2
ORDER BY tty, ttx
"""


def _dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared q189/q198 candidate harness: subset images self-joined on
    equal width with doc_id within 70 (the deterministic blocking rule —
    widths repeat every 35 ids inside the doc_id%5=3 subset); bytes of
    both sides travel to the pair's partition for the pixel compare."""
    from collections.abc import Iterator

    import pandas as pd

    from .table.images import IMG_SCHEMA, gen_images_pdf

    _register_documents(spark, sf_dir)
    docs = spark.sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 3"
    ).repartition(spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield gen_images_pdf(pdf)

    imgs = docs.mapInPandas(gen, schema=IMG_SCHEMA)
    a = imgs.select(
        F.expr("cast(substr(image_id, 4) as bigint)").alias("da"),
        F.col("image_id").alias("id1"), F.col("bytes").alias("b1"),
        F.col("fmt").alias("f1"), F.col("w").alias("w1"),
        F.col("h").alias("h1"))
    b = imgs.select(
        F.expr("cast(substr(image_id, 4) as bigint)").alias("db"),
        F.col("image_id").alias("id2"), F.col("bytes").alias("b2"),
        F.col("fmt").alias("f2"), F.col("w").alias("w2"),
        F.col("h").alias("h2"))
    return a.join(
        b, (F.col("w2") == F.col("w1")) & (F.col("db") > F.col("da"))
           & (F.col("db") - F.col("da") <= 70))


def q189_ssim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global SSIM (Wang et al. 2004) between candidate image pairs — the
    perceptual near-duplicate verifier that runs AFTER a hash blocking
    stage (q46 phash / q131 crop-robust / q151 rotation-canonical give
    candidates; SSIM scores them).  Candidates here: same width, doc_id
    within 70 (the synthesis makes same-width images repeat every 35 ids
    inside the doc_id%5=3 subset — a deterministic blocking rule both
    engines share); differing heights crop to the shared top rows, the
    video-frame-compare contract.

    Integer-exact end-to-end: luma sums/products are exact int64, the
    SSIM ratio is one fixed integer formula evaluated in arbitrary-
    precision Python on the engine side and HUGEINT in the DuckDB oracle
    (truncating division both sides; the 1e4-scaled C1=65025, C2=585225
    keep the standard stabilizers exact).  Scale shape: the pair join is an
    equi-join on width + a bounded id-range predicate, bytes travel only
    to their pair partition, and one mapInPandas emits 4 scalars per
    pair — no pixel ever shuffles alone.  Reference analog: the
    decoded-pixel comparisons of `RasterUtils`/merge ITs in
    /root/reference check tiles for equality; SSIM is the lossy-world
    generalization the north rule's PSNR invariant asks for."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .raster import codec

    pairs = _dup_pairs(spark, sf_dir)

    def ssim(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            i1, i2, npx, ssims = [], [], [], []
            for _, row in pdf.iterrows():
                pa = codec.decode(row["b1"], row["f1"]).astype(np.int64)
                pb = codec.decode(row["b2"], row["f2"]).astype(np.int64)
                hh = min(pa.shape[0], pb.shape[0])
                la = (pa[:hh, :, 0] * 299 + pa[:hh, :, 1] * 587
                      + pa[:hh, :, 2] * 114) // 1000
                lb = (pb[:hh, :, 0] * 299 + pb[:hh, :, 1] * 587
                      + pb[:hh, :, 2] * 114) // 1000
                n = int(la.size)
                sa, sb = int(la.sum()), int(lb.sum())
                saa, sbb = int((la * la).sum()), int((lb * lb).sum())
                sab = int((la * lb).sum())
                num = ((2 * sa * sb * 10000 + 65025 * n * n)
                       * (2 * (n * sab - sa * sb) * 10000 + 585225 * n * n))
                den = (((sa * sa + sb * sb) * 10000 + 65025 * n * n)
                       * ((n * saa - sa * sa + n * sbb - sb * sb) * 10000
                          + 585225 * n * n))
                # DuckDB's HUGEINT // TRUNCATES toward zero on negatives
                # (unlike Python's floor //) — emulate truncation exactly
                den = max(den // 1000000, 1)
                val = -((-num) // den) if num < 0 else num // den
                i1.append(row["id1"]); i2.append(row["id2"])
                npx.append(n); ssims.append(val)
            yield pd.DataFrame({
                "id1": pd.Series(i1, dtype="object"),
                "id2": pd.Series(i2, dtype="object"),
                "n_px": pd.Series(npx, dtype="int64"),
                "ssim_micro": pd.Series(ssims, dtype="int64"),
            })

    return pairs.mapInPandas(
        ssim, schema="id1 string, id2 string, n_px long, ssim_micro long"
    ).orderBy("id1", "id2")


def _q189_sql() -> str:
    la = images.luma_sql("xs.g", "ys.g", doc_id="da", decoded=True)
    lb = images.luma_sql("xs.g", "ys.g", doc_id="db", decoded=True)
    return f"""
WITH base AS (
  SELECT doc_id, {images.image_id_sql()} AS image_id,
         {images.w_sql()} AS w, {images.h_sql()} AS h
  FROM documents WHERE doc_id % 5 = 3
),
pr AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.image_id AS id1,
         b.image_id AS id2, a.w AS w, least(a.h, b.h) AS hh
  FROM base a JOIN base b
    ON b.w = a.w AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 70
),
px AS MATERIALIZED (
  SELECT id1, id2, {la} AS la, {lb} AS lb
  FROM pr, LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
           LATERAL (SELECT unnest(generate_series(0, hh - 1)) AS g) ys
),
s AS (
  SELECT id1, id2, cast(count(*) as hugeint) AS n,
         cast(sum(la) as hugeint) AS sa, cast(sum(lb) as hugeint) AS sb,
         cast(sum(la * la) as hugeint) AS saa,
         cast(sum(lb * lb) as hugeint) AS sbb,
         cast(sum(la * lb) as hugeint) AS sab
  FROM px GROUP BY id1, id2
)
SELECT id1, id2, cast(n as bigint) AS n_px,
       cast(((2 * sa * sb * 10000 + 65025 * n * n)
             * (2 * (n * sab - sa * sb) * 10000 + 585225 * n * n))
            // greatest((((sa * sa + sb * sb) * 10000 + 65025 * n * n)
                 * ((n * saa - sa * sa + n * sbb - sb * sb) * 10000
                    + 585225 * n * n)) // 1000000, 1)
            as bigint) AS ssim_micro
FROM s ORDER BY id1, id2
"""


def q191_grayworld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gray-world illuminant diagnostic (Buchsbaum 1980): per-image RGB
    channel sums from DECODED pixels plus the max/min channel-mean ratio
    in milli — the white-balance / color-cast screen a vision-data
    curation pipeline runs next to q79's quality ops and q95's band math.
    All-positive integers, so trunc == floor and both engines agree.

    Scale shape: identical to q95 — one narrow mapInPandas (decode +
    three vectorized channel sums per image, scalars out), pixels never
    shuffle.  Oracle recomputes the channel sums closed-form
    (`table/images.channels_sql`) without touching bytes."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .raster import codec
    from .table.images import images_df

    img = images_df(spark, sf_dir).select("image_id", "bytes", "fmt")

    def chans(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, npx, srs, sgs, sbs, casts = [], [], [], [], [], []
            for _, row in pdf.iterrows():
                px = codec.decode(row["bytes"], row["fmt"]).astype(np.int64)
                sr = int(px[:, :, 0].sum())
                sg = int(px[:, :, 1].sum())
                sb = int(px[:, :, 2].sum())
                ids.append(row["image_id"])
                npx.append(int(px.shape[0] * px.shape[1]))
                srs.append(sr); sgs.append(sg); sbs.append(sb)
                casts.append(max(sr, sg, sb) * 1000 // max(min(sr, sg, sb), 1))
            yield pd.DataFrame({
                "image_id": pd.Series(ids, dtype="object"),
                "n_px": pd.Series(npx, dtype="int64"),
                "sum_r": pd.Series(srs, dtype="int64"),
                "sum_g": pd.Series(sgs, dtype="int64"),
                "sum_b": pd.Series(sbs, dtype="int64"),
                "cast_milli": pd.Series(casts, dtype="int64"),
            })

    return img.mapInPandas(
        chans,
        schema=("image_id string, n_px long, sum_r long, sum_g long, "
                "sum_b long, cast_milli long"),
    ).orderBy("image_id")


def _q191_sql() -> str:
    r, g, b = images.channels_sql("xs.g", "ys.g", decoded=True)
    return f"""
WITH base AS (
  SELECT doc_id, {images.image_id_sql()} AS image_id,
         {images.w_sql()} AS w, {images.h_sql()} AS h
  FROM documents
),
px AS MATERIALIZED (
  SELECT image_id, {r} AS r, {g} AS g, {b} AS b
  FROM base, LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
             LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
),
s AS (
  SELECT image_id, cast(count(*) as bigint) AS n_px,
         cast(sum(r) as bigint) AS sum_r, cast(sum(g) as bigint) AS sum_g,
         cast(sum(b) as bigint) AS sum_b
  FROM px GROUP BY image_id
)
SELECT image_id, n_px, sum_r, sum_g, sum_b,
       cast((greatest(sum_r, sum_g, sum_b) * 1000)
            // greatest(least(sum_r, sum_g, sum_b), 1) as bigint) AS cast_milli
FROM s ORDER BY image_id
"""


def q198_psnr_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSNR duplicate verification over the q189 candidate pairs: per
    pair, integer luma MSE (milli) and a psnr40 flag — PSNR >= 40 dB iff
    MSE <= 255^2 * 10^-4, i.e. ssd * 100000 <= 650025 * n_px, an EXACT
    integer test (the north rule's "PSNR >= 40 dB for lossy formats"
    acceptance bar turned into a standing relational operator; reference
    analog: the decoded-tile equality checks in
    `test/.../RasterTileResizeIT` family in /root/reference, generalized
    to lossy tolerance).

    Scale shape: identical to q189 — blocked pair join, one mapInPandas,
    two scalars per pair."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .raster import codec

    pairs = _dup_pairs(spark, sf_dir)

    def mse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            i1, i2, npx, mses, flags = [], [], [], [], []
            for _, row in pdf.iterrows():
                pa = codec.decode(row["b1"], row["f1"]).astype(np.int64)
                pb = codec.decode(row["b2"], row["f2"]).astype(np.int64)
                hh = min(pa.shape[0], pb.shape[0])
                la = (pa[:hh, :, 0] * 299 + pa[:hh, :, 1] * 587
                      + pa[:hh, :, 2] * 114) // 1000
                lb = (pb[:hh, :, 0] * 299 + pb[:hh, :, 1] * 587
                      + pb[:hh, :, 2] * 114) // 1000
                n = int(la.size)
                dd = la - lb
                ssd = int((dd * dd).sum())
                i1.append(row["id1"]); i2.append(row["id2"])
                npx.append(n)
                mses.append(ssd * 1000 // n)
                flags.append(1 if ssd * 100000 <= 650025 * n else 0)
            yield pd.DataFrame({
                "id1": pd.Series(i1, dtype="object"),
                "id2": pd.Series(i2, dtype="object"),
                "n_px": pd.Series(npx, dtype="int64"),
                "mse_milli": pd.Series(mses, dtype="int64"),
                "psnr40": pd.Series(flags, dtype="int64"),
            })

    return pairs.mapInPandas(
        mse, schema="id1 string, id2 string, n_px long, mse_milli long, "
                    "psnr40 long"
    ).orderBy("id1", "id2")


def _q198_sql() -> str:
    la = images.luma_sql("xs.g", "ys.g", doc_id="da", decoded=True)
    lb = images.luma_sql("xs.g", "ys.g", doc_id="db", decoded=True)
    return f"""
WITH base AS (
  SELECT doc_id, {images.image_id_sql()} AS image_id,
         {images.w_sql()} AS w, {images.h_sql()} AS h
  FROM documents WHERE doc_id % 5 = 3
),
pr AS (
  SELECT a.doc_id AS da, b.doc_id AS db, a.image_id AS id1,
         b.image_id AS id2, a.w AS w, least(a.h, b.h) AS hh
  FROM base a JOIN base b
    ON b.w = a.w AND b.doc_id > a.doc_id AND b.doc_id - a.doc_id <= 70
),
px AS MATERIALIZED (
  SELECT id1, id2, ({la} - {lb}) * ({la} - {lb}) AS dd
  FROM pr, LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
           LATERAL (SELECT unnest(generate_series(0, hh - 1)) AS g) ys
),
s AS (
  SELECT id1, id2, cast(count(*) as bigint) AS n_px,
         cast(sum(dd) as bigint) AS ssd
  FROM px GROUP BY id1, id2
)
SELECT id1, id2, n_px,
       cast(ssd * 1000 // n_px as bigint) AS mse_milli,
       cast(CASE WHEN ssd * 100000 <= 650025 * n_px THEN 1 ELSE 0 END
            as bigint) AS psnr40
FROM s ORDER BY id1, id2
"""


def q200_focal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 median filter (salt-and-pepper denoiser) over the q98
    halo-exchange tile harness — the order-statistic kernel that mean/
    Sobel convolutions cannot express, defined on pixels with a full
    in-image 3x3 neighborhood (9 values, odd count: the median is an
    element, integer-exact in numpy AND SQL median()).  Same single
    shuffle as q98; the numpy partial-sort is the payload."""
    from .raster import focal

    return focal.focal_median_stats(
        _focal_tiles(spark, sf_dir), halo_included=True) \
        .orderBy("image_id", "ty", "tx")


def _q200_sql() -> str:
    n9 = ", ".join(f"({dx}, {dy})" for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    return f"""
WITH {_px_cte_sql()},
o(dx, dy) AS (VALUES {n9}),
f AS (
  SELECT p.image_id, p.x, p.y, cast(median(q.v) as bigint) AS f
  FROM px p
  CROSS JOIN o
  JOIN px q ON q.doc_id = p.doc_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
  GROUP BY 1, 2, 3
)
{_TILE_ROLLUP_SQL}"""


def q202_blur_laplacian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-of-Laplacian blur screen (Pech-Pacheco 2000) over the q98
    halo harness: per-tile squared 5-point Laplacian energy — the
    sharpness gate a vision-data pipeline runs next to q79's photometric
    gate (defocused/blurred frames have near-zero Laplacian energy and
    get dropped before training).  sum_f per tile IS the energy; same
    single shuffle as q98."""
    from .raster import focal

    return focal.focal_laplacian_stats(
        _focal_tiles(spark, sf_dir), halo_included=True) \
        .orderBy("image_id", "ty", "tx")


def _q202_sql() -> str:
    n5 = "(0, 0, 4), (0, -1, -1), (0, 1, -1), (-1, 0, -1), (1, 0, -1)"
    return f"""
WITH {_px_cte_sql()},
o(dx, dy, wt) AS (VALUES {n5}),
l AS (
  SELECT p.image_id, p.x, p.y,
         cast(sum(o.wt * q.v) as bigint) AS lap
  FROM px p
  CROSS JOIN o
  JOIN px q ON q.doc_id = p.doc_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
  GROUP BY 1, 2, 3
),
f AS (SELECT image_id, x, y, lap * lap AS f FROM l)
{_TILE_ROLLUP_SQL}"""


def _q209_tail_sql(hist_rel: str, dv: str) -> str:
    """Shared signature-join tail over a hist relation
    (image_id, npx, h0..h7); ``dv`` is the dialect's integer-divide."""
    qcols = ", ".join(
        f"(h{k} * 16) {dv} npx AS q{k}, (h{k} * 1000000) {dv} npx AS s{k}"
        for k in range(8))
    sig = " + ".join(f"q{k} * {17 ** k}" for k in range(8))
    l1 = " + ".join(f"abs(a.s{k} - b.s{k})" for k in range(8))
    return f"""
q AS (SELECT image_id, npx, {qcols} FROM {hist_rel}),
sigs AS (SELECT *, {sig} AS sig FROM q)
SELECT a.image_id AS img1, b.image_id AS img2, cast(a.sig as bigint) AS sig,
       cast({l1} as bigint) AS l1_micro
FROM sigs a JOIN sigs b ON b.sig = a.sig AND a.image_id < b.image_id
WHERE {l1} <= 20000
ORDER BY img1, img2"""


def q209_hist_signature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-statistics near-dup candidates: 8-bin luma-histogram
    signature join.  Each image reduces to a quantized histogram-share
    signature (17 levels per bin folded into one int64); images sharing
    the signature are candidates, refined by an exact L1 distance between
    micro-share vectors (<= 2% total variation).  The photometric
    complement of the structural hashes (q46 phash / q131 quadrant /
    q151 rotation-canonical): histogram signatures survive warps and
    recompression that break positional hashes, at the cost of false
    positives — which is why the refine (and the q198 PSNR verifier
    downstream) exists.

    Scale shape: decode + bincount is the embarrassingly-parallel payload
    (one mapInPandas, zero shuffle); candidates come from an equi-join on
    the signature (well-spread at corpus scale), never all pairs; the
    refine is 8-column codegen arithmetic on the joined row.  Oracle:
    histograms recomputed per pixel in closed form (`_px_cte_sql`), same
    tail formula."""
    import numpy as np
    import pandas as pd

    from .raster import codec
    from .table.images import gray

    def hist(batches):
        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                px = codec.decode(bytes(pdf["bytes"].iloc[i]),
                                  pdf["fmt"].iloc[i])
                g = gray(px)
                h = np.bincount((g // 32).ravel(), minlength=8)
                rows.append((pdf["image_id"].iloc[i], int(g.size),
                             *(int(v) for v in h)))
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["image_id", "npx"] + [f"h{k}" for k in range(8)])

    schema = ("image_id string, npx long, "
              + ", ".join(f"h{k} long" for k in range(8)))
    _subset_images(spark, sf_dir).mapInPandas(hist, schema=schema) \
        .createOrReplaceTempView("q209_hist")
    return spark.sql("WITH " + _q209_tail_sql("q209_hist", "div"))


def _q209_sql() -> str:
    hcols = ", ".join(
        f"sum(case when v // 32 = {k} then 1 else 0 end) AS h{k}"
        for k in range(8))
    return f"""
WITH {_px_cte_sql()},
hist AS (SELECT image_id, max(w * h) AS npx, {hcols} FROM px
         GROUP BY image_id),
{_q209_tail_sql('hist', '//')}"""


def q210_cc_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected-component (blob) census of the thresholded
    luma mask (>= 128) over each image's 32x32 crop: blob count, largest
    blob, masked-pixel total.  THE segmentation primitive done the
    100 TB way — per-tile local labeling (numpy payload) + 1-px boundary
    label strips + global star-contraction merge (`raster/blobs.py`); no
    executor ever assembles a whole mask.  The doc_id % 25 subset bounds
    the oracle's recursive flood fill only.

    Oracle: DuckDB recursive CTE — min-label propagation over the masked
    pixel adjacency (a label moves to a neighbor only while smaller than
    the neighbor's own seed id, which provably delivers every pixel its
    component minimum) — a fully independent, tiling-free labeling."""
    from .raster.blobs import blob_stats

    return blob_stats(_subset_images(spark, sf_dir, mod=25, rem=3)) \
        .orderBy("image_id")


def _q210_sql() -> str:
    from .table import images as img_tab

    luma = img_tab.luma_sql("xs.g", "ys.g", decoded=True)
    return f"""
WITH RECURSIVE base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id
  FROM documents WHERE doc_id % 25 = 3
),
px AS MATERIALIZED (
  SELECT doc_id, image_id, xs.g AS x, ys.g AS y
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, 31)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, 31)) AS g) ys
  WHERE {luma} >= 128
),
lab AS (
  SELECT doc_id, image_id, x, y, y * 32 + x AS lbl FROM px
  UNION
  SELECT p.doc_id, p.image_id, p.x, p.y, l.lbl
  FROM lab l
  JOIN px p ON p.doc_id = l.doc_id
           AND abs(p.x - l.x) + abs(p.y - l.y) = 1
  WHERE l.lbl < p.y * 32 + p.x
),
fin AS (
  SELECT image_id, x, y, min(lbl) AS comp FROM lab GROUP BY 1, 2, 3
),
comps AS (SELECT image_id, comp, count(*) AS sz FROM fin GROUP BY 1, 2)
SELECT image_id,
       cast(count(*) as bigint) AS n_blobs,
       cast(max(sz) as bigint) AS max_blob,
       cast(sum(sz) as bigint) AS n_masked
FROM comps GROUP BY image_id ORDER BY image_id
"""


def q212_hough_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hough line detection over the halo-exchange tile harness: edge
    pixels (central-difference gradient magnitude >= 200, full
    4-neighborhood in-image) vote in four INTEGER direction accumulators
    — dir 0 rho=x (vertical), 1 rho=y (horizontal), 2 rho=x+y (diag),
    3 rho=x-y (anti-diag); top-3 lines per (image, direction).  The
    stripe/wrap structure of the synthetic luma field produces real
    lines, so the detector finds genuine maxima, not noise.

    Scale shape: votes are emitted as per-tile PARTIAL rows
    (`focal.hough_votes`) and summed by ONE keyed aggregation — the
    map-side-combine accumulator pattern; the vote space (image, dir,
    rho) is a well-spread key at any image size and no executor ever
    materializes an image or a full accumulator.  Integer angles make
    every vote exactly reproducible in the DuckDB twin.  (Reference has
    no interest-point/line op — this extends the q137 Harris gap-fill;
    raster analytics live in `analytics/mapreduce/.../kde/*` only.)"""
    from pyspark.sql import Window

    from .raster import focal

    votes = focal.hough_votes(
        _focal_tiles(spark, sf_dir, halo=1), halo_included=True)
    total = votes.groupBy("image_id", "dir", "rho").agg(
        F.sum("votes").alias("votes"))
    w = Window.partitionBy("image_id", "dir").orderBy(
        F.col("votes").desc(), F.col("rho").asc())
    return (
        total.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("image_id", "dir", "rho", "votes")
        .orderBy("image_id", "dir", "rho")
    )


def _q212_sql() -> str:
    return f"""
WITH {_px_cte_sql()},
nb AS MATERIALIZED (
  SELECT p.image_id, p.x, p.y,
         max(CASE WHEN d.dx = 1 THEN q.v END) AS ve,
         max(CASE WHEN d.dx = -1 THEN q.v END) AS vw,
         max(CASE WHEN d.dy = 1 THEN q.v END) AS vs,
         max(CASE WHEN d.dy = -1 THEN q.v END) AS vn
  FROM px p
  CROSS JOIN (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) d(dx, dy)
  JOIN px q ON q.doc_id = p.doc_id AND q.x = p.x + d.dx AND q.y = p.y + d.dy
  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
  GROUP BY 1, 2, 3
),
edges AS (SELECT image_id, x, y FROM nb
          WHERE abs(ve - vw) + abs(vs - vn) >= 200),
acc AS (
  SELECT image_id, d.dir,
         CASE d.dir WHEN 0 THEN x WHEN 1 THEN y
              WHEN 2 THEN x + y ELSE x - y END AS rho,
         count(*) AS votes
  FROM edges CROSS JOIN (VALUES (0), (1), (2), (3)) d(dir)
  GROUP BY 1, 2, 3
),
rk AS (SELECT *, row_number() OVER (PARTITION BY image_id, dir
         ORDER BY votes DESC, rho ASC) AS rn FROM acc)
SELECT image_id, cast(dir as int) AS dir, cast(rho as int) AS rho,
       cast(votes as bigint) AS votes
FROM rk WHERE rn <= 3 ORDER BY image_id, dir, rho
"""


_TPL = 8          # template side (px)
_TPL_WIN = 25     # offsets per axis over the 32x32 crop


def _template_np():
    import numpy as np

    u, v = np.mgrid[0:_TPL, 0:_TPL]
    return (u * 41 + v * 23 + ((u + v) % 3) * 17) % 256


def q213_template_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template matching: best placement of a fixed 8x8 integer template
    over each image's 32x32 crop by exact SAD (sum of absolute
    differences) — the registration/alignment primitive behind mosaic
    seaming and duplicate-crop detection.  argmin tie-break is scan
    order (sad, y, x).

    Scale shape: per-image independent work, ONE mapInPandas, zero
    shuffles — the SAD surface is a vectorized stride-trick window view,
    never a Python pixel loop; for images larger than a tile the same
    kernel runs on the halo harness with a (tpl-1)-px strip.  Integer
    SAD means the DuckDB twin (pixel x template-cell join) is exact."""
    import numpy as np
    import pandas as pd

    from .raster import codec
    from .table.images import gray

    tpl = _template_np().astype(np.int64)

    def best(batches):
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            rows = []
            for i in range(len(pdf)):
                px = codec.decode(bytes(pdf["bytes"].iloc[i]),
                                  pdf["fmt"].iloc[i])
                g = gray(px)[:32, :32].astype(np.int64)
                wins = sliding_window_view(g, (_TPL, _TPL))
                sad = np.abs(wins - tpl).sum(axis=(2, 3))
                k = int(np.argmin(sad))          # row-major => (y, x) ties
                rows.append((pdf["image_id"].iloc[i],
                             k // _TPL_WIN, k % _TPL_WIN,
                             int(sad.flat[k])))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "image_id", "best_y", "best_x", "best_sad"])

    return _subset_images(spark, sf_dir, mod=25, rem=4).mapInPandas(
        best, schema="image_id string, best_y int, best_x int, best_sad long"
    ).orderBy("image_id")


def _q213_sql() -> str:
    from .table import images as img_tab

    luma = img_tab.luma_sql("xs.g", "ys.g", decoded=True)
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id
  FROM documents WHERE doc_id % 25 = 4
),
px AS MATERIALIZED (
  SELECT doc_id, image_id, xs.g AS x, ys.g AS y, {luma} AS v
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, 31)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, 31)) AS g) ys
),
tpl AS (
  SELECT u.g AS u, v.g AS v,
         (u.g * 41 + v.g * 23 + ((u.g + v.g) % 3) * 17) % 256 AS t
  FROM (SELECT unnest(generate_series(0, {_TPL - 1})) AS g) u,
       (SELECT unnest(generate_series(0, {_TPL - 1})) AS g) v
),
sad AS (
  SELECT p.image_id, o.oy, o.ox, sum(abs(p.v - t.t)) AS sad
  FROM (SELECT a.g AS oy, b.g AS ox
        FROM (SELECT unnest(generate_series(0, {_TPL_WIN - 1})) AS g) a,
             (SELECT unnest(generate_series(0, {_TPL_WIN - 1})) AS g) b) o
  CROSS JOIN tpl t
  JOIN px p ON p.x = o.ox + t.v AND p.y = o.oy + t.u
  GROUP BY 1, 2, 3
),
rk AS (SELECT *, row_number() OVER (PARTITION BY image_id
         ORDER BY sad ASC, oy ASC, ox ASC) AS rn FROM sad)
SELECT image_id, cast(oy as int) AS best_y, cast(ox as int) AS best_x,
       cast(sad as bigint) AS best_sad
FROM rk WHERE rn = 1 ORDER BY image_id
"""


def _q214_tail_sql(part_rel: str) -> str:
    """Shared Otsu tail over a PARTIAL histogram relation
    (image_id, v, cnt): keyed roll-up, cumulative window, integer-exact
    between-class variance argmax.  The only float is the final
    score division (same IEEE expression text in both dialects; the
    squared term is built from an int64-exact difference cast to double
    BEFORE squaring, so no int64 overflow at any image size)."""
    cw = ("OVER (PARTITION BY image_id ORDER BY v "
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    return f"""
hist AS (SELECT image_id, v, sum(cnt) AS cnt FROM {part_rel}
         GROUP BY image_id, v),
cum AS (
  SELECT image_id, v,
         sum(cnt) {cw} AS w0,
         sum(v * cnt) {cw} AS s0,
         sum(cnt) OVER (PARTITION BY image_id) AS n,
         sum(v * cnt) OVER (PARTITION BY image_id) AS s
  FROM hist
),
sc AS (
  SELECT image_id, v, w0,
         cast(s0 * n - w0 * s as double) * cast(s0 * n - w0 * s as double)
           / cast(w0 * (n - w0) as double) AS score
  FROM cum WHERE w0 < n
),
rk AS (SELECT image_id, v, w0, row_number() OVER (PARTITION BY image_id
         ORDER BY score DESC, v ASC) AS rn FROM sc)
SELECT image_id, cast(v as int) AS otsu_t, cast(w0 as bigint) AS w0_px
FROM rk WHERE rn = 1 ORDER BY image_id"""


def q214_otsu_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Otsu global threshold per image: the argmax-between-class-variance
    binarization that feeds mask-based ops (q210 blobs, q104 contours)
    a principled threshold instead of the fixed 128.

    Scale shape: per-TILE partial 256-bin histograms (mapInPandas
    bincount, the embarrassingly-parallel payload) -> ONE keyed
    aggregation onto (image, value) -> a 256-row-per-image window scan.
    The accumulator is distributed exactly like q212's votes; nothing
    per-image ever exceeds 256 rows after the roll-up.  Between-class
    variance compares via an int64-exact cross-difference, so the argmax
    (tie -> smallest t, provably attained at a present value) matches
    DuckDB bit-for-bit."""
    import numpy as np
    import pandas as pd

    from .raster import focal

    core = focal.tile_rows(_subset_images(spark, sf_dir), tile=16,
                           with_halo=False)

    def part_hist(batches):
        for pdf in batches:
            frames = []
            for iid, data in zip(pdf["image_id"], pdf["data"]):
                blk = np.frombuffer(data, dtype=np.uint8)
                h = np.bincount(blk, minlength=256)
                nz = np.flatnonzero(h)
                frames.append(pd.DataFrame({
                    "image_id": iid, "v": nz.astype(np.int32),
                    "cnt": h[nz].astype(np.int64)}))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    core.mapInPandas(
        part_hist, schema="image_id string, v int, cnt long"
    ).createOrReplaceTempView("q214_part")
    return spark.sql("WITH " + _q214_tail_sql("q214_part"))


def _q214_sql() -> str:
    return f"""
WITH {_px_cte_sql()},
part AS (SELECT image_id, v, count(*) AS cnt FROM px GROUP BY 1, 2),
{_q214_tail_sql('part')}
"""


def q215_bayer_dither(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered (Bayer 4x4) dithering census: per 16x16 tile, how many
    pixels turn on under the classic dispersed-dot threshold map
    on = (v // 16) > B4(y%4, x%4), plus a positional checksum — the
    deterministic halftoning op print/preview pipelines run, and a
    strict per-pixel positional check of the decode path.

    Scale shape: tile rows are independent (threshold map is position-
    local), so this is ONE mapInPandas over the tile relation — zero
    shuffles, zero joins; B4 is computed by the same closed formula in
    numpy and in the oracle's SQL (no lookup table to drift)."""
    import numpy as np
    import pandas as pd

    from .raster import focal

    core = focal.tile_rows(_subset_images(spark, sf_dir), tile=16,
                           with_halo=False)

    def dither(batches):
        for pdf in batches:
            rows = []
            for iid, ty, tx, y0, x0, th, tw, data in zip(
                    pdf["image_id"], pdf["ty"], pdf["tx"], pdf["y0"],
                    pdf["x0"], pdf["th"], pdf["tw"], pdf["data"]):
                blk = np.frombuffer(data, dtype=np.uint8).reshape(
                    int(th), int(tw)).astype(np.int64)
                yy, xx = np.mgrid[0:int(th), 0:int(tw)]
                gy, gx = yy + int(y0), xx + int(x0)

                def b2(i, j):
                    return 2 * (j % 2) + 3 * (i % 2) - 4 * (i % 2) * (j % 2)

                b4 = 4 * b2(gy % 2, gx % 2) + b2((gy // 2) % 2, (gx // 2) % 2)
                on = (blk // 16) > b4
                rows.append((iid, int(ty), int(tx), int(on.sum()),
                             int((gy[on] * 131 + gx[on]).sum())))
            if rows:
                yield pd.DataFrame(rows, columns=[
                    "image_id", "ty", "tx", "n_on", "pos_sum"])

    return core.mapInPandas(
        dither,
        schema="image_id string, ty int, tx int, n_on long, pos_sum long",
    ).orderBy("image_id", "ty", "tx")


def _q215_sql() -> str:
    b2yx = "(2 * ((x) % 2) + 3 * ((y) % 2) - 4 * ((y) % 2) * ((x) % 2))"
    b2hi = ("(2 * (((x) // 2) % 2) + 3 * (((y) // 2) % 2)"
            " - 4 * (((y) // 2) % 2) * (((x) // 2) % 2))")
    return f"""
WITH {_px_cte_sql()},
d AS (
  SELECT image_id, y // 16 AS ty, x // 16 AS tx, y, x
  FROM px
  WHERE (v // 16) > 4 * {b2yx} + {b2hi}
)
SELECT image_id, cast(ty as int) AS ty, cast(tx as int) AS tx,
       cast(count(*) as bigint) AS n_on,
       cast(sum(y * 131 + x) as bigint) AS pos_sum
FROM d GROUP BY 1, 2, 3 ORDER BY image_id, ty, tx
"""




def q225_palette_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-palette extraction: top-3 quantized RGB colors per image
    (4x4x4 color cube, 64 bins) — the color-analytics mode complement of
    q191's gray-world means; feeds color-based dedup blocking and
    thumbnail placeholder generation.

    Scale shape: per-image 64-bin histograms inside one mapInPandas
    decode pass (a bincount per image — pixels never shuffle), then a
    window top-3 over <= 64 rows per image.  Deterministic tie-break:
    higher count first, then smaller bin id."""
    import numpy as np
    import pandas as pd

    from .raster import codec

    img = _subset_images(spark, sf_dir)

    def part(batches):
        for pdf in batches:
            rows = []
            for iid, bts, fmt in zip(pdf["image_id"], pdf["bytes"],
                                     pdf["fmt"]):
                rgb = codec.decode(bts, fmt).astype(np.int64)
                q = ((rgb[:, :, 0] // 64) * 16 + (rgb[:, :, 1] // 64) * 4
                     + rgb[:, :, 2] // 64)
                h = np.bincount(q.ravel(), minlength=64)
                nz = np.flatnonzero(h)
                for b in nz:
                    rows.append((iid, int(b), int(h[b])))
            if rows:
                yield pd.DataFrame(rows, columns=["image_id", "qcolor",
                                                  "cnt"])

    img.mapInPandas(
        part, schema="image_id string, qcolor int, cnt long"
    ).createOrReplaceTempView("q225_part")
    return spark.sql(
        "WITH hist AS (SELECT * FROM q225_part),\n" + _q225_tail_sql())


def _q225_tail_sql() -> str:
    return """
ranked AS (
  SELECT image_id, qcolor, cnt,
         row_number() OVER (PARTITION BY image_id
                            ORDER BY cnt DESC, qcolor ASC) AS rnk
  FROM hist
)
SELECT image_id, cast(rnk as int) AS rnk, cast(qcolor as int) AS qcolor,
       cast(cnt as bigint) AS cnt
FROM ranked WHERE rnk <= 3 ORDER BY image_id, rnk
"""


def _q225_sql() -> str:
    from .table import images as img_tab

    r, g, b = img_tab.channels_sql("xs.g", "ys.g", decoded=True)
    return f"""
WITH base AS (
  SELECT doc_id, {img_tab.image_id_sql()} AS image_id,
         {img_tab.w_sql()} AS w, {img_tab.h_sql()} AS h
  FROM documents WHERE doc_id % 5 = 3
),
px AS MATERIALIZED (
  SELECT image_id,
         ({r} // 64) * 16 + ({g} // 64) * 4 + ({b} // 64) AS qcolor
  FROM base,
       LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
       LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
),
hist AS (
  SELECT image_id, qcolor, count(*) AS cnt FROM px GROUP BY 1, 2
),
{_q225_tail_sql()}
"""




def q230_integral_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integral image (summed-area table) at tile granularity — the
    distributed 2D PREFIX SCAN: sat(ty, tx) = total luma of every pixel
    above-left of the tile's bottom-right corner, the constant-time
    box-sum primitive behind Viola-Jones features and q80's box filter.

    Scale shape: per-tile sums from one decode pass (pixels never
    shuffle), then the 2D cumulative sum is TWO window scans — along
    tile rows, then along tile columns — each keyed by image; nothing
    larger than the tile GRID (w/16 x h/16 rows per image) ever moves.
    This is how a 10^6 x 10^6-pixel SAT is built on a cluster: local
    SATs + a tile-grid scan, never a sequential pixel pass."""
    import numpy as np
    import pandas as pd

    from .raster import focal

    core = focal.tile_rows(_subset_images(spark, sf_dir), tile=16,
                           with_halo=False)

    def part(batches):
        for pdf in batches:
            rows = []
            for iid, ty, tx, data in zip(pdf["image_id"], pdf["ty"],
                                         pdf["tx"], pdf["data"]):
                v = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
                rows.append((iid, int(ty), int(tx), int(v.sum())))
            if rows:
                yield pd.DataFrame(rows, columns=["image_id", "ty", "tx",
                                                  "s"])

    core.mapInPandas(
        part, schema="image_id string, ty int, tx int, s long"
    ).createOrReplaceTempView("q230_part")
    return spark.sql("WITH part AS (SELECT * FROM q230_part),\n"
                     + _q230_tail_sql())


def _q230_tail_sql() -> str:
    return """
cx AS (
  SELECT image_id, ty, tx,
         sum(s) OVER (PARTITION BY image_id, ty ORDER BY tx
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sx
  FROM part
)
SELECT image_id, cast(ty as int) AS ty, cast(tx as int) AS tx,
       cast(sum(sx) OVER (PARTITION BY image_id, tx ORDER BY ty
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) as bigint) AS sat
FROM cx ORDER BY image_id, ty, tx
"""


def _q230_sql() -> str:
    return f"""
WITH {_px_cte_sql()},
part AS (
  SELECT image_id, y // 16 AS ty, x // 16 AS tx, sum(v) AS s
  FROM px GROUP BY 1, 2, 3
),
{_q230_tail_sql()}
"""




_Q239_C = ((1, 1, 1, 1), (2, 1, -1, -2), (1, -1, -1, 1), (1, -2, 2, -1))


def q239_block_transform_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-domain energy profile per image via the EXACT-INTEGER
    4x4 block transform (the H.264 core transform — the integer-exact
    stand-in for the JPEG DCT, whose cosines would not reproduce
    bit-identically across engines): Y = C X C^T per 4x4 luma block,
    energies rolled up into DC / low / high bands.  The
    high-frequency share separates texture-rich images from flat ones
    — the frequency twin of q202's spatial blur screen, and the first
    frequency-domain operator in the registry.

    Scale shape: the transform is a per-block einsum inside one
    mapInPandas decode pass (pixels never shuffle; 16x16 tiles align
    to the 4-grid so no cross-tile blocks exist), then ONE keyed
    roll-up of 3 scalars per tile."""
    import numpy as np
    import pandas as pd

    from .raster import focal

    core = focal.tile_rows(_subset_images(spark, sf_dir), tile=16,
                           with_halo=False)
    C = np.array(_Q239_C, dtype=np.int64)

    def part(batches):
        for pdf in batches:
            rows = []
            for iid, th, tw, data in zip(pdf["image_id"], pdf["th"],
                                         pdf["tw"], pdf["data"]):
                g = np.frombuffer(data, dtype=np.uint8).reshape(
                    th, tw).astype(np.int64)
                bh, bw = th // 4, tw // 4
                blk = g[:bh * 4, :bw * 4].reshape(
                    bh, 4, bw, 4).transpose(0, 2, 1, 3)
                y = np.einsum("ui,abik,vk->abuv", C, blk, C,
                              optimize=True)
                e = y * y
                u = np.arange(4)[:, None]
                v = np.arange(4)[None, :]
                dc = (u + v == 0).astype(np.int64)
                low = ((u + v >= 1) & (u + v <= 2)).astype(np.int64)
                hi = (u + v >= 3).astype(np.int64)
                rows.append((iid, int((e * dc).sum()),
                             int((e * low).sum()), int((e * hi).sum())))
            if rows:
                yield pd.DataFrame(rows, columns=["image_id", "dc_e",
                                                  "low_e", "hi_e"])

    core.mapInPandas(
        part, schema="image_id string, dc_e long, low_e long, hi_e long"
    ).createOrReplaceTempView("q239_part")
    return spark.sql("WITH part AS (SELECT * FROM q239_part),\n"
                     + _q239_tail_sql("div"))


def _q239_tail_sql(intdiv: str) -> str:
    return f"""
s AS (
  SELECT image_id, cast(sum(dc_e) as bigint) AS dc_energy,
         cast(sum(low_e) as bigint) AS low_energy,
         cast(sum(hi_e) as bigint) AS high_energy
  FROM part GROUP BY image_id
)
SELECT image_id, dc_energy, low_energy, high_energy,
       cast((high_energy * 1000000) {intdiv}
            greatest(low_energy + high_energy, 1) as bigint) AS hf_share_micro
FROM s ORDER BY image_id
"""


def _q239_sql() -> str:
    cvals = ", ".join(f"({u}, {i}, {w})"
                      for u, row in enumerate(_Q239_C)
                      for i, w in enumerate(row))
    return f"""
WITH {_px_cte_sql()},
cm(u, i, w) AS (VALUES {cvals}),
t AS (
  SELECT image_id, x // 4 AS bx, y // 4 AS by, cm.u, x % 4 AS j,
         sum(cm.w * v) AS tv
  FROM px JOIN cm ON cm.i = y % 4
  GROUP BY image_id, x // 4, y // 4, cm.u, x % 4
),
yy AS (
  SELECT image_id, bx, by, t.u, c2.u AS vf, sum(t.tv * c2.w) AS yv
  FROM t JOIN cm c2 ON c2.i = t.j
  GROUP BY image_id, bx, by, t.u, c2.u
),
part AS (
  SELECT image_id,
         sum(CASE WHEN u + vf = 0 THEN yv * yv ELSE 0 END) AS dc_e,
         sum(CASE WHEN u + vf BETWEEN 1 AND 2 THEN yv * yv ELSE 0 END)
           AS low_e,
         sum(CASE WHEN u + vf >= 3 THEN yv * yv ELSE 0 END) AS hi_e
  FROM yy GROUP BY image_id
),
{_q239_tail_sql("//")}
"""


def q267_bitplane_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-preview quality ladder: per format, the exact integer
    luma MSE of keeping only the top k = 2/4/6 bit planes — the
    successive-approximation decision a 10^12-image serving tier makes
    when it streams previews before full decode (JPEG progressive mode's
    SA scans).  Truncating to the top k bits leaves residual l mod
    2^(8-k), so MSE is closed-form on BOTH sides: the engine measures it
    on REAL decoded pixels (one mapInPandas pass, pixels never shuffle,
    three (k, n, ssd, flag) scalars per image out), the oracle recomputes
    from the synthesis field with the q6 lossy round-trip modeled
    (`luma_sql(decoded=True)`, q198's independence pattern).  psnr30 uses
    the exact integer test ssd * 1000 <= 65025 * n_px (PSNR >= 30 dB), no
    floating log anywhere.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .raster import codec

    img = images.images_df(spark, sf_dir).select("image_id", "fmt", "bytes")

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ks, npx, ssds, flags = [], [], [], [], []
            for _, row in pdf.iterrows():
                px = codec.decode(row["bytes"], row["fmt"]).astype(np.int64)
                luma = (px[:, :, 0] * 299 + px[:, :, 1] * 587
                        + px[:, :, 2] * 114) // 1000
                n = int(luma.size)
                for m, k in ((64, 2), (16, 4), (4, 6)):
                    r = luma % m
                    ssd = int((r * r).sum())
                    fmts.append(row["fmt"]); ks.append(k)
                    npx.append(n); ssds.append(ssd)
                    flags.append(1 if ssd * 1000 <= 65025 * n else 0)
            if fmts:
                yield pd.DataFrame({
                    "fmt": pd.Series(fmts, dtype="object"),
                    "k": pd.Series(ks, dtype="int32"),
                    "n_px": pd.Series(npx, dtype="int64"),
                    "ssd": pd.Series(ssds, dtype="int64"),
                    "psnr30": pd.Series(flags, dtype="int64"),
                })

    per = img.mapInPandas(
        stats, schema="fmt string, k int, n_px long, ssd long, psnr30 long"
    )
    return (
        per.groupBy("fmt", "k")
        .agg(
            F.count("*").alias("n_images"),
            F.expr("cast(sum(ssd) * 1000 div sum(n_px) as bigint)")
            .alias("mse_milli"),
            F.expr("cast(sum(psnr30) as bigint)").alias("psnr30_images"),
        )
        .select("fmt", "k", "n_images", "mse_milli", "psnr30_images")
        .orderBy("fmt", "k")
    )


def _q267_sql() -> str:
    luma = images.luma_sql("xs.g", "ys.g", decoded=True)
    return f"""
WITH dims AS (
  SELECT doc_id, {images.fmt_sql()} AS fmt,
         {images.w_sql()} AS w, {images.h_sql()} AS h
  FROM documents
),
px AS MATERIALIZED (
  SELECT doc_id, fmt, {luma} AS l
  FROM dims, LATERAL (SELECT unnest(generate_series(0, w - 1)) AS g) xs,
             LATERAL (SELECT unnest(generate_series(0, h - 1)) AS g) ys
),
per AS (
  SELECT doc_id, fmt, cast(count(*) as bigint) AS n,
         cast(sum((l % 64) * (l % 64)) as bigint) AS s2,
         cast(sum((l % 16) * (l % 16)) as bigint) AS s4,
         cast(sum((l % 4) * (l % 4)) as bigint) AS s6
  FROM px GROUP BY doc_id, fmt
),
expanded AS (
  SELECT fmt, 2 AS k, n, s2 AS ssd FROM per
  UNION ALL SELECT fmt, 4 AS k, n, s4 AS ssd FROM per
  UNION ALL SELECT fmt, 6 AS k, n, s6 AS ssd FROM per
)
SELECT fmt, cast(k as int) AS k,
       cast(count(*) as bigint) AS n_images,
       cast(sum(ssd) * 1000 // sum(n) as bigint) AS mse_milli,
       cast(sum(CASE WHEN ssd * 1000 <= 65025 * n THEN 1 ELSE 0 END)
            as bigint) AS psnr30_images
FROM expanded
GROUP BY fmt, k
ORDER BY fmt, k
"""


RASTER_QUERIES = {
    "q267_bitplane_preview": (q267_bitplane_preview, _q267_sql()),
    "q11_tile_assign_plan": (q11_tile_assign_plan, Q11_SQL),
    "q12_tile_merge_counts": (q12_tile_merge_counts, Q12_SQL),
    "q13_image_scalars": (q13_image_scalars, Q13_SQL),
    "q14_pyramid_counts": (q14_pyramid_counts, Q14_SQL),
    "q35_raster_stats": (q35_raster_stats, Q35_SQL),
    "q49_tile_resize": (q49_tile_resize, Q49_SQL),
    "q87_zonal_stats": (q87_zonal_stats, _q87_sql()),
    "q95_band_math": (q95_band_math, _q95_sql()),
    "q98_focal_mean": (q98_focal_mean, _q98_sql()),
    "q103_focal_sobel": (q103_focal_sobel, _q103_sql()),
    "q104_contour_segments": (q104_contour_segments, _q104_sql()),
    "q121_focal_hillshade": (q121_focal_hillshade, _q121_sql()),
    "q132_flow_direction": (q132_flow_direction, _q132_sql()),
    "q137_harris_corners": (q137_harris_corners, _q137_sql()),
    "q138_edge_thinning": (q138_edge_thinning, _q138_sql()),
    "q139_morph_gradient": (q139_morph_gradient, _q139_sql()),
    "q140_lbp_texture": (q140_lbp_texture, _q140_sql()),
    "q146_patch_extraction": (q146_patch_extraction, _q146_sql()),
    "q174_hog_orientation": (q174_hog_orientation, _q174_sql()),
    "q175_tile_complexity": (q175_tile_complexity, _q175_sql()),
    "q183_footprint_iou": (q183_footprint_iou, _q183_sql()),
    "q108_raster_warp": (q108_raster_warp, _q108_sql()),
    "q114_temporal_composite": (q114_temporal_composite, _q114_sql()),
    "q189_ssim_pairs": (q189_ssim_pairs, _q189_sql()),
    "q191_grayworld": (q191_grayworld, _q191_sql()),
    "q198_psnr_verify": (q198_psnr_verify, _q198_sql()),
    "q200_focal_median": (q200_focal_median, _q200_sql()),
    "q202_blur_laplacian": (q202_blur_laplacian, _q202_sql()),
    "q209_hist_signature_join": (q209_hist_signature_join, _q209_sql()),
    "q210_cc_blobs": (q210_cc_blobs, _q210_sql()),
    "q212_hough_lines": (q212_hough_lines, _q212_sql()),
    "q213_template_match": (q213_template_match, _q213_sql()),
    "q214_otsu_threshold": (q214_otsu_threshold, _q214_sql()),
    "q215_bayer_dither": (q215_bayer_dither, _q215_sql()),
    "q225_palette_extraction": (q225_palette_extraction, _q225_sql()),
    "q230_integral_image": (q230_integral_image, _q230_sql()),
    "q239_block_transform_energy": (q239_block_transform_energy, _q239_sql()),
}


# ---------------------------------------------- q305 custom-CRS KDE + resize


def _q305_consts():
    """Albers EPSG:5070 projection constants, computed ONCE on the driver
    and embedded as repr literals — the engine's numpy UDF and the
    oracle's SQL transcendentals both start from the identical doubles."""
    from .sfc import conic as conic_mod

    p = conic_mod.EPSG_CONIC[5070]
    n, big_c, rho0 = conic_mod._albers_consts(p)
    return p, n, big_c, rho0


_Q305_N = 128                                    # fine grid (coarse = 64)
_Q305_X0, _Q305_X1 = -2_400_000, 2_400_000       # CONUS envelope, meters
_Q305_Y0, _Q305_Y1 = 100_000, 3_300_000
_Q305_WIN = (-120.0, -75.0, 25.0, 49.0)


def _q305_points_sql() -> str:
    from .table import geo

    lon, lat = geo.lon_sql("event_id"), geo.lat_sql("event_id")
    w = _Q305_WIN
    return (f"SELECT {lon} AS lon, {lat} AS lat FROM events "
            f"WHERE {lon} BETWEEN {w[0]!r} AND {w[1]!r} "
            f"AND {lat} BETWEEN {w[2]!r} AND {w[3]!r}")


def q305_custom_crs_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KDE heatmap computed in a CUSTOM projected CRS (EPSG:5070 CONUS
    Albers) + a 2x raster resize — the closed-form PySpark analog of the
    reference's `test/.../CustomCRSKDERasterResizeIT.java` (KDERunner on
    a GeoTools-decoded CRS, then RasterResize), the last item on the r3
    missing list.

    Engine: points project lon/lat -> equal-area meters in ONE
    Arrow-batched pandas UDF (`sfc/conic.albers_forward`, vectorized
    numpy — evaluated once, fields split in a following select so the
    ArrowEvalPython node never duplicates), floor to integer meters,
    then pure-JVM integer grid ordinates, the k=2 kernel splat against a
    broadcast 25-row offset table, one keyed sum per fine cell, and the
    2x parent rollup (the RasterResize) with a second tiny keyed sum.
    Only Python on the data path is the projection itself.

    Oracle: DuckDB evaluates the SAME Albers closed form in SQL
    (sin/cos/ln/sqrt on the identical embedded constants) — a fully
    independent implementation of the projection, agreeing after the
    floor-to-meter integerization (transcendental ulp drift is ~1e-9 m
    against a 1 m floor grid).
    """
    import numpy as np
    import pandas as pd

    from .agg.kde import _offsets_df
    from .sfc import conic as conic_mod
    from .table.views import register_views

    register_views(spark, sf_dir)
    p, _n, _c, _rho0 = _q305_consts()

    @F.pandas_udf("x double, y double")
    def _proj(lon, lat):  # no hints: module has future-annotations
        x, y = conic_mod.albers_forward(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), p)
        return pd.DataFrame({"x": x, "y": y})

    # nondeterministic flag stops CollapseProject from inlining the struct
    # into its two field accesses, which would run the projection TWICE
    # (same idiom as cover.point_disk_cells_udf)
    _proj = _proj.asNondeterministic()

    n, x0, x1, y0, y1 = _Q305_N, _Q305_X0, _Q305_X1, _Q305_Y0, _Q305_Y1
    pts = spark.sql(_q305_points_sql())
    g = (
        pts.select(_proj("lon", "lat").alias("pxy"))
        .select(F.expr("cast(floor(pxy.x) as bigint)").alias("xm"),
                F.expr("cast(floor(pxy.y) as bigint)").alias("ym"))
        .filter(f"xm >= {x0} AND xm < {x1} AND ym >= {y0} AND ym < {y1}")
        .select(F.expr(f"(xm - {x0}) * {n} div {x1 - x0}").alias("gx"),
                F.expr(f"(ym - {y0}) * {n} div {y1 - y0}").alias("gy"))
    )
    splat = (
        g.join(F.broadcast(_offsets_df(spark, 2)))
        .select((F.col("gx") + F.col("dx")).alias("nx"),
                (F.col("gy") + F.col("dy")).alias("ny"),
                F.expr("cast(1000000 as bigint) div "
                       "cast(1 + dx * dx + dy * dy as bigint)").alias("w"))
        .filter((F.col("nx") >= 0) & (F.col("nx") < n)
                & (F.col("ny") >= 0) & (F.col("ny") < n))
    )
    fine = (splat.select((F.col("ny") * n + F.col("nx")).alias("cell"), "w")
            .groupBy("cell").agg(F.sum("w").alias("w")))
    half = n // 2
    return (
        fine.select(
            F.expr(f"(cell div {n} div 2) * {half} + (cell % {n}) div 2")
            .alias("pcell"), "w")
        .groupBy("pcell")
        .agg(F.sum("w").alias("weight"), F.count("*").alias("n_children"))
        .orderBy("pcell")
    )


def _q305_sql() -> str:
    """DuckDB oracle: the Albers forward as SQL transcendentals."""
    p, cn, cc, rho0 = _q305_consts()
    e = p.e
    n, x0, x1, y0, y1 = _Q305_N, _Q305_X0, _Q305_X1, _Q305_Y0, _Q305_Y1
    q_expr = (f"({1.0 - e * e!r}) * (s / (1.0 - {e * e!r} * s * s) "
              f"- (1.0 / {2.0 * e!r}) * ln((1.0 - {e!r} * s) "
              f"/ (1.0 + {e!r} * s)))")
    half = n // 2
    return f"""
WITH p0 AS ({_q305_points_sql()}),
tr AS (SELECT sin(radians(lat)) AS s,
              {cn!r} * radians(lon - {p.lon0!r}) AS th FROM p0),
rh AS (SELECT {p.a!r} * sqrt({cc!r} - {cn!r} * ({q_expr})) / {cn!r} AS rho,
              th FROM tr),
m AS (SELECT cast(floor(rho * sin(th)) as bigint) AS xm,
             cast(floor({rho0!r} - rho * cos(th)) as bigint) AS ym FROM rh),
g AS (SELECT (xm - {x0}) * {n} // {x1 - x0} AS gx,
             (ym - {y0}) * {n} // {y1 - y0} AS gy
      FROM m WHERE xm >= {x0} AND xm < {x1} AND ym >= {y0} AND ym < {y1}),
o AS (SELECT (i % 5) - 2 AS dx, (i // 5) - 2 AS dy FROM
      (SELECT unnest(range(0, 25)) AS i) oo),
s AS (SELECT gx + dx AS nx, gy + dy AS ny,
             cast(1000000 as bigint) // cast(1 + dx * dx + dy * dy as bigint) AS w
      FROM g CROSS JOIN o
      WHERE gx + dx >= 0 AND gx + dx < {n} AND gy + dy >= 0 AND gy + dy < {n}),
fine AS (SELECT ny * {n} + nx AS cell, cast(sum(w) as bigint) AS w
         FROM s GROUP BY 1)
SELECT (cell // {n} // 2) * {half} + (cell % {n}) // 2 AS pcell,
       cast(sum(w) as bigint) AS weight,
       cast(count(*) as bigint) AS n_children
FROM fine GROUP BY 1 ORDER BY pcell
"""


RASTER_QUERIES["q305_custom_crs_kde"] = (q305_custom_crs_kde, _q305_sql())


# ------------------------------- q306/q307 polar + oblique CRS grid stats
#
# The two CRS families round 5 added (sfc/polar.py, sfc/oblique.py) get
# driver-scorable registry entries in the q305 mold: the engine projects
# in ONE Arrow-batched pandas UDF (the only Python on the data path) and
# aggregates per projected-meter grid cell in pure JVM; the oracle
# re-derives the same projection as DuckDB SQL transcendentals from the
# identical embedded constants — a fully independent second
# implementation (reference parity: GeoTools-resolvable-CRS ingest,
# `core/geotime/.../util/GeometryUtils.java` in /root/reference).
# All literals are cast(:: as double) so DuckDB never parses them as
# DECIMAL (a bare `6378137.0 * ...` overflows DECIMAL(18) multiply).


def _dlit(v: float) -> str:
    return f"cast({v!r} as double)"


# q306: NSIDC sea-ice grid (EPSG:3413, polar stereographic north).
# 200 km cells over the [-3.2e6, 3.2e6)^2 envelope (the standard sea-ice
# grid extent); per-cell event count, exact milli-value mass, and the
# projected-meter bbox (per-tile bounds statistics, the
# BoundingBoxStatistic analog in projected space).
_Q306_CELL = 200_000
_Q306_X0, _Q306_X1 = -3_200_000, 3_200_000
_Q306_NX = (_Q306_X1 - _Q306_X0) // _Q306_CELL


def _q306_consts():
    from .sfc import polar as polar_mod

    p = polar_mod.EPSG_POLAR[3413]
    return p, polar_mod._rho_scale(p)


def _q306_points_sql() -> str:
    from .table import geo

    lon, lat = geo.lon_sql("event_id"), geo.lat_sql("event_id")
    return (f"SELECT {lon} AS lon, {lat} AS lat, "
            f"cast(floor(value * 1000e0) as bigint) AS val_milli "
            f"FROM events WHERE {lat} >= 60e0")


def q306_polar_crs_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polar-region binned statistics in EPSG:3413 (WGS 84 / NSIDC Sea
    Ice Polar Stereographic North): events above 60N project through the
    ellipsoidal polar forward (`sfc/polar.polar_forward`, vectorized
    numpy in one Arrow batch UDF), floor to integer meters, bin into the
    200 km sea-ice grid, and aggregate count + value mass + the
    projected bbox per cell — everything after the projection is
    whole-stage-codegen JVM."""
    import numpy as np
    import pandas as pd

    from .sfc import polar as polar_mod
    from .table.views import register_views

    register_views(spark, sf_dir)
    p, _c = _q306_consts()

    @F.pandas_udf("x double, y double")
    def _proj(lon, lat):  # no hints: module has future-annotations
        x, y = polar_mod.polar_forward(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), p)
        return pd.DataFrame({"x": x, "y": y})

    _proj = _proj.asNondeterministic()   # single ArrowEvalPython (q305 idiom)

    cell, x0, x1, nx = _Q306_CELL, _Q306_X0, _Q306_X1, _Q306_NX
    pts = spark.sql(_q306_points_sql())
    # Known oracle risk: xm/ym floor the projected metres computed by numpy
    # here and by DuckDB's libm in the oracle.  The two may differ in the
    # last ulp (~1e-10 m at 1e6 m), and a point within that of a whole
    # metre then floors differently on each side, moving an xm/ym extreme
    # or a cell.  Each point flips with a tiny fixed probability, so the
    # expected flip count grows linearly with corpus size (none seen at
    # sf0.01/sf0.1).
    g = (
        pts.select(_proj("lon", "lat").alias("pxy"), "val_milli")
        .select(F.expr("cast(floor(pxy.x) as bigint)").alias("xm"),
                F.expr("cast(floor(pxy.y) as bigint)").alias("ym"),
                "val_milli")
        .filter(f"xm >= {x0} AND xm < {x1} AND ym >= {x0} AND ym < {x1}")
        .select(F.expr(f"((ym - {x0}) div {cell}) * {nx} "
                       f"+ (xm - {x0}) div {cell}").alias("cell_id"),
                "xm", "ym", "val_milli")
    )
    return (
        g.groupBy("cell_id")
        .agg(F.count("*").alias("n_events"),
             F.sum("val_milli").alias("val_milli"),
             F.min("xm").alias("xm_min"), F.max("xm").alias("xm_max"),
             F.min("ym").alias("ym_min"), F.max("ym").alias("ym_max"))
        .orderBy("cell_id")
    )


def _q306_sql() -> str:
    """DuckDB oracle: the polar-stereographic forward (Snyder 21-30/31/
    33/34) as SQL transcendentals on the embedded constants."""
    p, c = _q306_consts()
    e = p.e
    a_c = _dlit(p.a * c)
    el, e2l, lon0 = _dlit(e), _dlit(e / 2.0), _dlit(p.lon0)
    cell, x0, x1, nx = _Q306_CELL, _Q306_X0, _Q306_X1, _Q306_NX
    return f"""
WITH p0 AS ({_q306_points_sql()}),
tr AS (SELECT val_milli,
  {a_c} * tan(pi()/4.0 - radians(lat)/2.0)
    / pow((1.0 - {el} * sin(radians(lat))) / (1.0 + {el} * sin(radians(lat))), {e2l}) AS rho,
  radians(lon - {lon0}) AS th FROM p0),
m AS (SELECT val_milli,
  cast(floor(rho * sin(th)) as bigint) AS xm,
  cast(floor(-rho * cos(th)) as bigint) AS ym FROM tr),
g AS (SELECT val_milli, xm, ym,
  ((ym - {x0}) // {cell}) * {nx} + (xm - {x0}) // {cell} AS cell_id
  FROM m WHERE xm >= {x0} AND xm < {x1} AND ym >= {x0} AND ym < {x1})
SELECT cell_id, cast(count(*) as bigint) AS n_events,
       cast(sum(val_milli) as bigint) AS val_milli,
       min(xm) AS xm_min, max(xm) AS xm_max,
       min(ym) AS ym_min, max(ym) AS ym_max
FROM g GROUP BY 1 ORDER BY cell_id
"""


RASTER_QUERIES["q306_polar_crs_grid"] = (q306_polar_crs_grid, _q306_sql())


# q307: RSO Borneo (EPSG:29873, Hotine oblique Mercator variant B on
# Everest 1830).  100 km cells over the rotated national grid; per-cell
# event count, distinct users, and exact milli-value mass.
_Q307_CELL = 100_000
_Q307_X0, _Q307_X1 = -400_000, 1_600_000
_Q307_Y0, _Q307_Y1 = -600_000, 1_400_000
_Q307_NX = (_Q307_X1 - _Q307_X0) // _Q307_CELL
_Q307_WIN = (100.0, 125.0, -5.0, 10.0)    # lon0 lon1 lat0 lat1 (Borneo zone)


def _q307_consts():
    from .sfc import oblique as oblique_mod

    p = oblique_mod.EPSG_HOTINE[29873]
    return p, oblique_mod._consts(p)


def _q307_points_sql() -> str:
    from .table import geo

    lon, lat = geo.lon_sql("event_id"), geo.lat_sql("event_id")
    w = _Q307_WIN
    return (f"SELECT {lon} AS lon, {lat} AS lat, user_id, "
            f"cast(floor(value * 1000e0) as bigint) AS val_milli "
            f"FROM events WHERE {lon} BETWEEN {w[0]!r} AND {w[1]!r} "
            f"AND {lat} BETWEEN {w[2]!r} AND {w[3]!r}")


def q307_oblique_crs_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated-grid binned statistics in EPSG:29873 (Timbalai 1948 / RSO
    Borneo, Hotine oblique Mercator variant B): events in the Borneo
    window project through `sfc/oblique.hotine_forward` (one Arrow batch
    UDF), floor to integer meters, bin into 100 km rotated-grid cells,
    and aggregate count + distinct users + value mass per cell."""
    import numpy as np
    import pandas as pd

    from .sfc import oblique as oblique_mod
    from .table.views import register_views

    register_views(spark, sf_dir)
    p, _k = _q307_consts()

    @F.pandas_udf("x double, y double")
    def _proj(lon, lat):  # no hints: module has future-annotations
        x, y = oblique_mod.hotine_forward(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), p)
        return pd.DataFrame({"x": x, "y": y})

    _proj = _proj.asNondeterministic()

    cell, nx = _Q307_CELL, _Q307_NX
    x0, x1, y0, y1 = _Q307_X0, _Q307_X1, _Q307_Y0, _Q307_Y1
    pts = spark.sql(_q307_points_sql())
    # same last-ulp floor risk against the DuckDB oracle as q306: the
    # expected number of points whose cell flips grows with corpus size
    g = (
        pts.select(_proj("lon", "lat").alias("pxy"), "user_id", "val_milli")
        .select(F.expr("cast(floor(pxy.x) as bigint)").alias("xm"),
                F.expr("cast(floor(pxy.y) as bigint)").alias("ym"),
                "user_id", "val_milli")
        .filter(f"xm >= {x0} AND xm < {x1} AND ym >= {y0} AND ym < {y1}")
        .select(F.expr(f"((ym - {y0}) div {cell}) * {nx} "
                       f"+ (xm - {x0}) div {cell}").alias("cell_id"),
                "user_id", "val_milli")
    )
    return (
        g.groupBy("cell_id")
        .agg(F.count("*").alias("n_events"),
             F.countDistinct("user_id").alias("n_users"),
             F.sum("val_milli").alias("val_milli"))
        .orderBy("cell_id")
    )


def _q307_sql() -> str:
    """DuckDB oracle: the Hotine forward (Snyder 9-25..9-34) as SQL
    transcendentals on the embedded B/A/E/gamma0/lam0/u_c constants.
    The longitude wrap `(dl + pi) % 2pi - pi` is kept even though the
    Borneo window makes it a no-op range-wise: numpy applied it, and
    dropping it would change `dl`'s last-ulp rounding."""
    import math

    p, (big_b, big_a, big_e, g0, lam0, uc) = _q307_consts()
    e = p.e
    gc = math.radians(p.gamma_c)
    el, e2l = _dlit(e), _dlit(e / 2.0)
    bl, al, eel = _dlit(big_b), _dlit(big_a), _dlit(big_e)
    sg0, cg0 = _dlit(math.sin(g0)), _dlit(math.cos(g0))
    sgc, cgc = _dlit(math.sin(gc)), _dlit(math.cos(gc))
    lam0l, ucl, b2l = _dlit(lam0), _dlit(uc), _dlit(2.0 * big_b)
    cell, nx = _Q307_CELL, _Q307_NX
    x0, x1, y0, y1 = _Q307_X0, _Q307_X1, _Q307_Y0, _Q307_Y1
    return f"""
WITH p0 AS ({_q307_points_sql()}),
t1 AS (SELECT user_id, val_milli,
  (radians(lon) - {lam0l} + pi()) % (2.0*pi()) - pi() AS dl,
  tan(pi()/4.0 - radians(lat)/2.0)
    / pow((1.0 - {el} * sin(radians(lat))) / (1.0 + {el} * sin(radians(lat))), {e2l}) AS t
  FROM p0),
t2 AS (SELECT user_id, val_milli, dl, {eel} / pow(t, {bl}) AS q FROM t1),
t3 AS (SELECT user_id, val_milli, dl, (q - 1.0/q)/2.0 AS s,
  (q + 1.0/q)/2.0 AS tt, sin({bl} * dl) AS v FROM t2),
t4 AS (SELECT user_id, val_milli, dl, s, v,
  (-v * {cg0} + s * {sg0}) / tt AS u_ FROM t3),
t5 AS (SELECT user_id, val_milli,
  {al} * ln((1.0 - u_)/(1.0 + u_)) / {b2l} AS vv,
  {al} * atan2(s * {cg0} + v * {sg0}, cos({bl} * dl)) / {bl} - {ucl} AS uu
  FROM t4),
m AS (SELECT user_id, val_milli,
  cast(floor(vv * {cgc} + uu * {sgc} + {_dlit(p.fe)}) as bigint) AS xm,
  cast(floor(uu * {cgc} - vv * {sgc} + {_dlit(p.fn)}) as bigint) AS ym
  FROM t5),
g AS (SELECT user_id, val_milli,
  ((ym - {y0}) // {cell}) * {nx} + (xm - {x0}) // {cell} AS cell_id
  FROM m WHERE xm >= {x0} AND xm < {x1} AND ym >= {y0} AND ym < {y1})
SELECT cell_id, cast(count(*) as bigint) AS n_events,
       cast(count(DISTINCT user_id) as bigint) AS n_users,
       cast(sum(val_milli) as bigint) AS val_milli
FROM g GROUP BY 1 ORDER BY cell_id
"""


RASTER_QUERIES["q307_oblique_crs_grid"] = (q307_oblique_crs_grid, _q307_sql())


# q308: MODIS sinusoidal land-tile binning.  Unlike q305-q307 (whose
# projections need numpy), the spherical sinusoidal forward is two
# trig expressions — so the ENGINE runs entirely in whole-stage-codegen
# JVM builtins (zero Python anywhere in the plan), the shape a 100 TB
# scan wants.  Tile math is NASA's published grid: 36 x 18 tiles of
# width pi*R/18 over x in [-pi*R, pi*R], y in [-pi*R/2, pi*R/2],
# R = 6,371,007.181 (`sfc/pseudocyl.MODIS_RADIUS`).
def _q308_consts():
    import math

    from .sfc.pseudocyl import MODIS_RADIUS as r

    return r, -math.pi * r, math.pi * r / 18.0, math.pi * r / 2.0


def _q308_points_sql() -> str:
    from .table import geo

    lon, lat = geo.lon_sql("event_id"), geo.lat_sql("event_id")
    return (f"SELECT {lon} AS lon, {lat} AS lat, user_id, "
            f"cast(floor(value * 1000e0) as bigint) AS val_milli "
            f"FROM events")


def q308_modis_tile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events binned into the MODIS sinusoidal land grid (h, v) tiles
    with per-tile count / distinct users / value mass — the raster->
    vector tile-assignment economics of `raster/tiles.py` expressed on
    the real satellite-science grid.  The whole plan is JVM codegen:
    scan -> project (trig) -> hash aggregate; no Python, no join, one
    exchange on the 648-key tile space."""
    from .table.views import register_views

    register_views(spark, sf_dir)
    # _dlit casts on the Spark side too: Spark parses bare fractional
    # literals as DECIMAL, which would silently run the tile division in
    # decimal arithmetic with engine-specific scale rules; the explicit
    # double casts make both engines evaluate the identical IEEE doubles
    r, x0, t, y1 = _q308_consts()
    pts = spark.sql(_q308_points_sql())
    m = pts.select(
        F.expr(f"cast(floor({_dlit(r)} * radians(lon) * cos(radians(lat))) "
               "as bigint)").alias("xm"),
        F.expr(f"cast(floor({_dlit(r)} * radians(lat)) as bigint)").alias("ym"),
        "user_id", "val_milli")
    tiles_df = m.select(
        F.expr(f"greatest(least(cast(floor((cast(xm as double) - {_dlit(x0)}) "
               f"/ {_dlit(t)}) as bigint), cast(35 as bigint)), "
               "cast(0 as bigint))").alias("h"),
        F.expr(f"greatest(least(cast(floor(({_dlit(y1)} - cast(ym as double)) "
               f"/ {_dlit(t)}) as bigint), cast(17 as bigint)), "
               "cast(0 as bigint))").alias("v"),
        "user_id", "val_milli")
    return (
        tiles_df.groupBy("h", "v")
        .agg(F.count("*").alias("n_events"),
             F.countDistinct("user_id").alias("n_users"),
             F.sum("val_milli").alias("val_milli"))
        .orderBy("h", "v")
    )


def _q308_sql() -> str:
    """DuckDB oracle: identical grid math as SQL text (the engine side
    is DataFrame-API expressions; dual-dialect floor boundaries agree
    because both evaluate the same double constants — gated at sf0.01
    and sf0.1, plus a scalar-math recompute pytest)."""
    r, x0, t, y1 = _q308_consts()
    return f"""
WITH p0 AS ({_q308_points_sql()}),
m AS (SELECT user_id, val_milli,
  cast(floor({_dlit(r)} * radians(lon) * cos(radians(lat))) as bigint) AS xm,
  cast(floor({_dlit(r)} * radians(lat)) as bigint) AS ym FROM p0),
t AS (SELECT user_id, val_milli,
  greatest(least(cast(floor((xm - {_dlit(x0)}) / {_dlit(t)}) as bigint), 35), 0) AS h,
  greatest(least(cast(floor(({_dlit(y1)} - ym) / {_dlit(t)}) as bigint), 17), 0) AS v
  FROM m)
SELECT h, v, cast(count(*) as bigint) AS n_events,
       cast(count(DISTINCT user_id) as bigint) AS n_users,
       cast(sum(val_milli) as bigint) AS val_milli
FROM t GROUP BY 1, 2 ORDER BY h, v
"""


RASTER_QUERIES["q308_modis_tile_binning"] = (
    q308_modis_tile_binning, _q308_sql())
