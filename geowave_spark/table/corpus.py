"""North-rule corpus staging: the Iceberg-analog image+caption table the
measured workloads scan.

BASELINE.json's metric is "spatial-join rows/sec + tile-assignment
throughput on the 10^12-scale Iceberg image+caption table".  This module
stages that table ONCE (unmeasured ingest — a real cluster's input table
pre-exists) as a snapshot table (`table/snapshots.py`) clustered by the
SFC cell of each image footprint (Iceberg ``sortedBy(cell)`` — the
reference's SFC-ordered writes, `core/store/.../BaseDataStore` write path
in /root/reference), and hands the measured jobs DataFrames that SCAN it:

- :func:`image_points` — footprint centroids for the flagship
  point-in-polygon join (optionally amplified in flight: deterministic
  replication with distinct ids, the stand-in for the table's full
  10^12-row width; the replicator runs post-repartition so every core
  produces rows, exactly the parallelism file splits give a real table).

Idempotent per (sf_dir, target_images): the table path encodes both, a
committed snapshot is reused, so the alternating N / 4N scaling
subprocesses build it exactly once between them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: N812

from . import geo, images, snapshots as snap

CELL_RES = 7  # footprint-centroid SFC cell used as the cluster key


def _scratch_root() -> str:
    """Staging directory: $SPARK_GRAFT_SCRATCH, else the repo's .scratch —
    but when the package is imported from a --py-files ZIP, __file__ points
    inside the archive, so fall back to cwd (the spark-submit working dir)."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    if os.path.isdir(repo):
        return os.path.join(repo, ".scratch")
    return os.path.join(os.getcwd(), ".scratch")


def ensure_image_table(
    spark: SparkSession,
    sf_dir: str,
    target_images: int,
    num_files: int = 64,
    root: str | None = None,
) -> str:
    """Stage (once) the snapshot table of ~``target_images`` image rows.

    Rows are `table/images.py` synthesis over documents.parquet (the
    input_hint schema, caption = document text) replicated to the target
    count with distinct ids, written clustered by the footprint-centroid
    cell so file footer stats give sharp spatial pruning (q68's layout).
    Returns the table path.
    """
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(root or _scratch_root(),
                        f"snap_corpus_{sf_name}_t{target_images}")
    if snap.current_snapshot(path) > 0:
        return path
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    mult = max(1, target_images // n_docs)
    img = images.images_df(spark, sf_dir, mult=mult).withColumn(
        "cell",
        F.expr(geo.rowmajor_cell_sql("(lon0 + lon1) / 2", "(lat0 + lat1) / 2",
                                     CELL_RES)),
    )
    snap.create(img, path, cluster_by=["cell"], num_files=num_files)
    return path


def image_points(
    spark: SparkSession, path: str, amplify: int = 0
) -> tuple[DataFrame, int]:
    """Footprint centroids scanned from the corpus table, repartitioned to
    the cluster's parallelism and cached (a long-lived cluster keeps its
    source hot), then optionally amplified in flight to ``amplify`` rows.

    Returns (points DataFrame with columns pid/lon/lat, base row count).
    """
    par = spark.sparkContext.defaultParallelism
    base = (
        snap.scan(spark, path,
                  columns=["image_id", "lon0", "lat0", "lon1", "lat1"])
        .select(
            F.xxhash64("image_id").alias("pid"),
            ((F.col("lon0") + F.col("lon1")) / 2).alias("lon"),
            ((F.col("lat0") + F.col("lat1")) / 2).alias("lat"),
        )
        .repartition(par)
        .persist()
    )
    n = base.count()
    if not amplify or amplify <= n:
        return base, n
    mult = max(1, amplify // n)
    # hash-combine (not pid*mult+m_): pids already span the full int64
    # range, so the multiply overflows under ANSI mode
    pts = base.crossJoin(spark.range(mult).select(F.col("id").alias("m_"))).select(
        F.xxhash64("pid", "m_").alias("pid"), "lon", "lat"
    )
    return pts, n


def _mixed_center(rid: int) -> tuple[float, float]:
    """Placement-independent polygon center: md5 mix of the region id.

    The supplier-rect centers and the image-footprint centers both come
    from the testdata's `key * 7919 + c` LCG — the two lattices are
    ALIGNED, so rect-centered polygons against image centroids produce a
    degenerate match rate (measured 0 at mult=1, 4x-inflated at mult=2).
    A cryptographic mix breaks the lattice: match rate = polygon area
    fraction, stable across corpus sizes.
    """
    import hashlib

    h = hashlib.md5(f"poly-{rid}".encode()).digest()
    lon = int.from_bytes(h[:8], "big") % 360_000_000 / 1e6 - 180.0
    lat = int.from_bytes(h[8:16], "big") % 180_000_000 / 1e6 - 90.0
    return lon, lat


def query_polygons(spark: SparkSession, sf_dir: str, max_polys: int = 100) -> dict:
    """The flagship join's query side: 12-gons sized from the supplier-rect
    table (same size family every round — keeps BENCH_r{N} comparable),
    centered by :func:`_mixed_center`, capped so matched-pair volume stays
    proportional to the point side."""
    from ..geom import core as geom
    from .views import register_views

    register_views(spark, sf_dir)
    rect = spark.sql(geo.supplier_rects_sql()).toPandas()
    if len(rect) > max_polys:
        rect = rect.iloc[:: len(rect) // max_polys].head(max_polys)
    out = {}
    for r in rect.itertuples():
        lon, lat = _mixed_center(int(r.rid))
        out[int(r.rid)] = geom.regular_polygon(
            lon, lat, max(r.lon1 - r.lon0, r.lat1 - r.lat0) / 2, 12)
    return out
