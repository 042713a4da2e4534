"""KMeans and DBSCAN operator tests (reference analog: KMeans IT
`test/src/test/.../spark/GeoWaveSparkKMeansIT.java` and the DBSCAN MR
tests — here validated against a brute-force numpy oracle)."""

import numpy as np
import pandas as pd
import pytest

from geowave_spark.agg import dbscan as dbscan_mod
from geowave_spark.agg import kmeans as kmeans_mod


def test_kmeans_hulls(spark):
    rng = np.random.default_rng(3)
    centers = np.array([[-60, -30], [0, 0], [60, 30]], float)
    xy = np.concatenate([c + rng.normal(scale=3.0, size=(80, 2)) for c in centers])
    pdf = pd.DataFrame({"pid": np.arange(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]})
    df = spark.createDataFrame(pdf)
    clustered = kmeans_mod.kmeans_clusters(df, k=3, seed=1).toPandas()
    assert len(clustered) == len(xy)
    # well-separated blobs: each blob is exactly one cluster
    blob = clustered["pid"] // 80
    assert clustered.groupby(blob)["cluster"].nunique().eq(1).all()
    assert clustered["cluster"].nunique() == 3


def _brute_dbscan(xy: np.ndarray, ids: np.ndarray, eps: float, min_pts: int):
    """Deterministic DBSCAN spec: canonical label = min core id of the
    component; border adopts min core-neighbor label."""
    d2 = ((xy[:, None, :] - xy[None, :, :]) ** 2).sum(-1)
    adj = d2 <= eps * eps
    np.fill_diagonal(adj, False)
    core = adj.sum(1) + 1 >= min_pts
    label = {int(i): -1 for i in ids}
    # connected components over core-core edges
    core_idx = np.flatnonzero(core)
    comp = {int(i): int(i) for i in core_idx}
    changed = True
    while changed:
        changed = False
        for i in core_idx:
            for j in np.flatnonzero(adj[i] & core):
                if comp[int(j)] < comp[int(i)]:
                    comp[int(i)] = comp[int(j)]
                    changed = True
                elif comp[int(i)] < comp[int(j)]:
                    comp[int(j)] = comp[int(i)]
                    changed = True
    # canonical label: min id among component cores
    roots = {}
    for i in core_idx:
        roots.setdefault(comp[int(i)], []).append(int(ids[i]))
    canon = {r: min(v) for r, v in roots.items()}
    for i in core_idx:
        label[int(ids[i])] = canon[comp[int(i)]]
    for i in np.flatnonzero(~core):
        nb = np.flatnonzero(adj[i] & core)
        if len(nb):
            label[int(ids[i])] = min(label[int(ids[j])] for j in nb)
    return label, {int(ids[i]) for i in core_idx}


def test_dbscan_matches_bruteforce(spark):
    rng = np.random.default_rng(11)
    blob1 = rng.normal(loc=(10, 10), scale=0.3, size=(25, 2))
    blob2 = rng.normal(loc=(20, -5), scale=0.3, size=(18, 2))
    noise = rng.uniform(low=(-170, -80), high=(170, 80), size=(30, 2))
    xy = np.concatenate([blob1, blob2, noise])
    ids = np.arange(len(xy)) * 7 + 3  # non-contiguous ids
    pdf = pd.DataFrame({"pid": ids, "lon": xy[:, 0], "lat": xy[:, 1]})
    df = spark.createDataFrame(pdf)

    got = {
        r["pid"]: (r["cluster"], r["is_core"])
        for r in dbscan_mod.dbscan(spark, df, eps=1.0, min_pts=4,
                                   id_col="pid", res=8).collect()
    }
    want_label, want_core = _brute_dbscan(xy, ids, 1.0, 4)
    assert {k: v[0] for k, v in got.items()} == want_label
    assert {k for k, v in got.items() if v[1]} == want_core


def test_q127_kmeans_jump_matches_python_lloyd(spark, sf_dir):
    """Pure-python integer Lloyd recompute of the per-k distortions and
    drops — independent of both SQL chains; distortion must be
    non-increasing in k."""
    import math

    from geowave_spark.queries_analytics import _Q127_KS, ANALYTICS_QUERIES
    from geowave_spark.table import geo

    got = [(r["k"], r["distortion"], r["drop_ppm"])
           for r in ANALYTICS_QUERIES["q127_kmeans_jump"][0](spark, sf_dir)
           .collect()]

    pts = spark.sql(
        "SELECT pid, cast(floor(lon * 1000000) as bigint) AS x, "
        "cast(floor(lat * 1000000) as bigint) AS y "
        f"FROM ({geo.lineitem_points_sql()}) src").toPandas()
    pts = pts.sort_values("pid").reset_index(drop=True)
    xs = pts["x"].astype("int64").tolist()
    ys = pts["y"].astype("int64").tolist()

    want, prev = [], None
    for k in _Q127_KS:
        cents = [(xs[i], ys[i]) for i in range(k)]
        for it in range(3):
            assign = []
            for x, y in zip(xs, ys):
                m = min(((x - cx) ** 2 + (y - cy) ** 2) * k + j
                        for j, (cx, cy) in enumerate(cents))
                assign.append(m)
            if it < 2:
                sums = {}
                for (x, y), m in zip(zip(xs, ys), assign):
                    j = m % k
                    sx, sy, n = sums.get(j, (0, 0, 0))
                    sums[j] = (sx + x, sy + y, n + 1)
                cents_d = {j: (math.floor(sx * 1.0 / n), math.floor(sy * 1.0 / n))
                           for j, (sx, sy, n) in sums.items()}
                cents = [cents_d.get(j, cents[j]) for j in range(k)]
        d = sum((m // k) // 1_000_000 for m in assign)
        drop = 0 if prev is None else math.floor((prev - d) * 1000000.0 / prev)
        want.append((k, d, drop))
        prev = d
    assert got == want
    ds = [d for _, d, _ in want]
    assert ds == sorted(ds, reverse=True)  # distortion non-increasing in k
    assert max(dr for _, _, dr in want) > 0
