"""Drive the sfc+geom kernel end-to-end inside a real Spark session.

Pipeline: lineitem parquet -> derived points -> pandas-UDF cell encode ->
polygon cover (bbox cover + exact trim) -> broadcast equi-join on cell ->
pandas-UDF exact point-in-polygon refine -> compare against brute-force
crossJoin oracle (GeoWaveSparkSpatialJoinIT.java:228-255 analog).
"""
import sys, time
import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from geowave_spark.sfc import grid
from geowave_spark.geom import core as geom
from geowave_spark.session import local_session

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
RES = 10

spark = local_session()
spark.sparkContext.setLogLevel("WARN")

# points: deterministic lon/lat derived from lineitem keys (SQL-expressible form)
# NOTE: the synthetic lineitem is NOT TPC-H-unique on (orderkey, linenumber);
# only (orderkey, partkey, suppkey, linenumber) is unique — verified by drive.
li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
key = ((F.col("l_orderkey") * 8 + F.col("l_linenumber")) * 200000 + F.col("l_partkey")) * 10000 + F.col("l_suppkey")
pts = li.select(
    key.alias("pid"),
    (((key % 360000000) * 2654435761 % 360000000) / 1000000.0 - 180.0).alias("lon"),
    (((key % 180000000) * 2246822519 % 180000000) / 1000000.0 - 90.0).alias("lat"),
)

@F.pandas_udf(LongType())
def cell_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    c = grid.latlng_to_cell(lon.to_numpy(), lat.to_numpy(), RES)
    return pd.Series(c.astype(np.int64))

pts = pts.withColumn("cell", cell_udf("lon", "lat"))

# 25 deterministic query polygons (hexagons) spread over the globe
polys = []
for i in range(25):
    cx = ((i * 7919) % 340) - 170.0
    cy = ((i * 104729) % 160) - 80.0
    polys.append((i, geom.regular_polygon(cx, cy, 3.0 + (i % 5), 6, phase=i)))

# cover: bbox cells + exact polygon-cell intersection trim (driver side, tiny)
cov_rows = []
for pid_, p in polys:
    bb = geom.poly_bbox(p)
    _, cells = grid.cover_bbox([bb[0]], [bb[1]], [bb[2]], [bb[3]], RES)
    lo0, la0, lo1, la1 = grid.cell_bounds(cells, RES)
    keep = geom.bboxes_intersect_polygon(lo0, la0, lo1, la1, p)
    for c in cells[keep]:
        cov_rows.append((pid_, int(np.int64(c))))
cov = spark.createDataFrame(pd.DataFrame(cov_rows, columns=["poly_id", "cell"]))
print(f"cover cells total: {len(cov_rows)} over {len(polys)} polygons")

POLY_MAP = {i: p for i, p in polys}
bpolys = spark.sparkContext.broadcast(POLY_MAP)

def refine(pdf_iter):
    for pdf in pdf_iter:
        out_mask = np.zeros(len(pdf), dtype=bool)
        for pid_, sub in pdf.groupby("poly_id"):
            m = geom.point_in_polygon(sub["lon"].to_numpy(), sub["lat"].to_numpy(), bpolys.value[pid_])
            out_mask[sub.index.to_numpy()] = m
        yield pdf.reset_index(drop=True)[pd.Series(out_mask).values]

t0 = time.time()
cand = pts.join(F.broadcast(cov), "cell")
joined = cand.mapInPandas(refine, schema=cand.schema).select("pid", "poly_id").dropDuplicates(["pid", "poly_id"])
res = joined.toPandas().sort_values(["pid", "poly_id"]).reset_index(drop=True)
t1 = time.time()
print(f"indexed join: {len(res)} pairs in {t1-t0:.2f}s")

# brute-force oracle: crossJoin + same exact predicate
pcov = spark.createDataFrame(pd.DataFrame([(i,) for i, _ in polys], columns=["poly_id"]))
t0 = time.time()
brute_c = pts.crossJoin(F.broadcast(pcov))
brute = brute_c.mapInPandas(refine, schema=brute_c.schema).select("pid", "poly_id").dropDuplicates(["pid", "poly_id"])
bres = brute.toPandas().sort_values(["pid", "poly_id"]).reset_index(drop=True)
t1 = time.time()
print(f"brute join:   {len(bres)} pairs in {t1-t0:.2f}s")

assert res.equals(bres), "MISMATCH between indexed and brute-force join"
print("EQUIVALENT: indexed join == brute-force join")

# the PRODUCTION operator (interior/boundary split + codegen raycast refine)
# must reproduce the same pairs
from geowave_spark.join import spatial  # noqa: E402

t0 = time.time()
eng = spatial.point_in_polygon_join(
    spark, pts.select("pid", "lon", "lat"), POLY_MAP, data_res=RES
)
eres = eng.toPandas().sort_values(["pid", "poly_id"]).reset_index(drop=True)
t1 = time.time()
print(f"engine join:  {len(eres)} pairs in {t1-t0:.2f}s")
assert eres.equals(bres), "MISMATCH between engine join and brute-force join"
print("EQUIVALENT: engine point_in_polygon_join == brute-force join")

# show the physical plan of the indexed join
cand.explain("formatted")
spark.stop()
