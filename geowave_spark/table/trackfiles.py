"""GPX and GDELT ingest -> DataFrames (reference format-plugin parity).

Reference analogs (/root/reference):
  - GPX: `extensions/formats/gpx/src/main/java/.../format/gpx/
    GPXConsumer.java` (StAX event parse emitting trackpoint / waypoint /
    track features) — here ElementTree inside `mapInPandas` over a
    binaryFile scan, one task per .gpx file (the reference's unit of
    parallelism too: one consumer per stream).
  - GDELT: `extensions/formats/gdelt/src/main/java/.../format/gdelt/
    GDELTUtils.java:49-90` (tab-separated event table; the column map
    below copies its published indices).  GDELT is plain TSV, so the
    scan is Spark's splittable csv reader — a 100 TB dump parallelizes
    by HDFS block with predicate pushdown intact, no custom code in the
    scan path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GPX_POINT_SCHEMA = (
    "src string, kind string, track string, seg int, seq int, "
    "lon double, lat double, ele double, ts timestamp, name string"
)

_GPX_NS = "{http://www.topografix.com/GPX/1/1}"


def _gpx_rows(name: str, data: bytes) -> pd.DataFrame:
    """One GPX document -> trackpoint + waypoint rows.

    Mirrors GPXConsumer's element walk: `wpt` (waypoints, globally named),
    `trk`/`trkseg`/`trkpt` (trackpoints keyed by file+track+segment+seq).
    Route points (`rtept`) ingest as kind='rtept' with the route name in
    `track`, matching the reference's route handling.
    """
    import xml.etree.ElementTree as ET

    root = ET.fromstring(data)
    ns = _GPX_NS if root.tag.startswith("{") else ""

    def child_text(el, tag):
        c = el.find(f"{ns}{tag}")
        return None if c is None or c.text is None else c.text.strip()

    rows = []

    def point_row(el, kind, track, seg, seq):
        ele = child_text(el, "ele")
        t = child_text(el, "time")
        rows.append({
            "src": name, "kind": kind, "track": track, "seg": seg,
            "seq": seq,
            "lon": float(el.get("lon")), "lat": float(el.get("lat")),
            "ele": float(ele) if ele is not None else None,
            "ts": pd.Timestamp(t).tz_localize(None)
            if t and pd.Timestamp(t).tzinfo
            else (pd.Timestamp(t) if t else pd.NaT),
            "name": child_text(el, "name"),
        })

    for wpt in root.findall(f"{ns}wpt"):
        point_row(wpt, "wpt", None, 0, 0)
    for trk in root.findall(f"{ns}trk"):
        tname = child_text(trk, "name")
        for si, seg in enumerate(trk.findall(f"{ns}trkseg")):
            for qi, pt in enumerate(seg.findall(f"{ns}trkpt")):
                point_row(pt, "trkpt", tname, si, qi)
    for rte in root.findall(f"{ns}rte"):
        rname = child_text(rte, "name")
        for qi, pt in enumerate(rte.findall(f"{ns}rtept")):
            point_row(pt, "rtept", rname, 0, qi)
    return pd.DataFrame(
        rows, columns=["src", "kind", "track", "seg", "seq", "lon", "lat",
                       "ele", "ts", "name"])


def read_gpx(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of .gpx files -> point rows, parsed on executors
    (binaryFile scan + mapInPandas; one task per file)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, data in zip(pdf["path"], pdf["content"]):
                out = _gpx_rows(p.rsplit("/", 1)[-1], bytes(data))
                if len(out):
                    yield out

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.gpx").load(path)
             .select("path", "content"))
    return files.mapInPandas(parse, schema=GPX_POINT_SCHEMA)


# GDELT v1 event-table column map — indices published in the reference's
# GDELTUtils.java:49-90.
_GDELT_COLS = {
    "event_id": (0, "long"),
    "day": (1, "string"),           # yyyyMMdd
    "actor1_name": (6, "string"),
    "actor2_name": (16, "string"),
    "num_mentions": (31, "int"),
    "num_sources": (32, "int"),
    "num_articles": (33, "int"),
    "avg_tone": (34, "double"),
    "actor1_cc": (37, "string"),
    "actor2_cc": (44, "string"),
    "geo_type": (49, "int"),
    "country_code": (51, "string"),
    "lat": (53, "double"),
    "lon": (54, "double"),
    "source_url": (57, "string"),
}


def read_gdelt(spark: SparkSession, path: str) -> DataFrame:
    """GDELT event TSV -> typed event DataFrame.  The csv scan is
    splittable (block-parallel at 100 TB) and rows without a resolvable
    action location are dropped, matching the reference's
    `GDELTUtils.parse` null-location skip."""
    raw = spark.read.csv(path, sep="\t", header=False, inferSchema=False)
    sel = [F.col(f"_c{i}").cast(t).alias(name)
           for name, (i, t) in _GDELT_COLS.items()]
    return raw.select(*sel).filter(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
    ).withColumn("ts", F.to_date("day", "yyyyMMdd"))


def read_tdrive(spark: SparkSession, path: str) -> DataFrame:
    """T-Drive taxi trajectory ingest: `taxiid,timestamp,lon,lat` lines
    (reference: `extensions/formats/tdrive/.../TdriveIngestPlugin.java:97-106`,
    date format `TdriveUtils.java:34`).  Pure splittable csv scan — the
    whole parse is JVM-side casts, block-parallel at any size."""
    return (
        spark.read.csv(path, sep=",")
        .select(
            F.col("_c0").cast("int").alias("taxi_id"),
            F.to_timestamp("_c1", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.col("_c2").cast("double").alias("lon"),
            F.col("_c3").cast("double").alias("lat"),
        )
        .filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
    )


def read_geolife(spark: SparkSession, path: str) -> DataFrame:
    """GeoLife .plt trajectory ingest: `lat,lng,0,alt,days,date,time`
    lines, 6-line header skipped by the != 7-field rule, track id taken
    from the source file, points numbered per track
    (reference: `extensions/formats/geolife/.../GeoLifeIngestPlugin.java:
    160-187`).  Pure JVM: text scan + split/casts + a per-track window —
    no Python in the parse path."""
    from pyspark.sql.window import Window

    lines = (
        spark.read.text(path)
        .withColumn("track_id", F.regexp_extract(
            F.input_file_name(), r"([^/]+)\.plt$", 1))
        .withColumn("f", F.split("value", ","))
        .filter(F.size("f") == 7)
    )
    pts = lines.select(
        "track_id",
        F.col("f")[1].cast("double").alias("lon"),
        F.col("f")[0].cast("double").alias("lat"),
        F.col("f")[3].cast("double").alias("alt"),
        F.to_timestamp(F.concat_ws(" ", F.col("f")[5], F.col("f")[6]),
                       "yyyy-MM-dd HH:mm:ss").alias("ts"),
    ).filter(F.col("lon").isNotNull() & F.col("lat").isNotNull())
    w = Window.partitionBy("track_id").orderBy("ts")
    return pts.withColumn("point_instance",
                          F.row_number().over(w) - F.lit(1))


def read_twitter(spark: SparkSession, path: str) -> DataFrame:
    """Twitter JSON-lines ingest — geolocated tweets only, the reference's
    attribute set (`extensions/formats/twitter/.../TwitterUtils.java:42-51`:
    geom from coordinates.coordinates [lon, lat], dtg from created_at,
    user id/name, text, reply ids, retweet_count, lang).  Spark-first:
    `spark.read.json` IS the parser — JSONL splits by block, schema
    fields prune at the scan, no custom code anywhere."""
    raw = spark.read.json(path)
    return (
        raw.filter("coordinates is not null")
        .select(
            F.col("coordinates.coordinates")[0].alias("lon"),
            F.col("coordinates.coordinates")[1].alias("lat"),
            # Spark's formatter refuses EEE in parse mode; the weekday
            # prefix is fixed-width, so drop it
            F.expr("to_timestamp(substring(created_at, 5), "
                   "'MMM dd HH:mm:ss Z yyyy')").alias("dtg"),
            F.col("user.id").cast("long").alias("user_id"),
            F.col("user.screen_name").alias("user_name"),
            "text",
            F.col("in_reply_to_user_id").cast("long"),
            F.col("in_reply_to_status_id").cast("long"),
            F.col("retweet_count").cast("int"),
            "lang",
        )
    )
