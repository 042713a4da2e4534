"""GPX and GDELT ingest parity tests.

Reference analogs: `extensions/formats/gpx/.../GPXConsumer.java`
(trackpoint/waypoint/route walk, track LineString assembly) and
`extensions/formats/gdelt/.../GDELTUtils.java:49-90` (column map,
null-location skip) in /root/reference.
"""
from __future__ import annotations

import pandas as pd

from geowave_spark.table import trackfiles as tf

GPX_DOC = """<?xml version="1.0"?>
<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">
  <wpt lat="52.5" lon="13.4"><name>berlin</name><ele>34.0</ele></wpt>
  <trk><name>run1</name>
    <trkseg>
      <trkpt lat="1.0" lon="2.0"><ele>10.0</ele>
        <time>2024-05-01T10:00:00Z</time></trkpt>
      <trkpt lat="1.1" lon="2.1"><ele>11.0</ele>
        <time>2024-05-01T10:00:10Z</time></trkpt>
    </trkseg>
    <trkseg>
      <trkpt lat="1.2" lon="2.2"/>
    </trkseg>
  </trk>
  <rte><name>r9</name>
    <rtept lat="9.0" lon="9.5"><name>stop1</name></rtept>
  </rte>
</gpx>
"""


def test_gpx_rows_walk():
    pdf = tf._gpx_rows("a.gpx", GPX_DOC.encode())
    assert len(pdf) == 5
    kinds = pdf.groupby("kind").size().to_dict()
    assert kinds == {"wpt": 1, "trkpt": 3, "rtept": 1}
    run = pdf[pdf["kind"] == "trkpt"].sort_values(["seg", "seq"])
    assert list(run["lon"]) == [2.0, 2.1, 2.2]
    assert list(run["seg"]) == [0, 0, 1]
    assert run.iloc[0]["ts"] == pd.Timestamp("2024-05-01T10:00:00")
    assert pdf[pdf["kind"] == "wpt"].iloc[0]["name"] == "berlin"


def test_read_gpx_distributed(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"t{i}.gpx").write_text(GPX_DOC)
    df = tf.read_gpx(spark, str(tmp_path))
    assert df.count() == 15
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "LocalTableScan" not in plan


def test_read_gdelt_column_map(spark, tmp_path):
    # 58-column GDELT v1 row; reference indices 0/1/53/54 etc.
    vals = [""] * 58
    vals[0], vals[1] = "123456", "20240215"
    vals[6], vals[16] = "POLICE", "PROTESTER"
    vals[31], vals[32], vals[33], vals[34] = "4", "2", "3", "-1.5"
    vals[49], vals[51] = "3", "DE"
    vals[53], vals[54] = "52.52", "13.40"
    vals[57] = "http://example.com/a"
    bad = list(vals)
    bad[53] = bad[54] = ""          # no action location -> dropped
    (tmp_path / "ev.tsv").write_text(
        "\t".join(vals) + "\n" + "\t".join(bad) + "\n")
    pdf = tf.read_gdelt(spark, str(tmp_path / "ev.tsv")).toPandas()
    assert len(pdf) == 1
    r = pdf.iloc[0]
    assert (r["event_id"], r["actor1_name"], r["actor2_name"]) == (
        123456, "POLICE", "PROTESTER")
    assert (r["lat"], r["lon"], r["country_code"]) == (52.52, 13.40, "DE")
    assert r["avg_tone"] == -1.5 and r["num_mentions"] == 4
    assert str(r["ts"]) == "2024-02-15"


def test_read_tdrive(spark, tmp_path):
    (tmp_path / "1.txt").write_text(
        "1,2008-02-02 15:36:08,116.51172,39.92123\n"
        "1,2008-02-02 15:46:08,116.51135,39.93883\n"
        "2,2008-02-02 15:30:00,116.40000,39.90000\n")
    pdf = tf.read_tdrive(spark, str(tmp_path / "1.txt")).toPandas()
    assert len(pdf) == 3
    assert sorted(pdf["taxi_id"].unique()) == [1, 2]
    assert pdf.loc[0, "lon"] == 116.51172
    assert str(pdf.loc[0, "ts"]) == "2008-02-02 15:36:08"


def test_read_geolife(spark, tmp_path):
    hdr = "Geolife trajectory\nWGS 84\nAltitude is in Feet\nReserved 3\n" \
          "0,2,255,My Track,0,0,2,8421376\n0\n"
    body = ("39.984702,116.318417,0,492,39744.245,2008-10-23,05:53:05\n"
            "39.984683,116.318450,0,492,39744.245,2008-10-23,05:53:10\n")
    (tmp_path / "20081023055305.plt").write_text(hdr + body)
    pdf = (tf.read_geolife(spark, str(tmp_path))
           .toPandas().sort_values("point_instance"))
    assert len(pdf) == 2
    assert pdf.iloc[0]["track_id"] == "20081023055305"
    assert pdf.iloc[0]["lat"] == 39.984702 and pdf.iloc[0]["lon"] == 116.318417
    assert list(pdf["point_instance"]) == [0, 1]
    assert str(pdf.iloc[1]["ts"]) == "2008-10-23 05:53:10"


def test_read_twitter(spark, tmp_path):
    import json
    tweets = [
        {"coordinates": {"type": "Point", "coordinates": [13.4, 52.5]},
         "created_at": "Wed Feb 14 10:33:00 +0000 2024",
         "user": {"id": 42, "screen_name": "alice"},
         "text": "hello spree", "in_reply_to_user_id": None,
         "in_reply_to_status_id": None, "retweet_count": 3, "lang": "en"},
        {"coordinates": None,  # no geo -> dropped, per the reference
         "created_at": "Wed Feb 14 10:34:00 +0000 2024",
         "user": {"id": 43, "screen_name": "bob"},
         "text": "no geo", "in_reply_to_user_id": 42,
         "in_reply_to_status_id": 7, "retweet_count": 0, "lang": "en"},
    ]
    (tmp_path / "tweets.json").write_text(
        "\n".join(json.dumps(t) for t in tweets))
    pdf = tf.read_twitter(spark, str(tmp_path / "tweets.json")).toPandas()
    assert len(pdf) == 1
    r = pdf.iloc[0]
    assert (r["lon"], r["lat"], r["user_name"], r["lang"]) == (
        13.4, 52.5, "alice", "en")
    assert r["retweet_count"] == 3
    assert str(r["dtg"]).startswith("2024-02-14 10:33:00")
