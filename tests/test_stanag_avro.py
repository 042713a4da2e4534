"""STANAG 4676 and Avro OCF ingest parity tests.

Reference analogs (/root/reference):
  - `extensions/formats/stanag4676/format/.../parser/NATO4676Decoder.java`
    (TrackMessage -> tracks -> items walk, xsi:type dispatch) and the
    track rollup of `Stanag4676IngestPlugin.java:235-470`.
  - `extensions/formats/avro/.../GeoWaveAvroIngestPlugin.java` +
    `extensions/adapters/vector/src/main/avro/AvroSimpleFeature.avsc`
    (feature-collection container files).
"""
from __future__ import annotations

import pandas as pd
import pytest

from geowave_spark.table import avrofmt as av
from geowave_spark.table import stanag as st

STANAG_DOC = """<?xml version="1.0"?>
<TrackMessage xmlns="urn:int:nato:stanag4676:0.14"
              xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">
  <stanagVersion>0.14</stanagVersion>
  <msgCreatedTime>2024-05-01T10:00:00Z</msgCreatedTime>
  <senderId><stationID>gs1</stationID><nationality>XX</nationality></senderId>
  <tracks>
    <trackUUID>t-001</trackUUID>
    <trackNumber>T1</trackNumber>
    <trackStatus>CONFIRMED</trackStatus>
    <missionID>m7</missionID>
    <items xsi:type="TrackPoint">
      <trackItemUUID>p1</trackItemUUID>
      <trackItemTime>2024-05-01T10:00:00Z</trackItemTime>
      <trackItemSecurity>
        <securityClassification>UNCLASSIFIED</securityClassification>
      </trackItemSecurity>
      <trackPointPosition>
        <latitude>50.0</latitude><longitude>8.0</longitude>
        <elevation>100.0</elevation>
      </trackPointPosition>
      <trackPointSpeed>10.0</trackPointSpeed>
      <trackPointCourse>90.0</trackPointCourse>
      <trackPointSource>RADAR</trackPointSource>
    </items>
    <items>
      <trackItemUUID>p2</trackItemUUID>
      <trackItemTime>2024-05-01T10:01:00Z</trackItemTime>
      <trackPointPosition>
        <latitude>50.0</latitude><longitude>8.1</longitude>
      </trackPointPosition>
      <trackPointSpeed>20.0</trackPointSpeed>
    </items>
    <items xsi:type="MotionEventInformation">
      <trackItemUUID>e1</trackItemUUID>
      <trackItemTime>2024-05-01T10:00:10Z</trackItemTime>
      <motionEvent>STOP</motionEvent>
      <motionEventPosition>
        <latitude>50.0</latitude><longitude>8.0</longitude>
      </motionEventPosition>
    </items>
    <items xsi:type="MotionEventInformation">
      <trackItemUUID>e2</trackItemUUID>
      <trackItemTime>2024-05-01T10:00:20Z</trackItemTime>
      <motionEvent>LEFT TURN</motionEvent>
    </items>
    <items xsi:type="MotionEventInformation">
      <trackItemUUID>e3</trackItemUUID>
      <trackItemTime>2024-05-01T10:00:40Z</trackItemTime>
      <motionEvent>START</motionEvent>
    </items>
  </tracks>
  <tracks>
    <trackUUID>t-002</trackUUID>
    <trackNumber>T2</trackNumber>
    <missionID>m7</missionID>
    <items xsi:type="TrackPoint">
      <trackItemUUID>q1</trackItemUUID>
      <trackItemTime>2024-05-01T11:00:00Z</trackItemTime>
      <trackPointPosition>
        <latitude>-10.0</latitude><longitude>20.0</longitude>
      </trackPointPosition>
    </items>
  </tracks>
</TrackMessage>
"""


def test_stanag_rows_walk():
    pdf = st._stanag_rows("a.xml", STANAG_DOC.encode())
    assert len(pdf) == 6
    kinds = pdf.groupby("kind").size().to_dict()
    assert kinds == {"track_point": 3, "motion_point": 3}
    p1 = pdf[pdf["item_uuid"] == "p1"].iloc[0]
    assert (p1["lon"], p1["lat"], p1["ele"]) == (8.0, 50.0, 100.0)
    assert p1["speed"] == 10.0 and p1["course"] == 90.0
    assert p1["classification"] == "UNCLASSIFIED"
    assert p1["track_status"] == "CONFIRMED"
    assert p1["ts"] == pd.Timestamp("2024-05-01T10:00:00")
    # untyped <items> parse as track points (NATO4676Decoder.java:338-343)
    p2 = pdf[pdf["item_uuid"] == "p2"].iloc[0]
    assert p2["kind"] == "track_point" and p2["speed"] == 20.0
    e1 = pdf[pdf["item_uuid"] == "e1"].iloc[0]
    assert e1["motion_event"] == "STOP" and e1["lat"] == 50.0


def test_read_stanag_distributed(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"m{i}.xml").write_text(STANAG_DOC)
    df = st.read_stanag4676(spark, str(tmp_path))
    assert df.count() == 18
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "LocalTableScan" not in plan


# ---------------------------------------------------------------- avro

ATTR_NAMES = ["geom", "name", "pop", "score", "seen"]
ATTR_TYPES = ["org.locationtech.jts.geom.Point", "java.lang.String",
              "java.lang.Long", "java.lang.Double", "java.util.Date"]
FEATURES = [
    ("f1", ["POINT (8.0 50.0)", "alpha", 123456789012, 1.5,
            "2024-05-01T10:00:00"]),
    ("f2", ["POINT (-10.5 2.25)", "beta", -7, 0.125,
            "2024-05-01T11:30:00"]),
    ("f3", ["POINT (0.0 0.0)", None, None, None, None]),
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_roundtrip_driver(tmp_path, codec):
    p = str(tmp_path / "f.avro")
    av.write_avro_features(p, "city", ATTR_NAMES, ATTR_TYPES, FEATURES,
                           codec=codec, block_size=2)
    with open(p, "rb") as f:
        buf = f.read()
    schema, datums = av.read_container(buf)
    assert schema["name"] == "AvroSimpleFeatureCollection"
    rows = pd.concat([av.collection_rows(d, "f.avro") for d in datums])
    assert len(rows) == 3  # block_size=2 -> two container blocks
    f1 = rows[rows["fid"] == "f1"].iloc[0]
    assert f1["feature_type"] == "city"
    assert f1["geom_wkt"] == "POINT (8.0 50.0)"
    assert f1["properties"] == (
        '{"name": "alpha", "pop": 123456789012, "score": 1.5, '
        '"seen": "2024-05-01T10:00:00"}')
    f3 = rows[rows["fid"] == "f3"].iloc[0]
    assert f3["properties"] == (
        '{"name": null, "pop": null, "score": null, "seen": null}')


def test_avro_read_distributed(spark, tmp_path):
    for i in range(3):
        av.write_avro_features(str(tmp_path / f"c{i}.avro"), "city",
                               ATTR_NAMES, ATTR_TYPES, FEATURES)
    df = av.read_avro_features(spark, str(tmp_path))
    assert df.count() == 9
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "LocalTableScan" not in plan
    got = df.filter("fid = 'f2'").limit(1).collect()[0]
    assert got["geom_wkt"] == "POINT (-10.5 2.25)"


def test_avro_generic_decoder_types():
    """The container decoder is schema-driven, not hardwired to the
    feature-collection shape: a hand-encoded record exercising int,
    float, boolean, enum, fixed, and map decodes correctly."""
    import json

    schema = {
        "name": "Misc", "type": "record", "fields": [
            {"name": "i", "type": "int"},
            {"name": "f", "type": "float"},
            {"name": "b", "type": "boolean"},
            {"name": "e", "type": {"name": "Col", "type": "enum",
                                   "symbols": ["RED", "GREEN"]}},
            {"name": "x", "type": {"name": "Syn", "type": "fixed",
                                   "size": 2}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
        ]}
    import struct
    body = (av._zigzag(-3)                       # i
            + struct.pack("<f", 2.5)             # f
            + b"\x01"                            # b = true
            + av._zigzag(1)                      # e = GREEN
            + b"OK"                              # x
            + av._zigzag(2)                      # map: 2 entries
            + av._enc_str("a") + av._zigzag(7)
            + av._enc_str("z") + av._zigzag(-9)
            + av._zigzag(0))                     # map terminator
    sync = b"\x07" * 16
    buf = (av.MAGIC + av._zigzag(1)
           + av._enc_str("avro.schema")
           + av._enc_bytes(json.dumps(schema).encode())
           + av._zigzag(0) + sync
           + av._zigzag(1) + av._zigzag(len(body)) + body + sync)
    _, datums = av.read_container(buf)
    got = list(datums)
    assert got == [{"i": -3, "f": 2.5, "b": True, "e": "GREEN",
                    "x": b"OK", "m": {"a": 7, "z": -9}}]
