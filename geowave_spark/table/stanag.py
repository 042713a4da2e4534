"""STANAG 4676 (NATO track format) ingest -> DataFrames.

Reference analogs (/root/reference):
  - XML decode: `extensions/formats/stanag4676/format/src/main/java/...
    /stanag4676/parser/NATO4676Decoder.java:204-475` — TrackMessage ->
    `tracks` (TrackEvent) -> `items` discriminated by `xsi:type`
    (TrackPoint / MotionEventInformation), geodetic positions as
    latitude/longitude/elevation children.  Here: ElementTree inside
    `mapInPandas` over a binaryFile scan, one task per .xml/.4676 file
    (the reference's unit of parallelism too: one decoder per stream).
  - Feature types: `.../stanag4676/Stanag4676Utils.java:28-131`
    (track_point and motion_point attribute sets).  The reference's
    track rollup (`.../Stanag4676IngestPlugin.java:235-470`) is not
    implemented: no query reads one.

Scale shape: the per-file parse fans out as wide as the file count.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

STANAG_POINT_SCHEMA = (
    "src string, kind string, mission string, track_number string, "
    "track_uuid string, track_status string, item_uuid string, "
    "point_source string, motion_event string, ts timestamp, "
    "end_ts timestamp, speed double, course double, "
    "lon double, lat double, ele double, classification string"
)

_XSI = "{http://www.w3.org/2001/XMLSchema-instance}"


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _child_map(el) -> dict:
    return {_local(c.tag): c for c in el}


def _text(children: dict, tag: str) -> str | None:
    c = children.get(tag)
    if c is None or c.text is None:
        return None
    t = c.text.strip()
    return t or None


def _num(children: dict, tag: str) -> float | None:
    t = _text(children, tag)
    try:
        return float(t) if t is not None else None
    except ValueError:
        return None


def _ts(val: str | None):
    if not val:
        return pd.NaT
    t = pd.Timestamp(val)
    return t.tz_localize(None) if t.tzinfo else t


def _position(children: dict, tag: str) -> tuple:
    """<tag><latitude/><longitude/><elevation/></tag> -> (lon, lat, ele)
    (NATO4676Decoder.readGeodeticPosition element names)."""
    el = children.get(tag)
    if el is None:
        return None, None, None
    pos = _child_map(el)
    return _num(pos, "longitude"), _num(pos, "latitude"), _num(pos, "elevation")


def _classification(children: dict, tag: str) -> str | None:
    el = children.get(tag)
    if el is None:
        return None
    return _text(_child_map(el), "securityClassification")


def _stanag_rows(name: str, data: bytes) -> pd.DataFrame:
    """One TrackMessage document -> track_point + motion_point rows.

    Mirrors NATO4676Decoder's walk: `tracks` children are TrackEvents;
    their `items` children split on xsi:type — untyped items and
    xsi:type="TrackPoint" parse as track points
    (NATO4676Decoder.java:316-344), "MotionEventInformation" as motion
    events with a separate end time (NATO4676Decoder.java:416-446).
    """
    import xml.etree.ElementTree as ET

    root = ET.fromstring(data)
    rows = []
    for track_el in root.iter():
        if _local(track_el.tag) != "tracks":
            continue
        tr = _child_map(track_el)
        base = {
            "src": name,
            "mission": _text(tr, "missionID"),
            "track_number": _text(tr, "trackNumber"),
            "track_uuid": _text(tr, "trackUUID"),
            "track_status": _text(tr, "trackStatus"),
        }
        for item in track_el:
            if _local(item.tag) != "items":
                continue
            xsitype = item.get(f"{_XSI}type")
            ch = _child_map(item)
            if xsitype in (None, "TrackPoint"):
                lon, lat, ele = _position(ch, "trackPointPosition")
                rows.append({
                    **base, "kind": "track_point",
                    "item_uuid": _text(ch, "trackItemUUID"),
                    "point_source": _text(ch, "trackPointSource"),
                    "motion_event": None,
                    "ts": _ts(_text(ch, "trackItemTime")),
                    "end_ts": pd.NaT,
                    "speed": _num(ch, "trackPointSpeed"),
                    "course": _num(ch, "trackPointCourse"),
                    "lon": lon, "lat": lat, "ele": ele,
                    "classification":
                        _classification(ch, "trackItemSecurity"),
                })
            elif xsitype == "MotionEventInformation":
                lon, lat, ele = _position(ch, "motionEventPosition")
                rows.append({
                    **base, "kind": "motion_point",
                    "item_uuid": _text(ch, "trackItemUUID"),
                    "point_source": _text(ch, "trackItemSource"),
                    "motion_event": _text(ch, "motionEvent"),
                    "ts": _ts(_text(ch, "trackItemTime")),
                    "end_ts": _ts(_text(ch, "motionEventEndTime")),
                    "speed": None, "course": None,
                    "lon": lon, "lat": lat, "ele": ele,
                    "classification":
                        _classification(ch, "trackItemSecurity"),
                })
    cols = [c.split()[0] for c in STANAG_POINT_SCHEMA.split(", ")]
    return pd.DataFrame(rows, columns=cols)


def read_stanag4676(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of STANAG 4676 .xml/.4676 files -> item rows
    (track points AND motion events, discriminated by `kind`), parsed on
    executors — binaryFile scan + mapInPandas, one task per file (the
    reference's `Stanag4676IngestPlugin.getFileExtensionFilters` accepts
    the same two extensions)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, data in zip(pdf["path"], pdf["content"]):
                out = _stanag_rows(p.rsplit("/", 1)[-1], bytes(data))
                if len(out):
                    yield out

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.{xml,4676}").load(path)
             .select("path", "content"))
    return files.mapInPandas(parse, schema=STANAG_POINT_SCHEMA)
