"""OpenStreetMap PBF ingest — pure-struct parser over the published format.

Reference: `extensions/cli/osm` in /root/reference —
`parser/OsmPbfParser.java:197-259` (delta-decoded DenseNodes, the
"weird spec" keys_vals run-length tag layout, stringtable lookups),
`:156-194` (relations: per-member role stringtable ids + delta member
ids), and way refs delta-decoding per the same BinaryParser contract.

The format itself is public (OSM PBF: fileformat.proto / osmformat.proto):
a sequence of [int32-BE length][BlobHeader proto][Blob proto] where each
OSMData blob is an independently-decodable zlib PrimitiveBlock of ~8k
entities.  coordinate = 1e-9 * (offset + granularity * delta_decoded_units).

Spark-first distribution: the reference stages the whole file through ONE
sequential Osmosis reader (`OsmPbfParser.stageData`).  A planet file is a
single ~70 GB .pbf, so per-FILE parallelism (the shapefile/GeoTIFF pattern)
is worthless here.  Instead `osm_block_index` walks ONLY the 4-byte length
prefixes + BlobHeaders (seeking past every payload — O(#blocks) tiny reads),
and the resulting (path, offset, size) table fans out to executors where
`mapInPandas` decodes each block independently — one planet file becomes
~100k parallel tasks with zero driver decompression.  Ways and relations
come back as node-id lists; no query assembles their geometry.
"""
from __future__ import annotations

import json
import struct
import zlib
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

# --------------------------------------------------------------------------
# protobuf wire-format primitives (pure python; no protobuf lib in sandbox)
# --------------------------------------------------------------------------


def _read_varint(buf: memoryview, i: int) -> tuple[int, int]:
    val = 0
    shift = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _fields(buf: memoryview) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value) over one message."""
    i, n = 0, len(buf)
    while i < n:
        key, i = _read_varint(buf, i)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _read_varint(buf, i)
        elif wt == 1:
            v = bytes(buf[i:i + 8])
            i += 8
        elif wt == 2:
            ln, i = _read_varint(buf, i)
            v = buf[i:i + ln]
            i += ln
        elif wt == 5:
            v = bytes(buf[i:i + 4])
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield fno, wt, v


def _packed_varints(buf: memoryview, signed: bool = False) -> list[int]:
    out = []
    i, n = 0, len(buf)
    while i < n:
        v, i = _read_varint(buf, i)
        out.append(_zigzag(v) if signed else v)
    return out


def _delta_cum(vals: list[int]) -> list[int]:
    acc, out = 0, []
    for v in vals:
        acc += v
        out.append(acc)
    return out


# encoder twins (test fixtures / export) -----------------------------------

def _enc_varint(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _enc_zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v < 0 else v << 1


def _enc_field(fno: int, wt: int, payload: bytes) -> bytes:
    return _enc_varint((fno << 3) | wt) + payload


def _enc_bytes(fno: int, data: bytes) -> bytes:
    return _enc_field(fno, 2, _enc_varint(len(data)) + data)


def _enc_packed(fno: int, vals: Iterable[int], signed: bool = False) -> bytes:
    body = b"".join(_enc_varint(_enc_zigzag(v) if signed else v) for v in vals)
    return _enc_bytes(fno, body)


def _enc_deltas(vals: list[int]) -> list[int]:
    prev, out = 0, []
    for v in vals:
        out.append(v - prev)
        prev = v
    return out


# --------------------------------------------------------------------------
# block index + block decode
# --------------------------------------------------------------------------

def osm_block_index(paths: str | list[str]) -> list[tuple[str, int, int, str]]:
    """Walk a .pbf's framing: [(path, offset, size, type)] per blob.

    Reads only the 4-byte length prefixes and BlobHeaders, seeking past
    payloads — O(#blocks) small reads, no decompression, so indexing a
    planet file is IO-trivial and every block decodes independently on an
    executor afterwards.
    """
    if isinstance(paths, str):
        paths = [paths]
    index = []
    for path in paths:
        with open(path, "rb") as fh:
            while True:
                raw = fh.read(4)
                if len(raw) < 4:
                    break
                hlen = struct.unpack(">i", raw)[0]
                header = memoryview(fh.read(hlen))
                btype, dsize = "", 0
                for fno, _wt, v in _fields(header):
                    if fno == 1:
                        btype = bytes(v).decode()
                    elif fno == 3:
                        dsize = v
                index.append((path, fh.tell(), dsize, btype))
                fh.seek(dsize, 1)
    return index


def _blob_payload(data: bytes) -> bytes:
    raw = None
    for fno, _wt, v in _fields(memoryview(data)):
        if fno == 1:
            raw = bytes(v)
        elif fno == 3:
            raw = zlib.decompress(bytes(v))
    if raw is None:
        raise ValueError("Blob carries no raw/zlib_data (unsupported codec)")
    return raw


def decode_primitive_block(data: bytes):
    """One OSMData blob -> (nodes, ways, relations) row lists.

    nodes: (id, lon_nano, lat_nano, tags_json)
    ways: (id, refs list, tags_json)
    relations: (id, members list of (memid, role, type), tags_json)
    """
    block = memoryview(_blob_payload(data))
    strings: list[bytes] = []
    groups = []
    granularity, lat_off, lon_off = 100, 0, 0
    for fno, _wt, v in _fields(block):
        if fno == 1:
            strings = [bytes(sv) for f2, _w, sv in _fields(v) if f2 == 1]
        elif fno == 2:
            groups.append(v)
        elif fno == 17:
            granularity = v
        elif fno == 19:
            lat_off = v
        elif fno == 20:
            lon_off = v

    def s(i: int) -> str:
        return strings[i].decode("utf-8", "replace")

    nodes, ways, rels = [], [], []
    for g in groups:
        for fno, _wt, v in _fields(g):
            if fno == 2:  # DenseNodes
                ids = lats = lons = kv = None
                for f2, _w, v2 in _fields(v):
                    if f2 == 1:
                        ids = _delta_cum(_packed_varints(v2, signed=True))
                    elif f2 == 8:
                        lats = _delta_cum(_packed_varints(v2, signed=True))
                    elif f2 == 9:
                        lons = _delta_cum(_packed_varints(v2, signed=True))
                    elif f2 == 10:
                        kv = _packed_varints(v2)
                tag_maps: list[dict] = []
                if kv:
                    # "weird spec": keys/values mashed sequentially, 0 ends a node
                    cur: dict = {}
                    j = 0
                    while j < len(kv):
                        if kv[j] == 0:
                            tag_maps.append(cur)
                            cur = {}
                            j += 1
                        else:
                            cur[s(kv[j])] = s(kv[j + 1])
                            j += 2
                for k, nid in enumerate(ids or []):
                    tags = tag_maps[k] if k < len(tag_maps) else {}
                    nodes.append((
                        nid,
                        lon_off + granularity * lons[k],
                        lat_off + granularity * lats[k],
                        json.dumps(tags, sort_keys=True) if tags else None,
                    ))
            elif fno == 3:  # Way
                wid, keys, vals, refs = 0, [], [], []
                for f2, _w, v2 in _fields(v):
                    if f2 == 1:
                        wid = v2
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        refs = _delta_cum(_packed_varints(v2, signed=True))
                tags = {s(k): s(vv) for k, vv in zip(keys, vals)}
                ways.append((wid, refs, json.dumps(tags, sort_keys=True) if tags else None))
            elif fno == 4:  # Relation
                rid, keys, vals, roles, memids, types = 0, [], [], [], [], []
                for f2, _w, v2 in _fields(v):
                    if f2 == 1:
                        rid = v2
                    elif f2 == 2:
                        keys = _packed_varints(v2)
                    elif f2 == 3:
                        vals = _packed_varints(v2)
                    elif f2 == 8:
                        roles = _packed_varints(v2)
                    elif f2 == 9:
                        memids = _delta_cum(_packed_varints(v2, signed=True))
                    elif f2 == 10:
                        types = _packed_varints(v2)
                tags = {s(k): s(vv) for k, vv in zip(keys, vals)}
                members = [(m, s(r), ("node", "way", "relation")[t])
                           for m, r, t in zip(memids, roles, types)]
                rels.append((rid, members, json.dumps(tags, sort_keys=True) if tags else None))
    return nodes, ways, rels


# --------------------------------------------------------------------------
# Spark readers
# --------------------------------------------------------------------------

_NODE_SCHEMA = "id long, lon_nano long, lat_nano long, tags string"
_WAY_SCHEMA = "id long, refs array<long>, tags string"
_REL_SCHEMA = ("id long, members array<struct<memid: long, role: string, "
               "type: string>>, tags string")


def read_osm_pbf(spark: SparkSession, paths: str | list[str],
                 parallelism: int | None = None) -> dict[str, DataFrame]:
    """Distributed OSM PBF read -> {'nodes', 'ways', 'relations'} DataFrames.

    The driver indexes blob frames (headers only); executors decode blocks
    independently — intra-file parallelism, so ONE planet file scales to
    the whole cluster (unlike the reference's single sequential reader,
    `OsmPbfParser.stageData`).  `lon = lon_nano / 1e9`.
    """
    index = [r for r in osm_block_index(paths) if r[3] == "OSMData"]
    if parallelism is None:
        parallelism = min(max(len(index), 1), spark.sparkContext.defaultParallelism * 4)
    blocks = spark.createDataFrame(
        index, "path string, offset long, size long, btype string"
    ).repartition(parallelism)

    def _decode(kind: int, schema: str):
        def run(batches):
            import pandas as pd
            for pdf in batches:
                rows = []
                by_path: dict = {}
                for path, off, size in zip(pdf["path"], pdf["offset"], pdf["size"]):
                    by_path.setdefault(path, []).append((int(off), int(size)))
                for path, chunks in by_path.items():
                    with open(path, "rb") as fh:
                        for off, size in sorted(chunks):
                            fh.seek(off)
                            rows.extend(decode_primitive_block(fh.read(size))[kind])
                if kind == 0:
                    yield pd.DataFrame(rows, columns=["id", "lon_nano", "lat_nano", "tags"])
                elif kind == 1:
                    yield pd.DataFrame(rows, columns=["id", "refs", "tags"])
                else:
                    yield pd.DataFrame(rows, columns=["id", "members", "tags"])
        return run

    return {
        "nodes": blocks.mapInPandas(_decode(0, _NODE_SCHEMA), _NODE_SCHEMA),
        "ways": blocks.mapInPandas(_decode(1, _WAY_SCHEMA), _WAY_SCHEMA),
        "relations": blocks.mapInPandas(_decode(2, _REL_SCHEMA), _REL_SCHEMA),
    }


# --------------------------------------------------------------------------
# writer (fixture/export twin)
# --------------------------------------------------------------------------

def write_osm_pbf(path: str, nodes: list, ways: list, relations: list = (),
                  block_size: int = 8000) -> None:
    """Encode (id, lon_nano, lat_nano, tags_dict) nodes + (id, refs, tags)
    ways + (id, members, tags) relations into a spec-conformant .pbf
    (zlib blobs, delta+zigzag packed DenseNodes/refs, granularity 100)."""
    def blob(body: bytes) -> bytes:
        comp = zlib.compress(body)
        b = _enc_field(2, 0, _enc_varint(len(body))) + _enc_bytes(3, comp)
        hdr = _enc_bytes(1, b"OSMData") + _enc_field(3, 0, _enc_varint(len(b)))
        return struct.pack(">i", len(hdr)) + hdr + b

    def header_blob() -> bytes:
        body = _enc_bytes(4, b"OsmSchema-V0.6") + _enc_bytes(5, b"DenseNodes")
        b = _enc_field(2, 0, _enc_varint(len(body))) + _enc_bytes(3, zlib.compress(body))
        hdr = _enc_bytes(1, b"OSMHeader") + _enc_field(3, 0, _enc_varint(len(b)))
        return struct.pack(">i", len(hdr)) + hdr + b

    def string_table(tag_dicts: list[dict]) -> tuple[bytes, dict]:
        strings = [b""]  # index 0 reserved (DenseNodes end-marker)
        idx: dict[str, int] = {}
        for tags in tag_dicts:
            for k, v in tags.items():
                for sval in (k, v):
                    if sval not in idx:
                        idx[sval] = len(strings)
                        strings.append(sval.encode())
        body = b"".join(_enc_bytes(1, sv) for sv in strings)
        return _enc_bytes(1, body), idx

    chunks = [header_blob()]
    gran = 100
    for i in range(0, max(len(nodes), 1), block_size):
        batch = nodes[i:i + block_size]
        if not batch:
            break
        tag_dicts = [t or {} for (_id, _lo, _la, t) in batch]
        st, idx = string_table(tag_dicts)
        ids = [r[0] for r in batch]
        lons = [r[1] // gran for r in batch]
        lats = [r[2] // gran for r in batch]
        kv: list[int] = []
        for tags in tag_dicts:
            for k, v in sorted(tags.items()):
                kv.extend((idx[k], idx[v]))
            kv.append(0)
        dense = (_enc_packed(1, _enc_deltas(ids), signed=True)
                 + _enc_packed(8, _enc_deltas(lats), signed=True)
                 + _enc_packed(9, _enc_deltas(lons), signed=True))
        if any(tag_dicts):
            dense += _enc_packed(10, kv)
        group = _enc_bytes(2, dense)
        chunks.append(blob(st + _enc_bytes(2, group)))

    if ways or relations:
        # roles need stringtable entries too — fold them in as self-mapping
        # pseudo-tag dicts so string_table() indexes them
        tag_dicts = [t or {} for (_id, _r, t) in list(ways) + list(relations)]
        role_dicts = [{m[1]: m[1] for m in mem} for (_i, mem, _t) in relations]
        st, idx = string_table(tag_dicts + role_dicts)
        group = b""
        for wid, refs, tags in ways:
            tags = tags or {}
            msg = _enc_field(1, 0, _enc_varint(wid))
            if tags:
                msg += _enc_packed(2, [idx[k] for k in tags])
                msg += _enc_packed(3, [idx[v] for v in tags.values()])
            msg += _enc_packed(8, _enc_deltas(list(refs)), signed=True)
            group += _enc_bytes(3, msg)
        tcode = {"node": 0, "way": 1, "relation": 2}
        for rid, members, tags in relations:
            tags = tags or {}
            msg = _enc_field(1, 0, _enc_varint(rid))
            if tags:
                msg += _enc_packed(2, [idx[k] for k in tags])
                msg += _enc_packed(3, [idx[v] for v in tags.values()])
            msg += _enc_packed(8, [idx[m[1]] for m in members])
            msg += _enc_packed(9, _enc_deltas([m[0] for m in members]), signed=True)
            msg += _enc_packed(10, [tcode[m[2]] for m in members])
            group += _enc_bytes(4, msg)
        chunks.append(blob(st + _enc_bytes(2, group)))

    with open(path, "wb") as fh:
        fh.write(b"".join(chunks))
