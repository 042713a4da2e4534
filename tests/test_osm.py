"""OSM PBF parser / writer / distributed-read / way-assembly tests.

Reference analog: `extensions/cli/osm/.../parser/OsmPbfParser.java:197-259`
(delta DenseNodes + keys_vals layout) and
`mapreduce/Convert/OsmProvider/OsmProvider.java:138-212` (way assembly).
"""
from __future__ import annotations

import os

from geowave_spark.table import osm


def _fixture(tmp_path, n_nodes=25, with_tags=True):
    nodes = []
    for i in range(n_nodes):
        lon_nano = (i * 7_919_000 % 360_000_000_000) - 180_000_000_000
        lat_nano = (i * 104_729_000 % 180_000_000_000) - 90_000_000_000
        # granularity 100 requires nanodegree multiples of 100
        lon_nano -= lon_nano % 100
        lat_nano -= lat_nano % 100
        tags = {"name": f"n{i}", "amenity": "cafe"} if (with_tags and i % 3 == 0) else {}
        nodes.append((i + 1, lon_nano, lat_nano, tags))
    ways = [
        (101, [1, 2, 3, 4], {"highway": "residential"}),
        (102, [5, 6, 7, 5], {"building": "yes"}),  # closed ring
        (103, [8, 9], {}),
    ]
    rels = [
        (201, [(101, "outer", "way"), (1, "admin_centre", "node")],
         {"type": "multipolygon"}),
    ]
    path = os.path.join(tmp_path, "fixture.pbf")
    osm.write_osm_pbf(path, nodes, ways, rels, block_size=10)
    return path, nodes, ways, rels


def test_roundtrip_local_decode(tmp_path):
    path, nodes, ways, rels = _fixture(str(tmp_path))
    index = osm.osm_block_index(path)
    assert index[0][3] == "OSMHeader"
    data_blocks = [b for b in index if b[3] == "OSMData"]
    assert len(data_blocks) >= 3  # 25 nodes / block_size 10 + way block
    got_nodes, got_ways, got_rels = [], [], []
    with open(path, "rb") as fh:
        for _p, off, size, _t in data_blocks:
            fh.seek(off)
            n, w, r = osm.decode_primitive_block(fh.read(size))
            got_nodes += n
            got_ways += w
            got_rels += r
    assert len(got_nodes) == len(nodes)
    for (nid, lon, lat, tags), (gid, glon, glat, gtags) in zip(nodes, got_nodes):
        assert (nid, lon, lat) == (gid, glon, glat)
        if tags:
            import json
            assert json.loads(gtags) == tags
        else:
            assert gtags is None
    assert [(w[0], w[1]) for w in got_ways] == [(w[0], w[1]) for w in ways]
    assert got_rels[0][0] == 201
    assert got_rels[0][1] == [(101, "outer", "way"), (1, "admin_centre", "node")]


def test_negative_coordinates_delta_encoding(tmp_path):
    # descending ids and sign-crossing coords exercise zigzag + delta
    nodes = [(10, -179_000_000_000, -89_000_000_000, {}),
             (11, 179_000_000_000, 89_000_000_000, {}),
             (12, -100, 100, {})]
    path = os.path.join(str(tmp_path), "neg.pbf")
    osm.write_osm_pbf(path, nodes, [], [])
    blocks = [b for b in osm.osm_block_index(path) if b[3] == "OSMData"]
    with open(path, "rb") as fh:
        fh.seek(blocks[0][1])
        got, _, _ = osm.decode_primitive_block(fh.read(blocks[0][2]))
    assert [(g[0], g[1], g[2]) for g in got] == [(n[0], n[1], n[2]) for n in nodes]


def test_distributed_read_and_way_assembly(spark, tmp_path):
    path, nodes, ways, _rels = _fixture(str(tmp_path))
    dfs = osm.read_osm_pbf(spark, path)
    assert dfs["nodes"].count() == len(nodes)
    assert dfs["ways"].count() == len(ways)
    assert dfs["relations"].count() == 1
    # way refs come back in order, tags as sorted-key JSON
    got = {r.id: (list(r.refs), r.tags) for r in dfs["ways"].collect()}
    assert got[101] == ([1, 2, 3, 4], '{"highway": "residential"}')
    assert got[102] == ([5, 6, 7, 5], '{"building": "yes"}')
    assert got[103] == ([8, 9], None)


def test_block_parallelism_plan(spark, tmp_path):
    # one FILE becomes many independent block tasks (the planet-file story)
    path, _n, _w, _r = _fixture(str(tmp_path), n_nodes=100)
    index = [b for b in osm.osm_block_index(path) if b[3] == "OSMData"]
    assert len(index) >= 10  # block_size=10
    dfs = osm.read_osm_pbf(spark, path)
    assert dfs["nodes"].rdd.getNumPartitions() > 1
