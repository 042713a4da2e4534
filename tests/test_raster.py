"""Raster pipeline unit tests: codec round-trips, image-table invariants
(PSNR>=40dB lossy, exact caption equality), tile extraction vs a brute-force
per-pixel oracle, merge and pyramid semantics.

Reference analogs: pixel-equivalence gate
`test/.../mapreduce/CustomCRSKDERasterResizeIT.java:395-452`, tiling
`extensions/adapters/raster/.../RasterDataAdapter.java:444-550`.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from geowave_spark.raster import codec, tiles
from geowave_spark.sfc import grid
from geowave_spark.table import images


@pytest.fixture(scope="module")
def docs(sf_dir):
    return duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).df()


@pytest.fixture(scope="module")
def img_pdf(docs):
    return images.gen_images_pdf(docs)


# --------------------------------------------------------------------- codec

def test_codec_roundtrip_exact():
    rng = np.random.default_rng(7)
    for shape in [(17, 23), (32, 48, 3), (9, 9, 4), (1, 1, 1)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        ref = img[:, :, None] if img.ndim == 2 else img
        for fmt in ("png", "raw"):
            assert np.array_equal(codec.decode(codec.encode(img, fmt), fmt), ref)


def test_codec_lossy_psnr_bound():
    rng = np.random.default_rng(11)
    for _ in range(5):
        img = rng.integers(0, 256, size=(40, 56, 3), dtype=np.uint8)
        out = codec.decode(codec.encode(img, "q6"), "q6")
        assert codec.psnr(img, out) >= 40.0
        assert np.abs(img.astype(int) - out.astype(int)).max() <= 2


def test_png_decodes_filtered_input():
    """Our decoder must handle PNGs written by encoders that use filters."""
    import struct
    import zlib

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    h, w, ch = img.shape
    lines, prev = [], np.zeros(w * ch, dtype=np.int32)
    for y in range(h):  # filter type 2 (Up) on every line
        cur = img[y].reshape(-1).astype(np.int32)
        lines.append(b"\x02" + ((cur - prev) & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    def chunk(tag, p):
        return struct.pack(">I", len(p)) + tag + p + struct.pack(
            ">I", zlib.crc32(tag + p) & 0xFFFFFFFF
        )
    buf = (
        codec.PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(codec.png_decode(buf), img)


# --------------------------------------------------------- image table rows

def test_image_rows_decode_psnr_and_phash(img_pdf, docs):
    worst = np.inf
    for i in range(0, len(img_pdf), 7):  # stride: keep the test fast
        row = img_pdf.iloc[i]
        ref = images.gen_pixels(int(docs["doc_id"].iloc[i]), int(row.w), int(row.h))
        out = codec.decode(row["bytes"], row.fmt)
        if row.fmt in codec.LOSSY_FMTS:
            p = codec.psnr(ref, out)
            assert p >= 40.0
            worst = min(worst, p)
        else:
            assert np.array_equal(out, ref)
        assert images.phash64(ref) == row.phash
    assert worst >= 40.0


def test_caption_equality(img_pdf, docs):
    assert (img_pdf["caption"].to_numpy() == docs["text"].to_numpy()).all()


def test_phash_near_dup_is_hamming_zero(img_pdf):
    d = images.hamming64(img_pdf["phash"], img_pdf["phash"])
    assert (d == 0).all()
    d2 = images.hamming64(img_pdf["phash"].iloc[0], ~np.int64(img_pdf["phash"].iloc[0]))
    assert int(np.asarray(d2)) == 64


# ------------------------------------------------------------------- tiling

def brute_force_tile(img_px, fp, cell_b, tile_px):
    """Per-pixel oracle for _resample_tile (slow, obviously-correct)."""
    lon0, lat0, lon1, lat1 = fp
    clon0, clat0, clon1, clat1 = cell_b
    h, w = img_px.shape[:2]
    out = np.zeros((tile_px, tile_px, 4), dtype=np.uint8)
    for i in range(tile_px):
        for j in range(tile_px):
            lon = clon0 + (j + 0.5) * (clon1 - clon0) / tile_px
            lat = clat1 - (i + 0.5) * (clat1 - clat0) / tile_px
            x = int(np.floor((lon - lon0) / (lon1 - lon0) * w))
            y = int(np.floor((lat1 - lat) / (lat1 - lat0) * h))
            if 0 <= x < w and 0 <= y < h:
                out[i, j, :3] = img_px[y, x, :3]
                out[i, j, 3] = 255
    return out


def test_tile_extraction_matches_brute_force(img_pdf, docs):
    for i in (0, 3, 10):
        row = img_pdf.iloc[i]
        px = codec.decode(row["bytes"], row.fmt)
        r = int(tiles.level_res([row.lon0], [row.lon1], [row.w])[0])
        _, cells = grid.cover_bbox(
            [row.lon0], [row.lat0], [row.lon1], [row.lat1], r, curve=tiles.CURVE
        )
        lo_lon, lo_lat, hi_lon, hi_lat = grid.cell_bounds(cells, r, curve=tiles.CURVE)
        fp = (row.lon0, row.lat0, row.lon1, row.lat1)
        for j in range(len(cells)):
            cb = (lo_lon[j], lo_lat[j], hi_lon[j], hi_lat[j])
            fast = tiles._resample_tile(px, fp, cb, 16)
            slow = brute_force_tile(px, fp, cb, 16)
            assert np.array_equal(fast, slow)


def test_tiles_cover_every_valid_pixel_once(img_pdf):
    """Union of a row's tiles covers its footprint; every valid tile pixel
    is a pixel of that source."""
    row = img_pdf.iloc[4]
    plan = tiles.assign_plan_pdf(img_pdf.iloc[[4]])
    px = codec.decode(row["bytes"], row.fmt)
    fp = (row.lon0, row.lat0, row.lon1, row.lat1)
    bounds = np.column_stack(grid.cell_bounds(
        plan["tile_id"].to_numpy(), int(plan["res"].iloc[0]), curve=tiles.CURVE))
    src_rgb = {tuple(p) for p in px[:, :, :3].reshape(-1, 3)}
    total_valid = 0
    for cb in bounds:
        t = tiles._resample_tile(px, fp, tuple(cb), tiles.TILE_PX)
        valid = t[:, :, 3] > 0
        total_valid += int(valid.sum())
        assert (t[~valid] == 0).all()
        assert {tuple(p) for p in t[valid][:, :3]} <= src_rgb
    assert total_valid > 0


def _composite_ref(srcs, cb, tile_px=tiles.TILE_PX):
    """`_resample_tile` per source in image_id order plus the boolean
    hole-mask composite: the mosaic kernel's reference."""
    acc = np.zeros((tile_px, tile_px, 4), dtype=np.uint8)
    for px, fp in srcs:
        t = tiles._resample_tile(px, fp, cb, tile_px)
        hole = acc[:, :, 3] == 0
        acc[hole] = t[hole]
    return acc


def _mosaic(rows, batch=3):
    """Run the mosaic kernel over key-sorted source rows in small batches
    (groups straddle batch boundaries)."""
    pdf = pd.DataFrame(rows, columns=[
        "res", "tile_id", "image_id", "lon0", "lat0", "lon1", "lat1", "fmt", "bytes"])
    pdf = pdf.sort_values(["res", "tile_id", "image_id"]).reset_index(drop=True)
    batches = [pdf.iloc[i : i + batch] for i in range(0, len(pdf), batch)]
    return pd.concat(list(tiles._mosaic_stream(iter(batches))), ignore_index=True)


def test_merge_nodata_semantics():
    """Later source fills only holes left by earlier sources: "a" covers
    the tile's north half, "b" the whole tile."""
    r, tid = 10, 300 * 1024 + 500
    lo_lon, lo_lat, hi_lon, hi_lat = (float(v[0]) for v in grid.cell_bounds(
        np.array([tid]), r, curve=tiles.CURVE))
    mid = (lo_lat + hi_lat) / 2
    a = np.full((8, 8, 3), 100, dtype=np.uint8)
    b = np.full((8, 8, 3), 200, dtype=np.uint8)
    out = _mosaic([
        (r, tid, "b", lo_lon - 1, lo_lat - 1, hi_lon + 1, hi_lat + 1, "raw", codec.encode(b, "raw")),
        (r, tid, "a", lo_lon - 1, mid, hi_lon + 1, hi_lat + 1, "png", codec.encode(a, "png")),
    ])
    assert out[["res", "tile_id", "n_src"]].values.tolist() == [[r, tid, 2]]
    acc = codec.png_decode(bytes(out["px"][0]))
    half = tiles.TILE_PX // 2
    assert (acc[:half, :, 0] == 100).all() and (acc[half:, :, 0] == 200).all()
    assert (acc[:, :, 3] == 255).all()


def test_mosaic_kernel_matches_resample_composite():
    """The rectangle composite is byte-identical to full-tile `_resample_tile`
    (checked against the per-pixel oracle) plus the boolean hole-mask
    composite: all three fmts, multi-source tiles, sources whose edges fall
    inside the tile, sources wholly outside one of the group's tiles, and a
    source inside the tile that covers no pixel centre (it still counts in
    n_src)."""
    r, tile_px = 10, tiles.TILE_PX
    tids = np.array([300 * 1024 + 500, 300 * 1024 + 501, 301 * 1024 + 500])
    lo_lon, lo_lat, hi_lon, hi_lat = grid.cell_bounds(tids, r, curve=tiles.CURVE)
    cw, ch = hi_lon[0] - lo_lon[0], hi_lat[0] - lo_lat[0]
    rng = np.random.default_rng(5)
    srcs = []
    for i in range(9):
        w, h = (int(v) for v in rng.integers(5, 90, size=2))
        lon0 = lo_lon[0] + rng.uniform(-0.6, 1.4) * cw
        lat0 = lo_lat[0] + rng.uniform(-0.6, 1.4) * ch
        fp = (lon0, lat0, lon0 + rng.uniform(0.2, 1.5) * cw, lat0 + rng.uniform(0.2, 1.5) * ch)
        srcs.append((f"img{i}", rng.integers(0, 256, (h, w, 3), dtype=np.uint8), fp))
    # strictly between two pixel centres of tile 0 in both axes
    px_w, px_h = cw / tile_px, ch / tile_px
    x0, y0 = lo_lon[0] + 10.6 * px_w, lo_lat[0] + 20.6 * px_h
    srcs.append(("img_gap", np.full((4, 4, 3), 7, dtype=np.uint8),
                 (x0, y0, x0 + 0.3 * px_w, y0 + 0.3 * px_h)))
    rows, want = [], {}
    for j, tid in enumerate(tids):
        cb = (lo_lon[j], lo_lat[j], hi_lon[j], hi_lat[j])
        ref = []
        for k, (iid, px, fp) in enumerate(srcs):
            fmt = images.FMTS[k % 3]
            blob = codec.encode(px, fmt)
            dec = codec.decode(blob, fmt)
            assert np.array_equal(tiles._resample_tile(dec, fp, cb, tile_px),
                                  brute_force_tile(dec, fp, cb, tile_px))
            rows.append((r, int(tid), iid, *fp, fmt, blob))
            ref.append((dec, fp))
        want[int(tid)] = codec.png_encode(_composite_ref(ref, cb))
        if j == 0:
            gap = tiles._resample_tile(ref[-1][0], ref[-1][1], cb, tile_px)
            assert not gap[:, :, 3].any()
    for batch in (1, 4, 100):
        out = _mosaic(rows, batch)
        assert out["tile_id"].tolist() == sorted(want)
        assert (out["n_src"] == len(srcs)).all()
        for tid, px in zip(out["tile_id"], out["px"]):
            assert px == want[tid], tid


def test_complete_groups_never_splits_a_key():
    """The streaming re-batcher must emit every (res, tile_id) group whole
    even when groups straddle Arrow batch boundaries, including a group
    spanning 3+ batches and a trailing carry at end-of-partition."""
    rows = []
    for tid, n in [(1, 3), (2, 1), (3, 7), (4, 2), (5, 1)]:
        rows += [(0, tid, f"img{tid}_{i}") for i in range(n)]
    pdf = pd.DataFrame(rows, columns=["res", "tile_id", "image_id"])
    for bs in (1, 2, 3, 5, 100):
        batches = [pdf.iloc[i : i + bs] for i in range(0, len(pdf), bs)]
        blocks = list(tiles._complete_groups(iter(batches), ["res", "tile_id"]))
        # no key appears in two blocks
        seen = []
        for b in blocks:
            keys = sorted(set(map(tuple, b[["res", "tile_id"]].to_numpy())))
            assert not (set(keys) & set(seen))
            seen += keys
            # groups inside a block are contiguous and bounds are exact
            starts, ends = tiles._group_bounds(b, ["res", "tile_id"])
            assert starts[0] == 0 and ends[-1] == len(b)
            for s, e in zip(starts, ends):
                assert b["tile_id"].iloc[s : e].nunique() == 1
        total = pd.concat(blocks, ignore_index=True)
        assert sorted(total["image_id"]) == sorted(pdf["image_id"])


def test_downsample2_block_mean():
    px = np.zeros((4, 4, 4), dtype=np.uint8)
    px[:, :, 0] = np.array([[0, 2, 4, 6], [2, 0, 6, 4], [8, 8, 8, 8], [8, 8, 8, 8]])
    px[:, :, 3] = 255
    out = tiles._downsample2(px)
    assert out.shape == (2, 2, 4)
    assert out[0, 0, 0] == 1 and out[0, 1, 0] == 5 and out[1, 0, 0] == 8
    assert (out[:, :, 3] == 255).all()


# ------------------------------------------------- Spark end-to-end pipeline

def test_spark_tile_pipeline(spark, sf_dir, img_pdf):
    """Distributed synthesize -> tile -> merge -> pyramid; counts line up and
    one merged tile is pixel-identical to the locally-computed merge."""
    df = images.images_df(spark, sf_dir).cache()
    t = tiles.assign_tiles_df(df)
    merged = tiles.merge_tiles_df(t).cache()
    plan_local = tiles.assign_plan_pdf(img_pdf)
    assert merged.count() == plan_local.groupby(["res", "tile_id"]).ngroups
    # first tile with 2+ sources: recompute locally from _resample_tile
    top = merged.orderBy("res", "tile_id").filter("n_src >= 2").limit(1).toPandas()
    if len(top):
        r, tid = int(top["res"][0]), int(top["tile_id"][0])
        sel = plan_local[(plan_local["res"] == r) & (plan_local["tile_id"] == tid)]
        assert int(top["n_src"][0]) == len(sel)
        cb = tuple(float(v[0]) for v in grid.cell_bounds(
            np.array([tid]), r, curve=tiles.CURVE))
        src = img_pdf.set_index("image_id").loc[sorted(sel["image_id"])]
        acc = _composite_ref(
            [(codec.decode(x["bytes"], x.fmt), (x.lon0, x.lat0, x.lon1, x.lat1))
             for _, x in src.iterrows()], cb)
        spark_px = codec.png_decode(bytes(top["px"][0]))
        assert np.array_equal(spark_px, acc)
    # assignment rows carry their source's caption
    cap = t.select("image_id", "caption").distinct().toPandas()
    want_cap = dict(zip(img_pdf["image_id"], img_pdf["caption"]))
    assert len(cap) == len(img_pdf)
    assert all(want_cap[i] == c for i, c in zip(cap["image_id"], cap["caption"]))
    parents = tiles.pyramid_level_df(merged)
    assert parents.count() > 0
    merged.unpersist()
    df.unpersist()


def test_assign_plan_sql_matches_mapinpandas(spark, sf_dir):
    """The JVM-only closed-form plan (explode(sequence)) must produce exactly
    the rows of the vectorized mapInPandas plan — same indexed-vs-independent
    equivalence bar as the join oracle tests."""
    via_pandas = tiles.assign_plan_df(images.images_df(spark, sf_dir))
    via_sql = tiles.assign_plan_sql_df(images.images_scalars_df(spark, sf_dir))
    a = via_pandas.toPandas().sort_values(["image_id", "res", "tile_id"]).reset_index(drop=True)
    b = via_sql.toPandas().sort_values(["image_id", "res", "tile_id"]).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    assert (a["image_id"].to_numpy() == b["image_id"].to_numpy()).all()
    assert (a["res"].to_numpy() == b["res"].to_numpy()).all()
    assert (a["tile_id"].to_numpy() == b["tile_id"].to_numpy()).all()


def test_resize_tiles_nearest_identity(spark, sf_dir):
    """Re-tiling 64->32->report: resized tiles keep tile ids and the
    nearest-sample relation to the source (RasterTileResizeSparkRunner
    analog)."""
    df = images.images_df(spark, sf_dir)
    t = tiles.assign_tiles_df(df)
    merged = tiles.merge_tiles_df(t).limit(4).cache()
    small = tiles.resize_tiles_df(merged, 32)
    rows = {(r["res"], r["tile_id"]): r for r in small.collect()}
    for r0 in merged.collect():
        key = (r0["res"], r0["tile_id"])
        assert key in rows
        big = codec.png_decode(bytes(r0["px"]))
        got = codec.png_decode(bytes(rows[key]["px"]))
        assert got.shape == (32, 32, 4)
        idx = (np.arange(32) * big.shape[0]) // 32
        assert np.array_equal(got, big[idx[:, None], idx[None, :]])
    merged.unpersist()


def test_image_stats_histogram(spark, sf_dir, img_pdf):
    """Per-coverage luma histogram + overview stats (RasterHistogramStatistic
    analog): Spark output equals local numpy recomputation; rollup sums."""
    from geowave_spark.raster import stats as rstats

    df = images.images_df(spark, sf_dir)
    st = rstats.image_stats_df(df).cache()
    got = {r["image_id"]: r for r in st.collect()}
    # local recomputation for a few images
    for i in range(0, len(img_pdf), max(1, len(img_pdf) // 5)):
        row = img_pdf.iloc[i]
        px = codec.decode(row["bytes"], row["fmt"])
        luma = images.gray(px)
        r = got[row["image_id"]]
        assert r["n_px"] == luma.size
        assert r["luma_min"] == int(luma.min())
        assert r["luma_max"] == int(luma.max())
        hist = np.bincount(luma.ravel() * rstats.N_BINS // 256,
                           minlength=rstats.N_BINS)[:rstats.N_BINS]
        for b in range(rstats.N_BINS):
            assert r[f"bin{b}"] == int(hist[b])
    st.unpersist()


# --------------------------------------------------------------------- focal

def test_q98_focal_mean_matches_whole_image_numpy(spark, sf_dir, img_pdf):
    """Independent recompute: decode each WHOLE image (no tiling, no halo)
    and take the 3x3 edge-aware focal mean with shifted sums; the tiled
    halo-exchange result must agree tile for tile."""
    from geowave_spark.queries_raster import RASTER_QUERIES

    got = {(r["image_id"], r["ty"], r["tx"]):
           (r["n_px"], r["sum_f"], r["min_f"], r["max_f"])
           for r in RASTER_QUERIES["q98_focal_mean"][0](spark, sf_dir)
           .collect()}

    want = {}
    for _, row in img_pdf.iterrows():
        if int(row["image_id"][3:]) % 5 != 3:
            continue
        g = images.gray(codec.decode(row["bytes"], row["fmt"]))
        h, w = g.shape
        pad = np.zeros((h + 2, w + 2), dtype=np.int64)
        msk = np.zeros((h + 2, w + 2), dtype=np.int64)
        pad[1:h + 1, 1:w + 1] = g
        msk[1:h + 1, 1:w + 1] = 1
        s = np.zeros((h, w), dtype=np.int64)
        n = np.zeros((h, w), dtype=np.int64)
        for dy in range(3):
            for dx in range(3):
                s += pad[dy:dy + h, dx:dx + w]
                n += msk[dy:dy + h, dx:dx + w]
        f = s // n
        for ty in range((h + 15) // 16):
            for tx in range((w + 15) // 16):
                blk = f[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16]
                want[(row["image_id"], ty, tx)] = (
                    blk.size, int(blk.sum()), int(blk.min()), int(blk.max()))
    assert got == want and len(got) > 0


def test_q104_contour_matches_whole_image_numpy(spark, sf_dir, img_pdf):
    """Whole-image marching-squares recompute (no tiling/halo)."""
    from geowave_spark.queries_raster import RASTER_QUERIES

    got = {(r["image_id"], r["ty"], r["tx"]):
           (r["n_px"], r["sum_f"], r["min_f"], r["max_f"])
           for r in RASTER_QUERIES["q104_contour_segments"][0](spark, sf_dir)
           .collect()}

    want = {}
    for _, row in img_pdf.iterrows():
        if int(row["image_id"][3:]) % 5 != 3:
            continue
        g = images.gray(codec.decode(row["bytes"], row["fmt"]))
        b = (g >= 128).astype(np.int64)
        cfg = (b[:-1, :-1] + 2 * b[:-1, 1:] + 4 * b[1:, :-1] + 8 * b[1:, 1:])
        segs = np.where((cfg == 0) | (cfg == 15), 0,
                        np.where((cfg == 6) | (cfg == 9), 2, 1))
        h, w = segs.shape
        for ty in range((h + 15) // 16):
            for tx in range((w + 15) // 16):
                blk = segs[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16]
                if blk.size:
                    want[(row["image_id"], ty, tx)] = (
                        blk.size, int(blk.sum()), int(blk.min()),
                        int(blk.max()))
    assert got == want and len(got) > 0


def _whole_image_sobel(g):
    """Sobel gx, gy on the interior (full 3x3 in-image); NaN-free int64
    arrays shaped like g, valid only on [1:h-1, 1:w-1]."""
    g = g.astype(np.int64)
    h, w = g.shape
    gx = np.zeros((h, w), dtype=np.int64)
    gy = np.zeros((h, w), dtype=np.int64)
    for (dy, dx), wt in {(-1, -1): -1, (0, -1): -2, (1, -1): -1,
                         (-1, 1): 1, (0, 1): 2, (1, 1): 1}.items():
        gx[1:h - 1, 1:w - 1] += wt * g[1 + dy:h - 1 + dy, 1 + dx:w - 1 + dx]
    for (dy, dx), wt in {(-1, -1): -1, (-1, 0): -2, (-1, 1): -1,
                         (1, -1): 1, (1, 0): 2, (1, 1): 1}.items():
        gy[1:h - 1, 1:w - 1] += wt * g[1 + dy:h - 1 + dy, 1 + dx:w - 1 + dx]
    return gx, gy


def _tile_rollup(want, image_id, f, vy0, vx0):
    """Roll f (valid-region array with absolute origin (vy0, vx0)) into
    16x16 tile stats keyed like the focal output."""
    vh, vw = f.shape
    for ty in range((vy0 + vh + 15) // 16):
        for tx in range((vx0 + vw + 15) // 16):
            y0, x0 = max(ty * 16, vy0), max(tx * 16, vx0)
            y1 = min((ty + 1) * 16, vy0 + vh)
            x1 = min((tx + 1) * 16, vx0 + vw)
            if y1 <= y0 or x1 <= x0:
                continue
            blk = f[y0 - vy0:y1 - vy0, x0 - vx0:x1 - vx0]
            want[(image_id, ty, tx)] = (
                blk.size, int(blk.sum()), int(blk.min()), int(blk.max()))


def test_q137_harris_matches_whole_image_numpy(spark, sf_dir, img_pdf):
    """Whole-image recompute (no tiling, no halo exchange): Sobel
    gradients, 3x3 structure tensor, integer Harris R with k = 1/16 —
    must agree tile for tile with the 2-px-halo exchange result."""
    from geowave_spark.queries_raster import RASTER_QUERIES

    got = {(r["image_id"], r["ty"], r["tx"]):
           (r["n_px"], r["sum_f"], r["min_f"], r["max_f"])
           for r in RASTER_QUERIES["q137_harris_corners"][0](spark, sf_dir)
           .collect()}

    want = {}
    for _, row in img_pdf.iterrows():
        if int(row["image_id"][3:]) % 5 != 3:
            continue
        g = images.gray(codec.decode(row["bytes"], row["fmt"]))
        h, w = g.shape
        gx, gy = _whole_image_sobel(g)
        sxx = np.zeros((h, w), dtype=np.int64)
        syy = np.zeros((h, w), dtype=np.int64)
        sxy = np.zeros((h, w), dtype=np.int64)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                wx = gx[2 + dy:h - 2 + dy, 2 + dx:w - 2 + dx]
                wy = gy[2 + dy:h - 2 + dy, 2 + dx:w - 2 + dx]
                sxx[2:h - 2, 2:w - 2] += wx * wx
                syy[2:h - 2, 2:w - 2] += wy * wy
                sxy[2:h - 2, 2:w - 2] += wx * wy
        tr = sxx + syy
        r = 16 * (sxx * syy - sxy * sxy) - tr * tr
        _tile_rollup(want, row["image_id"], r[2:h - 2, 2:w - 2], 2, 2)
    assert got == want and len(got) > 0
    # corners exist: somewhere the response is strongly positive
    assert max(v[3] for v in want.values()) > 0


def test_q138_nms_matches_whole_image_numpy(spark, sf_dir, img_pdf):
    """Whole-image recompute of the rationally quantized non-maximum
    suppression; must agree tile for tile with the halo-exchange run."""
    from geowave_spark.queries_raster import RASTER_QUERIES

    got = {(r["image_id"], r["ty"], r["tx"]):
           (r["n_px"], r["sum_f"], r["min_f"], r["max_f"])
           for r in RASTER_QUERIES["q138_edge_thinning"][0](spark, sf_dir)
           .collect()}

    want = {}
    for _, row in img_pdf.iterrows():
        if int(row["image_id"][3:]) % 5 != 3:
            continue
        g = images.gray(codec.decode(row["bytes"], row["fmt"]))
        h, w = g.shape
        gx, gy = _whole_image_sobel(g)
        ax, ay = np.abs(gx), np.abs(gy)
        mag = ax + ay
        horiz = 5 * ay <= 2 * ax
        vert = 5 * ax <= 2 * ay
        diag_main = (gx > 0) == (gy > 0)
        ndx = np.where(horiz, 1, np.where(vert, 0, 1))
        ndy = np.where(horiz, 0, np.where(vert, 1,
                                          np.where(diag_main, 1, -1)))
        f = np.zeros((h, w), dtype=np.int64)
        for y in range(2, h - 2):
            for x in range(2, w - 2):
                dyc, dxc = int(ndy[y, x]), int(ndx[y, x])
                m0 = mag[y, x]
                if m0 > mag[y + dyc, x + dxc] and m0 >= mag[y - dyc, x - dxc]:
                    f[y, x] = m0
        _tile_rollup(want, row["image_id"], f[2:h - 2, 2:w - 2], 2, 2)
    assert got == want and len(got) > 0
    # thinning actually suppresses: some tile has zero-min but positive max
    assert any(v[2] == 0 and v[3] > 0 for v in want.values())


def test_q139_morph_gradient_matches_whole_image_numpy(spark, sf_dir, img_pdf):
    """Whole-image recompute: edge-aware 3x3 max-min range."""
    from geowave_spark.queries_raster import RASTER_QUERIES

    got = {(r["image_id"], r["ty"], r["tx"]):
           (r["n_px"], r["sum_f"], r["min_f"], r["max_f"])
           for r in RASTER_QUERIES["q139_morph_gradient"][0](spark, sf_dir)
           .collect()}

    want = {}
    for _, row in img_pdf.iterrows():
        if int(row["image_id"][3:]) % 5 != 3:
            continue
        g = images.gray(codec.decode(row["bytes"], row["fmt"]))
        h, w = g.shape
        pad = np.zeros((h + 2, w + 2), dtype=np.int64)
        msk = np.zeros((h + 2, w + 2), dtype=bool)
        pad[1:h + 1, 1:w + 1] = g
        msk[1:h + 1, 1:w + 1] = True
        mx = np.full((h, w), -1, dtype=np.int64)
        mn = np.full((h, w), 256, dtype=np.int64)
        for dy in range(3):
            for dx in range(3):
                win = pad[dy:dy + h, dx:dx + w]
                m = msk[dy:dy + h, dx:dx + w]
                mx = np.where(m, np.maximum(mx, win), mx)
                mn = np.where(m, np.minimum(mn, win), mn)
        _tile_rollup(want, row["image_id"], mx - mn, 0, 0)
    assert got == want and len(got) > 0
    assert max(v[3] for v in want.values()) > 0   # an actual edge exists


def test_q140_lbp_matches_whole_image_numpy(spark, sf_dir, img_pdf):
    """Whole-image recompute: 8-bit LBP codes in the fixed E..NE order."""
    from geowave_spark.queries_raster import RASTER_QUERIES
    from geowave_spark.raster.focal import _LBP_ORDER

    got = {(r["image_id"], r["ty"], r["tx"]):
           (r["n_px"], r["sum_f"], r["min_f"], r["max_f"])
           for r in RASTER_QUERIES["q140_lbp_texture"][0](spark, sf_dir)
           .collect()}

    want = {}
    for _, row in img_pdf.iterrows():
        if int(row["image_id"][3:]) % 5 != 3:
            continue
        g = images.gray(codec.decode(row["bytes"], row["fmt"])).astype(np.int64)
        h, w = g.shape
        c = g[1:h - 1, 1:w - 1]
        code = np.zeros((h - 2, w - 2), dtype=np.int64)
        for i, (dy, dx) in enumerate(_LBP_ORDER):
            nb = g[1 + dy:h - 1 + dy, 1 + dx:w - 1 + dx]
            code += (1 << i) * (nb >= c)
        _tile_rollup(want, row["image_id"], code, 1, 1)
    assert got == want and len(got) > 0
    # codes span the byte: both flat (255: all >= center) and edge codes
    assert max(v[3] for v in want.values()) == 255


def test_q146_patches_match_explicit_python_loops(spark, sf_dir, img_pdf):
    """Recompute the overlapping 16x16/stride-8 patch stats with explicit
    python loops (independent of the engine's sliding_window_view)."""
    from geowave_spark.multimodal.image_ops import PATCH, PATCH_STRIDE
    from geowave_spark.queries_raster import RASTER_QUERIES

    got = {(r["image_id"], r["py"], r["px"]):
           (r["n_px"], r["sum_v"], r["min_v"], r["max_v"])
           for r in RASTER_QUERIES["q146_patch_extraction"][0](spark, sf_dir)
           .collect()}

    want = {}
    overlap_checked = False
    for _, row in img_pdf.iterrows():
        if int(row["image_id"][3:]) % 5 != 3:
            continue
        g = images.gray(codec.decode(row["bytes"], row["fmt"])).astype(np.int64)
        h, w = g.shape
        for py in range((h - PATCH) // PATCH_STRIDE + 1):
            for px in range((w - PATCH) // PATCH_STRIDE + 1):
                blk = g[py * PATCH_STRIDE:py * PATCH_STRIDE + PATCH,
                        px * PATCH_STRIDE:px * PATCH_STRIDE + PATCH]
                want[(row["image_id"], py, px)] = (
                    blk.size, int(blk.sum()), int(blk.min()), int(blk.max()))
        # adjacent patches genuinely overlap (stride < size)
        if not overlap_checked and (w - PATCH) // PATCH_STRIDE >= 1:
            overlap_checked = True
    assert got == want and len(got) > 0 and overlap_checked


def test_q174_hog_matches_whole_image_numpy(spark, sf_dir, img_pdf):
    """Whole-image recompute of the 8-sector orientation histogram using
    the shared test Sobel helper (independent slicing path)."""
    from geowave_spark.queries_raster import RASTER_QUERIES

    got = {(r["image_id"], r["sector"]): (r["n_px"], r["sum_mag"])
           for r in RASTER_QUERIES["q174_hog_orientation"][0](spark, sf_dir)
           .collect()}

    want = {}
    for _, row in img_pdf.iterrows():
        if int(row["image_id"][3:]) % 5 != 3:
            continue
        g = images.gray(codec.decode(row["bytes"], row["fmt"]))
        h, w = g.shape
        gx, gy = _whole_image_sobel(g)
        for y in range(1, h - 1):
            for x in range(1, w - 1):
                a, b = int(gx[y, x]), int(gy[y, x])
                mag = abs(a) + abs(b)
                if mag == 0:
                    continue
                if 5 * abs(b) <= 2 * abs(a):
                    s = 0 if a > 0 else 4
                elif 5 * abs(a) <= 2 * abs(b):
                    s = 2 if b > 0 else 6
                elif a > 0 and b > 0:
                    s = 1
                elif a < 0 and b > 0:
                    s = 3
                elif a < 0 and b < 0:
                    s = 5
                else:
                    s = 7
                k = (row["image_id"], s)
                n, m = want.get(k, (0, 0))
                want[k] = (n + 1, m + mag)
    assert got == want and len(got) > 0
    assert len({s for _, s in got}) == 8


def test_q175_tile_complexity_matches_numpy(spark, sf_dir, img_pdf):
    """Whole-image recompute of per-tile distinct-value counts."""
    from geowave_spark.queries_raster import RASTER_QUERIES

    got = {(r["image_id"], r["ty"], r["tx"]):
           (r["n_px"], r["n_distinct"], r["v_range"])
           for r in RASTER_QUERIES["q175_tile_complexity"][0](spark, sf_dir)
           .collect()}

    want = {}
    for _, row in img_pdf.iterrows():
        if int(row["image_id"][3:]) % 5 != 3:
            continue
        g = images.gray(codec.decode(row["bytes"], row["fmt"]))
        h, w = g.shape
        for ty in range((h + 15) // 16):
            for tx in range((w + 15) // 16):
                blk = g[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16]
                want[(row["image_id"], ty, tx)] = (
                    blk.size, len(np.unique(blk)),
                    int(blk.max()) - int(blk.min()))
    assert got == want and len(got) > 0
    # complexity varies across tiles
    assert len({d for _, d, _ in got.values()}) > 5


def test_q183_footprint_iou_matches_python(spark, sf_dir):
    """Brute-force python recompute of the footprint IoU pairs, plus the
    IoU bound 0 < iou <= 1e6."""
    from geowave_spark.queries_raster import RASTER_QUERIES
    from geowave_spark.table import images as images_mod

    got = {(r["aid"], r["bid"]): (r["inter_micro"], r["iou_micro"])
           for r in RASTER_QUERIES["q183_footprint_iou"][0](spark, sf_dir)
           .collect()}

    fps = spark.sql(
        f"SELECT doc_id AS fid, lon0, lat0, lon1, lat1 "
        f"FROM ({images_mod.images_base_sql()})").collect()
    import math
    rects = [(r["fid"], r["lon0"], r["lat0"], r["lon1"], r["lat1"])
             for r in fps]
    areas = {fid: math.floor(1e6 * (x1 - x0) * (y1 - y0))
             for fid, x0, y0, x1, y1 in rects}
    want = {}
    for i, (fa, ax0, ay0, ax1, ay1) in enumerate(rects):
        for fb, bx0, by0, bx1, by1 in rects[i + 1:]:
            a, b = (fa, fb) if fa < fb else (fb, fa)
            if ax0 < bx1 and bx0 < ax1 and ay0 < by1 and by0 < ay1:
                inter = math.floor(
                    1e6 * (min(ax1, bx1) - max(ax0, bx0))
                    * (min(ay1, by1) - max(ay0, by0)))
                want[(a, b)] = (
                    inter,
                    inter * 1_000_000 // (areas[fa] + areas[fb] - inter))
    assert got == want and len(got) > 100
    assert all(0 < i <= 1_000_000 for _, i in got.values())


def test_q267_bitplane_mse_monotone(spark, sf_dir):
    """More bit planes can only lower MSE; 6-bit previews of every format
    must clear PSNR>=30 on the synthetic field (residual < 4 levels)."""
    from geowave_spark.queries_raster import RASTER_QUERIES

    pdf = RASTER_QUERIES["q267_bitplane_preview"][0](spark, sf_dir).toPandas()
    piv = pdf.pivot(index="fmt", columns="k", values="mse_milli")
    assert ((piv[2] >= piv[4]) & (piv[4] >= piv[6])).all()
    six = pdf[pdf["k"] == 6]
    assert (six["psnr30_images"] == six["n_images"]).all()


def test_q305_custom_crs_kde_matches_scalar_python(spark):
    """Third implementation of the custom-CRS KDE + resize (q305): scalar
    `math`-module Albers forward + dict splat — shares no code with the
    engine's vectorized numpy UDF and no SQL with the DuckDB oracle."""
    import math

    import duckdb

    from geowave_spark.queries import QUERIES
    from geowave_spark.queries_raster import (
        _Q305_N,
        _Q305_WIN,
        _Q305_X0,
        _Q305_X1,
        _Q305_Y0,
        _Q305_Y1,
        _q305_consts,
    )
    from geowave_spark.table import geo

    sf = "/root/testdata/sf0.01"
    p, cn, cc, rho0 = _q305_consts()
    e = p.e

    def lonlat(k):
        lon = ((k % geo.LON_MOD) * geo.LON_MULT % geo.LON_MOD) / 1e6 - 180.0
        lat = ((k % geo.LAT_MOD) * geo.LAT_MULT % geo.LAT_MOD) / 1e6 - 90.0
        return lon, lat

    fine = {}
    n = _Q305_N
    for (eid,) in duckdb.sql(
            f"SELECT event_id FROM '{sf}/events.parquet'").fetchall():
        lon, lat = lonlat(eid)
        w = _Q305_WIN
        if not (w[0] <= lon <= w[1] and w[2] <= lat <= w[3]):
            continue
        s = math.sin(math.radians(lat))
        q = (1.0 - e * e) * (s / (1.0 - e * e * s * s)
                             - (1.0 / (2.0 * e))
                             * math.log((1.0 - e * s) / (1.0 + e * s)))
        rho = p.a * math.sqrt(cc - cn * q) / cn
        th = cn * math.radians(lon - p.lon0)
        xm = math.floor(rho * math.sin(th))
        ym = math.floor(rho0 - rho * math.cos(th))
        if not (_Q305_X0 <= xm < _Q305_X1 and _Q305_Y0 <= ym < _Q305_Y1):
            continue
        gx = (xm - _Q305_X0) * n // (_Q305_X1 - _Q305_X0)
        gy = (ym - _Q305_Y0) * n // (_Q305_Y1 - _Q305_Y0)
        for dx in range(-2, 3):
            for dy in range(-2, 3):
                nx, ny = gx + dx, gy + dy
                if 0 <= nx < n and 0 <= ny < n:
                    c = ny * n + nx
                    fine[c] = fine.get(c, 0) + 1000000 // (1 + dx * dx + dy * dy)
    coarse = {}
    for c, w in fine.items():
        pc = (c // n // 2) * (n // 2) + (c % n) // 2
        a = coarse.setdefault(pc, [0, 0])
        a[0] += w
        a[1] += 1
    fn, _sql = QUERIES["q305_custom_crs_kde"]
    got = {r.pcell: (r.weight, r.n_children) for r in fn(spark, sf).collect()}
    assert got == {k: tuple(v) for k, v in coarse.items()} and got


def test_q305_plan_single_python_eval(spark):
    """The projection UDF must appear exactly ONCE in the physical plan
    (the fields-split select prevents ArrowEvalPython duplication), and
    the splat join must be a broadcast, not a shuffle."""
    from geowave_spark.queries import QUERIES

    fn, _sql = QUERIES["q305_custom_crs_kde"]
    df = fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def _scalar_lonlat(k):
    from geowave_spark.table import geo

    lon = ((k % geo.LON_MOD) * geo.LON_MULT % geo.LON_MOD) / 1e6 - 180.0
    lat = ((k % geo.LAT_MOD) * geo.LAT_MULT % geo.LAT_MOD) / 1e6 - 90.0
    return lon, lat


def test_q306_polar_grid_matches_scalar_python(spark):
    """Third implementation of the EPSG:3413 grid stats (q306): scalar
    `math`-module polar forward + dict aggregation — shares no code with
    the engine's numpy UDF and no SQL with the DuckDB oracle."""
    import math

    import duckdb

    from geowave_spark.queries import QUERIES
    from geowave_spark.queries_raster import (
        _Q306_CELL,
        _Q306_NX,
        _Q306_X0,
        _Q306_X1,
        _q306_consts,
    )

    sf = "/root/testdata/sf0.01"
    p, c = _q306_consts()
    e = p.e
    cells = {}
    for eid, val in duckdb.sql(
            f"SELECT event_id, value FROM '{sf}/events.parquet'").fetchall():
        lon, lat = _scalar_lonlat(eid)
        if lat < 60.0:
            continue
        s = math.sin(math.radians(lat))
        t = (math.tan(math.pi / 4.0 - math.radians(lat) / 2.0)
             / ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0))
        rho = p.a * c * t
        th = math.radians(lon - p.lon0)
        xm = math.floor(rho * math.sin(th))
        ym = math.floor(-rho * math.cos(th))
        if not (_Q306_X0 <= xm < _Q306_X1 and _Q306_X0 <= ym < _Q306_X1):
            continue
        cid = ((ym - _Q306_X0) // _Q306_CELL) * _Q306_NX \
            + (xm - _Q306_X0) // _Q306_CELL
        a = cells.setdefault(cid, [0, 0, xm, xm, ym, ym])
        a[0] += 1
        a[1] += math.floor(val * 1000.0)
        a[2] = min(a[2], xm)
        a[3] = max(a[3], xm)
        a[4] = min(a[4], ym)
        a[5] = max(a[5], ym)
    fn, _sql = QUERIES["q306_polar_crs_grid"]
    got = {r.cell_id: [r.n_events, r.val_milli, r.xm_min, r.xm_max,
                       r.ym_min, r.ym_max]
           for r in fn(spark, sf).collect()}
    assert got == cells and got


def test_q307_oblique_grid_matches_scalar_python(spark):
    """Third implementation of the EPSG:29873 grid stats (q307): scalar
    `math`-module Hotine forward + dict aggregation."""
    import math

    import duckdb

    from geowave_spark.queries import QUERIES
    from geowave_spark.queries_raster import (
        _Q307_CELL,
        _Q307_NX,
        _Q307_WIN,
        _Q307_X0,
        _Q307_X1,
        _Q307_Y0,
        _Q307_Y1,
        _q307_consts,
    )

    sf = "/root/testdata/sf0.01"
    p, (big_b, big_a, big_e, g0, lam0, uc) = _q307_consts()
    e = p.e
    gc = math.radians(p.gamma_c)
    cells = {}
    for eid, uid, val in duckdb.sql(
            f"SELECT event_id, user_id, value FROM '{sf}/events.parquet'"
    ).fetchall():
        lon, lat = _scalar_lonlat(eid)
        w = _Q307_WIN
        if not (w[0] <= lon <= w[1] and w[2] <= lat <= w[3]):
            continue
        s = math.sin(math.radians(lat))
        t = (math.tan(math.pi / 4.0 - math.radians(lat) / 2.0)
             / ((1.0 - e * s) / (1.0 + e * s)) ** (e / 2.0))
        dl = (math.radians(lon) - lam0 + math.pi) % (2.0 * math.pi) - math.pi
        q = big_e / t ** big_b
        sv = (q - 1.0 / q) / 2.0
        tv = (q + 1.0 / q) / 2.0
        vv = math.sin(big_b * dl)
        u_ = (-vv * math.cos(g0) + sv * math.sin(g0)) / tv
        v = big_a * math.log((1.0 - u_) / (1.0 + u_)) / (2.0 * big_b)
        u = big_a * math.atan2(sv * math.cos(g0) + vv * math.sin(g0),
                               math.cos(big_b * dl)) / big_b - uc
        xm = math.floor(v * math.cos(gc) + u * math.sin(gc) + p.fe)
        ym = math.floor(u * math.cos(gc) - v * math.sin(gc) + p.fn)
        if not (_Q307_X0 <= xm < _Q307_X1 and _Q307_Y0 <= ym < _Q307_Y1):
            continue
        cid = ((ym - _Q307_Y0) // _Q307_CELL) * _Q307_NX \
            + (xm - _Q307_X0) // _Q307_CELL
        a = cells.setdefault(cid, [0, set(), 0])
        a[0] += 1
        a[1].add(uid)
        a[2] += math.floor(val * 1000.0)
    want = {k: [n, len(us), vm] for k, (n, us, vm) in cells.items()}
    fn, _sql = QUERIES["q307_oblique_crs_grid"]
    got = {r.cell_id: [r.n_events, r.n_users, r.val_milli]
           for r in fn(spark, sf).collect()}
    assert got == want and got


def test_q306_q307_plan_single_python_eval(spark):
    """Each CRS-grid query's physical plan must evaluate the projection
    UDF exactly ONCE (the fields-split select prevents ArrowEvalPython
    duplication) and contain exactly the keyed-agg exchange — no join,
    no extra Python."""
    from geowave_spark.queries import QUERIES

    for name in ("q306_polar_crs_grid", "q307_oblique_crs_grid"):
        fn, _sql = QUERIES[name]
        df = fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, name
        assert "Join" not in plan, name


def test_q308_modis_tiles_match_scalar_python(spark):
    """Third implementation of the MODIS tile binning (q308): scalar
    `math`-module sinusoidal forward + dict aggregation."""
    import math

    import duckdb

    from geowave_spark.queries import QUERIES
    from geowave_spark.queries_raster import _q308_consts

    sf = "/root/testdata/sf0.01"
    r, x0, t, y1 = _q308_consts()
    cells = {}
    for eid, uid, val in duckdb.sql(
            f"SELECT event_id, user_id, value FROM '{sf}/events.parquet'"
    ).fetchall():
        lon, lat = _scalar_lonlat(eid)
        xm = math.floor(r * math.radians(lon) * math.cos(math.radians(lat)))
        ym = math.floor(r * math.radians(lat))
        h = max(min(math.floor((xm - x0) / t), 35), 0)
        v = max(min(math.floor((y1 - ym) / t), 17), 0)
        a = cells.setdefault((h, v), [0, set(), 0])
        a[0] += 1
        a[1].add(uid)
        a[2] += math.floor(val * 1000.0)
    want = {k: [n, len(us), vm] for k, (n, us, vm) in cells.items()}
    fn, _sql = QUERIES["q308_modis_tile_binning"]
    got = {(r_.h, r_.v): [r_.n_events, r_.n_users, r_.val_milli]
           for r_ in fn(spark, sf).collect()}
    assert got == want and got


def test_q308_plan_pure_jvm(spark):
    """q308's physical plan must contain ZERO Python nodes (the whole
    sinusoidal grid math runs in whole-stage codegen) and no join."""
    from geowave_spark.queries import QUERIES

    fn, _sql = QUERIES["q308_modis_tile_binning"]
    df = fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan          # no Arrow/Batch Python nodes
    assert "Join" not in plan
    # the tile math must run in double, not Spark's default decimal
    # literal arithmetic (engine-specific scale rules would diverge
    # from the oracle's IEEE doubles near floor boundaries)
    assert "decimal" not in plan.lower()
