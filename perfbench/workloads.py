"""The four benchmark workloads: inputs, one batch job, and an independent
brute-force oracle for the job's output.

Fixed inputs (the same for every seed) stand in for the testdata parquet,
because a run may read only inside its checkout: a documents table the
corpus snapshot table is staged from, and a point table with the engine's
closed-form lineitem coordinates.  The seed sets only polygon placement,
hot-cell position, which partitions get preempted, kNN query points and
the codec sample.

Every job returns a small pandas DataFrame (per-polygon counts, per-level
tile totals, per-rid aggregates, top-k rows).  The runner compares each
one with the oracle outside the timed region.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pandas as pd

from . import harness as H

# input sizes per scale; "tiny" is for the benchmark's own tests
SIZES = {
    "full": {"images": 600, "tile_images": 300, "join_points": 24_000_000, "polys": 100,
             "points": 600_000, "skew_points": 240_000, "rects": 1000,
             "queries": 1000, "ckpt_parts": 8},
    "tiny": {"images": 200, "tile_images": 120, "join_points": 200_000, "polys": 30,
             "points": 20_000, "skew_points": 20_000, "rects": 60,
             "queries": 40, "ckpt_parts": 4},
}

LON_MULT, LAT_MULT = 2654435761, 2246822519   # table/geo.py lon_sql/lat_sql
LON_MOD, LAT_MOD = 360_000_000, 180_000_000


def fixed_points(n: int) -> pd.DataFrame:
    """(pid, lon, lat, qty) with the engine's closed-form key -> coordinate
    mapping, so the point table is the same on every seed."""
    pid = np.arange(n, dtype=np.int64)
    lon = (pid % LON_MOD) * LON_MULT % LON_MOD / 1e6 - 180.0
    lat = (pid % LAT_MOD) * LAT_MULT % LAT_MOD / 1e6 - 90.0
    qty = 1 + (pid * 7) % 50
    return pd.DataFrame({"pid": pid, "lon": lon, "lat": lat, "qty": qty})


def write_parquet(pdf: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False)
    return path


def frame_diff(got: pd.DataFrame, want: pd.DataFrame, key: str) -> list[str]:
    """Mismatches between two integer frames compared row by row on ``key``."""
    cols = list(want.columns)
    got = got[cols].astype("int64").sort_values(key).reset_index(drop=True)
    want = want[cols].astype("int64").sort_values(key).reset_index(drop=True)
    if len(got) != len(want):
        return [f"{len(got)} output rows != {len(want)} oracle rows"]
    diff = (got != want).any(axis=1)
    return [f"{key}={want[key][i]}: engine {got.iloc[i].tolist()} != "
            f"oracle {want.iloc[i].tolist()}" for i in np.flatnonzero(diff)[:5]]


class Workload:
    """One batch job.  ``run`` plans and executes it once; ``output`` turns
    what it returned into the job's result frame (outside the timed
    region); ``check`` computes the oracle and ``compare`` lists the
    differences of one result from it."""

    name = ""
    unit = "rows"
    images = "images"   # SIZES key of the corpus size this workload stages

    def __init__(self, seed: int, scale: str, work: str):
        self.seed, self.scale, self.work = seed, scale, work
        self.size = SIZES[scale]
        self.rng = np.random.default_rng(seed)
        self.inputs = os.path.join(work, "input")
        self.corpus = ""
        self.planned = None
        self.guest_attempted = self.guest_failed = 0
        docs = pd.DataFrame({"doc_id": np.arange(self.size[self.images], dtype=np.int64)})
        docs["text"] = [f"synthetic document {i}" for i in docs["doc_id"]]
        write_parquet(docs, os.path.join(self.inputs, "documents.parquet"))

    # setup ----------------------------------------------------------------

    def stage(self, spark, rep: int) -> float:
        """Stage the corpus snapshot table from the documents parquet into a
        fresh directory; returns the wall time."""
        from geowave_spark.table import corpus

        t0 = time.perf_counter()
        self.corpus = corpus.ensure_image_table(
            spark, self.inputs, self.size[self.images],
            root=os.path.join(self.work, "tables", str(rep)))
        return time.perf_counter() - t0

    def corpus_files(self) -> str:
        return os.path.join(self.corpus, "data", "*.parquet")

    def prepare(self, spark) -> None:
        """Seeded inputs beyond the staged corpus, built once per run."""

    @property
    def input_rows(self) -> int:
        raise NotImplementedError

    # job ------------------------------------------------------------------

    def run(self, spark, tr: H.Tracer):
        raise NotImplementedError

    def plan_once(self, tr: H.Tracer, span: str, build):
        """The job's DataFrame, built by ``build`` on the first execution
        only: a batch job plans once (that cost lands in cold_s) and the
        warm executions re-run the planned query."""
        if self.planned is None:
            with tr.span(span):
                self.planned = build()
        return self.planned

    def output(self, spark, ret) -> pd.DataFrame:
        return ret

    def cleanup(self, spark) -> None:
        pass

    def check(self, spark, tr: H.Tracer) -> tuple[pd.DataFrame, list[str]]:
        """(oracle result, mismatches of any extra execution the check makes)."""
        raise NotImplementedError

    def compare(self, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
        raise NotImplementedError

    def output_rows(self, want: pd.DataFrame) -> int:
        """Rows the job produces, as distinct from the rows of its result."""
        return len(want)

    def layers(self, spark, tr: H.Tracer, rd: H.StatusReader) -> dict:
        """Per-layer figures of the traced executions plus direct calls."""
        raise NotImplementedError


def _spans(tr: H.Tracer, name: str) -> list[dict]:
    return [s for s in tr.spans if s["name"] == name]


def _median_s(spans: list[dict]) -> float:
    return statistics.median(s["end"] - s["start"] for s in spans) if spans else 0.0


def _timed(fn, reps: int = 1) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


# --- pip_join ------------------------------------------------------------------


class PipJoin(Workload):
    """Amplified corpus centroids x seeded 12-gons through the broadcast
    cover + codegen raycast point-in-polygon join."""

    name, unit = "pip_join", "points"

    def prepare(self, spark) -> None:
        from geowave_spark.geom import core as geom
        from geowave_spark.table import corpus

        n = self.size["polys"]
        lon = self.rng.uniform(-175.0, 175.0, n)
        lat = self.rng.uniform(-70.0, 70.0, n)
        # the seed places the polygons; their sizes are the same every seed
        rad = self.rng.permutation(np.linspace(0.75, 4.0, n))
        self.polys = {i: geom.regular_polygon(float(lon[i]), float(lat[i]),
                                              float(rad[i]), 12)
                      for i in range(n)}
        self.pts, self.n_base = corpus.image_points(
            spark, self.corpus, amplify=self.size["join_points"])
        self.mult = max(1, self.size["join_points"] // self.n_base)

    @property
    def input_rows(self) -> int:
        return self.n_base * self.mult

    def _join(self, spark):
        from geowave_spark.join import spatial

        # the flagship configuration: data_res 10 keeps most candidates in
        # fully interior cells; single-tier normalization gives one
        # broadcast cover and one scan of the point side
        return spatial.point_in_polygon_join(spark, self.pts, self.polys,
                                             data_res=10, max_cells=1024)

    def run(self, spark, tr):
        df = self.plan_once(tr, "join.plan", lambda: self._join(spark))
        with tr.span("join.exec") as rec:
            out = df.groupBy("poly_id").count().toPandas()
            rec["pairs"] = int(out["count"].sum())
        return out

    def check(self, spark, tr):
        edges = []
        for pid, ring in self.polys.items():
            xy = ring.reshape(-1, 2)
            prev = np.roll(xy, 1, axis=0)  # edge head = vertex i, tail = i-1
            edges.append(pd.DataFrame({"poly_id": pid, "ax": xy[:, 0], "ay": xy[:, 1],
                                       "bx": prev[:, 0], "by": prev[:, 1]}))
        con = duckdb.connect()
        con.register("edges", pd.concat(edges, ignore_index=True))
        want = con.execute(f"""
            WITH p AS (SELECT row_number() OVER () AS rn,
                              (lon0 + lon1) / 2 AS lon, (lat0 + lat1) / 2 AS lat
                       FROM read_parquet('{self.corpus_files()}'))
            SELECT poly_id, count(*) * {self.mult} AS count FROM (
              SELECT rn, poly_id, sum(CASE WHEN (ay > lat) != (by > lat)
                AND lon < (bx - ax) * (lat - ay) / (by - ay) + ax THEN 1 ELSE 0 END) AS x
              FROM p JOIN edges ON true GROUP BY rn, poly_id) t
            WHERE x % 2 = 1 GROUP BY poly_id""").df()
        con.close()
        return want, []

    def compare(self, got, want):
        return frame_diff(got, want, "poly_id")

    def output_rows(self, want):
        return int(want["count"].sum())

    def layers(self, spark, tr, rd):
        from geowave_spark.index import cover as cov

        def cover():
            return cov.polygon_cover(self.polys, res=None, max_cells=1024,
                                     curve="rowmajor")

        out = {
            "index.cover_s": _timed(cover, 3),
            "index.cover_cells": len(cover()),
            "index.encode_s": max(0.0, _timed(lambda: H.noop(
                cov.add_point_cells_jvm(self.pts, "lon", "lat", 10)), 2)
                - _timed(lambda: H.noop(self.pts), 2)),
        }
        out.update(join_layers(tr, rd, "BroadcastHashJoin", "jcell"))
        out.update(guest_layers(KnnRings, self, spark, tr, rd))
        return out


def guest_layers(cls, host: Workload, spark, tr, rd, reps: int = 2) -> dict:
    """Layers of a workload the benchmark does not list, measured inside the
    traced run of ``host``: ``reps`` checked executions of its job, its
    check, then its per-layer figures.  Executions and mismatches are
    added to ``host.guest_attempted`` / ``host.guest_failed``."""
    wl = cls(host.seed, host.scale, os.path.join(host.work, cls.name))
    wl.prepare(spark)
    outs = []
    for _ in range(reps):
        outs.append(wl.output(spark, wl.run(spark, tr)))
        wl.cleanup(spark)
    want, bad = wl.check(spark, tr)
    failed = int(bool(bad)) + sum(bool(wl.compare(o, want)) for o in outs)
    host.guest_attempted = reps + int(bool(bad))
    host.guest_failed = failed
    return wl.layers(spark, tr, rd)


def join_layers(tr, rd, join_op: str, key: str) -> dict:
    """join.* figures from the traced plan/exec spans of the last job."""
    plans, execs = _spans(tr, "join.plan"), _spans(tr, "join.exec")
    last = execs[-1]
    ops = rd.operators(last["jobs"])
    cand = H.op_sum(ops, join_op, "number of output rows", key)
    st = H.stage_summary(rd.stages(last["jobs"]))
    return {
        "join.plan_s": _median_s(plans),
        "join.plan_jobs": len(plans[-1]["jobs"]),
        "join.exec_s": _median_s(execs),
        "join.candidates": cand,
        "join.refine_yield": last["pairs"] / cand if cand else 0.0,
        "join.shuffle_bytes": st["shuffle_bytes"],
        "join.fetch_wait_s": st["fetch_wait_s"],
        "join.task_p50_s": st["task_p50_s"],
        "join.task_max_s": st["task_max_s"],
    }


# --- tile_mosaic ---------------------------------------------------------------


class TileMosaic(Workload):
    """Full image rows through tile assignment (Arrow/Python, PNG codec) and
    the keyed-shuffle no-data mosaic merge."""

    name, unit = "tile_mosaic", "images"
    images = "tile_images"

    @property
    def input_rows(self) -> int:
        return self.size[self.images]

    def _scan(self, spark):
        from geowave_spark.table import snapshots as snap

        return snap.scan(spark, self.corpus)

    def _mosaic(self, spark):
        from geowave_spark.raster import tiles

        return tiles.merge_tiles_df(tiles.assign_tiles_df(self._scan(spark)))

    def _shell(self, spark):
        """The mosaic job's shape with the raster work taken out: the same
        scan, two Arrow/Python hops around one keyed shuffle, one result."""
        ids = self._scan(spark).select("image_id")
        hop = ids.mapInPandas(lambda it: it, schema=ids.schema)
        return (hop.repartition(spark.sparkContext.defaultParallelism, "image_id")
                .sortWithinPartitions("image_id")
                .mapInPandas(lambda it: it, schema=ids.schema)
                .groupBy().count())

    def run(self, spark, tr):
        from pyspark.sql import functions as F  # noqa: N812

        df = self.plan_once(tr, "raster.plan", lambda: self._mosaic(spark))
        with tr.span("raster.exec"):
            return df.groupBy("res").agg(
                F.count("*").alias("tiles"),
                F.sum("n_src").alias("n_src")).toPandas()

    def check(self, spark, tr):
        from geowave_spark.raster import tiles

        # independent plan: closed-form level + row-major bbox cover in SQL
        lvl = tiles.level_res_sql("lon0", "lon1", "w")
        idx = "least(greatest(cast(ceil(({v} + {o}) / {s} * n) as bigint) - 1, 0), n - 1)"
        con = duckdb.connect()
        want = con.execute(f"""
            WITH l AS (SELECT *, cast({lvl} AS int) AS res,
                              cast(pow(2, cast({lvl} AS int)) AS bigint) AS n
                       FROM read_parquet('{self.corpus_files()}')),
            b AS (SELECT res, n,
                {idx.format(v='lon0', o='180e0', s='360e0')} AS x0,
                {idx.format(v='lat0', o='90e0', s='180e0')} AS y0,
                {idx.format(v='lon1', o='180e0', s='360e0')} AS x1,
                {idx.format(v='lat1', o='90e0', s='180e0')} AS y1 FROM l),
            r AS (SELECT res, n, x0, x1, unnest(range(y0, y1 + 1)) AS y FROM b),
            t AS (SELECT res, y * n + unnest(range(x0, x1 + 1)) AS tile FROM r)
            SELECT res, count(DISTINCT tile) AS tiles, count(*) AS n_src
            FROM t GROUP BY res""").df()
        con.close()
        return want, []

    def compare(self, got, want):
        return frame_diff(got, want, "res")

    def output_rows(self, want):
        return int(want["tiles"].sum())

    def layers(self, spark, tr, rd):
        from geowave_spark.raster import codec, tiles

        execs = _spans(tr, "raster.exec")
        exec_s = _median_s(execs)
        assign_s = _timed(lambda: H.noop(tiles.assign_tiles_df(self._scan(spark))), 2)
        shell = self._shell(spark)
        shell.toPandas()  # first execution ships the Python functions
        shell_s = _timed(shell.toPandas, 3)
        ops = rd.operators(execs[-1]["jobs"])
        con = duckdb.connect()
        blobs = con.execute(
            f"SELECT bytes FROM read_parquet('{self.corpus_files()}') "
            "WHERE fmt = 'png' ORDER BY image_id").fetchall()
        n_src = con.execute(
            f"SELECT count(*) FROM read_parquet('{self.corpus_files()}')").fetchone()[0]
        con.close()
        pick = self.rng.choice(len(blobs), size=min(64, len(blobs)), replace=False)
        sample = [bytes(blobs[i][0]) for i in pick]
        t0 = time.perf_counter()
        imgs = [codec.png_decode(b) for b in sample]
        t1 = time.perf_counter()
        for img in imgs:
            codec.png_encode(img)
        t2 = time.perf_counter()
        py = {m: H.op_sum(ops, "MapInPandas", m) for m in (
            "data sent to Python workers", "data returned from Python workers",
            "time to run Python workers")}
        return {
            "raster.assign_s": assign_s,
            "raster.merge_s": max(0.0, exec_s - assign_s),
            "raster.shell_s": shell_s,
            "raster.tiles_per_image": self.tiles_assigned / n_src,
            "raster.py_sent_bytes": py["data sent to Python workers"],
            "raster.py_returned_bytes": py["data returned from Python workers"],
            "raster.py_run_s": py["time to run Python workers"],
            "raster.decode_us": (t1 - t0) / len(sample) * 1e6,
            "raster.encode_us": (t2 - t1) / len(sample) * 1e6,
            **guest_layers(SkewCkpt, self, spark, tr, rd),
        }

    def output(self, spark, ret):
        self.tiles_assigned = int(ret["n_src"].sum())
        return ret


# --- skew_ckpt -----------------------------------------------------------------


class SkewCkpt(Workload):
    """Hot-cell big-big rect join (salted shuffle) written through the
    resumable per-partition checkpoint sink, then preempted and resumed."""

    name, unit = "skew_ckpt", "points"
    COLS = ["rid", "n_points", "sum_qty"]

    def prepare(self, spark) -> None:
        n, nr = self.size["skew_points"], self.size["rects"]
        rng = self.rng
        # hot centre = centre of a seeded res-7 cell (2.8125 x 1.40625 deg);
        # the +-0.5 / +-0.3 deg spread stays inside that one cell
        ix, iy = rng.integers(0, 128), rng.integers(32, 96)
        hx, hy = (ix + 0.5) * 2.8125 - 180.0, (iy + 0.5) * 1.40625 - 90.0
        pts = fixed_points(n)
        hot = (pts["pid"] % 10 < 3).to_numpy()
        pts.loc[hot, "lon"] = hx + rng.uniform(-0.5, 0.5, hot.sum())
        pts.loc[hot, "lat"] = hy + rng.uniform(-0.3, 0.3, hot.sum())
        stacked = rng.random(nr) < 0.8
        cx = np.where(stacked, hx + rng.uniform(-0.5, 0.5, nr), rng.uniform(-170, 170, nr))
        cy = np.where(stacked, hy + rng.uniform(-0.3, 0.3, nr), rng.uniform(-80, 80, nr))
        hw = np.where(stacked, rng.uniform(0.05, 0.25, nr), rng.uniform(2.0, 9.0, nr))
        hh = np.where(stacked, rng.uniform(0.05, 0.25, nr), rng.uniform(1.0, 6.0, nr))
        rects = pd.DataFrame({
            "rid": np.arange(nr, dtype=np.int64),
            "lon0": np.maximum(cx - hw, -180.0), "lat0": np.maximum(cy - hh, -90.0),
            "lon1": np.minimum(cx + hw, 180.0), "lat1": np.minimum(cy + hh, 90.0)})
        self.pts_path = write_parquet(pts, os.path.join(self.inputs, "skew_points.parquet"))
        self.rects_path = write_parquet(rects, os.path.join(self.inputs, "rects.parquet"))
        parts = self.size["ckpt_parts"]
        self.fail = {int(p) for p in rng.choice(parts, size=2, replace=False)}
        self.out = os.path.join(self.work, "ckpt")

    @property
    def input_rows(self) -> int:
        return self.size["skew_points"]

    def _agg(self, spark):
        from pyspark.sql import functions as F  # noqa: N812

        from geowave_spark.join import spatial

        pairs = spatial.point_in_rects_join_salted(
            spark, spark.read.parquet(self.pts_path),
            spark.read.parquet(self.rects_path),
            res=7, salt_buckets=16, keep_cols=["qty"])
        return pairs.groupBy("rid").agg(
            F.count("*").alias("n_points"),
            F.sum(F.col("qty").cast("bigint")).alias("sum_qty"))

    def _write(self, spark, tr, out: str, span: str, fail=None) -> dict:
        from geowave_spark.plans import checkpoint

        agg = self.plan_once(tr, "join.plan", lambda: self._agg(spark))
        with tr.span(span):
            return checkpoint.resumable_write(agg, out, key="rid",
                                              num_partitions=self.size["ckpt_parts"],
                                              fail_partitions=fail)

    def _load(self, spark, d: str) -> pd.DataFrame:
        from geowave_spark.plans import checkpoint

        return checkpoint.load(spark, os.path.join(self.out, d)).toPandas()[self.COLS]

    def run(self, spark, tr):
        clean = os.path.join(self.out, "clean")
        H.rmtree(clean)
        return self._write(spark, tr, clean, "join.exec")

    def output(self, spark, ret):
        return self._load(spark, "clean")

    def preempt_and_resume(self, spark, tr) -> dict:
        """Second write with seeded partitions failing, then the resume."""
        from geowave_spark.plans import checkpoint

        out = os.path.join(self.out, "resumed")
        H.rmtree(out)
        try:
            self._write(spark, tr, out, "plans.preempted", fail=self.fail)
            raise AssertionError("injected preemption did not fail the write")
        except Exception as e:  # the injected task failure surfaces here
            if "injected preemption in partition" not in str(e):
                raise
        committed = len(checkpoint.partition_metrics(out))
        t0 = time.perf_counter()
        res = self._write(spark, tr, out, "plans.resume")
        self.resume = {"resume_s": time.perf_counter() - t0,
                       "parts_missing": self.size["ckpt_parts"] - committed,
                       "parts_rerun": res["written"]}
        return self.resume

    def check(self, spark, tr):
        # DuckDB interval join; a 0.1-degree lon strip key (each rect listed
        # under every strip it overlaps) keeps it from a 240M-pair loop
        con = duckdb.connect()
        want = con.execute(f"""
            WITH r AS (SELECT *, unnest(range(cast(floor(lon0 * 10) AS bigint),
                                              cast(floor(lon1 * 10) AS bigint) + 1)) AS strip
                       FROM read_parquet('{self.rects_path}')),
            p AS (SELECT *, cast(floor(lon * 10) AS bigint) AS strip
                  FROM read_parquet('{self.pts_path}'))
            SELECT r.rid, count(*) AS n_points, sum(p.qty) AS sum_qty
            FROM p JOIN r ON p.strip = r.strip
             AND p.lon BETWEEN r.lon0 AND r.lon1 AND p.lat BETWEEN r.lat0 AND r.lat1
            GROUP BY r.rid""").df()[self.COLS]
        con.close()
        self.pairs = int(want["n_points"].sum())
        self.preempt_and_resume(spark, tr)
        bad = [f"resumed write: {m}"
               for m in self.compare(self._load(spark, "resumed"), want)]
        return want, bad

    def compare(self, got, want):
        return frame_diff(got, want, "rid")

    def layers(self, spark, tr, rd):
        from geowave_spark.plans import checkpoint

        _spans(tr, "join.exec")[-1]["pairs"] = self.pairs
        out = join_layers(tr, rd, "ShuffledHashJoin", "salt")
        out.update({
            "plans.write_s": out["join.exec_s"],
            "plans.resume_s": self.resume["resume_s"],
            "plans.parts_missing": self.resume["parts_missing"],
            "plans.parts_rerun": self.resume["parts_rerun"],
            "plans.bytes_written": sum(
                m["bytes"] for m in checkpoint.partition_metrics(
                    os.path.join(self.out, "clean"))),
        })
        return out


# --- knn_rings -----------------------------------------------------------------


class KnnRings(Workload):
    """k = 5 nearest points per seeded query by ring expansion: many small
    driver-fired jobs (persist + isEmpty per ring round)."""

    name, unit = "knn_rings", "queries"
    K, RES = 5, 6

    def prepare(self, spark) -> None:
        pts = fixed_points(self.size["points"])
        q = self.size["queries"]
        rng = self.rng
        # half from the densest res-6 cells, half uniform
        n = 1 << self.RES
        gx = np.clip(np.ceil((pts["lon"] + 180) / 360 * n) - 1, 0, n - 1)
        gy = np.clip(np.ceil((pts["lat"] + 90) / 180 * n) - 1, 0, n - 1)
        counts = pd.Series(gy * n + gx).value_counts()
        dense = counts.index[: max(1, len(counts) // 10)].to_numpy()
        cells = rng.choice(dense, size=q // 2)
        cy, cx = cells // n, cells % n
        qlon = np.concatenate([(cx + rng.random(q // 2)) / n * 360 - 180,
                               rng.uniform(-180, 180, q - q // 2)])
        qlat = np.concatenate([(cy + rng.random(q // 2)) / n * 180 - 90,
                               rng.uniform(-90, 90, q - q // 2)])
        self.points = pts
        self.queries = pd.DataFrame({"qid": np.arange(q, dtype=np.int64),
                                     "lon": qlon, "lat": qlat})
        self.pts_path = write_parquet(pts, os.path.join(self.inputs, "points.parquet"))
        self.q_path = write_parquet(self.queries, os.path.join(self.inputs, "queries.parquet"))

    @property
    def input_rows(self) -> int:
        return self.size["queries"]

    def _knn(self, spark):
        from geowave_spark.knn import knn

        return knn.knn_join(spark, spark.read.parquet(self.pts_path),
                            spark.read.parquet(self.q_path), k=self.K,
                            qid_col="qid", res=self.RES)

    def run(self, spark, tr):
        with tr.span("knn.plan"):
            df = self._knn(spark)
        with tr.span("knn.exec"):
            return df.toPandas()

    def cleanup(self, spark) -> None:
        spark.catalog.clearCache()  # knn_join persists its ring rounds

    def check(self, spark, tr):
        """Numpy brute force over every point for a seeded query sample."""
        sample = self.rng.choice(len(self.queries), size=min(50, len(self.queries)),
                                 replace=False)
        px = self.points["lon"].to_numpy()
        py = self.points["lat"].to_numpy()
        pid = self.points["pid"].to_numpy()
        rows = []
        for qi in sorted(sample):
            q = self.queries.iloc[qi]
            d = np.hypot(px - q["lon"], py - q["lat"])
            near = np.flatnonzero(d <= np.partition(d, self.K - 1)[self.K - 1])
            top = near[np.lexsort((pid[near], d[near]))][: self.K]
            rows.append(pd.DataFrame({"qid": int(q["qid"]), "pid": pid[top],
                                      "dist": d[top], "rank": np.arange(1, self.K + 1)}))
        return pd.concat(rows, ignore_index=True), []

    def compare(self, got, want):
        bad = []
        if len(got) != self.output_rows(want):
            bad.append(f"{len(got)} result rows != {self.output_rows(want)}")
        for qid, exp in want.groupby("qid"):
            mine = got[got["qid"] == qid].sort_values("rank")
            if (mine["pid"].tolist() != exp["pid"].tolist()
                    or not np.allclose(mine["dist"].to_numpy(), exp["dist"].to_numpy())):
                bad.append(f"query {qid}: top-{self.K} differs")
        return bad

    def output_rows(self, want):
        return self.K * len(self.queries)

    def layers(self, spark, tr, rd):
        plans, execs = _spans(tr, "knn.plan"), _spans(tr, "knn.exec")
        jobs = plans[-1]["jobs"] + execs[-1]["jobs"]
        cand = H.op_sum(rd.operators(jobs), "BroadcastHashJoin",
                        "number of output rows", "jcell")
        return {
            "knn.plan_s": _median_s(plans),
            "knn.exec_s": _median_s(execs),
            "knn.jobs": len(jobs),
            "knn.candidates_per_query": cand / self.size["queries"],
        }


WORKLOADS = {w.name: w for w in (PipJoin, TileMosaic, SkewCkpt, KnnRings)}
