"""Command-line surface: ``python -m geowave_spark <command>``.

The reference ships a first-class CLI (`core/cli` +
`operations/` command classes in /root/reference: `geowave ingest
localToGW`, `geowave query "<gwql>"`, `geowave stat listStats`,
`geowave util ...`).  This module is its Spark-native twin — every
command is a thin argparse shim over the library API, so anything the
CLI can do a notebook can do with the same functions:

    python -m geowave_spark query "SELECT COUNT(*) AS n FROM events \
        WHERE bbox(geom, -10, -10, 10, 10)" --sf-dir /root/testdata/sf0.001 \
        --geom "geom=GeomPoint(lon_expr, lat_expr)"
    python -m geowave_spark query --dialect sql "SELECT * FROM nation" ...
    python -m geowave_spark ingest geojson /data/x.geojson /out/table
    python -m geowave_spark table history /out/table
    python -m geowave_spark table delete /out/table --where "qty > 40"
    python -m geowave_spark table compact /out/table --target-rows 1000000
    python -m geowave_spark stat events --sf-dir /root/testdata/sf0.001
    python -m geowave_spark analytic kde --sf-dir ... --res 6

Query dialects: ``gwql`` (default — the reference's language,
`plans/gwql.py`) and ``sql`` (raw Spark SQL through the same sqlrewrite
spatial acceleration, the `SqlQueryRunner.java` CLI analog).  Ingest
formats map 1:1 to the reference's `extensions/formats/*` plugins.
"""

from __future__ import annotations

import argparse
import json
import sys

from .session import local_session

_DEFAULT_EMIT_CAP = 100_000


def _emit(df, fmt: str, limit: int | None) -> None:
    # an uncapped collect of an arbitrary query is a driver OOM waiting to
    # happen at scale; --limit 0 opts out explicitly
    implicit_cap = limit is None
    if limit is None:
        limit = _DEFAULT_EMIT_CAP
    if limit:
        # fetch cap+1 so the implicit-cap case can WARN instead of silently
        # passing off truncated output as complete results
        rows = df.limit(limit + 1).collect()
        if len(rows) > limit:
            rows = rows[:limit]
            if implicit_cap:
                print(
                    f"warning: output truncated to {limit} rows "
                    f"(implicit cap; pass --limit 0 for all rows)",
                    file=sys.stderr)
    else:
        rows = df.collect()
    cols = df.columns
    if fmt == "json":
        for r in rows:
            print(json.dumps(r.asDict(recursive=True), default=str))
    else:
        print(",".join(cols))
        for r in rows:
            print(",".join("" if v is None else str(v) for v in r))


# ---------------------------------------------------------------- commands


def cmd_query(args) -> int:
    from .plans.gwql import gwql
    from .plans.sqlrewrite import spatial_sql
    from .table.views import register_views

    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")
    if args.sf_dir:
        register_views(spark, args.sf_dir)
    for view in args.view or []:
        name, path = view.split("=", 1)
        spark.read.parquet(path).createOrReplaceTempView(name)
    geom_map = dict(g.split("=", 1) for g in (args.geom or []))
    if args.dialect == "sql":
        df = spatial_sql(spark, args.statement)
    else:
        df = gwql(spark, args.statement, geom_map=geom_map or None)
        if isinstance(df, dict):  # DELETE summary
            print(json.dumps(df))
            return 0
    if args.out:
        # distributed sink: console output collects to the driver, which is
        # for humans — a big result set goes to parquet executor-side
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                          "out": args.out}))
        return 0
    _emit(df, args.format, args.limit)
    return 0


_INGEST_READERS = {
    "geojson": ("table.geojson", "read_geojson"),
    "geojsonl": ("table.geojson", "read_geojsonl"),
    "shapefile": ("table.shapefile", "read_shapefile"),
    "gpx": ("table.trackfiles", "read_gpx"),
    "gdelt": ("table.trackfiles", "read_gdelt"),
    "tdrive": ("table.trackfiles", "read_tdrive"),
    "geolife": ("table.trackfiles", "read_geolife"),
    "twitter": ("table.trackfiles", "read_twitter"),
    "stanag4676": ("table.stanag", "read_stanag4676"),
    "avro": ("table.avrofmt", "read_avro_features"),
    "geotiff": ("raster.geotiff", "read_geotiff"),
    "parquet": (None, None),  # plain parquet, special-cased in cmd_ingest
}


def cmd_ingest(args) -> int:
    import importlib

    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")
    if args.format == "parquet":
        df = spark.read.parquet(args.src)
    else:
        mod_name, fn_name = _INGEST_READERS[args.format]
        mod = importlib.import_module(f".{mod_name}", package=__package__)
        df = getattr(mod, fn_name)(spark, args.src)
    if args.snapshot:
        from .table import snapshots as snap

        cluster = args.cluster_by.split(",") if args.cluster_by else None
        summary = snap.create(df, args.dest, cluster_by=cluster)
        print(json.dumps(summary))
    else:
        df.write.mode("overwrite").parquet(args.dest)
        print(json.dumps({"rows": spark.read.parquet(args.dest).count(),
                          "dest": args.dest}))
    return 0


def cmd_table(args) -> int:
    from .table import snapshots as snap

    if args.table_cmd == "history":
        for h in snap.history(args.path):
            print(json.dumps(h))
        return 0
    spark = None
    if args.table_cmd == "delete":
        spark = local_session()
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(snap.delete_where(spark, args.path, args.where)))
    elif args.table_cmd == "compact":
        spark = local_session()
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(snap.compact(spark, args.path,
                                      target_rows=args.target_rows)))
    elif args.table_cmd == "optimize":
        spark = local_session()
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(snap.optimize(
            spark, args.path, cluster_by=args.cluster_by.split(","),
            target_rows=args.target_rows)))
    elif args.table_cmd == "merge":
        spark = local_session()
        spark.sparkContext.setLogLevel("ERROR")
        src = spark.read.parquet(args.source)
        print(json.dumps(snap.merge_into(
            spark, args.path, src, key_cols=args.key.split(","))))
    elif args.table_cmd == "incremental":
        spark = local_session()
        spark.sparkContext.setLogLevel("ERROR")
        df = snap.incremental_scan(spark, args.path, args.from_snapshot,
                                   args.to_snapshot)
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                          "out": args.out}))
    elif args.table_cmd == "expire":
        print(json.dumps(snap.expire_snapshots(args.path,
                                               keep_last=args.keep_last)))
    elif args.table_cmd == "repair":
        print(json.dumps({"removed": snap.repair(args.path)}))
    elif args.table_cmd == "publish":
        print(json.dumps(snap.publish(args.path, args.snapshot)))
    elif args.table_cmd == "abort-staged":
        snap.abort_staged(args.path, args.snapshot)
        print(json.dumps({"aborted": args.snapshot}))
    elif args.table_cmd == "tag":
        if args.name is None:
            print(json.dumps(snap.tags(args.path)))
        else:
            print(json.dumps(snap.create_tag(args.path, args.name,
                                             args.snapshot)))
    return 0


def cmd_stat(args) -> int:
    """Table statistics (the reference's `geowave stat listStats`): the
    incremental-statistics monoid over the table's point projection."""
    from .agg import stats
    from .table import geo
    from .table.views import register_views

    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")
    if args.sf_dir:
        register_views(spark, args.sf_dir)
        if args.table == "events":
            df = spark.sql(geo.events_points_sql())
            state = stats.stats_state(df, value="value", distinct="eid",
                                      ts=None)
        else:
            df = spark.table(args.table)
            state = stats.stats_state(
                df, lon=args.lon, lat=args.lat,
                value=args.value, distinct=args.distinct)
    else:
        df = spark.read.parquet(args.table)
        state = stats.stats_state(df, lon=args.lon, lat=args.lat,
                                  value=args.value, distinct=args.distinct)
    _emit(stats.stats_report(state), "json", None)
    return 0


def cmd_analytic(args) -> int:
    """Spark analytics (the reference's `analytics/spark` CLI runners)."""
    from .table import geo
    from .table.views import register_views

    spark = local_session()
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, args.sf_dir)
    pts = spark.sql(geo.events_points_sql())
    if args.analytic_cmd == "kde":
        from .agg.kde import kde_heatmap

        df = kde_heatmap(spark, pts, args.res, args.k)
    elif args.analytic_cmd == "kmeans":
        from .agg.kmeans import kmeans_clusters

        df = kmeans_clusters(pts, k=args.k, max_iter=args.max_iter)
    else:  # dbscan
        from .agg.dbscan import dbscan

        df = dbscan(spark, pts, eps=args.eps, min_pts=args.min_pts,
                    id_col="eid")
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                          "out": args.out}))
    else:
        _emit(df, "csv", args.limit)
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="python -m geowave_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query", help="run a GWQL or Spark SQL statement")
    q.add_argument("statement")
    q.add_argument("--dialect", choices=("gwql", "sql"), default="gwql")
    q.add_argument("--sf-dir", help="register the testdata tables from this dir")
    q.add_argument("--view", action="append",
                   help="extra view as name=parquet_path (repeatable)")
    q.add_argument("--geom", action="append",
                   help="geometry binding attr=SQL_EXPR (repeatable)")
    q.add_argument("--format", choices=("csv", "json"), default="csv")
    q.add_argument("--limit", type=int)
    q.add_argument("--out", help="write the result to parquet (distributed) "
                                 "instead of printing to the console")
    q.set_defaults(fn=cmd_query)

    ing = sub.add_parser("ingest", help="ingest a vector/raster/track format")
    ing.add_argument("format", choices=sorted(_INGEST_READERS))
    ing.add_argument("src")
    ing.add_argument("dest")
    ing.add_argument("--snapshot", action="store_true",
                     help="write a snapshot table instead of plain parquet")
    ing.add_argument("--cluster-by", help="comma-separated sort columns")
    ing.set_defaults(fn=cmd_ingest)

    t = sub.add_parser("table", help="snapshot table maintenance")
    tsub = t.add_subparsers(dest="table_cmd", required=True)
    th = tsub.add_parser("history")
    th.add_argument("path")
    td = tsub.add_parser("delete")
    td.add_argument("path")
    td.add_argument("--where", required=True)
    tc = tsub.add_parser("compact")
    tc.add_argument("path")
    tc.add_argument("--target-rows", type=int, default=1_000_000)
    te = tsub.add_parser("expire")
    te.add_argument("path")
    te.add_argument("--keep-last", type=int, default=1)
    tr = tsub.add_parser("repair")
    tr.add_argument("path")
    to = tsub.add_parser("optimize")
    to.add_argument("path")
    to.add_argument("--cluster-by", required=True,
                    help="comma-separated sort key, e.g. cell")
    to.add_argument("--target-rows", type=int, default=1_000_000)
    tm = tsub.add_parser("merge")
    tm.add_argument("path")
    tm.add_argument("--source", required=True,
                    help="parquet path of the upsert source")
    tm.add_argument("--key", required=True,
                    help="comma-separated merge key columns")
    tp = tsub.add_parser("publish", help="publish staged WAP snapshots")
    tp.add_argument("path")
    tp.add_argument("--snapshot", type=int, default=None)
    ta = tsub.add_parser("abort-staged", help="drop a staged WAP snapshot")
    ta.add_argument("path")
    ta.add_argument("--snapshot", type=int, required=True)
    tt = tsub.add_parser("tag", help="list tags, or pin NAME to a snapshot")
    tt.add_argument("path")
    tt.add_argument("--name", default=None)
    tt.add_argument("--snapshot", type=int, default=None)
    ti = tsub.add_parser("incremental")
    ti.add_argument("path")
    ti.add_argument("--from-snapshot", type=int, required=True)
    ti.add_argument("--to-snapshot", type=int, default=None)
    ti.add_argument("--out", required=True,
                    help="parquet path for the incremental rows")
    t.set_defaults(fn=cmd_table)

    st = sub.add_parser("stat", help="table statistics report")
    st.add_argument("table", help="view name (with --sf-dir) or parquet path")
    st.add_argument("--sf-dir")
    st.add_argument("--lon", default="lon")
    st.add_argument("--lat", default="lat")
    st.add_argument("--value")
    st.add_argument("--distinct")
    st.set_defaults(fn=cmd_stat)

    an = sub.add_parser("analytic", help="spark analytics over the events points")
    ansub = an.add_subparsers(dest="analytic_cmd", required=True)
    for name in ("kde", "kmeans", "dbscan"):
        p = ansub.add_parser(name)
        p.add_argument("--sf-dir", required=True)
        p.add_argument("--out")
        p.add_argument("--limit", type=int, default=20)
        if name == "kde":
            p.add_argument("--res", type=int, default=6)
            p.add_argument("--k", type=int, default=2)
        elif name == "kmeans":
            p.add_argument("--k", type=int, default=8)
            p.add_argument("--max-iter", type=int, default=8)
        else:
            p.add_argument("--eps", type=float, default=2.0)
            p.add_argument("--min-pts", type=int, default=5)
    an.set_defaults(fn=cmd_analytic)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
