"""CLI surface (`python -m geowave_spark ...`) — the reference's
`geowave` command-line operations re-expressed over the library API."""
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def run_cli(*args, timeout=240):
    env = {**os.environ, "PYTHONPATH": ROOT}
    proc = subprocess.run(
        [sys.executable, "-m", "geowave_spark", *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_query_gwql_aggregate():
    out = run_cli(
        "query",
        "SELECT COUNT(*) AS n, MAX(value) AS mx FROM events "
        "WHERE value BETWEEN 100 AND 500",
        "--sf-dir", SF, "--format", "json",
    )
    row = json.loads(out.strip().splitlines()[-1])
    assert row["n"] > 0 and 100 <= row["mx"] <= 500


def test_query_sql_dialect():
    out = run_cli("query", "--dialect", "sql",
                  "SELECT n_name FROM nation ORDER BY n_name LIMIT 3",
                  "--sf-dir", SF)
    lines = out.strip().splitlines()
    assert lines[0] == "n_name" and len(lines) == 4


def test_ingest_geojsonl_and_table_maintenance(tmp_path):
    # build a tiny GeoJSONL file via the library writer's inverse format
    src = tmp_path / "pts.geojsonl"
    feats = [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [i * 1.0, i * 0.5]},
         "properties": {"name": f"p{i}", "rank": i}}
        for i in range(6)
    ]
    src.write_text("\n".join(json.dumps(f) for f in feats))
    dest = str(tmp_path / "tbl")
    out = run_cli("ingest", "geojsonl", str(src), dest, "--snapshot")
    assert json.loads(out.strip().splitlines()[-1])["added_rows"] == 6

    # properties stay a JSON column (GEOJSON_SCHEMA); predicate via SQL json
    out = run_cli("table", "delete", dest, "--where",
                  "get_json_object(properties, '$.rank') > 3")
    assert json.loads(out.strip().splitlines()[-1])["deleted_rows"] == 2

    out = run_cli("table", "history", dest)
    hist = [json.loads(l) for l in out.strip().splitlines()]
    assert [h["operation"] for h in hist] == ["create", "delete"]
    assert hist[-1]["rows"] == 4

    out = run_cli("table", "compact", dest)
    assert json.loads(out.strip().splitlines()[-1])["after_files"] == 1

    out = run_cli("table", "expire", dest, "--keep-last", "1")
    assert json.loads(out.strip().splitlines()[-1])["dropped_manifests"] == 2


def test_stat_report():
    out = run_cli("stat", "events", "--sf-dir", SF)
    row = json.loads(out.strip().splitlines()[-1])
    assert row["n"] > 0
    assert -180 <= row["lon0"] <= row["lon1"] <= 180


def test_analytic_kde():
    out = run_cli("analytic", "kde", "--sf-dir", SF, "--res", "4",
                  "--limit", "5")
    lines = out.strip().splitlines()
    assert len(lines) >= 2  # header + rows
    assert "cell" in lines[0]


def test_analytic_kmeans_and_dbscan(tmp_path):
    out = run_cli("analytic", "kmeans", "--sf-dir", SF, "--k", "3",
                  "--max-iter", "2", "--out", str(tmp_path / "km"))
    assert json.loads(out.strip().splitlines()[-1])["rows"] > 0
    out = run_cli("analytic", "dbscan", "--sf-dir", SF, "--eps", "5",
                  "--min-pts", "3", "--limit", "5")
    assert "cluster" in out.strip().splitlines()[0]


def test_query_out_parquet(tmp_path):
    out = run_cli("query", "--dialect", "sql",
                  "SELECT r_regionkey, r_name FROM region",
                  "--sf-dir", SF, "--out", str(tmp_path / "res"))
    assert json.loads(out.strip().splitlines()[-1])["rows"] == 5


def test_table_optimize_merge_incremental(tmp_path):
    """End-to-end lakehouse maintenance through the CLI: ingest to a
    snapshot table, OPTIMIZE on a new key, MERGE an upsert source,
    read the incremental range."""
    import duckdb

    tbl = str(tmp_path / "tbl")
    src = str(tmp_path / "src.parquet")
    inc = str(tmp_path / "inc")
    con = duckdb.connect()
    con.sql(f"""
        COPY (SELECT range AS id, range % 97 AS cell, range % 13 AS v
              FROM range(5000)) TO '{src}' (FORMAT parquet)
    """)
    # seed the table via merge into an empty path? create via ingest of
    # the parquet is simplest: use merge against a fresh table
    out = run_cli("ingest", "parquet", src, tbl, "--snapshot")
    assert "snapshot" in out
    out = json.loads(run_cli("table", "optimize", tbl, "--cluster-by", "cell"))
    assert out["snapshot"] == 2 and out["cluster_by"] == ["cell"]
    src2 = str(tmp_path / "src2.parquet")
    con.sql(f"""
        COPY (SELECT range AS id, range % 97 AS cell, 999 AS v
              FROM range(4990, 5010)) TO '{src2}' (FORMAT parquet)
    """)
    out = json.loads(run_cli("table", "merge", tbl, "--source", src2,
                             "--key", "id"))
    assert out["updated_rows"] == 10 and out["inserted_rows"] == 10
    out = json.loads(run_cli("table", "incremental", tbl,
                             "--from-snapshot", "0", "--to-snapshot", "1",
                             "--out", inc))
    assert out["rows"] == 5000


def test_table_wap_publish_and_tag(tmp_path):
    """CLI write-audit-publish: stage via the library, then publish and
    tag through `python -m geowave_spark table ...`."""
    from geowave_spark.table import snapshots as S

    dest = str(tmp_path / "tbl")
    src = tmp_path / "pts.geojsonl"
    feats = [
        {"type": "Feature",
         "geometry": {"type": "Point", "coordinates": [i * 1.0, i * 0.5]},
         "properties": {"name": f"p{i}", "rank": i}}
        for i in range(4)
    ]
    src.write_text("\n".join(json.dumps(f) for f in feats))
    run_cli("ingest", "geojsonl", str(src), dest, "--snapshot")

    # stage an append out-of-band: duplicate one of v1's data files and
    # commit the widened manifest with stage_only (no Spark session needed)
    import pyarrow.parquet as pq

    m1 = S.load_manifest(dest, 1)
    rows = pq.read_table(os.path.join(dest, m1["files"][0]["path"]))
    fname = "data/staged-extra.parquet"
    pq.write_table(rows, os.path.join(dest, fname))
    man = dict(m1, snapshot=2, parent=1, operation="append",
               files=m1["files"] + [dict(m1["files"][0], path=fname)],
               summary={"added_rows": int(rows.num_rows)})
    S._commit(dest, man, stage_only=True)

    assert S.current_snapshot(dest) == 1
    out = run_cli("table", "publish", dest)
    assert json.loads(out.strip().splitlines()[-1]) == {
        "published": 2, "previous": 1}

    out = run_cli("table", "tag", dest, "--name", "prod")
    assert json.loads(out.strip().splitlines()[-1]) == {
        "tag": "prod", "snapshot": 2}
    out = run_cli("table", "tag", dest)
    assert json.loads(out.strip().splitlines()[-1]) == {"prod": 2}


def test_emit_implicit_cap_warns(spark, capsys, monkeypatch):
    """ADVICE r3: the implicit 100k emit cap must announce itself on stderr
    so capped output is never mistaken for complete results."""
    from geowave_spark import cli

    monkeypatch.setattr(cli, "_DEFAULT_EMIT_CAP", 5)
    df = spark.range(10).selectExpr("id")
    cli._emit(df, "csv", None)
    cap = capsys.readouterr()
    assert len(cap.out.strip().splitlines()) == 6  # header + 5 rows
    assert "truncated" in cap.err and "--limit 0" in cap.err

    # explicit --limit: silent (user asked for it)
    cli._emit(df, "csv", 5)
    cap = capsys.readouterr()
    assert "truncated" not in cap.err

    # under the cap: no warning, all rows
    cli._emit(spark.range(3).selectExpr("id"), "csv", None)
    cap = capsys.readouterr()
    assert cap.err == ""
