"""Snapshot table format: atomicity, isolation, pruning, maintenance.

Mirrors the contract Iceberg's spec tests pin (commit atomicity, snapshot
isolation, stats-based file skipping) — the reference's equivalent
guarantees live in its datastore ITs (`test/src/test/java/.../GeoWaveBasicSpatialVectorIT`
delete/requery cycles in /root/reference)."""

from __future__ import annotations

import os

import pytest

from geowave_spark.table import snapshots as S


def _mk(spark, n=10_000, parts=8):
    return spark.range(n).selectExpr(
        "id",
        "id % 97 AS cell",
        "cast(id % 13 as double) AS value",
        "concat('row-', id) AS name",
    ).repartition(parts)


@pytest.fixture()
def tdir(tmp_path):
    return str(tmp_path / "tbl")


def test_create_read_roundtrip(spark, tdir):
    df = _mk(spark)
    info = S.create(df, tdir, cluster_by=["cell"], num_files=8)
    assert info["snapshot"] == 1 and info["added_rows"] == 10_000
    got = S.scan(spark, tdir)
    assert got.count() == 10_000
    assert got.agg({"value": "sum"}).first()[0] == df.agg({"value": "sum"}).first()[0]
    # schema preserved exactly (modulo file-source nullability)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]


def test_scan_of_many_files_starts_no_job(spark, tdir):
    """Building a scan over more files than Spark's parallel-listing
    threshold (32) starts no Spark job: the manifest already lists the
    files.  The threshold is restored afterwards and every row is read."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    S.create(_mk(spark, 4000, parts=40), tdir, num_files=40)
    assert len(S.load_manifest(tdir)["files"]) > 32
    before = spark.conf.get(key, None)
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-scan-plan", "scan build only")
    try:
        got = S.scan(spark, tdir)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        assert list(sc.statusTracker().getJobIdsForGroup("snapshot-scan-plan")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert spark.conf.get(key, None) == before
    assert got.count() == 4000
    assert got.select("id").distinct().count() == 4000


def test_append_and_history(spark, tdir):
    S.create(_mk(spark, 1000), tdir, cluster_by=["cell"], num_files=4)
    S.append(spark.range(1000, 1500).selectExpr(
        "id", "id % 97 AS cell", "cast(id % 13 as double) AS value",
        "concat('row-', id) AS name"), tdir)
    assert S.scan(spark, tdir).count() == 1500
    h = S.history(tdir)
    assert [x["operation"] for x in h] == ["create", "append"]
    # time travel: snapshot 1 unaffected by the append
    assert S.scan(spark, tdir, snapshot=1).count() == 1000


def test_pruning_skips_files_and_loses_no_rows(spark, tdir):
    S.create(_mk(spark, 20_000), tdir, cluster_by=["cell"], num_files=16)
    total_files = len(S.load_manifest(tdir)["files"])
    kept, total = S.plan_files(tdir, prune=[("cell", "between", (10, 20))])
    assert total == total_files
    assert 0 < len(kept) < total_files, "clustered write must make pruning effective"
    pruned = S.scan(spark, tdir, prune=[("cell", "between", (10, 20))],
                    where="cell BETWEEN 10 AND 20")
    full = S.scan(spark, tdir, where="cell BETWEEN 10 AND 20")
    assert pruned.count() == full.count()
    assert pruned.agg({"value": "sum"}).first()[0] == full.agg({"value": "sum"}).first()[0]


@pytest.mark.parametrize(
    "prune,where",
    [
        ([("cell", "=", 42)], "cell = 42"),
        ([("cell", "<", 5)], "cell < 5"),
        ([("cell", ">=", 90)], "cell >= 90"),
        ([("cell", "in", [3, 77])], "cell IN (3, 77)"),
        ([("name", ">=", "row-9")], "name >= 'row-9'"),  # string stats prune too
    ],
)
def test_prune_safety_property(spark, tdir, prune, where):
    S.create(_mk(spark, 5_000), tdir, cluster_by=["cell"], num_files=8)
    a = sorted(S.scan(spark, tdir, prune=prune, where=where).collect())
    b = sorted(S.scan(spark, tdir, where=where).collect())
    assert a == b


def test_empty_prune_result_keeps_schema(spark, tdir):
    df = _mk(spark, 100)
    S.create(df, tdir, cluster_by=["cell"], num_files=2)
    got = S.scan(spark, tdir, prune=[("cell", ">", 10_000)], where="cell > 10000")
    assert got.count() == 0
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in df.schema.fields
    ]


def test_delete_where_copy_on_write_and_time_travel(spark, tdir):
    S.create(_mk(spark, 10_000), tdir, cluster_by=["cell"], num_files=8)
    info = S.delete_where(spark, tdir, "cell BETWEEN 30 AND 40")
    expect_deleted = 10_000 - S.scan(spark, tdir).count()
    assert info["deleted_rows"] == expect_deleted > 0
    assert S.scan(spark, tdir, where="cell BETWEEN 30 AND 40").count() == 0
    # old snapshot still complete (copy-on-write)
    assert S.scan(spark, tdir, snapshot=1).count() == 10_000
    # only files overlapping the range were rewritten
    assert info["rewritten_files"] < len(S.load_manifest(tdir, 1)["files"])


def test_compact_preserves_rows(spark, tdir):
    S.create(_mk(spark, 4_000), tdir, cluster_by=["cell"], num_files=16)
    before = S.scan(spark, tdir).agg({"value": "sum"}).first()[0]
    info = S.compact(spark, tdir, target_rows=4_000)
    assert info["after_files"] < info["before_files"]
    assert S.scan(spark, tdir).agg({"value": "sum"}).first()[0] == before
    assert S.scan(spark, tdir).count() == 4_000


def test_crashed_commit_is_invisible_then_repairable(spark, tdir):
    S.create(_mk(spark, 1_000), tdir, num_files=2)
    with pytest.raises(RuntimeError, match="injected crash"):
        S.append(_mk(spark, 10), tdir, fail_before_pointer=True)
    # reader still on snapshot 1; orphan manifest blocks the id
    assert S.current_snapshot(tdir) == 1
    assert S.scan(spark, tdir).count() == 1_000
    with pytest.raises(S.CommitConflict):
        S.append(_mk(spark, 10), tdir)
    assert S.repair(tdir) == [2]
    S.append(_mk(spark, 10), tdir)
    assert S.scan(spark, tdir).count() == 1_010


def test_concurrent_commit_conflict(spark, tdir):
    S.create(_mk(spark, 100), tdir, num_files=1)
    base = S.load_manifest(tdir)
    # writer A commits...
    S.append(_mk(spark, 10), tdir)
    # ...writer B built its manifest from the same parent: must conflict
    stale = S._new_manifest(tdir, "append", base["files"], base["schema"], {})
    stale["snapshot"] = base["snapshot"] + 1  # what B computed before A won
    with pytest.raises(S.CommitConflict):
        S._commit(tdir, stale)


def test_expire_snapshots_drops_unreferenced_files(spark, tdir):
    S.create(_mk(spark, 5_000), tdir, cluster_by=["cell"], num_files=8)
    S.delete_where(spark, tdir, "cell < 50")
    n_data_before = len(os.listdir(os.path.join(tdir, "data")))
    info = S.expire_snapshots(tdir, keep_last=1)
    assert info["dropped_manifests"] == 1 and info["dropped_files"] > 0
    assert len(os.listdir(os.path.join(tdir, "data"))) < n_data_before
    # current snapshot fully readable after expiry
    cur = S.scan(spark, tdir)
    assert cur.filter("cell < 50").count() == 0 and cur.count() > 0
    # expired snapshot is gone
    with pytest.raises(FileNotFoundError):
        S.load_manifest(tdir, 1)


def test_q68_pruning_is_effective(spark, sf_dir):
    """The registry query's cell-range conjunct must actually skip files —
    the point of clustering the write by the SFC key."""
    from geowave_spark import queries_lake as QL

    path = QL._events_table(spark, sf_dir)
    lo, hi = QL._band_cells()
    kept, total = S.plan_files(path, prune=[("cell", "between", (lo, hi))])
    assert len(kept) < total, f"pruned {len(kept)}/{total} — no files skipped"


def test_manifest_lineage_fields(spark, tdir):
    S.create(_mk(spark, 100), tdir, num_files=2)
    m = S.load_manifest(tdir)
    for f in m["files"]:
        assert f["app_id"] == spark.sparkContext.applicationId
        assert f["snapshot_added"] == 1
        assert f["rows"] > 0 and f["bytes"] > 0 and "cell" in f["stats"]


def test_q72_attribute_index_pruning_is_effective(spark, sf_dir):
    """The attribute index (cluster_by a plain field) must actually skip
    files for a narrow range predicate — the reference's secondary-index
    fast path, not just a full scan with a filter."""
    from geowave_spark import queries_lake as QL

    path = QL._orders_attr_table(spark, sf_dir)
    kept, total = S.plan_files(
        path, prune=[("price_cents", "between", (QL._Q72_LO, QL._Q72_HI))])
    assert total == 16
    assert len(kept) < total / 2  # narrow range -> most files pruned
    # pruning is a superset guarantee: pruned scan + refine == full refine
    pruned = S.scan(
        spark, path,
        prune=[("price_cents", "between", (QL._Q72_LO, QL._Q72_HI))],
        where=f"price_cents BETWEEN {QL._Q72_LO} AND {QL._Q72_HI}").count()
    full = S.scan(
        spark, path,
        where=f"price_cents BETWEEN {QL._Q72_LO} AND {QL._Q72_HI}").count()
    assert pruned == full > 0


def test_schema_evolution_add_column(spark, tdir):
    """Iceberg-style additive evolution: append with a NEW column widens
    the table; old files read the column as NULL, and maintenance ops
    (delete/compact) preserve the widened schema."""
    S.create(_mk(spark, 100), tdir, num_files=2)
    widened = spark.range(100, 160).selectExpr(
        "id", "id % 97 AS cell", "cast(id % 13 as double) AS value",
        "concat('row-', id) AS name", "id * 10 AS score")
    S.append(widened, tdir, num_files=1)
    got = S.scan(spark, tdir)
    assert "score" in got.columns
    assert got.filter("score IS NULL").count() == 100   # old files null-fill
    assert got.filter("score IS NOT NULL").count() == 60
    # time travel: the pre-evolution snapshot keeps the narrow schema
    assert "score" not in S.scan(spark, tdir, snapshot=1).columns
    # type change on an existing column is refused
    bad = spark.range(5).selectExpr("id", "cast(id as string) AS value",
                                    "id % 97 AS cell", "concat('r', id) AS name")
    with pytest.raises(ValueError, match="changes type"):
        S.append(bad, tdir)
    # maintenance ops keep the widened schema across heterogeneous files
    # (cell = 5 hits id 5 from the narrow batch AND id 102 from the wide one)
    S.delete_where(spark, tdir, "cell = 5")
    S.compact(spark, tdir, target_rows=1_000_000)
    got = S.scan(spark, tdir)
    assert "score" in got.columns
    assert got.filter("score IS NOT NULL").count() == 59
    assert got.filter("score IS NULL").count() == 99


def test_optimize_recluster_sharpens_pruning_and_keeps_rows(spark, tdir):
    """OPTIMIZE on a new cluster key: an ingest-order (random-layout) table
    prunes nothing; after optimize the same conjunct skips most files, rows
    and sums are unchanged, the old snapshot still reads the old layout,
    and the table's declared cluster key is updated for later commits."""
    # random ingest order: round-robin partitions -> every file spans ~all cells
    S.create(_mk(spark, 20_000, parts=16), tdir, num_files=16)
    kept0, total0 = S.plan_files(tdir, prune=[("cell", "between", (10, 20))])
    assert total0 == 16 and len(kept0) == 16, "unclustered layout must not prune"

    info = S.optimize(spark, tdir, cluster_by=["cell"], target_rows=1_250)
    assert info["snapshot"] == 2

    kept1, total1 = S.plan_files(tdir, prune=[("cell", "between", (10, 20))])
    assert len(kept1) < total1 / 2, (len(kept1), total1)
    pruned = S.scan(spark, tdir, prune=[("cell", "between", (10, 20))],
                    where="cell BETWEEN 10 AND 20")
    expect = sum(1 for i in range(20_000) if 10 <= i % 97 <= 20)
    assert pruned.count() == expect
    # time travel: snapshot 1 keeps the unclustered files
    assert S.scan(spark, tdir, snapshot=1).count() == 20_000
    assert S.load_manifest(tdir)["cluster_by"] == ["cell"]
    # later maintenance preserves the new key
    S.compact(spark, tdir, target_rows=1_000_000)
    assert S.load_manifest(tdir)["cluster_by"] == ["cell"]


def test_merge_into_upsert_semantics(spark, tdir):
    """MERGE: matched keys are whole-row replaced, unmatched source rows
    insert, only files holding matched keys rewrite, and the pre-merge
    snapshot still time-travels."""
    S.create(_mk(spark, 10_000), tdir, cluster_by=["cell"], num_files=10)
    n_files_before = len(S.load_manifest(tdir)["files"])
    # update ids 0..49 (value -> 999.0), insert ids 20000..20009
    src = spark.range(50).selectExpr(
        "id", "id % 97 AS cell", "cast(999 as double) AS value",
        "concat('upd-', id) AS name",
    ).unionByName(spark.range(20_000, 20_010).selectExpr(
        "id", "id % 97 AS cell", "cast(1 as double) AS value",
        "concat('new-', id) AS name",
    ))
    info = S.merge_into(spark, tdir, src, key_cols=["id"])
    assert info["updated_rows"] == 50 and info["inserted_rows"] == 10
    assert 0 < info["rewritten_files"] < n_files_before
    got = S.scan(spark, tdir)
    assert got.count() == 10_010
    assert got.filter("id < 50 AND value = 999.0").count() == 50
    assert got.filter("name LIKE 'new-%'").count() == 10
    # no duplicate keys after merge
    assert got.groupBy("id").count().filter("count > 1").count() == 0
    # time travel: snapshot 1 is the pre-merge table
    v1 = S.scan(spark, tdir, snapshot=1)
    assert v1.count() == 10_000 and v1.filter("value = 999.0").count() == 0
    # a source that is not a function of the key is refused
    bad = src.unionByName(src.limit(1))
    with pytest.raises(ValueError, match="duplicate keys"):
        S.merge_into(spark, tdir, bad, key_cols=["id"])
    # schema mismatch is refused
    with pytest.raises(ValueError, match="columns"):
        S.merge_into(spark, tdir, spark.range(3), key_cols=["id"])


def test_incremental_scan_append_only_contract(spark, tdir):
    S.create(_mk(spark, 1_000), tdir, num_files=2)           # snapshot 1
    S.append(_mk(spark, 500).selectExpr("id + 100000 AS id", "cell",
                                        "value", "name"), tdir, num_files=2)  # 2
    S.append(_mk(spark, 300).selectExpr("id + 200000 AS id", "cell",
                                        "value", "name"), tdir, num_files=2)  # 3
    assert S.incremental_scan(spark, tdir, 1).count() == 800
    assert S.incremental_scan(spark, tdir, 1, 2).count() == 500
    assert S.incremental_scan(spark, tdir, 2, 3).count() == 300
    assert S.incremental_scan(spark, tdir, 3).count() == 0
    assert S.incremental_scan(spark, tdir, 0, 1).count() == 1_000
    with pytest.raises(ValueError, match="bad range"):
        S.incremental_scan(spark, tdir, 2, 9)
    S.delete_where(spark, tdir, "cell = 5")                  # snapshot 4
    with pytest.raises(ValueError, match="append-only"):
        S.incremental_scan(spark, tdir, 2)
    # ranges that stop BEFORE the delete still work
    assert S.incremental_scan(spark, tdir, 1, 3).count() == 800


def test_wap_stage_publish_abort_and_tags(spark, tdir):
    """Write-audit-publish: a staged append is invisible to CURRENT
    readers, scannable by id, survives repair(), publishes atomically;
    a failed audit aborts; tags pin snapshots through expiry."""
    S.create(_mk(spark, 1000), tdir, num_files=4)

    batch = spark.range(1000, 1400).selectExpr(
        "id", "id % 97 AS cell", "cast(id % 13 as double) AS value",
        "concat('row-', id) AS name")
    info = S.append(batch, tdir, stage_only=True)
    assert info["snapshot"] == 2
    # unpublished: readers stay on v1, the staged id scans explicitly
    assert S.current_snapshot(tdir) == 1
    assert S.scan(spark, tdir).count() == 1000
    assert S.scan(spark, tdir, snapshot=2).count() == 1400
    # staged id gates other writers (the audit gate)
    with pytest.raises(S.CommitConflict):
        S.append(batch, tdir)
    # repair() must NOT treat the staged manifest as a crash orphan
    assert S.repair(tdir) == []
    assert S.scan(spark, tdir, snapshot=2).count() == 1400

    pub = S.publish(tdir)
    assert pub == {"published": 2, "previous": 1}
    assert S.current_snapshot(tdir) == 2
    assert S.scan(spark, tdir).count() == 1400

    # tag the published snapshot; a later staged append that FAILS audit
    S.create_tag(tdir, "prod")
    S.append(batch.limit(10), tdir, stage_only=True)
    assert S.current_snapshot(tdir) == 2
    S.abort_staged(tdir, 3)
    with pytest.raises(FileNotFoundError):
        S.load_manifest(tdir, 3)
    # the freed id is reusable by the next writer
    S.append(batch.limit(5), tdir)
    assert S.current_snapshot(tdir) == 3

    # tag resolution + expiry keeps tagged snapshots readable
    assert S.resolve_tag(tdir, "prod") == 2
    n_tagged = S.scan(spark, tdir, snapshot="prod").count()
    assert n_tagged == 1400
    S.append(batch.limit(7), tdir)      # v4
    S.expire_snapshots(tdir, keep_last=1)
    assert S.scan(spark, tdir, snapshot="prod").count() == 1400
    with pytest.raises(FileNotFoundError):
        S.load_manifest(tdir, 1)        # untagged old snapshot expired


def test_expire_keeps_staged_snapshot_files(spark, tdir):
    """A pending (staged, unpublished) snapshot's data files must survive
    an expire_snapshots sweep — the audit still owns them."""
    S.create(_mk(spark, 500), tdir, num_files=2)
    S.append(_mk(spark, 200), tdir)     # v2
    batch = spark.range(900, 950).selectExpr(
        "id", "id % 97 AS cell", "cast(id % 13 as double) AS value",
        "concat('row-', id) AS name")
    S.append(batch, tdir, stage_only=True)   # v3 staged
    S.expire_snapshots(tdir, keep_last=1)
    assert S.scan(spark, tdir, snapshot=3).count() == 750
    S.publish(tdir)
    assert S.scan(spark, tdir).count() == 750


def test_q124_inverted_index_pruning_is_effective(spark, sf_dir):
    """The term-clustered postings table must skip most files for a
    3-term IN lookup — the text secondary index as a lake table."""
    from geowave_spark import queries_lake as QL

    path = QL._postings_table(spark, sf_dir)
    terms = list(QL._Q124_TERMS)
    kept, total = S.plan_files(path, prune=[("term", "in", terms)])
    assert total == 16
    assert len(kept) < total / 2
    in_list = ", ".join(f"'{t}'" for t in terms)
    pruned = S.scan(spark, path, prune=[("term", "in", terms)],
                    where=f"term IN ({in_list})").count()
    full = S.scan(spark, path, where=f"term IN ({in_list})").count()
    assert pruned == full > 0


def test_q245_snapshot_diff_classifies_changes(spark):
    """The diff's keys must be exactly the delete set (removed) and the
    appended third (added), recomputed from the fixture rules."""
    from geowave_spark.queries import QUERIES

    sf_dir = "/root/testdata/sf0.01"
    rows = QUERIES["q245_snapshot_diff"][0](spark, sf_dir).collect()
    got = {(r["change"], r["event_type"]): r["n_keys"] for r in rows}

    pdf = spark.sql(
        f"SELECT event_id, event_type FROM "
        f"parquet.`{sf_dir}/events.parquet`").toPandas()
    want = {}
    for eid, t in zip(pdf["event_id"], pdf["event_type"]):
        if eid % 3 == 0 and eid % 7 == 0:
            k = ("removed", t)
        elif eid % 3 == 1:
            k = ("added", t)
        else:
            continue
        want[k] = want.get(k, 0) + 1
    assert got == want and sum(got.values()) > 100


def test_diff_labels_all_four_statuses(spark, tmp_path):
    """snapshots.diff on a toy history: create -> overwrite with one
    update, one delete, one insert; every status appears with the right
    key, and all-null value rows are still classified by presence."""
    import pandas as pd

    from geowave_spark.table import snapshots as S

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2, 3, 4], "qty": [10, 20, 30, None]}))
    S.create(v1, path)
    v2 = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2, 5, 4], "qty": [10, 99, 50, None]}))
    S.overwrite(v2, path)
    d = {r["pid"]: r["status"]
         for r in S.diff(spark, path, 1, 2, key_cols=["pid"]).collect()}
    assert d == {1: "unchanged", 2: "updated", 3: "deleted",
                 4: "unchanged", 5: "added"}
