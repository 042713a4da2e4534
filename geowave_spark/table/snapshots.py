"""Snapshot-isolated table format: manifest-tracked immutable parquet files.

The north rule stores the corpus in Iceberg tables; SURVEY §2.1 maps the
reference's key/value range scan to "Iceberg partition/file pruning on the
cell column: min/max file stats do the pruning", the writer to snapshot
appends, and bulk delete to copy-on-write ``DELETE FROM``.  No Iceberg
runtime is installed in this sandbox, so this module provides that table
layer with the same metadata shape — immutable data files + per-file column
stats + a versioned snapshot manifest + one atomic pointer — and the same
reader/writer guarantees:

- **atomic commits**: a snapshot is visible iff ``meta/CURRENT`` names it;
  the pointer swap is ``os.replace`` (on an object store: a conditional PUT).
- **optimistic concurrency**: the manifest file is hard-linked into place
  (create-if-absent); two writers committing from the same parent — one
  wins, the loser raises :class:`CommitConflict` and must retry against the
  new current snapshot.
- **snapshot isolation / time travel**: readers pin a snapshot id; appends,
  deletes and compactions never mutate an existing data file.
- **file pruning**: every manifest entry carries per-column min/max/null
  stats read from the parquet footers at write time; ``scan(prune=...)``
  plans only files whose stats can satisfy the conjuncts — the Spark job
  never opens the rest.  Write with ``cluster_by=`` (range partition + sort,
  Iceberg's ``sortedBy``) so stats ranges are disjoint and pruning is sharp.
- **copy-on-write DELETE**, **compaction** and **snapshot expiry** as
  maintenance operations, each producing a new snapshot.

Reference analog: GeoWave's planner reads only the decomposed SFC ranges
(`core/store/.../base/BaseConstraintsQuery.java:332-341` in
/root/reference) and each datastore writer commits mutations per range;
here the decomposed ranges become prune conjuncts on the cell column and
the commit unit is the snapshot.

Scale note: planning is O(#files) driver work over a JSON manifest.  Real
Iceberg splits this into avro manifest *lists* so planning itself can be
distributed; at 100 TB / 512 MB files that is ~200k entries — tens of MB of
JSON, still driver-feasible, but the manifest-list split is the upgrade
path.  The information content (file → stats) is identical.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: N812
from pyspark.sql.types import StructType


def _nullable_schema_json(schema: StructType) -> str:
    """Schema as stored in the manifest: parquet file sources always read
    back nullable, so normalize at write time (same as the Iceberg spec —
    required-ness is table metadata, not a reader property)."""
    d = json.loads(schema.json())
    for f in d.get("fields", []):
        f["nullable"] = True
    return json.dumps(d)


class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot id first (or a crashed
    commit left an orphan manifest — see :func:`repair`)."""


# ---------------------------------------------------------------------------
# metadata primitives


def _meta_dir(path: str) -> str:
    return os.path.join(path, "meta")


def _manifest_path(path: str, snapshot: int) -> str:
    return os.path.join(_meta_dir(path), f"v{snapshot:05d}.json")


def current_snapshot(path: str) -> int:
    """Id of the committed snapshot ``meta/CURRENT`` points at (0 = none)."""
    cur = os.path.join(_meta_dir(path), "CURRENT")
    if not os.path.exists(cur):
        return 0
    with open(cur) as fh:
        return int(fh.read().strip())


def load_manifest(path: str, snapshot: int | str | None = None) -> dict:
    """Manifest of a snapshot id, a tag name (str), or CURRENT (None)."""
    if isinstance(snapshot, str):
        snapshot = resolve_tag(path, snapshot)
    snap = current_snapshot(path) if snapshot is None else snapshot
    if snap <= 0:
        raise FileNotFoundError(f"no committed snapshot at {path}")
    with open(_manifest_path(path, snap)) as fh:
        return json.load(fh)


def history(path: str) -> list[dict]:
    """Per-snapshot summaries (oldest first), committed snapshots only."""
    out = []
    for s in range(1, current_snapshot(path) + 1):
        try:
            m = load_manifest(path, s)
        except FileNotFoundError:
            continue  # expired
        out.append(
            {
                "snapshot": m["snapshot"],
                "parent": m["parent"],
                "operation": m["operation"],
                "files": len(m["files"]),
                "rows": sum(f["rows"] for f in m["files"]),
                **m.get("summary", {}),
            }
        )
    return out


def _commit(path: str, manifest: dict, *, fail_before_pointer: bool = False,
            stage_only: bool = False) -> None:
    """Two-step commit: exclusive manifest create, then atomic pointer swap.

    The pointer swap is the *only* commit point — a crash between the two
    steps leaves readers on the old snapshot and the orphan manifest blocks
    the id for later writers (cleared by :func:`repair`).
    `fail_before_pointer` is the crash-injection test hook.

    ``stage_only=True`` is the write half of write-audit-publish (Iceberg's
    WAP staged commit): the manifest lands marked ``staged`` but CURRENT
    does not move — readers keep the audited production view, the staged
    snapshot is scannable by explicit id, and :func:`publish` (the audit
    passed) or :func:`abort_staged` (it failed) resolves it.  While staged,
    the occupied snapshot id gates other writers (CommitConflict) — the
    single-writer audit gate of a linear snapshot chain.
    """
    meta = _meta_dir(path)
    os.makedirs(meta, exist_ok=True)
    if stage_only:
        manifest = dict(manifest, staged=True)
    mpath = _manifest_path(path, manifest["snapshot"])
    tmp = mpath + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, mpath)  # create-if-absent: loser of a race fails here
    except FileExistsError:
        raise CommitConflict(
            f"snapshot {manifest['snapshot']} already exists at {path} "
            "(concurrent commit, a staged WAP snapshot awaiting publish, "
            "or a crashed commit — run repair())"
        ) from None
    finally:
        os.unlink(tmp)
    if stage_only:
        return
    if fail_before_pointer:
        raise RuntimeError("injected crash between manifest write and pointer swap")
    ptr_tmp = os.path.join(meta, f"CURRENT.tmp-{uuid.uuid4().hex}")
    with open(ptr_tmp, "w") as fh:
        fh.write(str(manifest["snapshot"]))
    os.replace(ptr_tmp, os.path.join(meta, "CURRENT"))


def repair(path: str) -> list[int]:
    """Remove orphan manifests (id > CURRENT) left by crashed commits.
    Staged WAP manifests are NOT orphans — they are awaiting publish and
    are skipped (drop one explicitly with :func:`abort_staged`)."""
    cur = current_snapshot(path)
    removed = []
    meta = _meta_dir(path)
    for f in os.listdir(meta) if os.path.isdir(meta) else []:
        if f.startswith("v") and f.endswith(".json"):
            s = int(f[1:-5])
            if s > cur and not load_manifest(path, s).get("staged"):
                os.unlink(os.path.join(meta, f))
                removed.append(s)
    return sorted(removed)


# ---------------------------------------------------------------------------
# write-audit-publish + named refs (tags)


def publish(path: str, snapshot: int | None = None) -> dict:
    """Publish staged snapshots: move CURRENT forward to ``snapshot``
    (default: the newest staged id) after validating that every manifest
    between CURRENT and it exists and is parent-linked — the audit-passed
    half of write-audit-publish.  Atomic: readers flip from the old view
    to the published one in a single pointer swap."""
    cur = current_snapshot(path)
    if snapshot is None:
        snapshot = cur
        while os.path.exists(_manifest_path(path, snapshot + 1)):
            snapshot += 1
    if snapshot <= cur:
        raise ValueError(f"nothing to publish: snapshot {snapshot} <= CURRENT {cur}")
    for s in range(cur + 1, snapshot + 1):
        m = load_manifest(path, s)   # raises if a link is missing
        if m["parent"] != s - 1:
            raise CommitConflict(
                f"snapshot {s} at {path} has parent {m['parent']}, expected {s - 1}")
    meta = _meta_dir(path)
    ptr_tmp = os.path.join(meta, f"CURRENT.tmp-{uuid.uuid4().hex}")
    with open(ptr_tmp, "w") as fh:
        fh.write(str(snapshot))
    os.replace(ptr_tmp, os.path.join(meta, "CURRENT"))
    return {"published": snapshot, "previous": cur}


def abort_staged(path: str, snapshot: int) -> None:
    """Drop a staged (unpublished) snapshot whose audit failed.  Its data
    files become unreferenced and are reclaimed by the next
    :func:`expire_snapshots` sweep."""
    cur = current_snapshot(path)
    if snapshot <= cur:
        raise ValueError(f"snapshot {snapshot} is published (CURRENT={cur})")
    if not load_manifest(path, snapshot).get("staged"):
        raise CommitConflict(f"snapshot {snapshot} at {path} is not staged")
    os.unlink(_manifest_path(path, snapshot))


def _refs_path(path: str) -> str:
    return os.path.join(_meta_dir(path), "refs.json")


def tags(path: str) -> dict[str, int]:
    """Named refs: tag name -> snapshot id (Iceberg table refs)."""
    if not os.path.exists(_refs_path(path)):
        return {}
    with open(_refs_path(path)) as fh:
        return json.load(fh)


def create_tag(path: str, name: str, snapshot: int | None = None) -> dict:
    """Pin a name to a snapshot (default CURRENT) — the reproducibility
    handle a training pipeline records ("corpus the run trained on").
    Tagged snapshots survive :func:`expire_snapshots`."""
    snap = current_snapshot(path) if snapshot is None else snapshot
    load_manifest(path, snap)   # must exist
    t = tags(path)
    t[name] = snap
    tmp = _refs_path(path) + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(t, fh)
    os.replace(tmp, _refs_path(path))
    return {"tag": name, "snapshot": snap}


def resolve_tag(path: str, name: str) -> int:
    t = tags(path)
    if name not in t:
        raise FileNotFoundError(f"no tag {name!r} at {path} (have {sorted(t)})")
    return t[name]


# ---------------------------------------------------------------------------
# footer stats


def _json_safe(v: Any) -> Any:
    """Footer min/max → JSON-comparable value (None = don't track)."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None  # binary payload column — no pruning
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) else v.isoformat()
    return None


def _footer_stats(file_path: str) -> tuple[int, int, dict]:
    """(rows, bytes, per-column {min,max,nulls}) from the parquet footer —
    the same numbers Iceberg persists in its manifests."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(file_path).metadata
    stats: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue  # nested field — skip (prune on top-level only)
            s = col.statistics
            if s is None or not s.has_min_max:
                stats.pop(name, None)  # any statless row group poisons the column
                continue
            mn, mx = _json_safe(s.min), _json_safe(s.max)
            if mn is None or mx is None:
                continue
            nulls = s.null_count if s.has_null_count else None
            prev = stats.get(name)
            if prev is None:
                stats[name] = {"min": mn, "max": mx, "nulls": nulls}
            else:
                prev["min"] = min(prev["min"], mn)
                prev["max"] = max(prev["max"], mx)
                if nulls is None or prev["nulls"] is None:
                    prev["nulls"] = None
                else:
                    prev["nulls"] += nulls
    return md.num_rows, os.path.getsize(file_path), stats


# ---------------------------------------------------------------------------
# write path


def _stage_files(
    df: DataFrame,
    path: str,
    snapshot: int,
    cluster_by: list[str] | None,
    num_files: int | None,
) -> list[dict]:
    """Distributed parquet write to a staging dir, then move each part file
    into ``data/`` (invisible until a manifest references it) and read its
    footer stats.  Returns the new manifest entries."""
    spark = df.sparkSession
    staging = os.path.join(path, f"_staging-{uuid.uuid4().hex}")
    out = df
    if cluster_by:
        n = num_files or spark.sparkContext.defaultParallelism
        out = df.repartitionByRange(n, *[F.col(c) for c in cluster_by]).sortWithinPartitions(
            *cluster_by
        )
    elif num_files:
        out = df.repartition(num_files)
    out.write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(path, "data")
    os.makedirs(data_dir, exist_ok=True)
    app_id = spark.sparkContext.applicationId
    entries = []
    parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    for i, part in enumerate(parts):
        name = f"s{snapshot:05d}-{uuid.uuid4().hex[:8]}-{i:05d}.parquet"
        final = os.path.join(data_dir, name)
        os.replace(os.path.join(staging, part), final)
        rows, nbytes, stats = _footer_stats(final)
        if rows == 0:
            os.unlink(final)
            continue
        entries.append(
            {
                "path": f"data/{name}",
                "rows": rows,
                "bytes": nbytes,
                "stats": stats,
                "snapshot_added": snapshot,
                "app_id": app_id,  # lineage: which job produced the file
            }
        )
    shutil.rmtree(staging, ignore_errors=True)
    return entries


def _new_manifest(
    path: str,
    operation: str,
    files: list[dict],
    schema_json: str,
    summary: dict,
    cluster_by: list[str] | None = None,
) -> dict:
    parent = current_snapshot(path)
    prev_cluster = None
    if parent:
        prev_cluster = load_manifest(path, parent).get("cluster_by")
    return {
        "snapshot": parent + 1,
        "parent": parent,
        "operation": operation,
        "files": files,
        "schema": schema_json,
        "cluster_by": cluster_by if cluster_by is not None else prev_cluster,
        "summary": summary,
    }


def create(
    df: DataFrame,
    path: str,
    cluster_by: list[str] | None = None,
    num_files: int | None = None,
    **commit_kw,
) -> dict:
    """Create the table (snapshot 1).  Fails if the table already exists."""
    if current_snapshot(path) != 0:
        raise CommitConflict(f"table already exists at {path}")
    os.makedirs(path, exist_ok=True)
    entries = _stage_files(df, path, 1, cluster_by, num_files)
    m = _new_manifest(
        path, "create", entries, _nullable_schema_json(df.schema),
        {"added_files": len(entries), "added_rows": sum(e["rows"] for e in entries)},
        cluster_by=cluster_by,
    )
    _commit(path, m, **commit_kw)
    return m["summary"] | {"snapshot": m["snapshot"]}


def overwrite(
    df: DataFrame,
    path: str,
    num_files: int | None = None,
    summary_extra: dict | None = None,
    **commit_kw,
) -> dict:
    """Replace the table contents in one new snapshot (Iceberg's
    ``overwrite`` operation).  Prior snapshots stay readable (their files
    are untouched until :func:`expire_snapshots`); creates the table when
    it does not exist yet.  ``summary_extra`` lands in the snapshot
    summary — e.g. a refresh watermark for incremental rollups."""
    if current_snapshot(path) == 0:
        os.makedirs(path, exist_ok=True)
        entries = _stage_files(df, path, 1, None, num_files)
        m = _new_manifest(
            path, "overwrite", entries, _nullable_schema_json(df.schema),
            {"added_files": len(entries),
             "added_rows": sum(e["rows"] for e in entries),
             **(summary_extra or {})},
        )
    else:
        base = load_manifest(path)
        snap = base["snapshot"] + 1
        entries = _stage_files(df, path, snap, base.get("cluster_by"), num_files)
        m = _new_manifest(
            path, "overwrite", entries, base["schema"],
            {"added_files": len(entries),
             "added_rows": sum(e["rows"] for e in entries),
             **(summary_extra or {})},
        )
    _commit(path, m, **commit_kw)
    return m["summary"] | {"snapshot": m["snapshot"]}


def _evolve_schema(base_json: str, df_schema: StructType) -> str:
    """Iceberg-style additive schema evolution: appending a DataFrame with
    NEW columns widens the table schema (new fields nullable; existing
    files read them back as NULL via the explicit-read-schema path in
    :func:`scan`).  A type change on an existing column is refused —
    Iceberg only allows safe promotions, and parquet files already written
    with the old type cannot be reinterpreted here."""
    base = StructType.fromJson(json.loads(base_json))
    have = {f.name: f for f in base.fields}
    out = list(base.fields)
    for f in df_schema.fields:
        prev = have.get(f.name)
        if prev is None:
            out.append(f)
        elif prev.dataType != f.dataType:
            raise ValueError(
                f"schema evolution: column {f.name!r} changes type "
                f"{prev.dataType.simpleString()} -> {f.dataType.simpleString()}"
            )
    return _nullable_schema_json(StructType(out))


def append(
    df: DataFrame,
    path: str,
    num_files: int | None = None,
    **commit_kw,
) -> dict:
    """Append a snapshot: existing files carried forward untouched.
    Extra columns in ``df`` widen the table schema additively
    (:func:`_evolve_schema`); columns ``df`` lacks read back as NULL from
    the new files the same way old files NULL-fill newly added columns."""
    base = load_manifest(path)
    snap = base["snapshot"] + 1
    schema_json = _evolve_schema(base["schema"], df.schema)
    entries = _stage_files(df, path, snap, base.get("cluster_by"), num_files)
    m = _new_manifest(
        path, "append", base["files"] + entries, schema_json,
        {"added_files": len(entries), "added_rows": sum(e["rows"] for e in entries)},
    )
    _commit(path, m, **commit_kw)
    return m["summary"] | {"snapshot": m["snapshot"]}


# ---------------------------------------------------------------------------
# read path


def _file_matches(stats: dict, prune: list[tuple]) -> bool:
    """Can a file with these column stats contain a row satisfying ALL
    conjuncts?  Missing stats for a column ⇒ cannot prune on it (safe)."""
    for col, op, val in prune:
        st = stats.get(col)
        if st is None:
            continue
        mn, mx = st["min"], st["max"]
        if op in ("=", "=="):
            ok = mn <= val <= mx
        elif op == "<=":
            ok = mn <= val
        elif op == "<":
            ok = mn < val
        elif op == ">=":
            ok = mx >= val
        elif op == ">":
            ok = mx > val
        elif op == "between":
            lo, hi = val
            ok = not (mx < lo or mn > hi)
        elif op == "in":
            ok = any(mn <= v <= mx for v in val)
        else:
            raise ValueError(f"unknown prune op {op!r}")
        if not ok:
            return False
    return True


def plan_files(
    path: str, snapshot: int | str | None = None, prune: list[tuple] | None = None
) -> tuple[list[dict], int]:
    """Manifest entries surviving stats pruning + total file count.

    This is the scan *plan*: the reference's range decomposition → range
    scan becomes conjuncts → file list here, and only these files reach
    the Spark job.
    """
    m = load_manifest(path, snapshot)
    files = m["files"]
    if not prune:
        return files, len(files)
    return [f for f in files if _file_matches(f["stats"], prune)], len(files)


def read_files(spark: SparkSession, paths: list[str], schema: StructType) -> DataFrame:
    """Read parquet files that the caller already names, building the
    DataFrame without a Spark job.

    Above ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths
    (32 by default) Spark would list them again with a distributed job,
    so the threshold is raised for this one read; and schema inference
    would start a job to read a footer, so the caller passes the schema.
    """
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(max(len(paths), int(spark.conf.get(key)))))
    try:
        return spark.read.schema(schema).parquet(*paths)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def scan(
    spark: SparkSession,
    path: str,
    snapshot: int | str | None = None,
    prune: list[tuple] | None = None,
    where: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Snapshot read with file pruning.

    `prune` conjuncts ``(col, op, value)`` — op in ``= < <= > >= between in``
    — select files by min/max stats; they are a *superset* guarantee only,
    so pass the exact predicate as `where` (applied as a residual filter,
    where Spark's own row-group pruning sharpens it further).
    """
    m = load_manifest(path, snapshot)
    kept, _total = plan_files(path, snapshot, prune)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if kept:
        df = read_files(spark, [os.path.join(path, f["path"]) for f in kept], schema)
    else:
        df = spark.createDataFrame([], schema)
    if where:
        df = df.filter(where)
    if columns:
        df = df.select(*columns)
    return df


# ---------------------------------------------------------------------------
# maintenance: copy-on-write delete, compaction, expiry


def delete_where(spark: SparkSession, path: str, condition_sql: str, **commit_kw) -> dict:
    """Copy-on-write ``DELETE FROM <table> WHERE condition``.

    One distributed pass finds the affected files (`input_file_name`), only
    those are rewritten (minus matching rows); untouched files carry their
    commit forward.  Old snapshots still read the original files.
    """
    base = load_manifest(path)
    files = base["files"]
    if not files:
        return {"snapshot": base["snapshot"], "deleted_rows": 0, "rewritten_files": 0}
    # read with the MANIFEST schema: after schema evolution the data files
    # are heterogeneous, and a bare read would take one file's schema and
    # silently drop the others' columns in the rewrite
    tbl_schema = StructType.fromJson(json.loads(base["schema"]))
    full = read_files(spark, [os.path.join(path, f["path"]) for f in files], tbl_schema)
    hit = (
        full.filter(condition_sql)
        .select(F.input_file_name().alias("f"))
        .groupBy("f")
        .count()
        .collect()
    )
    hit_names = {os.path.basename(r["f"]) for r in hit}
    deleted = sum(r["count"] for r in hit)
    affected = [f for f in files if os.path.basename(f["path"]) in hit_names]
    untouched = [f for f in files if os.path.basename(f["path"]) not in hit_names]
    snap = base["snapshot"] + 1
    new_entries: list[dict] = []
    if affected:
        keep = read_files(
            spark, [os.path.join(path, f["path"]) for f in affected], tbl_schema
        ).filter(f"NOT ({condition_sql})")
        new_entries = _stage_files(
            keep, path, snap, base.get("cluster_by"), max(1, len(affected))
        )
    m = _new_manifest(
        path, "delete", untouched + new_entries, base["schema"],
        {"deleted_rows": deleted, "rewritten_files": len(affected),
         "condition": condition_sql},
    )
    _commit(path, m, **commit_kw)
    return m["summary"] | {"snapshot": m["snapshot"]}


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    key_cols: list[str],
    **commit_kw,
) -> dict:
    """Copy-on-write ``MERGE INTO`` (upsert): source rows UPDATE the target
    row with the same key (whole-row replace, ``UPDATE SET *``) or INSERT
    when no target row matches — the Iceberg/Delta merge operation, and
    the reference's write path for re-ingested features (same insertion
    id overwrites, `core/store/.../base/BaseDataStore.java:381-465` in
    /root/reference).

    One distributed pass finds the files holding matched keys
    (`input_file_name` + a broadcast-able semi-join on the source keys);
    ONLY those files are rewritten (their unmatched rows carried over,
    matched rows replaced by the source version); unmatched source rows
    land in fresh insert files.  Untouched files carry forward — a merge
    touching 0.1% of keys rewrites ~0.1% of the table.  Old snapshots
    keep reading the pre-merge files.
    """
    base = load_manifest(path)
    tbl_schema = StructType.fromJson(json.loads(base["schema"]))
    cols = [f.name for f in tbl_schema.fields]
    if sorted(source.columns) != sorted(cols):
        raise ValueError(
            f"merge source columns {sorted(source.columns)} != table {sorted(cols)}")
    src = source.select(*cols)
    if src.groupBy(*key_cols).count().filter("count > 1").limit(1).count():
        raise ValueError("merge source has duplicate keys — not a function "
                         "of the merge key")
    files = base["files"]
    full = read_files(
        spark, [os.path.join(path, f["path"]) for f in files], tbl_schema
    ) if files else spark.createDataFrame([], tbl_schema)
    keys = src.select(*key_cols).dropDuplicates()
    # pin input_file_name to the scan BEFORE the join (after a join the
    # expression is ambiguous across sources and Spark rejects it)
    hit = (
        full.withColumn("f", F.input_file_name())
        .join(F.broadcast(keys), key_cols, "left_semi")
        .groupBy("f").count().collect()
    )
    hit_names = {os.path.basename(r["f"]) for r in hit}
    updated = sum(r["count"] for r in hit)
    affected = [f for f in files if os.path.basename(f["path"]) in hit_names]
    untouched = [f for f in files if os.path.basename(f["path"]) not in hit_names]
    snap = base["snapshot"] + 1
    new_entries: list[dict] = []
    if affected:
        aff = read_files(
            spark, [os.path.join(path, f["path"]) for f in affected], tbl_schema)
        kept = aff.join(F.broadcast(keys), key_cols, "left_anti")
        matched_src = src.join(
            full.select(*key_cols).dropDuplicates(), key_cols, "left_semi")
        new_entries += _stage_files(
            kept.unionByName(matched_src), path, snap,
            base.get("cluster_by"), max(1, len(affected)))
    inserts = src.join(
        full.select(*key_cols).dropDuplicates(), key_cols, "left_anti")
    n_inserted = inserts.count()
    if n_inserted:
        new_entries += _stage_files(
            inserts, path, snap, base.get("cluster_by"), 1)
    m = _new_manifest(
        path, "merge", untouched + new_entries, base["schema"],
        {"updated_rows": updated, "inserted_rows": n_inserted,
         "rewritten_files": len(affected), "key": key_cols},
    )
    _commit(path, m, **commit_kw)
    return m["summary"] | {"snapshot": m["snapshot"]}


def diff(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level semantic diff between two snapshots (the CDC read
    `incremental_scan` refuses for non-append histories): a full outer
    join of the two snapshot scans on the key, each row labeled
    `added` / `deleted` / `updated` / `unchanged` by comparing every
    non-key column null-safely.

    Scale shape: both sides scan file-pruned snapshots and the join
    shuffles on the key — for a table clustered by the key the two
    scans are co-ordered and AQE plans a local join; there is no
    manifest-level shortcut for non-append ops (a rewritten file mixes
    carried and changed rows), which is exactly why Iceberg's
    `table_changes` also falls back to a join for overwrite commits.
    """
    key_cols = key_cols or ["pid"]
    a = scan(spark, path, snapshot=from_snapshot)
    b = scan(spark, path, snapshot=to_snapshot)
    val_cols = [c for c in a.columns if c not in key_cols]
    a = a.select(*key_cols, F.lit(True).alias("__a_present"),
                 *[F.col(c).alias(f"__a_{c}") for c in val_cols])
    b = b.select(*key_cols, F.lit(True).alias("__b_present"),
                 *[F.col(c).alias(f"__b_{c}") for c in val_cols])
    j = a.join(b, on=key_cols, how="full_outer")
    a_present = F.col("__a_present").isNotNull()
    b_present = F.col("__b_present").isNotNull()
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
    status = (
        F.when(~a_present, F.lit("added"))
        .when(~b_present, F.lit("deleted"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return j.select(*key_cols, status.alias("status"),
                    *[F.col(f"__b_{c}").alias(c) for c in val_cols])


def incremental_scan(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Rows ADDED between two snapshots (Iceberg's incremental append
    scan / CDC read): reads ONLY the files whose ``snapshot_added`` lies
    in ``(from_snapshot, to_snapshot]`` — a downstream consumer processes
    each batch exactly once without ever rescanning history (the pattern
    `table/rollup.py` uses internally, exposed as a reader).

    Raises if any operation in the range is not append-only (delete/
    overwrite/compact/merge rewrite history — an incremental read across
    them would double-count or miss rows; Iceberg's incremental scan has
    the same restriction).
    """
    cur = current_snapshot(path)
    to_snapshot = cur if to_snapshot is None else to_snapshot
    if not from_snapshot <= to_snapshot <= cur:
        raise ValueError(f"bad range ({from_snapshot}, {to_snapshot}] @ {cur}")
    for s in range(from_snapshot + 1, to_snapshot + 1):
        op = load_manifest(path, s)["operation"]
        if op not in ("create", "append"):
            raise ValueError(
                f"snapshot {s} is '{op}' — incremental scan requires an "
                f"append-only range")
    m = load_manifest(path, to_snapshot)
    new = [f for f in m["files"]
           if from_snapshot < f["snapshot_added"] <= to_snapshot]
    schema = StructType.fromJson(json.loads(m["schema"]))
    if not new:
        return spark.createDataFrame([], schema)
    return read_files(spark, [os.path.join(path, f["path"]) for f in new], schema)


def compact(
    spark: SparkSession, path: str, target_rows: int = 1_000_000, **commit_kw
) -> dict:
    """Bin-pack small files (Iceberg `rewrite_data_files`): new snapshot,
    same rows, ≤ ceil(total/target_rows) files, re-clustered if the table
    declared a cluster key."""
    base = load_manifest(path)
    total = sum(f["rows"] for f in base["files"])
    n = max(1, -(-total // target_rows))
    df = read_files(spark, [os.path.join(path, f["path"]) for f in base["files"]],
                    StructType.fromJson(json.loads(base["schema"])))
    snap = base["snapshot"] + 1
    entries = _stage_files(df, path, snap, base.get("cluster_by"), n)
    m = _new_manifest(
        path, "compact", entries, base["schema"],
        {"before_files": len(base["files"]), "after_files": len(entries)},
    )
    _commit(path, m, **commit_kw)
    return m["summary"] | {"snapshot": m["snapshot"]}


def optimize(
    spark: SparkSession,
    path: str,
    cluster_by: list[str],
    target_rows: int = 1_000_000,
    **commit_kw,
) -> dict:
    """Re-cluster the table on a (possibly new) sort key — the Delta
    ``OPTIMIZE ... ZORDER BY`` / Iceberg rewrite-with-new-sort-order
    operation.  One distributed range-partitioned rewrite sorted by
    ``cluster_by``; the new snapshot ALSO updates the table's declared
    cluster key, so later appends, deletes and compactions preserve it.

    This is the write-side half of the reference's indexed range scan
    (`core/store/.../base/BaseConstraintsQuery.java:332-341` in
    /root/reference): once rows are clustered by the SFC cell key, footer
    min/max stats make :func:`plan_files` pruning sharp — an unclustered
    table matches every file, an optimized one only the range's files.
    Old snapshots keep reading the unclustered files (time travel intact).
    """
    base = load_manifest(path)
    total = sum(f["rows"] for f in base["files"])
    n = max(1, -(-total // target_rows))
    df = read_files(spark, [os.path.join(path, f["path"]) for f in base["files"]],
                    StructType.fromJson(json.loads(base["schema"])))
    snap = base["snapshot"] + 1
    entries = _stage_files(df, path, snap, cluster_by, n)
    m = _new_manifest(
        path, "optimize", entries, base["schema"],
        {"before_files": len(base["files"]), "after_files": len(entries),
         "cluster_by": cluster_by},
        cluster_by=cluster_by,
    )
    _commit(path, m, **commit_kw)
    return m["summary"] | {"snapshot": m["snapshot"]}


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Drop old snapshots' manifests and any data file no kept snapshot
    references (Iceberg `expire_snapshots` + orphan-file cleanup).
    Tagged snapshots and staged (unpublished) WAP snapshots are always
    kept — a tag is a pin, and a pending audit still owns its files."""
    cur = current_snapshot(path)
    keep = set(range(max(1, cur - keep_last + 1), cur + 1))
    keep |= set(tags(path).values())
    s = cur + 1
    while os.path.exists(_manifest_path(path, s)):
        keep.add(s)   # staged, awaiting publish
        s += 1
    live: set[str] = set()
    for s in keep:
        try:
            live |= {f["path"] for f in load_manifest(path, s)["files"]}
        except FileNotFoundError:
            continue
    dropped_manifests = 0
    for s in range(1, cur + 1):
        if s in keep:
            continue
        mp = _manifest_path(path, s)
        if os.path.exists(mp):
            os.unlink(mp)
            dropped_manifests += 1
    data_dir = os.path.join(path, "data")
    dropped_files = 0
    for f in os.listdir(data_dir) if os.path.isdir(data_dir) else []:
        rel = f"data/{f}"
        if rel not in live:
            os.unlink(os.path.join(data_dir, f))
            dropped_files += 1
    return {"dropped_manifests": dropped_manifests, "dropped_files": dropped_files,
            "kept": sorted(keep)}
