"""Continuous aggregate (hypertable rollup) over a snapshot table.

A 100 TB event table cannot re-aggregate from scratch every time a
dashboard wants per-day counts.  The reference maintains its statistics
incrementally at write time (`core/store/.../statistics/
StatisticUpdateCallback.java:87` in /root/reference — every ingested
entry updates mergeable partials); this module generalizes that contract
from table-level statistics to a keyed, time-bucketed aggregate table —
the "continuous aggregate / hypertable rollup" shape.

Spark-first mechanics: both the source and the rollup are
`table/snapshots.py` tables.  A refresh

1. reads the source manifest and diffs it against the watermark stored in
   the rollup's snapshot summary (``src_snapshot``),
2. scans ONLY the data files added since (`snapshot_added` in the
   manifest — file-level incremental processing, no per-row bookkeeping),
3. partially aggregates them with monoid components (count/sum/min/max —
   every one merges associatively),
4. merges the partials into the current rollup rows and commits the
   result as one ``overwrite`` snapshot carrying the new watermark.

Any non-append source operation (delete / compact / overwrite) rewrites
files whose ROWS were already folded in, so an incremental diff would
double count; the refresh detects it from the source history and falls
back to a full rebuild — correct first, incremental when the log is
append-only (the ingest case the rollup exists for).

The rollup table itself stays tiny (one row per bucket x key), so the
overwrite commit is cheap at any source scale; readers get snapshot
isolation and time travel on the rollup for free.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: N812
from pyspark.sql.types import StructType

from . import snapshots as snap


def _bucket_expr(time_col: str, bucket: str):
    return F.date_trunc(bucket, F.col(time_col)).alias("bucket")


def refresh_rollup(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    time_col: str,
    keys: list[str],
    value_col: str,
    bucket: str = "day",
) -> dict:
    """Bring the rollup at ``dst`` up to date with the source table at
    ``src``.  Returns the commit summary plus ``files_scanned`` /
    ``mode`` ("incremental" | "rebuild" | "noop")."""
    m = snap.load_manifest(src)
    cur = m["snapshot"]
    last = 0
    if snap.current_snapshot(dst) > 0:
        last = snap.load_manifest(dst)["summary"].get("src_snapshot", 0)
    if cur == last:
        return {"mode": "noop", "files_scanned": 0, "src_snapshot": cur}

    hist = {h["snapshot"]: h["operation"]
            for h in snap.history(src) if last < h["snapshot"] <= cur}
    # every snapshot in the window must be present AND an append: an
    # EXPIRED manifest could hide a delete/compact whose rewritten files
    # carry a fresh snapshot_added — diffing would double count those rows
    appends_only = all(
        hist.get(s) in ("create", "append") for s in range(last + 1, cur + 1)
    )
    incremental = last > 0 and appends_only
    files = [
        f for f in m["files"]
        if not incremental or f["snapshot_added"] > last
    ]
    if not files:
        # appends that added zero files; just advance the watermark
        cur_rows = snap.scan(spark, dst)
        summary = snap.overwrite(cur_rows, dst, num_files=1,
                                 summary_extra={"src_snapshot": cur})
        return summary | {"mode": "incremental", "files_scanned": 0}

    fresh = (
        snap.read_files(spark, [os.path.join(src, f["path"]) for f in files],
                        StructType.fromJson(json.loads(m["schema"])))
        .groupBy(_bucket_expr(time_col, bucket), *keys)
        .agg(
            F.count("*").alias("n"),
            F.sum(value_col).alias("sum_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
    )
    if incremental:
        base = snap.scan(spark, dst)
        merged = (
            base.unionByName(fresh)
            .groupBy("bucket", *keys)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_v").alias("sum_v"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
            )
        )
    else:
        merged = fresh
    summary = snap.overwrite(merged, dst, num_files=1,
                             summary_extra={"src_snapshot": cur})
    return summary | {
        "mode": "incremental" if incremental else "rebuild",
        "files_scanned": len(files),
    }
