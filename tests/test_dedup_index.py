"""Incremental MinHash band index (pipeline/dedup_index.py)."""

import os
import shutil

from geowave_spark.pipeline import dedup_index as DX
from geowave_spark.table import snapshots as S
from geowave_spark.table.views import register_views


def _pairs(df):
    return {(r["d1"], r["d2"], r["jac_micro"]) for r in df.collect()}


def test_incremental_accumulation_equals_batch_q16(spark, sf_dir, tmp_path):
    """Three ingest steps (build + 2 batches) accumulate EXACTLY the pair
    set the from-scratch q16 computes over the whole corpus."""
    from geowave_spark.queries_text import TEXT_QUERIES

    register_views(spark, sf_dir)
    path = str(tmp_path / "idx")
    for b in range(3):
        spark.sql(
            f"SELECT doc_id, text FROM documents WHERE doc_id % 3 = {b}"
        ).createOrReplaceTempView(f"b{b}")

    got = set()
    # step 0: first batch becomes the index; its internal dups come from
    # deduping it against an index that already contains it (the
    # least/greatest canonicalization collapses both directions)
    DX.build_index(spark, "b0", path)
    got |= _pairs(DX.dedup_batch(spark, path, "b0", "documents"))
    for b in (1, 2):
        got |= _pairs(DX.dedup_batch(spark, path, f"b{b}", "documents"))
        S.append(DX.band_rows(spark, f"b{b}"), path)

    full = TEXT_QUERIES["q16_minhash_lsh_pairs"][0](spark, sf_dir)
    assert got == _pairs(full)
    # index now holds 4 band rows per shingled doc, committed in 3 snapshots
    assert S.current_snapshot(path) == 3


def test_index_files_prune_on_band_hash(spark, sf_dir, tmp_path):
    register_views(spark, sf_dir)
    spark.sql("SELECT doc_id, text FROM documents") \
        .createOrReplaceTempView("alldocs")
    path = str(tmp_path / "idx")
    DX.build_index(spark, "alldocs", path, num_files=8)
    some_bh = DX.band_rows(spark, "alldocs").limit(1).collect()[0]["bh"]
    kept, total = S.plan_files(path, prune=[("bh", "=", some_bh)])
    assert total == 8
    assert len(kept) < total, "bh clustering should prune files"


def test_q81_registry_query_stages_once(spark, sf_dir):
    from geowave_spark.queries_pipeline import q81_incremental_dedup

    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
    )
    idx = os.path.join(
        scratch, f"dedup_idx_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    shutil.rmtree(idx, ignore_errors=True)
    n1 = q81_incremental_dedup(spark, sf_dir).count()
    snap = S.current_snapshot(idx)
    n2 = q81_incremental_dedup(spark, sf_dir).count()
    assert n1 == n2
    assert S.current_snapshot(idx) == snap  # no re-stage on the second run
