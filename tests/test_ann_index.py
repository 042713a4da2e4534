"""Incremental IVF ANN index (`pipeline/ann_index.py`): accumulation
semantics, frozen-quantizer contract, and single-cell file pruning."""

from __future__ import annotations

import shutil

import pytest

from geowave_spark.pipeline import ann_index as AX
from geowave_spark.table import snapshots as S
from geowave_spark.table.views import register_views

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def views(spark):
    register_views(spark, SF)
    for b in range(3):
        spark.sql(
            f"SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = {b}"
        ).createOrReplaceTempView(f"ax_b{b}")
    spark.sql(
        "SELECT vec_id, embedding FROM embeddings"
    ).createOrReplaceTempView("ax_all")
    spark.sql(
        "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 25 = 0"
    ).createOrReplaceTempView("ax_q")
    return spark


def test_incremental_appends_equal_single_build(views, tmp_path):
    """3 batch commits through the frozen quantizer == one build over
    the union (same quantizer seed), row for row."""
    spark = views
    p_inc = str(tmp_path / "inc")
    AX.build_index(spark, "ax_b0", p_inc)
    AX.append_batch(spark, p_inc, "ax_b1")
    AX.append_batch(spark, p_inc, "ax_b2")

    # single build whose quantizer rule picks the same 16 centroids:
    # batch 0 holds the globally smallest vec_ids' multiples of 3, so
    # freeze explicitly from ax_b0 then assign everything in one pass
    p_one = str(tmp_path / "one")
    spark.sql(
        f"SELECT vec_id, embedding FROM ax_b0 ORDER BY vec_id LIMIT {AX.K_CENT}"
    ).createOrReplaceTempView("_ann_cent")
    from geowave_spark.table import snapshots
    rows = spark.sql(f"""
SELECT vec_id, cent_id, cast(0 as int) AS is_cent, embedding
FROM ({AX._assign_sql('ax_all', '_ann_cent')})
UNION ALL
SELECT vec_id, vec_id AS cent_id, cast(1 as int) AS is_cent, embedding
FROM _ann_cent
""")
    snapshots.create(rows, p_one, cluster_by=["cent_id"])

    a = {(r.vec_id, r.cent_id)
         for r in S.scan(spark, p_inc, where="is_cent = 0").collect()}
    b = {(r.vec_id, r.cent_id)
         for r in S.scan(spark, p_one, where="is_cent = 0").collect()}
    assert a == b and len(a) > 0

    qa = [(r.qid, r.cid, r.rank)
          for r in AX.query_topk(spark, p_inc, "ax_q").collect()]
    qb = [(r.qid, r.cid, r.rank)
          for r in AX.query_topk(spark, p_one, "ax_q").collect()]
    assert qa == qb and len(qa) > 0


def test_appends_use_frozen_quantizer_not_batch_ids(views, tmp_path):
    """The quantizer read back from the index after appends is exactly
    batch 0's seed — appends must not re-derive centroids."""
    spark = views
    p = str(tmp_path / "idx")
    AX.build_index(spark, "ax_b0", p)
    AX.append_batch(spark, p, "ax_b1")
    cents = sorted(
        r.vec_id for r in S.scan(spark, p, where="is_cent = 1").collect())
    seed = sorted(r.vec_id for r in spark.sql(
        f"SELECT vec_id FROM ax_b0 ORDER BY vec_id LIMIT {AX.K_CENT}"
    ).collect())
    assert cents == seed


def test_single_cell_probe_prunes_files(views, tmp_path):
    """cluster_by=cent_id + footer stats: a one-cell probe must plan a
    strict subset of the table's files."""
    spark = views
    p = str(tmp_path / "idx")
    AX.build_index(spark, "ax_b0", p)
    AX.append_batch(spark, p, "ax_b1")
    cents = [r.vec_id
             for r in S.scan(spark, p, where="is_cent = 1").collect()]
    target = sorted(cents)[0]
    kept, total = S.plan_files(p, None, [("cent_id", "=", target)])
    assert total > 1 and len(kept) < total


def test_k_cent_parameter_controls_quantizer_size(views, tmp_path):
    """K is a create_index parameter (VERDICT r2 #3), self-described by
    the table: is_cent rows == k_cent, and every member lands in one of
    those cells."""
    spark = views
    p = str(tmp_path / "idx64")
    AX.create_index(spark, "ax_b0", p, k_cent=64)
    cents = {r.vec_id
             for r in S.scan(spark, p, where="is_cent = 1").collect()}
    member_cells = {r.cent_id
                    for r in S.scan(spark, p, where="is_cent = 0").collect()}
    assert len(cents) == 64 and member_cells <= cents


def test_probe_cost_scales_with_nprobe(views, tmp_path):
    """The FAISS IVF contract: files read by a point probe grow with
    nprobe and stay below the full table until nprobe ~ K."""
    spark = views
    p = str(tmp_path / "idx")
    AX.create_index(spark, "ax_b0", p, k_cent=32)
    AX.append_batch(spark, p, "ax_b1")
    AX.append_batch(spark, p, "ax_b2")
    spark.sql(
        "SELECT vec_id, embedding FROM ax_all WHERE vec_id = 1"
    ).createOrReplaceTempView("ax_point")
    reads = {}
    for nprobe in (1, 4, 16):
        cells, kept, total = AX.probe_plan(spark, p, "ax_point", nprobe=nprobe)
        assert cells is not None and len(cells) == nprobe
        reads[nprobe] = kept
    assert reads[1] <= reads[4] <= reads[16] <= total
    assert reads[1] < total  # a 1-cell probe never reads the whole index


def test_nprobe_widens_candidates_monotonically(views, tmp_path):
    """nprobe>1 reads more cells, so top-k similarity at each rank is
    monotonically non-decreasing, and at nprobe=K it equals the exact
    within-index brute force."""
    spark = views
    p = str(tmp_path / "idx")
    K = 16
    AX.create_index(spark, "ax_b0", p, k_cent=K)
    AX.append_batch(spark, p, "ax_b1")

    def best_sim(nprobe):
        rows = AX.query_topk(spark, p, "ax_q", k=1, nprobe=nprobe).collect()
        return {r.qid: r.sim_micro for r in rows}

    s1, s4, sK = best_sim(1), best_sim(4), best_sim(K)
    assert set(s1) <= set(s4) <= set(sK)
    for qid in s1:
        assert s1[qid] <= s4[qid] <= sK[qid]

    # nprobe = K == exhaustive over the index (minus self)
    members = S.scan(spark, p, where="is_cent = 0",
                     columns=["vec_id", "embedding"])
    members.createOrReplaceTempView("ax_members")
    from geowave_spark.functions import sqlgen as G
    dt = G.dot(G.SPARK, "q.v", "x.v", 64)
    brute = spark.sql(f"""
WITH q0 AS (SELECT q.vec_id, {G.to_double_arr(G.SPARK, 'q.embedding')} AS v
            FROM ax_q q),
q AS (SELECT vec_id, v, sqrt({G.dot(G.SPARK, 'v', 'v', 64)}) AS nv FROM q0),
x0 AS (SELECT vec_id, {G.to_double_arr(G.SPARK, 'embedding')} AS v
       FROM ax_members),
x AS (SELECT vec_id, v, sqrt({G.dot(G.SPARK, 'v', 'v', 64)}) AS nv FROM x0)
SELECT q.vec_id AS qid,
       max(cast(floor(1000000.0 * ({dt}) / (q.nv * x.nv)) as bigint))
         AS sim_micro
FROM q JOIN x ON x.vec_id <> q.vec_id
GROUP BY q.vec_id
""").collect()
    exact = {r.qid: r.sim_micro for r in brute}
    assert sK == {q: s for q, s in exact.items() if q in sK}
