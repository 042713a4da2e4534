"""North-rule corpus staging (`table/corpus.py`): the snapshot table both
scaling workloads scan."""
import shutil

import pytest

from geowave_spark.table import corpus, images, snapshots as snap

TARGET = 500


@pytest.fixture(scope="module")
def table_path(spark, sf_dir, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("corpus"))
    path = corpus.ensure_image_table(spark, sf_dir, TARGET, num_files=4, root=root)
    yield path
    shutil.rmtree(root, ignore_errors=True)


def test_staging_idempotent(spark, sf_dir, table_path):
    again = corpus.ensure_image_table(spark, sf_dir, TARGET, num_files=4,
                                      root=table_path.rsplit("/", 1)[0])
    assert again == table_path
    assert snap.current_snapshot(table_path) == 1  # no second snapshot


def test_rows_match_direct_synthesis(spark, sf_dir, table_path):
    """The staged table holds exactly the images_df rows (same ids/captions/
    phash), just reordered by the cluster key."""
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    mult = max(1, TARGET // n_docs)
    direct = images.images_df(spark, sf_dir, mult=mult).select(
        "image_id", "caption", "phash", "w", "h"
    )
    staged = snap.scan(spark, table_path,
                       columns=["image_id", "caption", "phash", "w", "h"])
    assert staged.count() == direct.count()
    assert staged.exceptAll(direct).count() == 0
    assert direct.exceptAll(staged).count() == 0


def test_cluster_key_prunes(spark, sf_dir, table_path):
    """cluster_by=cell writes disjoint cell ranges -> stats pruning skips
    files for a narrow cell range."""
    lo = 0
    hi = (1 << corpus.CELL_RES) * 4  # a few bottom rows of the grid
    kept, total = snap.plan_files(table_path, prune=[("cell", "between", (lo, hi))])
    assert total == 4
    assert len(kept) < total


def test_image_points_amplify(spark, table_path):
    base, n = corpus.image_points(spark, table_path)
    assert base.count() == n
    amp, n2 = corpus.image_points(spark, table_path, amplify=3 * n)
    assert n2 == n
    assert amp.count() == 3 * n
    # distinct ids survive amplification
    assert amp.select("pid").distinct().count() == 3 * n


def test_q272_alignment_python_recompute(spark, sf_dir):
    """Independent python re-derivation of the span->token alignment for
    every doc: overlap semantics, chunk mapping, crosses flag."""
    import duckdb

    from geowave_spark.queries_text import TEXT_QUERIES

    pdf = (TEXT_QUERIES["q272_span_token_alignment"][0](spark, sf_dir)
           .toPandas().set_index("doc_id"))
    docs = duckdb.sql(
        f"SELECT doc_id, text, n_chars FROM '{sf_dir}/documents.parquet'"
    ).df()
    checked = 0
    for _, row in docs.iterrows():
        did, text, nc = int(row.doc_id), row.text, int(row.n_chars)
        a = (did * 37) % (nc - 20 if nc > 20 else 1)
        b = a + 12
        start = 0
        toks = []
        for i, w in enumerate(text.split(" "), start=1):
            toks.append((i, start, start + len(w)))
            start += len(w) + 1
        hit = [i for i, s, e in toks if s < b and e > a]
        if not hit:
            assert did not in pdf.index
            continue
        got = pdf.loc[did]
        assert int(got.tok_start) == min(hit)
        assert int(got.tok_end) == max(hit)
        assert int(got.chunk_start) == (min(hit) - 1) // 64
        assert int(got.crosses_chunk) == (
            1 if (min(hit) - 1) // 64 != (max(hit) - 1) // 64 else 0)
        checked += 1
    assert checked > 400
