"""Incremental near-dup detection: a persisted MinHash band index (snapshot
table) that new document batches are deduplicated AGAINST, without ever
re-scanning the accumulated corpus text.

This is the continuous form of q16's batch MinHash+LSH dedup — the shape a
100 TB training-data pipeline actually runs: the corpus grows by daily
batches, and each batch must be checked against everything ingested so
far.  Recomputing all-pairs per batch is O(corpus) per day; the band index
makes it O(batch + matching buckets).

Design (all engine-native pieces):
- The index is a snapshot table (`table/snapshots.py`) of band rows
  `(doc_id, band, bh)` — 4 rows per doc, clustered by `bh` so footer
  min/max stats prune targeted bucket lookups; a batch is added with one
  atomic `snapshots.append` of its `band_rows`, time-travelable like any
  other table.
- A new batch's band rows are computed in-flight (codegen shingle →
  16 minhash aggregates → 4 band hashes, exactly q16's relational
  pipeline — `queries_text.shingle_rows_sql_spark`).
- Candidates = batch bands ⋈ index bands (equi-join on `(band, bh)`, the
  well-spread LSH key) ∪ batch-internal band self-join — i.e. every pair
  with >= 1 batch member that q16 would emit, and provably only those.
- The exact-Jaccard refine joins candidates back to the *documents*
  relation and recomputes shingles for candidate docs only — the index
  never stores text, so its row width is 3 ints regardless of doc size.

Reference parity: GeoWave maintains secondary indexes incrementally on
ingest (`core/store/.../index/SecondaryIndexDataStore` pattern) and its
statistics update per batch via `StatisticUpdateCallback.java:87`; this
operator applies the same maintain-on-write contract to the dedup
signature index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import sqlgen as G
from ..table import snapshots

#: number of minhash functions / band layout — q16's parameterization
N_HASH = 16
N_BANDS = 4
JAC_MICRO_MIN = 500_000

_MINS = ", ".join(
    f"min(({2 * j + 3} * (shingle % {G.P_MINHASH}) + "
    f"{104729 * (j + 1) % G.P_MINHASH}) % {G.P_MINHASH}) AS m{j}"
    for j in range(N_HASH)
)


def _bands_union(src: str) -> str:
    return "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, "
        f"{G.band_hash([f'm{4 * b + i}' for i in range(4)])} AS bh FROM {src}"
        for b in range(N_BANDS)
    )


def formula_fingerprint() -> str:
    """Short digest of the FULL band-building formula (shingle SQL +
    minhash schedule + band fold) — everything a persisted index's rows
    depend on.  Callers key index paths on this so ANY formula change
    (wordval coefficients, minhash constants, band layout, SIMHASH
    multipliers reaching the shingle text) invalidates the cache instead
    of probing a stale-formula index — the exact r4 failure mode, which
    a WORDVAL-only fingerprint would not catch for the other constants."""
    import hashlib

    from .. import queries_text as qt

    text = qt.shingle_rows_sql_spark() + "\n" + _MINS + "\n" + _bands_union("sig")
    return hashlib.md5(text.encode()).hexdigest()[:8]


def band_rows(spark: SparkSession, docs_view: str) -> DataFrame:
    """(doc_id, band, bh) band rows for every doc in `docs_view`
    (a registered view with doc_id + text columns)."""
    from .. import queries_text as qt

    sh = qt.shingle_rows_sql_spark().replace("FROM documents",
                                             f"FROM {docs_view}")
    return spark.sql(f"""
WITH sh_rows AS ({sh}),
sig AS (SELECT doc_id, {_MINS} FROM sh_rows GROUP BY doc_id)
{_bands_union('sig')}
""")


def build_index(
    spark: SparkSession, docs_view: str, path: str,
    num_files: int | None = None,
) -> dict:
    """Create the band-index snapshot table from an initial corpus."""
    return snapshots.create(
        band_rows(spark, docs_view), path, cluster_by=["bh"],
        num_files=num_files,
    )


def dedup_batch(
    spark: SparkSession,
    index_path: str,
    batch_view: str,
    all_docs_view: str = "documents",
) -> DataFrame:
    """Near-dup pairs `(d1, d2, jac_micro)` with at least one member in
    `batch_view`, checked against the persisted index + the batch itself.

    `all_docs_view` must contain the text of every doc id that can appear
    in a candidate (corpus + batch) — the refine fetches candidate docs'
    text from it by key, never scanning the rest.
    """
    from .. import queries_text as qt

    idx = snapshots.scan(spark, index_path)
    idx.createOrReplaceTempView("dedup_idx_bands")

    batch_bands = band_rows(spark, batch_view).persist()
    batch_bands.createOrReplaceTempView("dedup_batch_bands")
    batch_bands.count()  # eager: referenced by two join branches below

    # Candidates materialized ONCE: Spark inlines CTEs, and `cand` feeds
    # three consumers (the refine join + both cand_ids branches) — inlined,
    # each would re-run the band joins.  UNION (not UNION ALL) dedupes the
    # cross-index vs in-batch directions.
    cand = spark.sql("""
SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
                greatest(a.doc_id, b.doc_id) AS d2
FROM dedup_batch_bands a
JOIN dedup_idx_bands b ON a.band = b.band AND a.bh = b.bh
WHERE a.doc_id <> b.doc_id
UNION
SELECT a.doc_id AS d1, b.doc_id AS d2
FROM dedup_batch_bands a
JOIN dedup_batch_bands b ON a.band = b.band AND a.bh = b.bh
WHERE a.doc_id < b.doc_id
""").persist()
    cand.createOrReplaceTempView("dedup_cand")
    cand.count()

    # The refine recomputes shingles for CANDIDATE docs only: the id
    # filter joins *below* the shingle build (documents ⋈ cand_ids, then
    # posexplode/windows), so the text of non-candidate corpus rows is
    # never tokenized — the property that keeps per-batch cost
    # O(batch + matches) instead of O(corpus).
    sh_cand = qt.shingle_rows_sql_spark().replace(
        "FROM documents",
        f"FROM (SELECT d.doc_id, d.text FROM {all_docs_view} d "
        "JOIN cand_ids c ON c.doc_id = d.doc_id)",
    )
    return spark.sql(f"""
WITH cand_ids AS (
  SELECT DISTINCT d1 AS doc_id FROM dedup_cand
  UNION
  SELECT DISTINCT d2 FROM dedup_cand
),
sh_rows AS ({sh_cand}),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh_rows GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, count(*) AS ninter
  FROM dedup_cand c
  JOIN sh_rows a ON a.doc_id = c.d1
  JOIN sh_rows b ON b.doc_id = c.d2 AND b.shingle = a.shingle
  GROUP BY c.d1, c.d2
),
verified AS (
  SELECT i.d1, i.d2,
         cast(floor(1000000.0 * i.ninter / (z1.sz + z2.sz - i.ninter))
              as bigint) AS jac_micro
  FROM inter i
  JOIN sizes z1 ON z1.doc_id = i.d1
  JOIN sizes z2 ON z2.doc_id = i.d2
)
SELECT d1, d2, jac_micro FROM verified WHERE jac_micro >= {JAC_MICRO_MIN}
ORDER BY d1, d2
""")
