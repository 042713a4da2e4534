"""Statistics sidecar: persisted dataset summaries that drive planning.

Reference analog (/root/reference): GeoWave maintains incrementally-updated
per-index / per-type / per-field statistics used for query planning and split
balancing — `core/store/src/main/java/.../core/store/statistics/*`:

- FixedBinNumericHistogramStatistic (`fixed_bin_histogram`)
- BloomFilterStatistic (`bloom_filter`)
- RowRangeHistogramStatistic (`cell_histogram`; drives
  SplitsProvider.java:284-325 split balancing)
- Count / BoundingBox / TimeRange / NumericStats / HyperLogLog as one
  batch state row (`stats_state`, finalized by `stats_report`)

Spark-first re-expression: statistics are *snapshot* aggregates over the
DataFrame (Spark's partial+final aggregation replaces GeoWave's
server-side merge of Mergeable statistics), persisted by the caller as a
small sidecar table.  The row-range histogram becomes a per-cell row-count
table whose only consumer is `recommend_salt` — the explicit skew-handling
knob the north rule requires.  Everything here is JVM-side (whole-stage
codegen); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..table import geo


def fixed_bin_histogram(df: DataFrame, col: str, lo: float, hi: float,
                        bins: int = 32) -> DataFrame:
    """FixedBinNumericHistogramStatistic analog.

    Closed-form bucket arithmetic (shared with the SQL oracle via
    `bucket_sql`) instead of width_bucket so both engines agree bit-for-bit.
    """
    return (
        df.withColumn("bucket", F.expr(bucket_sql(col, lo, hi, bins)))
        .groupBy("bucket").agg(F.count("*").alias("n"))
    )


def bucket_sql(col: str, lo: float, hi: float, bins: int) -> str:
    """SQL fragment valid in Spark SQL and DuckDB: value -> bin [0, bins)."""
    return (
        f"least(greatest(cast(floor((({col}) - {lo!r}) / ({hi!r} - {lo!r}) "
        f"* {bins}) as bigint), 0), {bins - 1})"
    )


def _probe_lit(value):
    """Literal with the same Spark type the column hash saw (xxhash64 is
    type-sensitive: int32 and int64 of the same value hash differently)."""
    c = F.lit(value)
    if isinstance(value, bool):
        return c
    if isinstance(value, int):
        return c.cast("long")
    return c


def bloom_filter(df: DataFrame, col: str, m_bits: int = 1 << 16,
                 k_hashes: int = 5) -> DataFrame:
    """BloomFilterStatistic analog: DataFrame of set bit positions.

    Mergeable by union/distinct.  At scale the position set is bounded by
    m_bits regardless of input size.
    """
    rows = [
        df.select(F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(m_bits)).alias("bit"))
        for i in range(k_hashes)
    ]
    allrows = rows[0]
    for r in rows[1:]:
        allrows = allrows.unionByName(r)
    return allrows.distinct()


def bloom_might_contain(spark, bits: set, value, m_bits: int = 1 << 16,
                        k_hashes: int = 5) -> bool:
    """Probe a collected bloom bit set (bits = {r['bit'] for r in collect()})."""
    probe = spark.range(1).select(
        *[
            F.pmod(F.xxhash64(_probe_lit(value), F.lit(i)), F.lit(m_bits)).alias(f"b{i}")
            for i in range(k_hashes)
        ]
    ).collect()[0]
    return all(probe[f"b{i}"] in bits for i in range(k_hashes))


# ---------------------------------------------------------------------------
# row-range histogram -> salting factor (the skew-handling loop)


def cell_histogram(df: DataFrame, res: int, lon: str = "lon",
                   lat: str = "lat") -> DataFrame:
    """RowRangeHistogramStatistic analog: rows per grid cell.

    Uses the closed-form row-major cell id (JVM arithmetic, oracle-shared) —
    this is planner metadata, so the cheap curve is the right one.
    """
    return (
        df.withColumn("cell", F.expr(geo.rowmajor_cell_sql(lon, lat, res)))
        .groupBy("cell").agg(F.count("*").alias("n"))
    )


def recommend_salt(cell_hist: DataFrame, target_rows_per_task: int = 100_000,
                   cap: int = 64) -> int:
    """Salt-bucket count from the hottest cell (SplitsProvider balancing
    analog): enough buckets that the hottest cell splits to ~target rows."""
    row = cell_hist.agg(F.max("n").alias("hot")).collect()[0]
    hot = row["hot"] or 0
    import math

    return max(1, min(cap, math.ceil(hot / max(1, target_rows_per_task))))


# ------------------------------------------------- incremental maintenance

def stats_state(
    df: DataFrame,
    *,
    lon: str = "lon",
    lat: str = "lat",
    value: str | None = None,
    distinct: str | None = None,
    ts: str | None = None,
) -> DataFrame:
    """One MERGEABLE statistics row for a batch of rows.

    The reference maintains its statistics incrementally at write time —
    every ingested entry flows through `StatisticUpdateCallback.
    entryIngested` (`core/store/src/main/java/.../statistics/
    StatisticUpdateCallback.java:87`) and periodically-merged partials
    (`StatisticValueWriter`/`StatisticValueReader`).  Spark-first, the
    state is one row per batch whose every component is a commutative
    monoid (sums, minima, maxima, HLL sketches), so rows of several
    batches can be folded instead of rescanning the data.

    Components: row count; bbox (min/max lon/lat); optional time range;
    optional value min/max/sum/sum-of-squares (mean/std derivable);
    optional distinct-count as a Datasketches HLL sketch binary
    (`hll_sketch_agg` — sketches union losslessly, unlike a scalar
    `approx_count_distinct` which cannot be merged after the fact).
    """
    from pyspark.sql import functions as F  # noqa: N812

    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.min(lon).alias("lon0"), F.max(lon).alias("lon1"),
        F.min(lat).alias("lat0"), F.max(lat).alias("lat1"),
    ]
    if ts is not None:
        aggs += [F.min(ts).alias("ts0"), F.max(ts).alias("ts1")]
    if value is not None:
        c = F.col(value).cast("double")
        aggs += [
            F.min(c).alias("vmin"), F.max(c).alias("vmax"),
            F.sum(c).alias("vsum"), F.sum(c * c).alias("vsumsq"),
        ]
    if distinct is not None:
        aggs += [F.hll_sketch_agg(distinct).alias("hll")]
    return df.agg(*aggs)


def stats_report(state: DataFrame) -> DataFrame:
    """Finalize a (possibly merged) state row into user-facing numbers:
    distinct estimate from the HLL sketch, mean/std from the moments."""
    from pyspark.sql import functions as F  # noqa: N812

    cols = set(state.columns)
    out = state
    if "hll" in cols:
        out = out.withColumn(
            "n_distinct", F.hll_sketch_estimate("hll")).drop("hll")
    if "vmin" in cols:
        mean = F.col("vsum") / F.col("n")
        out = (
            out.withColumn("vmean", mean)
            .withColumn(
                "vstd",
                F.sqrt(F.greatest(
                    F.col("vsumsq") / F.col("n") - mean * mean,
                    F.lit(0.0))))
            .drop("vsum", "vsumsq")
        )
    return out
