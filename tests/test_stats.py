"""Statistics sidecar tests (reference test analog:
`core/store/src/test/.../statistics/*` + SplitsProvider balancing)."""

import pytest

from geowave_spark.table import geo
from geowave_spark.agg import stats


@pytest.fixture(scope="module")
def events_pts(spark, sf_dir):
    from geowave_spark.table.views import register_views

    register_views(spark, sf_dir)
    return spark.sql(geo.events_points_sql()).cache()


def test_numeric_stats_and_histogram(spark, events_pts):
    hist = stats.fixed_bin_histogram(events_pts, "value", 0.0, 500.0, 16)
    rows = hist.collect()
    assert sum(r["n"] for r in rows) == events_pts.filter("value IS NOT NULL").count()
    assert all(0 <= r["bucket"] < 16 for r in rows)


def test_countmin_and_bloom(spark, sf_dir, events_pts):
    ev = spark.table("events")
    bits = {r["bit"] for r in stats.bloom_filter(ev, "user_id").collect()}
    uid = ev.select("user_id").first()["user_id"]
    assert stats.bloom_might_contain(spark, bits, uid)
    # an id far outside the domain is (overwhelmingly likely) absent
    assert not stats.bloom_might_contain(spark, bits, -987654321012345)


def test_cell_histogram_drives_salt(spark, events_pts):
    hist = stats.cell_histogram(events_pts, res=4).cache()
    n_cells = hist.count()
    assert n_cells > 0
    total = hist.agg({"n": "sum"}).collect()[0][0]
    assert total == events_pts.count()
    # tiny target forces multiple buckets; huge target forces 1
    assert stats.recommend_salt(hist, target_rows_per_task=1) > 1
    assert stats.recommend_salt(hist, target_rows_per_task=10**9) == 1


def test_stats_report_matches_direct_aggregates(spark, events_pts):
    """The `cli stat` state row, finalized, against plain aggregates."""
    from pyspark.sql import functions as F

    ev = events_pts
    got = stats.stats_report(stats.stats_state(
        ev, value="value", distinct="event_type")).collect()[0]
    want = ev.agg(
        F.count("*").alias("n"),
        F.min("lon").alias("lon0"), F.max("lon").alias("lon1"),
        F.min("lat").alias("lat0"), F.max("lat").alias("lat1"),
        F.min("value").alias("vmin"), F.max("value").alias("vmax"),
        F.avg("value").alias("vmean"), F.stddev_pop("value").alias("vstd"),
        F.countDistinct("event_type").alias("n_distinct"),
    ).collect()[0]
    assert got["n"] == want["n"]
    for c in ("lon0", "lon1", "lat0", "lat1", "vmin", "vmax"):
        assert got[c] == want[c], c
    # the HLL sketch is exact at this cardinality
    assert got["n_distinct"] == want["n_distinct"]
    assert abs(got["vmean"] - want["vmean"]) < 1e-9
    assert abs(got["vstd"] - want["vstd"]) < 1e-9
