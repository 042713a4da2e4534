"""Raster statistics: per-coverage histogram / overview / footprint.

Reference analog (/root/reference): `extensions/adapters/raster/src/main/
java/.../adapter/raster/stats/{RasterHistogramStatistic,
RasterOverviewStatistic,RasterBoundingBoxStatistic,
RasterFootprintStatistic}.java` — per-coverage pixel summaries maintained
as mergeable statistics.

Spark-first: one `mapInPandas` pass decodes each image and emits its luma
histogram + overview scalars (numpy `np.bincount` per image — vectorized
pixel math); cross-image rollups are plain `groupBy().sum()` — Spark's
partial aggregation is the reference's statistic merge.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..table import images as img_mod
from . import codec

N_BINS = 16

STATS_SCHEMA = (
    "image_id string, n_px long, luma_min int, luma_max int, "
    "luma_mean_milli long, "
    + ", ".join(f"bin{i} long" for i in range(N_BINS))
)


def image_stats_pdf(rows: pd.DataFrame) -> pd.DataFrame:
    out = []
    for i in range(len(rows)):  # per-image; pixel math vectorized
        r = rows.iloc[i]
        px = codec.decode(r["bytes"], r["fmt"])
        luma = img_mod.gray(px)
        flat = luma.ravel()
        hist = np.bincount(flat * N_BINS // 256, minlength=N_BINS)[:N_BINS]
        out.append(
            (r["image_id"], int(flat.size), int(flat.min()), int(flat.max()),
             int(flat.sum() * 1000 // flat.size), *hist.astype(np.int64).tolist())
        )
    return pd.DataFrame(
        out,
        columns=["image_id", "n_px", "luma_min", "luma_max", "luma_mean_milli"]
        + [f"bin{i}" for i in range(N_BINS)],
    )


def image_stats_df(images_df: DataFrame) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield image_stats_pdf(pdf)

    return images_df.mapInPandas(gen, schema=STATS_SCHEMA)
