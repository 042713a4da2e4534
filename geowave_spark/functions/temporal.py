"""Temporal predicate surface.

Reference analog (/root/reference): the temporal filter-expression tree
`core/geotime/src/main/java/.../store/query/filter/expression/temporal/`
(After, Before, During, BeforeOrDuring, DuringOrAfter, TimeOverlaps,
TemporalBetween, TemporalEqualTo — 13 files) and TemporalRange
(`core/geotime/.../store/query/TemporalRange.java`).

Spark-first: every predicate is a plain Column expression over timestamps —
Catalyst pushes them into the parquet scan as min/max filters.  Each helper
returns a SQL string fragment valid in BOTH Spark SQL and DuckDB so the
oracle shares it verbatim (same pattern as table/geo.py).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def after_sql(ts: str, t: str) -> str:
    """After: field strictly after instant/range end."""
    return f"({ts} > timestamp '{t}')"


def during_sql(ts: str, t0: str, t1: str) -> str:
    """During: field contained in [t0, t1) (reference: start-inclusive,
    end-exclusive TemporalRange containment)."""
    return f"({ts} >= timestamp '{t0}' AND {ts} < timestamp '{t1}')"


def after(col: Column | str, t: str) -> Column:
    return F.col(col) > F.expr(f"timestamp '{t}'") if isinstance(col, str) else col > F.expr(f"timestamp '{t}'")


def before(col: Column | str, t: str) -> Column:
    return F.col(col) < F.expr(f"timestamp '{t}'") if isinstance(col, str) else col < F.expr(f"timestamp '{t}'")


def during(col: Column | str, t0: str, t1: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return (c >= F.expr(f"timestamp '{t0}'")) & (c < F.expr(f"timestamp '{t1}'"))


def time_bin(col: Column | str, unit: str = "week") -> Column:
    """Temporal binning strategy analog (`TemporalBinningStrategy.java`,
    per-periodicity bins): timestamp -> truncated bin start."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc(unit, c)
