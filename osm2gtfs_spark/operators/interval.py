"""Range (point-in-interval) join — a classic operator Spark lacks.

A naive `points JOIN intervals ON ts BETWEEN start AND end` plans as a
broadcast-nested-loop or cartesian (banned session-wide). This module
equi-izes it: time is bucketed into coarse cells, each interval is
exploded across the buckets it spans, the join runs equi on the bucket,
and the exact BETWEEN predicate filters the candidates.

Scale shape: shuffle keyed by time bucket; an interval costs
ceil(span/bucket)+1 rows, so pick `bucket_secs` near the typical span.
Hot buckets (event storms) are ordinary group skew — AQE skew-join
splits them, or salt the bucket. This is the temporal analog of the
cell-ring spatial join (operators/spatial.ring_candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_secs: int = 3600,
) -> DataFrame:
    """Inner-join each point row to every interval row containing its
    timestamp (inclusive bounds). Column names must be disjoint apart
    from the join machinery; the `_bkt` helper column is dropped.
    (Outer variants would need the BETWEEN predicate folded into the
    join condition rather than a post-filter — not provided.)
    """
    pb = points.withColumn(
        "_bkt", F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_secs)
    )
    ib = intervals.withColumn(
        "_bkt",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(F.col(start_col)) / bucket_secs),
                F.floor(F.unix_timestamp(F.col(end_col)) / bucket_secs),
            )
        ),
    )
    return (
        pb.join(ib, "_bkt")
        .filter(
            (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) <= F.col(end_col))
        )
        .drop("_bkt")
    )


def rolling_event_stats(
    events: DataFrame,
    window_seconds: int = 3600,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per event: count and value-sum of the SAME key's events inside
    the trailing ``window_seconds`` (event time, inclusive) — the
    sliding-window rate/feature signal (abuse velocity, per-user
    activity features) as one RANGE-frame window.

    RANGE (not ROWS) on millisecond epochs, so simultaneous events are
    all in each other's frame regardless of tie order — deterministic
    under any shuffle. Value sums are integer cents (round half-up ×100)
    for cross-engine exactness. Partitioned by key: no global ordering,
    skew bounded by the hottest key's event count."""
    es = F.unix_millis(F.col(ts_col).cast("timestamp"))
    cents = F.round(F.col(value_col) * 100, 0).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(es)
        .rangeBetween(-(window_seconds * 1000), 0)
    )
    return events.withColumn("n_window", F.count(F.lit(1)).over(w)).withColumn(
        "sum_value_x100", F.sum(cents).over(w)
    )


def locf_fill(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    out_col: str = "filled",
) -> DataFrame:
    """Last-observation-carried-forward gap fill per key: every NULL in
    ``value_col`` takes the most recent non-null value in ``order_cols``
    order (deterministic — pass a tiebreaker column). Leading NULLs (no
    prior observation) stay NULL; callers choose their sentinel.

    The standard sensor/telemetry repair before any rate or delta math.
    One per-key ordered window (``last(..., ignorenulls)`` over
    unbounded-preceding..current) — never global, skew bounded by the
    hottest key; pure codegen."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_col, F.last(value_col, ignorenulls=True).over(w))
