"""Explicit skew tools: salted aggregate/join (north rule).

AQE's skew-join splitting handles sort-merge skew at runtime; these
helpers handle the cases AQE can't: hot GROUP keys (one urban cell with
millions of stops) and hot broadcast-probe keys.

- :func:`salted_agg` — spread one logical key over S salts and
  aggregate in two phases (partial per (key, salt), final per key).
- :func:`replicated_salted_join` — equi join where the LEFT side is
  salted and the (smaller) RIGHT side is replicated S×, so one hot key
  no longer lands on a single reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_col(df_col: str | Column, n_salts: int) -> Column:
    c = F.col(df_col) if isinstance(df_col, str) else df_col
    return F.pmod(F.xxhash64(c, F.monotonically_increasing_id()), F.lit(n_salts)).cast("int")


def salted_agg(df: DataFrame, key: str, aggs: dict[str, str], n_salts: int = 8) -> DataFrame:
    """Two-phase aggregation: partial per (key, salt), final per key.

    ``aggs``: {column: 'sum'|'count'|'min'|'max'}. The partial phase
    bounds the rows any single reducer sees for a hot key to ~1/S."""
    partial_exprs, final_exprs = [], []
    for col, how in aggs.items():
        out = f"{how}_{col}"
        if how == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(out))
        else:
            partial_exprs.append(getattr(F, how)(col).alias(out))
        final_fn = F.sum if how in ("sum", "count") else getattr(F, how)
        final_exprs.append(final_fn(out).alias(out))
    partial = (
        df.withColumn("_salt", salt_col(key, n_salts))
        .groupBy(key, "_salt")
        .agg(*partial_exprs)
    )
    return partial.groupBy(key).agg(*final_exprs)


def replicated_salted_join(
    left: DataFrame, right: DataFrame, key: str, n_salts: int = 8, how: str = "inner"
) -> DataFrame:
    """Skew-safe equi join: left gets a random salt, right is exploded
    across all salts; join key becomes (key, salt). Right side grows S×
    — use only when right ≪ left (the usual hot-dimension case)."""
    lsalted = left.withColumn("_salt", salt_col(key, n_salts))
    rsalted = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return lsalted.join(rsalted, [key, "_salt"], how).drop("_salt")
