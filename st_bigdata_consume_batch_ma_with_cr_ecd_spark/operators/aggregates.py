"""Aggregation operators (SURVEY.md §2.6, A1-A3).

All three shapes the reference uses, as composable helpers. Everything
here is built-in hash aggregation: Spark plans partial (map-side) +
final aggregates automatically, so shuffle volume is one row per
(mapper, key) — already the 100-TB-correct shape.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grouped_max(df: DataFrame, keys: Sequence[str], col: str, alias: str | None = None) -> DataFrame:
    """A1: ``SELECT keys, max(col) FROM df GROUP BY keys``
    (reference ``2-basedata_df_query.sql:19-25``)."""
    return df.groupBy(*keys).agg(F.max(col).alias(alias or f"max_{col}"))


def max_by_agg(value: str | Column, ordering: str | Column) -> Column:
    """A2: argmax — the value from the row with the max ordering
    (reference ``2-basedata_df_query.sql:22`` uses SQL ``max_by``).
    Pass a *unique* ordering column for deterministic results."""
    return F.max_by(value, ordering)


def sum_coalesce(col: str | Column, default: object = 0) -> Column:
    """A3: ``SUM(COALESCE(col, default))``
    (reference ``2-basedata_df_query.sql:30-32,40-42``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(F.coalesce(c, F.lit(default)))


# 38 digits (the max) leaves 30 integer digits: inputs up to 1e30 cast
# exactly. Under ANSI-off (session default) a value BEYOND the cast
# range becomes NULL and would be silently DROPPED from the "exact"
# sum — the widest representable type pushes that cliff from 1e22
# (the old decimal(30,8)) to 1e30, far past any real metric; values
# beyond that need a narrower scale chosen at the call site.
DECIMAL_SUM_TYPE = "decimal(38,8)"


def exact_sum(col: str | Column) -> Column:
    """Order-independent sum of a double column, as double.

    Plain ``SUM(double)`` depends on accumulation order (partial aggs,
    partition count, engine) in the last ulps — visible once rounded at
    a boundary. Casting per-row to decimal makes the addition exact and
    therefore identical on every engine and every partitioning; the
    final cast back to double is a single deterministic rounding.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DECIMAL_SUM_TYPE)).cast("double")


def rounded_sum(col: str | Column, scale: int = 2) -> Column:
    """Order-independent ROUND(SUM(col), scale) of a double column.

    Rounding must happen while the value is still decimal: both Spark
    and DuckDB round decimals with exact HALF_UP, whereas rounding the
    *double* differs at half-way points (Spark rounds the shortest
    decimal repr, DuckDB the binary value). Oracle twin:
    ``CAST(round(sum(CAST(x AS DECIMAL(30,8))), s) AS DOUBLE)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DECIMAL_SUM_TYPE)), scale).cast("double")


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (partial-aggregate algebra)
# ---------------------------------------------------------------------------

PARTIAL_STATE_COLS = ("n_rows", "sum_v", "min_v", "max_v")


def partial_agg(df: DataFrame, keys: Sequence[str], value_col: str | Column) -> DataFrame:
    """Per-key mergeable aggregate STATE over one slice of a table:
    (n_rows, sum_v, min_v, max_v) — the partial-aggregate algebra
    Spark itself uses map-side, lifted to a first-class operator so a
    pipeline can MAINTAIN a materialized aggregate incrementally:
    aggregate only the new slice (delta) and merge it into the stored
    state with :func:`merge_partial_aggs`, never rescanning history.

    The sum is an exact DECIMAL (order-independent), so merging states
    in any order or grouping is bit-stable — the property incremental
    maintenance needs to be trustworthy.
    """
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    return df.groupBy(*list(keys)).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(c.cast(DECIMAL_SUM_TYPE)).alias("sum_v"),
        F.min(c).alias("min_v"),
        F.max(c).alias("max_v"),
    )


def merge_partial_aggs(parts: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Merge any number of :func:`partial_agg` states into one:
    union → one hash aggregate (counts add, sums add, min of mins,
    max of maxes). Commutative and associative, so states can merge
    daily→monthly→yearly in any tree shape.

    At 100 TB this is the materialized-view pattern: the nightly job
    aggregates ONLY the new partition and merges it into yesterday's
    state — cost scales with the delta, not the table.
    """
    if not parts:
        raise ValueError("parts must be non-empty")
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy(*list(keys)).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def finalize_agg(state: DataFrame, *, scale: int = 2) -> DataFrame:
    """Resolve a merged state into user-facing metrics: n, sum, min,
    max, avg (avg derived sum/count at read time — never merged)."""
    return state.select(
        *[c for c in state.columns if c not in PARTIAL_STATE_COLS],
        F.col("n_rows"),
        F.round(F.col("sum_v"), scale).cast("double").alias("total"),
        F.col("min_v").alias("lo"),
        F.col("max_v").alias("hi"),
        F.round(F.col("sum_v") / F.col("n_rows"), scale).cast("double").alias("mean"),
    )
