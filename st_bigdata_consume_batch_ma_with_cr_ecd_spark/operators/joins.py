"""Join operators (SURVEY.md §2.5, J2-J7).

Plain equi joins (J2/J3) need no wrapper — call ``df.join``. What the
reference does beyond that, generalized:

- ``join_preaggregated``  (J4): left-join a group-by summary onto a fact,
  with COALESCE defaults for unmatched keys
  (reference ``2-basedata_df_query.sql:27-63``).
- ``not_in_anti_join``    (J6/F8): faithful NOT IN subquery semantics —
  null-aware, unlike a bare ``left_anti``
  (reference ``3-basedata_df_final_query.sql:36-39``; SURVEY.md §4).
- ``broadcast_lookup_join`` (J7): broadcast left join on an expression
  key (the geo-prefix joins, reference ``script/main.py:136-150``).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def summarize_for_join(
    detail: DataFrame, keys: Sequence[str], aggs: Mapping[str, Column]
) -> DataFrame:
    """The group-by half of :func:`join_preaggregated`, exposed so a
    caller joining the SAME summary onto several facts can build it
    once and share/materialize it instead of re-aggregating the detail
    table per fact (§2.4)."""
    return detail.groupBy(*keys).agg(*[c.alias(n) for n, c in aggs.items()])


def join_summary(
    fact: DataFrame,
    summary: DataFrame,
    keys: Sequence[str],
    *,
    fill: Mapping[str, object] | None = None,
) -> DataFrame:
    """The join half of :func:`join_preaggregated`: left-join an
    already-aggregated summary and apply the COALESCE defaults."""
    out = fact.join(summary, list(keys), "left")
    for name, default in (fill or {}).items():
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(default)))
    return out


def join_preaggregated(
    fact: DataFrame,
    detail: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, Column],
    *,
    fill: Mapping[str, object] | None = None,
) -> DataFrame:
    """J4: ``fact LEFT JOIN (SELECT keys, aggs FROM detail GROUP BY keys)``.

    The group-by runs *before* the join (partial aggregation map-side),
    so the shuffled volume is one row per key, not per detail row —
    the right shape at 100 TB. ``fill`` maps agg column -> default for
    unmatched fact rows (the reference's ``COALESCE(x, 0)``).
    """
    return join_summary(fact, summarize_for_join(detail, keys, aggs), keys, fill=fill)


def not_in_anti_join(
    left: DataFrame,
    right_keys: DataFrame,
    left_key: str,
    right_key: str | None = None,
    *,
    within: Sequence[str] = (),
) -> DataFrame:
    """J6: SQL ``left_key NOT IN (SELECT right_key FROM ...)``, faithfully.

    NOT IN is null-aware: if the subquery produces ANY null key the
    whole result is empty, and left rows with a null key never match.
    Catalyst gets this right when expressed as a NOT IN subquery — so we
    express it exactly that way via the DataFrame API equivalent:
    a ``left_anti`` join guarded by the two null checks.

    ``within`` names columns present on both sides that scope the
    subquery: a left row is tested only against the right keys with
    equal ``within`` values, and a null key empties only its own scope.
    One keyed call then equals one NOT IN per group (the consume job's
    per-slice stale-id elimination, run once for all slices).
    """
    rk = right_key or left_key
    scope = [f"__niw{i}" for i in range(len(within))]
    keys = right_keys.select(
        F.col(rk).alias("__nik"), *[F.col(c).alias(s) for c, s in zip(within, scope)]
    )
    same_scope = [F.col(c) == F.col(s) for c, s in zip(within, scope)]
    # left_anti with null-safe guard: drop left-null keys (3-valued logic
    # makes `x NOT IN (...)` never true when x IS NULL) ...
    filtered = left.where(F.col(left_key).isNotNull()).join(
        keys, reduce(and_, same_scope, F.col(left_key) == F.col("__nik")), "left_anti"
    )
    # ... and return nothing at all (in that scope) if the subquery
    # contains a null. The left join on the "has a null" marker keeps it
    # fully distributed (no driver-side .count() materialization of the
    # big side).
    has_null = keys.where(F.col("__nik").isNull()).select(*scope, F.lit(1).alias("__has_null"))
    marker = has_null.distinct() if within else has_null.limit(1)
    return (
        filtered.join(F.broadcast(marker), reduce(and_, same_scope, F.lit(True)), "left")
        .where(F.col("__has_null").isNull())
        .drop("__has_null", *scope)
    )


def broadcast_lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    key_expr: Column,
    dim_key: str,
    *,
    how: str = "left",
    dim_cols: Sequence[str] | None = None,
) -> DataFrame:
    """J7: broadcast left join of a small dimension on a computed key.

    The reference joins ``substring(geoid, 1, 5|8)`` against 16- and
    458-row CSV dims with an explicit broadcast hint — expression join
    keys defeat the auto-broadcast heuristics on some stats paths, so we
    keep the hint explicit.
    """
    d = dim.select(*(dim_cols or dim.columns))
    return fact.join(F.broadcast(d), key_expr == d[dim_key], how).drop(d[dim_key])
