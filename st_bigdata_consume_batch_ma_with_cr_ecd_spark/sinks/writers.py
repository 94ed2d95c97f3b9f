"""Sink operators (SURVEY.md §2.2, K1-K4).

Open-Spark replacements for the reference's three outputs
(``script/main.py:377-416``):

- K1 nested gzip JSON            -> ``write_json_gzip``
- K2 flat gzip CSV, single file  -> ``write_csv_gzip``
- K3 purge_table + catalog append -> ``overwrite_partitions``
  (dynamic partition overwrite: only touched partitions are replaced,
  atomically per partition — the Glue purge/append pair collapsed into
  one idempotent write)

Scale note on "one output file": the reference uses ``coalesce(1)``
(``script/main.py:389``) over an uncached frame, which caps the
*entire final stage* at one task — the #1 scalability hazard in the
reference. Two ways to get one file:

- ``files=n`` is a post-shuffle ``repartition(n)``: upstream stages
  keep full parallelism and only the write itself is narrow, at the
  price of one shuffle per write. The safe choice over uncached input.
- ``single_file=True`` is ``coalesce(1)``. It is safe only over a
  frame that is already cached and materialized: the one task then
  reads cached blocks, and no computation collapses onto it. The
  consume job's slice sinks (``pipelines/consume_batch.py``,
  ``run_slices_concurrent``) write this way, as filters of the
  materialized slice-keyed cache. With all sinks at 16x (SCALE.md,
  "Slice sinks at 16x") it did not lose to ``files=1`` on the same
  cache.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def _shape_output(df: DataFrame, files: int | None, single_file: bool) -> DataFrame:
    if single_file:
        # Bit-parity escape hatch with the reference's coalesce(1)
        # (script/main.py:389): ONE output file whose row order matches
        # a single-partition computation exactly. Over uncached input
        # coalesce(1) collapses the final stage onto one task, so it
        # must be asked for explicitly, and only over a materialized
        # cache; the files= knob keeps upstream parallelism via
        # repartition.
        if files not in (None, 1):
            raise ValueError("single_file=True contradicts files != 1")
        return df.coalesce(1)
    if files is None:
        return df
    if files < 1:
        raise ValueError("files must be >= 1")
    # repartition (round-robin shuffle) NOT coalesce: coalesce(1) would
    # collapse upstream computation onto one task.
    return df.repartition(files)


def write_json_gzip(
    df: DataFrame,
    path: str,
    *,
    files: int | None = None,
    mode: str = "overwrite",
    single_file: bool = False,
) -> None:
    (
        _shape_output(df, files, single_file)
        .write.mode(mode)
        .option("compression", "gzip")
        .json(path)
    )


def write_csv_gzip(
    df: DataFrame,
    path: str,
    *,
    files: int | None = None,
    header: bool = True,
    mode: str = "overwrite",
    single_file: bool = False,
) -> None:
    (
        _shape_output(df, files, single_file)
        .write.mode(mode)
        .option("compression", "gzip")
        .option("header", str(header).lower())
        .csv(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    *,
    sort_cols: Sequence[str] | None = None,
    format: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by join key.

    Two tables bucketed by the same key with the same bucket count join
    with NO exchange on either side — the shuffle is paid once at write
    time and amortized over every subsequent join/aggregation on that
    key (verified by plan in ``tests/test_plans.py``). The 100-TB answer
    for repeatedly-joined fact tables, where the reference re-shuffles
    per run.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    writer = df.write.mode(mode).format(format).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def overwrite_partitions(
    df: DataFrame,
    path_or_table: str,
    partition_by: Sequence[str],
    *,
    format: str = "parquet",
    as_table: bool = False,
) -> None:
    """K3: replace exactly the partitions present in ``df``.

    Requires ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set
    by our session factory) — Spark then deletes only the partitions it
    is about to rewrite, the open equivalent of Glue ``purge_table`` +
    append (reference ``script/main.py:395-416``).
    """
    mode = df.sparkSession.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    if mode.lower() != "dynamic":
        raise RuntimeError(
            "overwrite_partitions requires spark.sql.sources."
            "partitionOverwriteMode=dynamic (session factory sets it); in "
            f"{mode!r} mode this write would DELETE every partition of the "
            "target, not just the ones being rewritten"
        )
    if as_table:
        # saveAsTable(mode=overwrite) REPLACES the whole table regardless
        # of partitionOverwriteMode; only insertInto honors dynamic
        # overwrite. Create on first write, insertInto thereafter.
        if df.sparkSession.catalog.tableExists(path_or_table):
            # insertInto matches by POSITION and the table stores
            # partition columns last — reorder to the table's schema
            table_cols = df.sparkSession.table(path_or_table).columns
            df.select(*table_cols).write.mode("overwrite").insertInto(path_or_table)
        else:
            df.write.mode("overwrite").format(format).partitionBy(*partition_by).saveAsTable(
                path_or_table
            )
    else:
        df.write.mode("overwrite").format(format).partitionBy(*partition_by).save(path_or_table)
