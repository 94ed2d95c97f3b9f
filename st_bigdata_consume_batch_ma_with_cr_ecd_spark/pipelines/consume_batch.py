"""The reference's consume-batch pipeline, re-expressed Spark-first.

This is the faithful counterpart of the reference job (a user of
`axel-springer-kugawana/ST_bigdata_consume_batch_ma_with_cr_ecd` can run
the same nightly computation here): the 3-stage SQL chain plus the
DataFrame transforms, on reference-shaped inputs (FIXTURES.md §1-§7),
built from this package's operator library instead of Glue/SQL text.

The reference loops over four country/distribution slices and re-runs
stages 1-3 for each (script/main.py:300-368). Here stages 1-3 and
``modify_data`` run ONCE over all slices, keyed by the slice: every
per-listing window, group-by and NOT-IN subquery is partitioned by
``(substring(iwtLegacyGeoID, 1, 3), cleaned_classified_distributionType)``
as well, which after ``modify_data`` is ``(partitionGeoid,
classified_distributionType)``. Only the sinks split the result by slice.

Stage map (reference citations):

- ``filter_changelog``   — script/main.py:74-89 (F1/F2 filters)
- ``merge_delete``       — script/static_files/queries/0-merge_delete_query.sql
  (delete-event attribute backfill: as-of inner join + top-1 + union;
  the as-of pick ranks narrow donor keys, the payload joins back)
- ``basedata_first``     — 1-basedata_first_query.sql (per-day latest
  version + text join), slice-keyed
- ``basedata_enrich``    — 2-basedata_df_query.sql (visibility inner
  join + fraud argmax + counter sums, 3 left joins); per row, so the
  slice key passes through
- ``basedata_final``     — 3-basedata_df_final_query.sql (stale-id NOT
  IN elimination, fraud filter, price-change history union), slice-keyed;
  the price key is the slice's distribution price
- ``modify_data``        — script/main.py:157-193 (rooms rounding, city
  regexp, prefix strip, geo broadcast joins for the 108 slices only,
  partition cols)
- ``shape_json_output``  — script/helper.py:99-186 (subTypes map,
  distribution price projection, renames/drops, changelog metadata,
  flat->nested struct schema), per slice
- ``consume_batch``      — the job's result without its sinks: the prep
  (stage 0 staged once), then the slice-keyed stages 1-3 +
  ``modify_data``, lazy, for tests and probes
- ``run_job``            — the nightly job (script/main.py:300-416):
  ``consume_batch`` cached once, per-slice gzip JSON/CSV sinks as
  filters of that cache, and the month-partitioned parquet sink. The
  CLI (``tools/run_consume_batch.py``) and the
  ``pipeline_consume_batch_e2e`` query both run it.

Semantics preserved on purpose (SURVEY.md §4): the visibility join is
multiplicity-preserving INNER (not semi); stale-id elimination is
null-aware NOT IN; ``partitionChangeDate`` compares as ISO *string* in
stage 3 but via ``to_date`` in stage 0; delete rows without a donor are
dropped (inner as-of join); ``fraudLevelId <= 0`` drops null-fraud rows.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from datetime import date, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import prefix_select, strip_prefix
from ..functions.maps import keyed_map_column
from ..functions.nesting import nest_columns
from ..functions.whenchain import when_chain
from ..operators.asof import asof_join
from ..operators.dedup import top_n_per_group
from ..operators.joins import (
    broadcast_lookup_join,
    join_summary,
    not_in_anti_join,
    summarize_for_join,
)
from ..operators.setops import union_slices

#: script/config.json:141-147 — the payload-column namespace.
VALID_PREFIXES = ("classified_", "cleaned_", "cleanup", "extracted_", "grenzwert_")

#: script/main.py:74-89 — hard filters on the raw change-log.
DISTRIBUTIONS = ("RENT", "BUY")
ESTATE_TYPES = ("HOUSE", "APARTMENT")
GEO_PREFIXES = ("108", "103")

#: the slice key's columns (before ``modify_data`` strips ``cleaned_``)
GEO_COL = "classified_geo_countrySpecific_de_iwtLegacyGeoID"
DIST_COL = "cleaned_classified_distributionType"
BUY_PRICE = "cleaned_classified_prices_buy_price_amount"
RENT_PRICE = "cleaned_classified_prices_rent_baseRent_amount"

#: script/config.json:156-160
GEO_DROP_COLUMNS = (
    "geoid",
    "classified_geo_userDefined_immoWelt_geoid",
    "classified_geo_countrySpecific_de_iwtLegacyGeoID",
)

_CORE = ("id", "partitionChangeDate", "changeDate", "globalObjectKey", "operation")


@dataclass(frozen=True)
class JobDates:
    """script/main.py:196-217 — the incremental window parameters."""

    partition_date: str  # ISO YYYY-MM-DD
    first_day_current_month: str
    first_day_past: str
    partition_month: str

    @classmethod
    def resolve(cls, partition_date: date, days_ago: int | str = 10) -> "JobDates":
        first = partition_date.replace(day=1)
        if days_ago == "full_refresh":
            past = "2024-05-20"  # data epoch (script/main.py:203-204)
        else:
            past = (first - timedelta(days=int(days_ago))).strftime("%Y-%m-%d")
        return cls(
            partition_date=partition_date.strftime("%Y-%m-%d"),
            first_day_current_month=first.strftime("%Y-%m-%d"),
            first_day_past=past,
            partition_month=partition_date.strftime("%Y-%m"),
        )


@dataclass(frozen=True)
class SliceSpec:
    """One row of the country/distribution matrix
    (script/config.json:161-186 + helper.py:189-201 column binding)."""

    geoid: int  # 108 Germany / 103 Austria
    distribution_type: str  # 'BUY' | 'RENT'

    @property
    def price_amount_column(self) -> str:
        return BUY_PRICE if self.distribution_type == "BUY" else RENT_PRICE

    @property
    def tag(self) -> str:
        """The slice's sink directory name, ``<geoid>_<distribution>``."""
        return f"{self.geoid}_{self.distribution_type}"


DEFAULT_SLICES = tuple(
    SliceSpec(geoid, dist) for geoid in (108, 103) for dist in ("BUY", "RENT")
)


def payload_columns(df: DataFrame) -> list[str]:
    """script/main.py:96-110 — dynamic prefix-driven payload selection."""
    return prefix_select(df, list(VALID_PREFIXES))


def slice_geo() -> Column:
    """The geoid half of the slice key: ``108`` Germany, ``103`` Austria."""
    return F.substring(F.col(GEO_COL), 1, 3)


def filter_changelog(df: DataFrame) -> DataFrame:
    """script/main.py:74-89."""
    geo = F.col(GEO_COL)
    return df.where(
        F.col(DIST_COL).isin(*DISTRIBUTIONS)
        & (geo.startswith(GEO_PREFIXES[0]) | geo.startswith(GEO_PREFIXES[1]))
        & F.col("classified_estateType").isin(*ESTATE_TYPES)
    )


def merge_delete(filtered: DataFrame, first_day_past: str) -> DataFrame:
    """0-merge_delete_query.sql — repair Delete events (NULL payload) by
    copying the payload of the latest earlier non-delete row of the same
    ``globalObjectKey``; deletes with no donor are dropped (inner as-of
    join, reference line 24-40); union with the non-deleted stream."""
    payload = payload_columns(filtered)
    date_ok = F.col("partitionChangeDate") >= F.to_date(F.lit(first_day_past))

    deleted = filtered.where(
        (F.col("operation") == "Delete")
        & F.col("classified_metaData_classifiedId").isNull()
        & date_ok
    ).select(*_CORE)
    non_deleted = filtered.where(
        (F.col("operation") != "Delete") & F.col("classified_metaData_classifiedId").isNotNull()
    )

    # the as-of pick ranks narrow donor keys only; the winners' payload
    # joins back on donor_id, exact because id is unique per change-log
    # row (FIXTURES.md §1). Donor id makes the pick TOTAL under equal
    # changeDates (same-timestamp updates are routine in change logs),
    # matching the e2e oracle's ORDER BY changeDate DESC, id DESC
    donors = non_deleted.select("globalObjectKey", "changeDate", F.col("id").alias("donor_id"))
    picks = asof_join(
        deleted,
        donors,
        on=["globalObjectKey"],
        left_ts="changeDate",
        right_ts="changeDate",
        how="inner",
        left_id="id",
        tiebreak="donor_id",
    ).drop("changeDate_right")
    donor_payload = non_deleted.select(F.col("id").alias("donor_id"), *payload)
    backfilled = picks.join(donor_payload, "donor_id")

    healthy = non_deleted.where(date_ok).select(*_CORE, *payload)
    return union_slices([backfilled.select(*_CORE, *payload), healthy], "ALL")


def basedata_first(merged: DataFrame, texts: DataFrame) -> DataFrame:
    """1-basedata_first_query.sql for all four slices at once — slice
    filters, latest version per (slice, classifiedId, change-day),
    8-column text enrichment."""
    sliced = merged.where(
        slice_geo().isin(*GEO_PREFIXES)
        & (F.col("cleanupdataproblems") <= 3)
        & F.col(DIST_COL).isin(*DISTRIBUTIONS)
    )
    latest = top_n_per_group(
        sliced,
        [
            slice_geo(),
            F.col(DIST_COL),
            F.col("classified_metaData_classifiedId"),
            F.to_date(F.col("classified_metaData_changeDate")),
        ],
        [
            F.col("classified_metaData_changeDate").desc(),
            F.col("partitionChangeDate").desc(),
            F.col("id").desc(),  # determinism tiebreak beyond the reference (SURVEY §4 #1)
        ],
        rank_col="baseRank",
    )
    text_cols = [c for c in texts.columns if c.startswith("classified_texts_")]
    return latest.join(texts.select("id", *text_cols), "id", "left")


#: 2-basedata_df_query.sql:27-63 — the counter sums and their COALESCE
#: defaults, factored so the once-per-job summaries
#: (:func:`prepare_enrich_dims`) and the joins of
#: :func:`basedata_enrich` can never drift apart. Functions, not
#: module constants: Column construction needs an active SparkContext.
_CONTACT_NAMES = (
    "userDefined_immoWelt_contact_requests",
    "userDefined_immoWelt_iw_contact_requests",
    "userDefined_immoWelt_in_contact_requests",
)
_VISIT_NAMES = (
    "userDefined_immoWelt_expose_visits",
    "userDefined_immoWelt_iw_expose_visits",
    "userDefined_immoWelt_in_expose_visits",
)
_CONTACT_FILL = {name: 0 for name in _CONTACT_NAMES}
_VISIT_FILL = {name: 0 for name in _VISIT_NAMES}


def _contact_aggs():
    return {
        name: F.sum(F.coalesce(src, F.lit(0)))
        for name, src in zip(_CONTACT_NAMES, ("c1", "c2", "c3"))
    }


def _visit_aggs():
    return {
        name: F.sum(F.coalesce(src, F.lit(0)))
        for name, src in zip(_VISIT_NAMES, ("v1", "v2", "v3"))
    }


def prepare_enrich_dims(
    visibility: DataFrame,
    fraud_events: DataFrame,
    contacts: DataFrame,
    visits: DataFrame,
    dates: JobDates,
) -> dict[str, DataFrame]:
    """The slice-INDEPENDENT inputs of ``basedata_enrich`` (§2.4): the
    active-visibility key set, the fraud argmax, and the contact/visit
    counter summaries, which do not depend on (geoid, distribution).
    Factored out so :func:`stage_prep` can materialize them alongside
    the stage-0 write, before the chain that joins them is planned."""
    active = visibility.where(
        (F.col("aktivbis") >= F.to_date(F.lit(dates.first_day_current_month)))
        & (F.col("aktivab") < F.to_date(F.lit(dates.partition_date)))
    ).select("classifiedId")
    fraud = (
        fraud_events.where(F.col("operation") != "Delete")
        .groupBy("globalObjectKey")
        .agg(
            F.max_by(
                F.col("controlData.FraudLevelId"),
                # struct order = (changeDate, FraudLevelId): total under
                # equal changeDates, so the <= 0 gate is deterministic
                F.struct(F.col("changeDate"), F.col("controlData.FraudLevelId")),
            ).alias("fraudLevelId")
        )
    )
    contacts_sum = summarize_for_join(
        contacts.select(
            "classifiedId",
            F.col("emailContactRequest").alias("c1"),
            F.col("emailContactRequestIW").alias("c2"),
            F.col("emailContactRequestIN").alias("c3"),
        ),
        ["classifiedId"],
        _contact_aggs(),
    )
    visits_sum = summarize_for_join(
        visits.select(
            "classifiedId",
            F.col("exposeVisits").alias("v1"),
            F.col("exposeVisitsIW").alias("v2"),
            F.col("exposeVisitsIN").alias("v3"),
        ),
        ["classifiedId"],
        _visit_aggs(),
    )
    return {
        "active": active,
        "fraud": fraud,
        "contacts": contacts_sum,
        "visits": visits_sum,
    }


def basedata_enrich(
    first: DataFrame,
    visibility: DataFrame,
    fraud_events: DataFrame,
    contacts: DataFrame,
    visits: DataFrame,
    dates: JobDates,
    *,
    dims: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """2-basedata_df_query.sql — active-visibility inner join (kept
    multiplicity-preserving), latest fraud level argmax, contact/visit
    counter sums, three left joins.

    ``dims`` (optional) supplies the slice-independent inputs prebuilt
    by :func:`prepare_enrich_dims` (ideally materialized); the default
    path builds them inline and is row-identical by construction (same
    expressions, same joins)."""
    cid = "classified_metaData_classifiedId"
    if dims is None:
        dims = prepare_enrich_dims(visibility, fraud_events, contacts, visits, dates)

    active = dims["active"]
    oc = first.join(active, first[cid] == active["classifiedId"]).drop("classifiedId")

    fraud = dims["fraud"]
    out = oc.join(fraud, oc[cid] == fraud["globalObjectKey"], "left").drop(
        fraud["globalObjectKey"]
    )

    out = join_summary(
        out.withColumn("classifiedId", F.col(cid)),
        dims["contacts"],
        ["classifiedId"],
        fill=_CONTACT_FILL,
    )
    out = join_summary(out, dims["visits"], ["classifiedId"], fill=_VISIT_FILL)
    return out.drop("classifiedId")


def basedata_final(base: DataFrame, first: DataFrame, dates: JobDates) -> DataFrame:
    """3-basedata_df_final_query.sql, slice-keyed — stale-id NOT IN
    elimination within each slice, fraud filter, per-(slice, id, price)
    current-month latest UNION per-(slice, id) last pre-month record;
    the price is the slice distribution's. ``partitionChangeDate``
    compares as ISO string here (reference lines 54/65), unlike stage
    0's ``to_date``."""
    cid = "classified_metaData_classifiedId"
    ts = "classified_metaData_changeDate"
    sg = "__sliceGeo"
    key = [sg, DIST_COL, cid]

    base = base.withColumn(sg, slice_geo())
    base_max = base.groupBy(*key).agg(F.max(ts).alias("m"))
    all_max = (
        first.where(F.col(ts) < dates.first_day_current_month)
        .groupBy(slice_geo().alias(sg), DIST_COL, cid)
        .agg(F.max(ts).alias("m_all"))
    )
    invalid = (
        base_max.join(all_max, key, "left")
        .where(F.col("m") < F.col("m_all"))
        .select(sg, DIST_COL, F.col(cid).alias("invalid_id"))
    )
    final = not_in_anti_join(base, invalid, cid, "invalid_id", within=[sg, DIST_COL]).where(
        F.col("fraudLevelId") <= 0
    )

    price = F.when(F.col(DIST_COL) == "BUY", F.col(BUY_PRICE)).otherwise(F.col(RENT_PRICE))
    order = [F.col(ts).desc(), F.col("partitionChangeDate").desc(), F.col("id").desc()]
    current = top_n_per_group(
        final.where(F.col("partitionChangeDate") >= dates.first_day_current_month),
        [*key, price],
        order,
        rank_col="row_num",
    )
    previous = top_n_per_group(
        final.where(F.col("partitionChangeDate") < dates.first_day_current_month),
        key,
        order,
        rank_col="row_num",
    )
    return union_slices([current, previous], "ALL").drop(sg)


def modify_data(
    final: DataFrame,
    partition_month: str,
    bundeslaender: DataFrame,
    stadtlandkreise: DataFrame,
) -> DataFrame:
    """script/main.py:157-193 — numeric/text cleanup, cleaned_ prefix
    strip (single projection, not N renames), geo enrichment for the
    Germany slices only (an Austrian row's lookup key is NULL, so it
    never matches), drop list, partition columns."""
    df = final.withColumn(
        "cleaned_classified_structure_rooms_numberofrooms",
        F.round(F.col("cleaned_classified_structure_rooms_numberofrooms")).cast("int"),
    ).withColumn(
        "classified_geo_city", F.regexp_replace(F.col("classified_geo_city"), r"\\", "")
    )
    df = strip_prefix(df, "cleaned_")

    def de_key(n: int) -> Column:
        return F.when(slice_geo() == "108", F.substring(F.col(GEO_COL), 1, n)).cast("int")

    df = broadcast_lookup_join(
        df, bundeslaender, de_key(5), "geoid", dim_cols=["geoid", "bundesland"]
    )
    df = broadcast_lookup_join(
        df, stadtlandkreise, de_key(8), "geoid", dim_cols=["geoid", "landkreis"]
    )
    df = df.withColumnsRenamed(
        {"bundesland": "geo_state", "landkreis": "geo_userDefined_immoWelt_county"}
    ).withColumn("partitionGeoid", slice_geo().cast("int"))
    df = df.drop(*[c for c in GEO_DROP_COLUMNS if c in df.columns])
    return df.withColumn("partitionMonth", F.lit(partition_month))


ESTATE_SUBTYPE_SOURCE = {
    "HOUSE": "classified_estateSubTypes_house",
    "APARTMENT": "classified_estateSubTypes_apartment",
}


def shape_json_output(
    df: DataFrame, distribution_type: str, *, clock: str | None = None
) -> DataFrame:
    """script/helper.py:99-186 — the JSON sink shaping: subTypes
    when-chain + map, distribution-specific price projection,
    classified_ prefix strip, changelog metadata (injectable clock),
    flat->nested struct schema."""
    sub = when_chain(
        [
            (
                F.col("classified_estateType") == et,
                F.coalesce(F.col(src), F.lit("NOT_APPLICABLE")),
            )
            for et, src in ESTATE_SUBTYPE_SOURCE.items()
        ],
        otherwise="NOT_APPLICABLE",
    )
    out = df.withColumn("subTypes", sub)

    if distribution_type == "BUY":
        out = (
            out.withColumn("prices_buy_price_amount", F.col("classified_prices_buy_price_amount"))
            .withColumn("prices_buy_price_currency", F.col("classified_prices_currency"))
            .withColumn(
                "prices_buy_serviceCharge_amount",
                F.coalesce(F.col("classified_prices_buy_operatingCosts_amount"), F.lit(0.00)).cast(
                    "float"
                ),
            )
        )
    else:
        out = (
            out.withColumn(
                "prices_rent_baseRent_amount", F.col("classified_prices_rent_baseRent_amount")
            )
            .withColumn("prices_rent_baseRent_currency", F.col("classified_prices_currency"))
            .withColumn(
                "prices_rent_operatingCosts_amount",
                F.col("classified_prices_rent_operatingCosts_amount"),
            )
        )

    renames = {
        c: c[len("classified_"):]
        for c in ("classified_estateType", "classified_metaData_classifiedId", "classified_geo_city")
        if c in out.columns
    }
    out = out.withColumnsRenamed(renames)
    out = out.drop(*[c for c in out.columns if c.startswith("classified_")])

    ts = F.current_timestamp() if clock is None else F.lit(clock).cast("timestamp")
    out = (
        out.withColumn("metaData_changeLog_timestamp", ts)
        .withColumn("metaData_changeLog_system", F.lit("SparkEngineExport"))
        .withColumn("metaData_changeLog_operation", F.lit("UPDATE"))
    )
    out = out.withColumn(
        "subTypes", keyed_map_column(F.col("estateType"), F.col("subTypes"), lower_key=True)
    )
    return nest_columns(out, sep="_")


def stage_prep(
    tables: dict[str, DataFrame], dates: JobDates, work_dir: str
) -> tuple[DataFrame, dict[str, DataFrame], dict[str, DataFrame]]:
    """The job's three slice-independent prep jobs, run CONCURRENTLY
    from one driver pool (§2.6 "overlap independent jobs"; measured
    3.2 s + ~1 s + 1.5 s back-to-back at sf0.1, most of which overlaps):

    - stage 0 (filter + merge_delete, reference C1: computed once for
      all slices) written to the parquet table
      ``<work_dir>/_stage0_staging`` and scanned back, so the
      slice-keyed chain gets a columnar scan with pruning;
    - the texts enrichment staged BUCKETED and sorted by ``id``
      (``operators.partitioning.stage_bucketed_by_key``) under
      ``<work_dir>/_texts_bucketed``, so past the broadcast threshold
      the texts join neither exchanges nor sorts the texts side
      (plans/r14/consume_texts_join_{before,after}.txt);
    - the :func:`prepare_enrich_dims` frames, each eagerly
      ``localCheckpoint``ed, so the chain's enrichment joins read the
      visibility filter, fraud argmax and counter summaries from
      memory while the stage-0 and texts writes run (§2.4).

    Returns the staged stage-0 frame, ``tables`` with its texts
    replaced by the bucketed read-back, and the checkpointed dims. The
    dims' blocks are RDD-level (``DataFrame.unpersist`` cannot release
    them) and stay pinned until the caller releases them."""
    from concurrent.futures import ThreadPoolExecutor

    from ..operators.partitioning import stage_bucketed_by_key

    spark = tables["changelog"].sparkSession
    merged = merge_delete(filter_changelog(tables["changelog"]), dates.first_day_past)
    stage0_path = f"{work_dir}/_stage0_staging"
    texts_path = f"{work_dir}/_texts_bucketed"
    # the bucketing spec lives only in the catalog: one table name per
    # staging path, so jobs staging into different dirs never collide
    texts_table = "consume_texts_" + hashlib.sha1(texts_path.encode()).hexdigest()[:12]

    def stage0() -> DataFrame:
        merged.write.mode("overwrite").parquet(stage0_path)
        return spark.read.parquet(stage0_path)

    raw_dims = prepare_enrich_dims(
        tables["visibility"], tables["fraud"], tables["contacts"], tables["visits"], dates
    )
    with ThreadPoolExecutor(max_workers=2 + len(raw_dims)) as pool:
        f_stage0 = pool.submit(stage0)
        f_texts = pool.submit(
            stage_bucketed_by_key, tables["texts"], "id", texts_path, texts_table
        )
        f_dims = {
            k: pool.submit(v.localCheckpoint, eager=True) for k, v in raw_dims.items()
        }
        staged = {**tables, "texts": f_texts.result()}
        return f_stage0.result(), staged, {k: f.result() for k, f in f_dims.items()}


def consume_batch(
    tables: dict[str, DataFrame], dates: JobDates, work_dir: str
) -> DataFrame:
    """The job's result without its sinks (script/main.py:300-368): the
    :func:`stage_prep` prep once, then stages 1-3 + modify_data over all
    four slices as one slice-keyed chain. Lazy past the prep jobs, so
    :func:`run_job` caches it, tests compare against it and
    ``tools/scale_probe.py`` times and plan-audits it; the staged files
    under ``work_dir`` and the dims' checkpoint blocks must outlive the
    returned frame."""
    merged, staged, dims = stage_prep(tables, dates, work_dir)
    first = basedata_first(merged, staged["texts"])
    base = basedata_enrich(
        first, staged["visibility"], staged["fraud"], staged["contacts"],
        staged["visits"], dates, dims=dims,
    )
    final = basedata_final(base, first, dates)
    return modify_data(
        final, dates.partition_month, staged["bundeslaender"], staged["stadtlandkreise"]
    )


def run_slices_concurrent(
    keyed: DataFrame, out_root: str, *, json_clock: str | None = None
) -> dict[str, int]:
    """The per-slice sinks over ``keyed``, the cached
    :func:`consume_batch` frame: one ``groupBy(slice).count()`` action
    (which also materializes the cache), then each slice as a filter of
    the cache to single-file gzip CSV + gzip JSON, all eight writes
    CONCURRENTLY from one driver pool (Spark schedules jobs from
    several threads onto one session). ``single_file`` (``coalesce(1)``)
    over the materialized cache narrows only the write itself and needs
    no shuffle, unlike ``files=1``'s ``repartition(1)``.

    Returns the rows per slice, keyed ``<geoid>_<distribution>``."""
    from concurrent.futures import ThreadPoolExecutor

    from ..sinks.writers import write_csv_gzip, write_json_gzip

    found = {
        (geoid, dist): n
        for geoid, dist, n in keyed.groupBy(
            "partitionGeoid", "classified_distributionType"
        ).count().collect()
    }
    with ThreadPoolExecutor(max_workers=2 * len(DEFAULT_SLICES)) as pool:
        writes = []
        for spec in DEFAULT_SLICES:
            sliced = keyed.where(
                (F.col("partitionGeoid") == spec.geoid)
                & (F.col("classified_distributionType") == spec.distribution_type)
            )
            shaped = shape_json_output(sliced, spec.distribution_type, clock=json_clock)
            writes += [
                pool.submit(write_csv_gzip, sliced, f"{out_root}/csv/{spec.tag}", single_file=True),
                pool.submit(write_json_gzip, shaped, f"{out_root}/json/{spec.tag}", single_file=True),
            ]
        for w in writes:
            w.result()
    return {s.tag: found.get((s.geoid, s.distribution_type), 0) for s in DEFAULT_SLICES}


def run_job(
    tables: dict[str, DataFrame],
    dates: JobDates,
    out_root: str,
    *,
    json_clock: str | None = None,
) -> dict[str, int]:
    """The nightly job (script/main.py:300-416): :func:`consume_batch`
    cached once, :func:`run_slices_concurrent` with its per-slice gzip
    sinks, then the month-partitioned parquet sink ``<out_root>/parquet``
    by dynamic partition overwrite, so a re-run into the same
    ``out_root`` replaces its output. ``json_clock`` pins the JSON
    sink's changelog timestamp (default: the current time).

    Every block the job pinned (the result cache and the dims'
    checkpoints) is released before it returns. Returns the rows per
    slice, keyed ``<geoid>_<distribution>``."""
    from ..sinks.writers import overwrite_partitions
    from ..streaming.sinks import persistent_rdd_ids, release_new_persistent_rdds

    spark = tables["changelog"].sparkSession
    before = persistent_rdd_ids(spark)
    keyed: DataFrame | None = None
    try:
        keyed = consume_batch(tables, dates, out_root).cache()
        counts = run_slices_concurrent(keyed, out_root, json_clock=json_clock)
        overwrite_partitions(keyed, f"{out_root}/parquet", ["partitionMonth"])
    finally:
        if keyed is not None:
            keyed.unpersist()
        release_new_persistent_rdds(spark, before)
    return counts
