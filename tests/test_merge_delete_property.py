"""Property test: ``merge_delete`` agrees with a DuckDB formulation of
the reference's ``0-merge_delete_query.sql`` (latest earlier donor per
Delete event, ORDER BY changeDate DESC, id DESC) on random change logs.

The generator draws few keys and few timestamps, so donors tie on
changeDate, keys carry several deletes, some deletes have no earlier
donor, and some rows fall before the window's first day."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from st_bigdata_consume_batch_ma_with_cr_ecd_spark.pipelines.consume_batch import merge_delete

FIRST_DAY_PAST = "2024-06-21"
PAYLOAD = ["classified_metaData_classifiedId", "cleaned_classified_price", "extracted_tag"]
COLUMNS = ["id", "partitionChangeDate", "changeDate", "globalObjectKey", "operation", *PAYLOAD]
SCHEMA = (
    "id string, partitionChangeDate string, changeDate timestamp, globalObjectKey string, "
    "operation string, classified_metaData_classifiedId string, "
    "cleaned_classified_price double, extracted_tag string"
)

ORACLE = f"""
WITH deleted AS (
    SELECT id, partitionChangeDate, changeDate, globalObjectKey, operation
    FROM log
    WHERE operation = 'Delete' AND classified_metaData_classifiedId IS NULL
      AND CAST(partitionChangeDate AS DATE) >= DATE '{FIRST_DAY_PAST}'
),
non_deleted AS (
    SELECT * FROM log
    WHERE operation <> 'Delete' AND classified_metaData_classifiedId IS NOT NULL
),
backfilled AS (
    SELECT * EXCLUDE (rn) FROM (
        SELECT d.*, {", ".join("n." + c for c in PAYLOAD)},
               row_number() OVER (PARTITION BY d.id ORDER BY n.changeDate DESC, n.id DESC) AS rn
        FROM deleted d JOIN non_deleted n
          ON d.globalObjectKey = n.globalObjectKey AND d.changeDate >= n.changeDate
    ) WHERE rn = 1
)
SELECT * FROM backfilled
UNION ALL
SELECT {", ".join(COLUMNS)} FROM non_deleted
WHERE CAST(partitionChangeDate AS DATE) >= DATE '{FIRST_DAY_PAST}'
"""


@st.composite
def change_log(draw):
    n = draw(st.integers(6, 14))
    # ids in an order unrelated to time, so the id tiebreak is exercised
    order = draw(st.permutations(range(n)))
    rows = []
    for i in range(n):
        key = draw(st.sampled_from(["G1", "G2", "G3"]))
        hour = draw(st.integers(0, 2))
        op = draw(st.sampled_from(["Delete", "Delete", "Update", "Insert"]))
        # mostly NULL iff Delete (FIXTURES.md §1); the rest exercise the filters
        cid_null = draw(st.booleans()) if draw(st.integers(0, 4)) == 0 else op == "Delete"
        rows.append(
            {
                "id": f"r{order[i]:02d}",
                "partitionChangeDate": draw(
                    st.sampled_from(["2024-06-19", FIRST_DAY_PAST, "2024-06-25"])
                ),
                "changeDate": dt.datetime(2024, 6, 20, 8) + dt.timedelta(hours=hour),
                "globalObjectKey": key,
                "operation": op,
                "classified_metaData_classifiedId": None if cid_null else "C" + key,
                "cleaned_classified_price": None if cid_null else float(100 * i),
                "extracted_tag": None if cid_null else f"t{i}",
            }
        )
    return rows


def _canon(rows):
    return sorted(tuple(repr(v) for v in r) for r in rows)


@given(rows=change_log())
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_merge_delete_matches_reference_sql(spark, rows):
    log = pd.DataFrame(rows, columns=COLUMNS)
    got = merge_delete(spark.createDataFrame(log, SCHEMA), FIRST_DAY_PAST)
    assert got.columns == COLUMNS
    with duckdb.connect() as con:
        con.register("log", log)
        want = con.execute(ORACLE).fetchall()
    assert _canon(tuple(r) for r in got.collect()) == _canon(want)
