"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, scale)``. The seed picks
which object, row or document gets which value; the shape does not
depend on it: row and object counts, the share of each category, the
per-object update counts and the near-duplicate cluster sizes are fixed
multisets that the seed only permutes. Two seeds therefore cost the
program the same amount of work, and any one seed always gives the same
files.

Consume tables follow the column contract of ``tools/run_consume_batch``
(see ``pipelines.consume_batch``). Unlike ``derive_consume_inputs``,
country and distribution type are drawn independently, so all four
(geoid, distribution) slices get rows.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: change-log rows and listed objects per unit of scale (the sf0.1
#: ``events`` volume the e2e registry query derives its inputs from)
ROWS_PER_SCALE = 100_000
OBJECTS_PER_SCALE = 1_500

_MONTH_START = datetime(2024, 1, 1)
_MONTH_US = 30 * 86_400 * 1_000_000


def _shuffled(rng: np.random.Generator, values, shares, n: int) -> np.ndarray:
    """``n`` labels with exactly ``round(share * n)`` of each value but
    the last, which takes the remainder, in a seed-dependent order."""
    counts = [int(round(s * n)) for s in shares]
    counts.append(n - sum(counts))
    return rng.permutation(np.repeat(np.asarray(values), counts))


def _keys(prefix: str, ids: np.ndarray) -> pa.Array:
    """``prefix + str(id)`` per id, formatted once per distinct id."""
    ids = np.asarray(ids)
    labels = pa.array([f"{prefix}{i}" for i in range(int(ids.max()) + 1)])
    return labels.take(pa.array(ids))


def _take(labels: np.ndarray, idx: np.ndarray) -> pa.Array:
    return pa.array(labels).take(pa.array(idx))


def consume_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The eight consume-batch input tables at ``scale`` x 100k rows."""
    rng = np.random.default_rng([seed, 1])
    n_obj = int(OBJECTS_PER_SCALE * scale)
    n_rows = int(ROWS_PER_SCALE * scale)

    # -- per object: the attributes a listing keeps across its updates
    dist = _shuffled(rng, ["BUY", "RENT", "OTHER"], [5 / 11, 5 / 11], n_obj)
    estate = _shuffled(rng, ["HOUSE", "APARTMENT", "COMMERCIAL"], [1 / 3, 1 / 3], n_obj)
    country = _shuffled(rng, ["108", "103"], [3 / 4], n_obj)
    region = rng.permutation(np.arange(n_obj) * 37 % 90_000 + 10_000)
    geoid = np.char.add(country, region.astype(str))
    late_partition = _shuffled(rng, [True, False], [1 / 6], n_obj)

    # updates per object: one fixed skewed profile (about 27 to 2240 rows
    # per object at scale 1), permuted
    weights = 1.0 / np.arange(1, n_obj + 1) ** 0.6
    per_obj = np.floor(weights / weights.sum() * n_rows).astype(np.int64)
    per_obj[: n_rows - per_obj.sum()] += 1
    obj = np.repeat(rng.permutation(n_obj), per_obj)
    obj = obj[rng.permutation(n_rows)]

    # -- per row
    row_id = np.arange(n_rows, dtype=np.int64)
    ts_us = rng.integers(0, _MONTH_US, n_rows)
    ts = pa.array(np.datetime64(_MONTH_START, "us") + ts_us.astype("timedelta64[us]"))
    day = (np.datetime64(_MONTH_START, "D") + (ts_us // 86_400_000_000).astype("timedelta64[D]"))
    pcd = np.where(late_partition[obj], day - np.timedelta64(20, "D"), day)
    days, pcd_idx = np.unique(pcd, return_inverse=True)
    is_delete = _shuffled(rng, [True, False], [0.05], n_rows)
    value = rng.integers(1, 1_000, n_rows)

    changelog = pa.table(
        {
            "id": row_id,
            "partitionChangeDate": _take(days.astype(str), pcd_idx),
            "changeDate": ts,
            "globalObjectKey": _keys("obj-", obj),
            "operation": _take(np.array(["Update", "Delete"]), is_delete.astype(np.int8)),
            "classified_metaData_classifiedId": pc.if_else(
                pa.array(is_delete), pa.scalar(None, pa.string()), _keys("obj-", obj)
            ),
            "classified_metaData_changeDate": ts,
            "cleaned_classified_distributionType": _take(dist, obj),
            "classified_estateType": _take(estate, obj),
            "classified_geo_countrySpecific_de_iwtLegacyGeoID": _take(geoid, obj),
            "cleanupdataproblems": pa.array(rng.integers(0, 6, n_rows).astype(np.int32)),
            "cleaned_classified_prices_buy_price_amount": (value * 1000 + obj % 7).astype(float),
            "cleaned_classified_prices_rent_baseRent_amount": (value * 10 + obj % 5).astype(float),
            "cleaned_classified_prices_buy_operatingCosts_amount": (obj % 9).astype(float),
            "cleaned_classified_prices_rent_operatingCosts_amount": (obj % 8).astype(float),
            "cleaned_classified_structure_rooms_numberofrooms": obj % 7 + 0.25,
            "classified_geo_city": _keys("city-", obj % 40),
            "classified_prices_currency": _take(np.array(["EUR"]), np.zeros(n_rows, np.int8)),
            "classified_estateSubTypes_house": _keys("hsub-", obj % 4),
            "classified_estateSubTypes_apartment": _keys("asub-", obj % 4),
        }
    )
    texts = pa.table(
        {
            "id": row_id,
            "classified_texts_title": _keys("title-", rng.integers(0, 97, n_rows)),
            "classified_texts_description": _keys("desc-", rng.integers(0, 31, n_rows)),
        }
    )

    objects = np.arange(n_obj)
    day0 = np.datetime64("2023-12-25", "D")
    visibility = pa.table(
        {
            "classifiedId": _keys("obj-", objects),
            "aktivab": pa.array(day0 + rng.integers(0, 40, n_obj).astype("timedelta64[D]")),
            "aktivbis": pa.array(
                day0 - np.timedelta64(5, "D") + rng.integers(0, 50, n_obj).astype("timedelta64[D]")
            ),
        }
    )

    # two fraud events per object; the later non-delete one decides
    f_obj = np.concatenate([objects, objects])
    f_level = _shuffled(rng, [1, -1], [1 / 5], 2 * n_obj).astype(np.int32)
    f_ts = np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
        0, _MONTH_US, 2 * n_obj
    ).astype("timedelta64[us]")
    fraud = pa.table(
        {
            "globalObjectKey": _keys("obj-", f_obj),
            "operation": pa.array(_shuffled(rng, ["Delete", "Update"], [0.1], 2 * n_obj)),
            "changeDate": pa.array(f_ts),
            "controlData": pa.StructArray.from_arrays(
                [pa.array(f_level)], names=["FraudLevelId"]
            ),
        }
    )

    def counters(share: float, names: tuple[str, str, str], null_share: float) -> pa.Table:
        n = int(n_rows * share)
        src = obj[rng.permutation(n_rows)[:n]]
        first = rng.integers(0, 4, n).astype(np.int32)
        return pa.table(
            {
                "classifiedId": _keys("obj-", src),
                names[0]: pa.array(first, mask=_shuffled(rng, [True, False], [null_share], n)),
                names[1]: pa.array(rng.integers(0, 4, n).astype(np.int32)),
                names[2]: pa.array(rng.integers(0, 2, n).astype(np.int32)),
            }
        )

    contacts = counters(
        0.2, ("emailContactRequest", "emailContactRequestIW", "emailContactRequestIN"), 0.2
    )
    visits = counters(0.3, ("exposeVisits", "exposeVisitsIW", "exposeVisitsIN"), 0.15)

    # geo dims cover German objects only, minus a fixed share of keys,
    # so the geo joins also see unmatched keys
    de = np.unique(geoid[country == "108"])
    de = de[rng.permutation(de.size)[: int(de.size * 0.95)]]
    g5 = np.unique(de.astype("U5")).astype(np.int32)
    g8 = de.astype(np.int32)
    bundeslaender = pa.table(
        {"geoid": pa.array(g5), "bundesland": _keys("BL-", g5 % 16)}
    )
    stadtlandkreise = pa.table(
        {"geoid": pa.array(g8), "landkreis": _keys("LK-", g8 % 33)}
    )
    return {
        "changelog": changelog,
        "texts": texts,
        "visibility": visibility,
        "fraud": fraud,
        "contacts": contacts,
        "visits": visits,
        "bundeslaender": bundeslaender,
        "stadtlandkreise": stadtlandkreise,
    }


# -- corpus ----------------------------------------------------------------

_SYLLABLES = (
    "ka to ri mu se lo na pe vi da go fu zi ber han lin mor sta ten vel "
    "qua dro ex pli cor sun wat".split()
)
#: fixed vocabulary (independent of the seed): 2- and 3-syllable words
VOCAB = np.array(
    sorted(
        {a + b for a in _SYLLABLES for b in _SYLLABLES}
        | {a + b + c for a in _SYLLABLES[:8] for b in _SYLLABLES[8:16] for c in _SYLLABLES[16:]}
    )
)
WORDS_PER_DOC = 44
#: documents per near-duplicate family, and the share of families of
#: each size (a base document plus size-1 edited copies)
CLUSTER_SIZES = (1, 2, 3, 4, 6)
CLUSTER_SHARES = (0.55, 0.2, 0.12, 0.08, 0.05)


def corpus_table(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents of ~300 characters in bounded near-duplicate
    families: each copy replaces 1-5 words of its family's base text."""
    rng = np.random.default_rng([seed, 2])
    mean = sum(s * w for s, w in zip(CLUSTER_SIZES, CLUSTER_SHARES))
    n_families = int(n_docs / mean) + len(CLUSTER_SIZES)
    sizes = _shuffled(rng, CLUSTER_SIZES, CLUSTER_SHARES[:-1], n_families)

    base = rng.integers(0, VOCAB.size, (n_families, WORDS_PER_DOC))
    family = np.repeat(np.arange(n_families), sizes)[:n_docs]
    first = np.r_[0, np.cumsum(sizes)[:-1]]
    is_copy = np.arange(n_docs) != np.repeat(first, sizes)[:n_docs]
    words = base[family]
    n_edits = np.where(is_copy, rng.integers(1, 6, n_docs), 0)
    for k in range(1, 6):
        rows = np.flatnonzero(n_edits >= k)
        words[rows, rng.integers(0, WORDS_PER_DOC, rows.size)] = rng.integers(
            0, VOCAB.size, rows.size
        )
    text = [" ".join(row) for row in VOCAB[words]]
    order = rng.permutation(n_docs)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array([text[i] for i in order]),
        }
    )


def write_tables(tables: dict[str, pa.Table], root: Path) -> None:
    """Write each table as ``root/<name>/part-0.parquet``."""
    for name, table in tables.items():
        path = root / name / "part-0.parquet"
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, path, compression="snappy")

