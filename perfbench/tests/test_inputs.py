"""The seeded generators of perfbench/inputs.py: same seed, same files;
other seeds, the same shape; all four consume slices get rows."""

from __future__ import annotations

import collections
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import inputs  # noqa: E402


def _shape(tables):
    log = tables["changelog"].to_pydict()
    return (
        {name: t.num_rows for name, t in tables.items()},
        collections.Counter(log["cleaned_classified_distributionType"]),
        collections.Counter(log["operation"]),
        sorted(collections.Counter(log["globalObjectKey"]).values()),
    )


def test_consume_tables_are_seeded_and_keep_their_shape():
    a, again, b = (inputs.consume_tables(s, 0.2) for s in (1, 1, 2))
    assert all(a[name].equals(again[name]) for name in a)
    assert not a["changelog"].equals(b["changelog"])
    # object-level shares and update counts are fixed; which object gets
    # how many rows is the seed's choice, so row-level shares move a bit
    counts_a, dist_a, ops_a, per_obj_a = _shape(a)
    counts_b, dist_b, ops_b, per_obj_b = _shape(b)
    assert (counts_a, ops_a, per_obj_a) == (counts_b, ops_b, per_obj_b)
    assert set(dist_a) == set(dist_b) == {"BUY", "RENT", "OTHER"}


def test_every_slice_gets_rows():
    log = inputs.consume_tables(3, 0.2)["changelog"].to_pydict()
    slices = collections.Counter(
        (geo[:3], dist)
        for geo, dist, estate in zip(
            log["classified_geo_countrySpecific_de_iwtLegacyGeoID"],
            log["cleaned_classified_distributionType"],
            log["classified_estateType"],
        )
        if dist in ("BUY", "RENT") and estate in ("HOUSE", "APARTMENT")
    )
    assert set(slices) == {(g, d) for g in ("108", "103") for d in ("BUY", "RENT")}
    assert min(slices.values()) > 400  # of 20k rows


def test_corpus_is_seeded_and_sized():
    a, again, b = (inputs.corpus_table(s, 500) for s in (1, 1, 2))
    assert a.equals(again) and not a.equals(b)
    assert a.num_rows == b.num_rows == 500
    texts = a["text"].to_pylist()
    assert 250 < sum(map(len, texts)) / len(texts) < 350
    # about 70% of the documents are in families of two or more
    words = [set(t.split()) for t in texts]
    near = sum(
        any(i != j and len(w & v) / len(w | v) >= 0.5 for j, v in enumerate(words))
        for i, w in enumerate(words)
    )
    assert 0.6 < near / len(words) < 0.8
