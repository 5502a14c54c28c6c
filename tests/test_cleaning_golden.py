"""Golden outputs of the cleaning stage and the side tables.

Each golden is the row count and an md5 over the column list and every
row (sorted; arrays as lists, structs as (field, value) pairs, floats by
their exact repr) of the edge corpus run through
``extract.extract_addresses``. They pin the output of
``clean_addresses`` and ``build_side_tables`` bit for bit.
"""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import Row

from uk_address_matcher_spark.cleaning import clean_addresses
from uk_address_matcher_spark.corpus import (
    domain_token_frequencies,
    edge_case_documents,
)
from uk_address_matcher_spark.extract import extract_addresses
from uk_address_matcher_spark.linkage import build_side_tables


def _plain(v):
    if isinstance(v, Row):
        return [[k, _plain(x)] for k, x in zip(v.__fields__, v)]
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return sorted([_plain(k), _plain(x)] for k, x in v.items())
    if isinstance(v, float):
        return repr(v)
    return v


def digest(df) -> tuple[int, str]:
    rows = sorted(json.dumps(_plain(r)) for r in df.collect())
    text = json.dumps(df.columns) + "\n" + "\n".join(rows)
    return len(rows), hashlib.md5(text.encode()).hexdigest()


@pytest.fixture(scope="module")
def edge_flat(spark):
    docs, _ = edge_case_documents(spark)
    return extract_addresses(docs)


CLEANED = {
    False: (100, "154fd2810c356a6395ee96eea8679678"),
    True: (100, "03df9a741331a6b02b59111334795824"),
}


@pytest.mark.parametrize("derive_adjacency", [False, True])
def test_clean_addresses_golden(spark, edge_flat, derive_adjacency):
    side = build_side_tables(spark, edge_flat)
    out = clean_addresses(
        edge_flat,
        side.rel_tok_freq,
        side.common_end_tokens,
        derive_adjacency=derive_adjacency,
    )
    assert digest(out) == CLEANED[derive_adjacency]


EDGE_COMMON_END = [
    "LONDON", "KEYNES", "LANE", "SANDS", "STREET", "ALBANS", "BIRDTON", "HITCHIN",
]
SIDE_TABLES = {
    "on_the_fly": (
        (138, "9d7bf8d97b172993b881986dbaa615bb"),
        (33, "5e5ad57b62527f7372ecdc508252a88f"),
        EDGE_COMMON_END,
    ),
    "precomputed_tf": (
        (85, "7941d50f1e15795f9e2fbb6665c6a20b"),
        (33, "5e5ad57b62527f7372ecdc508252a88f"),
        EDGE_COMMON_END,
    ),
}


@pytest.mark.parametrize("branch", ["on_the_fly", "precomputed_tf"])
def test_side_tables_golden(spark, edge_flat, branch):
    tf = domain_token_frequencies(spark) if branch == "precomputed_tf" else None
    side = build_side_tables(spark, edge_flat, rel_tok_freq=tf)
    got = (digest(side.rel_tok_freq), digest(side.numeric_tf), side.common_end_tokens)
    assert got == SIDE_TABLES[branch]


def test_null_addresses_count_toward_common_end_share(spark):
    """The common-end share threshold counts every corpus row, including
    rows whose address is NULL: 10 of 1010 rows end in LONDON, which is
    not above the 1% floor of 10 rows (it would be above a floor of 3
    if the NULL rows were not counted)."""
    from uk_address_matcher_spark.cleaning import get_common_end_tokens
    from uk_address_matcher_spark.session import local_frame

    rows = [(f"u{i}", f"{i} HIGH STREET LONDON", "SW1A 2AA") for i in range(10)]
    rows += [(f"n{i}", None, "SW1A 2AA") for i in range(1000)]
    df = local_frame(
        spark, rows, "unique_id string, address_concat string, postcode string"
    )
    assert build_side_tables(spark, df).common_end_tokens == []
    assert get_common_end_tokens(df) == []
    assert build_side_tables(spark, df.limit(10)).common_end_tokens == ["LONDON"]
