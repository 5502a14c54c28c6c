"""Jaro-Winkler + optional adjacency feature tests."""

import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark.cleaning import clean_addresses
from uk_address_matcher_spark.cleaning.steps import (
    generalised_token_aliases,
    separate_distinguishing_start_tokens_wrt_adjacent_records,
)
from uk_address_matcher_spark.functions import jaro_winkler, jaro_winkler_py


def test_jaro_winkler_python_reference_values():
    # classic published examples
    assert abs(jaro_winkler_py("MARTHA", "MARHTA") - 0.9611) < 1e-3
    assert abs(jaro_winkler_py("DIXON", "DICKSONX") - 0.8133) < 1e-3
    assert jaro_winkler_py("SAME", "SAME") == 1.0
    assert jaro_winkler_py("ABC", "XYZ") == 0.0
    assert jaro_winkler_py(None, "X") is None


def test_jaro_winkler_udf(spark):
    df = spark.createDataFrame(
        [("MARTHA", "MARHTA"), ("SW1A 2AA", "SW1A 2AB")], "a string, b string"
    )
    vals = [r["jw"] for r in df.select(jaro_winkler("a", "b").alias("jw")).collect()]
    assert abs(vals[0] - 0.9611) < 1e-3
    assert 0.9 < vals[1] <= 1.0


def test_adjacency_feature(spark):
    rows = [
        ("u1", "FLAT 1 ACACIA AVENUE LONDON", "SW1A 2AA"),
        ("u2", "FLAT 2 ACACIA AVENUE LONDON", "SW1A 2AA"),
        ("u3", "FLAT 3 ACACIA AVENUE LONDON", "SW1A 2AA"),
    ]
    df = spark.createDataFrame(
        rows, "unique_id string, original_address_concat string, postcode string"
    )
    out = {
        r["unique_id"]: r
        for r in separate_distinguishing_start_tokens_wrt_adjacent_records(df).collect()
    }
    # FLAT removed; suffix 'ACACIA AVENUE LONDON' shared with a neighbour
    # (reference's max(i) semantics: suffix var = matching-1)
    for uid in ("u1", "u2", "u3"):
        assert out[uid]["distinguishing_adj_start_tokens"][0] == uid[-1]
        assert "LONDON" in out[uid]["common_adj_start_tokens"]


def test_generalised_aliases(spark):
    df = spark.createDataFrame(
        [("u1", ["FIRST", "9"]), ("u2", ["BASEMENT"]), ("u3", ["GARDEN"])],
        "unique_id string, distinguishing_adj_start_tokens array<string>",
    )
    out = {r["unique_id"]: r["distinguishing_adj_token_aliases"] for r in generalised_token_aliases(df).collect()}
    assert out["u1"] == ["UPPERFLOOR", "LEVEL", "9"]
    assert out["u2"] == ["LEVEL"]
    assert out["u3"] == ["GROUNDFLOOR", "LEVEL"]


def test_clean_addresses_with_adjacency(spark):
    rows = [
        ("u1", "1 HIGH STREET YORK", "YO1 1AA"),
        ("u2", "2 HIGH STREET YORK", "YO1 1AA"),
    ]
    df = spark.createDataFrame(rows, "unique_id string, address_concat string, postcode string")
    tf = spark.createDataFrame([("HIGH", 0.01), ("STREET", 0.02)], "token string, rel_freq double")
    out = clean_addresses(df, tf, [], derive_adjacency=True)
    cols = out.columns
    assert "distinguishing_adj_start_tokens" in cols
    assert "distinguishing_adj_token_aliases" in cols
    assert out.count() == 2
