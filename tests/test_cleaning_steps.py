"""Cleaning-step unit tests.

Golden cases ported from the reference test suite
(/root/reference/uk_address_matcher/cleaning/tests/test_cleaning_steps.py:34-111)
plus regex-battery checks for the documented first-pass transformations.
"""

import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark.cleaning import steps as S
from uk_address_matcher_spark.cleaning.pipeline import (
    clean_addresses,
    get_address_token_frequencies,
    get_common_end_tokens,
    pre_tf_sql,
)

FLAT_CASES = [
    ("11A SPITFIRE COURT 243 BIRMINGHAM", None, "A"),
    ("FLAT A 11 SPITFIRE COURT 243 BIRMINGHAM", None, "A"),
    ("BASEMENT FLAT A 11 SPITFIRE COURT 243 BIRMINGHAM", "BASEMENT", "A"),
    ("BASEMENT FLAT 11 SPITFIRE COURT 243 BIRMINGHAM", "BASEMENT", None),
    ("GARDEN FLAT 11 SPITFIRE COURT 243 BIRMINGHAM", "GARDEN", None),
    ("TOP FLOOR FLAT 12A HIGH STREET", "TOP FLOOR", "A"),
    ("GROUND FLOOR FLAT B 25 MAIN ROAD", "GROUND FLOOR", "B"),
    ("FIRST FLOOR 15B LONDON ROAD", "FIRST FLOOR", "B"),
    ("UNIT C MY HOUSE 120 MY ROAD", None, "C"),
]


def test_parse_out_flat_positional(spark):
    df = spark.createDataFrame(
        [(c[0],) for c in FLAT_CASES], "address_concat string"
    )
    pos, letter = S.parse_out_flat_position_and_letter_sql("address_concat")
    out = {
        r["address_concat"]: (r["flat_positional"], r["flat_letter"])
        for r in df.selectExpr(
            "address_concat", f"{pos} AS flat_positional", f"{letter} AS flat_letter"
        ).collect()
    }
    for addr, pos, letter in FLAT_CASES:
        assert out[addr] == (pos, letter), addr


DUP_END_CASES = [
    ("9A SOUTHVIEW ROAD SOUTHWICK LONDON LONDON", "9A SOUTHVIEW ROAD SOUTHWICK LONDON"),
    ("1 HIGH STREET ST ALBANS ST ALBANS", "1 HIGH STREET ST ALBANS"),
    (
        "2 CORINATION ROAD KINGS LANGLEY HERTFORDSHIRE HERTFORDSHIRE",
        "2 CORINATION ROAD KINGS LANGLEY HERTFORDSHIRE",
    ),
    ("FLAT 2 8 ORCHARD WAY MILTON KEYNES MILTON KEYNES", "FLAT 2 8 ORCHARD WAY MILTON KEYNES"),
    ("9 SOUTHVIEW ROAD SOUTHWICK LONDON", "9 SOUTHVIEW ROAD SOUTHWICK LONDON"),
    ("1 LONDON ROAD LONDON", "1 LONDON ROAD LONDON"),
]


def test_remove_duplicate_end_tokens(spark):
    df = spark.createDataFrame([(c[0],) for c in DUP_END_CASES], "address_concat string")
    res = df.selectExpr(
        "address_concat AS orig",
        f"{S.remove_duplicate_end_tokens_sql('address_concat')} AS address_concat",
    ).collect()
    got = {r["orig"]: r["address_concat"] for r in res}
    for inp, expected in DUP_END_CASES:
        assert got[inp] == expected, inp


FIRST_PASS_CASES = [
    # commas/periods + space collapse + trim
    ("8, CHURCH GARDENS,  CAPFIELD ", "8 CHURCH GARDENS CAPFIELD"),
    # apostrophes
    ("KING'S LANGLEY", "KINGS LANGLEY"),
    # slash -> dash then num-dash-num standardised
    ("UNIT 5/6 HIGH ST", "UNIT 5-6 HIGH ST"),
    # num - num with spaces (documented intent of regexes.py:16-39)
    ("23A - 24 HIGH ST", "23A-24 HIGH ST"),
    # letter+num separated
    ("C230 FOO ROAD", "C 230 FOO ROAD"),
    # num punct letter -> fused
    ("123-A MAIN RD", "123A MAIN RD"),
    # repeated >=4-char tokens deduped (documented intent of regexes.py:48-71)
    ("LONDON LONDON ROAD", "LONDON ROAD"),
]


def test_clean_address_string_first_pass(spark):
    df = spark.createDataFrame(
        [(c[0],) for c in FIRST_PASS_CASES], "address_concat string"
    )
    res = df.selectExpr(
        "address_concat AS orig",
        f"{S.clean_address_string_first_pass_sql('address_concat')} AS address_concat",
    ).collect()
    got = {r["orig"]: r["address_concat"] for r in res}
    for inp, expected in FIRST_PASS_CASES:
        assert got[inp] == expected, f"{inp!r} -> {got[inp]!r}"


def test_postcode_canonicalisation(spark):
    df = spark.createDataFrame(
        [("SW1A2AA",), ("SW1A 2AA",), ("GIR0AA",), ("NOT A PC",)],
        "postcode string",
    ).withColumn("address_concat", F.lit("X"))
    got = [
        r["postcode"]
        for r in df.selectExpr(
            f"{S.canonicalise_postcode_sql('postcode')} AS postcode"
        ).collect()
    ]
    assert got == ["SW1A 2AA", "SW1A 2AA", "GIR 0AA", "NOT A PC"]


def test_numeric_token_split(spark):
    df = spark.createDataFrame(
        [
            ("u1", "FLAT 2 92-92A KINGSWAY BIRMINGHAM", "A1 1AB"),
            ("u2", "BASEMENT FLAT 45 BAKER STREET LONDON", "A11 1AA"),
            ("u3", "ASHFIELDS LOVE LANE KINGS LANGLEY", "WD4 9HW"),
        ],
        "unique_id string, address_concat string, postcode string",
    )
    out = {r["unique_id"]: r for r in df.selectExpr(*pre_tf_sql(df.columns)).collect()}
    # '92-92A' -> digit runs 2, 92, 92 -> three numeric tokens
    assert (
        out["u1"]["numeric_token_1"],
        out["u1"]["numeric_token_2"],
        out["u1"]["numeric_token_3"],
    ) == ("2", "92", "92")
    assert out["u2"]["numeric_token_1"] == "45"
    assert out["u2"]["numeric_token_2"] is None
    assert out["u3"]["numeric_token_1"] is None  # no numbers at all


def _tiny_corpus(spark):
    rows = [
        ("u1", "10 DOWNING STREET WESTMINSTER LONDON", "SW1A 2AA"),
        ("u2", "11 DOWNING STREET WESTMINSTER LONDON", "SW1A 2AA"),
        ("u3", "12 ACACIA AVENUE LONDON", "SW1A 2AB"),
        ("u4", "FLAT A 12 ACACIA AVENUE LONDON", "SW1A 2AB"),
        ("u5", "9 HIGH STREET YORK", "YO1 1AA"),
    ]
    return spark.createDataFrame(
        rows, "unique_id string, address_concat string, postcode string"
    )


def test_tf_attachment_join_vs_broadcast_identical(spark):
    # the pipeline's broadcast Arrow UDF vs the join-based reference, on
    # the same pre-TF frame (tokens absent from the table take the default)
    df = _tiny_corpus(spark)
    tf = get_address_token_frequencies(df).filter(F.col("token") != "ACACIA")
    pre_tf = df.selectExpr(*pre_tf_sql(df.columns))
    attach = S.term_frequency_udf(tf)
    a = pre_tf.withColumn(
        "token_rel_freq_arr", attach("address_without_numbers_tokenised")
    ).drop("address_without_numbers_tokenised")
    b = S.add_term_frequencies(pre_tf, tf)
    ra = {r["unique_id"]: r.asDict() for r in a.collect()}
    rb = {r["unique_id"]: r.asDict() for r in b.collect()}
    assert ra == rb


def test_clean_addresses_schema_and_values(spark):
    df = _tiny_corpus(spark)
    tf = get_address_token_frequencies(df)
    cet = get_common_end_tokens(df, min_share=0.3)
    assert "LONDON" in cet
    out = {r["unique_id"]: r for r in clean_addresses(df, tf, cet).collect()}
    r1 = out["u1"]
    assert r1["numeric_token_1"] == "10"
    assert r1["original_address_concat"] == "10 DOWNING STREET WESTMINSTER LONDON"
    assert r1["postcode"] == "SW1A 2AA"
    hist = {e["tok"]: e for e in r1["token_rel_freq_arr_hist"]}
    # LONDON moved out into common_end_tokens_hist
    assert "LONDON" not in hist
    assert set(hist.keys()) == {"DOWNING", "STREET", "WESTMINSTER"}
    assert hist["DOWNING"]["cnt"] == 1
    # histogram arrays arrive tok-sorted (steps._histogram_arr contract)
    assert [e["tok"] for e in r1["token_rel_freq_arr_hist"]] == sorted(hist.keys())
    # reference-style TF pool: 19 non-numeric tokens (u4 keeps FLAT + A)
    # plus the 5 numeric tokens 10/11/12/12/9 (get_token_frequeny_table
    # list_concats numeric_token_1..3 into the pool): DOWNING appears twice
    assert abs(hist["DOWNING"]["rel_freq"] - 2 / 24) < 1e-12
    assert r1["common_end_tokens_hist"] is not None
    assert "LONDON" in {e["tok"] for e in r1["common_end_tokens_hist"]}
    # u4 has flat letter A
    assert out["u4"]["flat_letter"] == "A"


def test_empty_common_end_hist_is_null(spark):
    df = _tiny_corpus(spark)
    tf = get_address_token_frequencies(df)
    out = {
        r["unique_id"]: r
        for r in clean_addresses(df, tf, ["NOSUCHTOWN"]).collect()
    }
    # no address ends with NOSUCHTOWN -> empty list -> NULL hist (DuckDB parity)
    assert out["u1"]["common_end_tokens_hist"] is None


def test_use_first_unusual_token_when_no_number(spark):
    df = spark.createDataFrame(
        [("u1", "ASHFIELDS LOVE LANE KINGS LANGLEY", "WD4 9HW")]
        + [(f"x{i}", f"{i} LOVE LANE KINGS LANGLEY", "WD4 9HW") for i in range(20)],
        "unique_id string, address_concat string, postcode string",
    )
    # precomputed TF: ASHFIELDS absent -> default 5e-5 < 0.001 -> "unusual"
    tf = spark.createDataFrame(
        [(t, 0.25) for t in ["LOVE", "LANE", "KINGS", "LANGLEY"]],
        "token string, rel_freq double",
    )
    out = {r["unique_id"]: r for r in clean_addresses(df, tf, []).collect()}
    # ASHFIELDS is the rarest token -> becomes numeric_token_1 surrogate
    assert out["u1"]["numeric_token_1"] == "ASHFIELDS"
    assert "ASHFIELDS" not in {e["tok"] for e in out["u1"]["token_rel_freq_arr_hist"]}
