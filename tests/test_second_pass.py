"""Second-pass component tests — golden map contents.

Scenarios ported from /root/reference/tests/test_bigrams.py:155-246.
Bigram map keys here are 'A B' strings (see second_pass.py docstring),
so the reference's tuple keys ('10','X') become '10 X'.
"""

from pyspark.sql import functions as F

from uk_address_matcher_spark.second_pass import (
    improve_predictions_using_distinguishing_tokens,
)

PAIR_SCHEMA = (
    "match_weight double, match_probability double, unique_id_l string,"
    " unique_id_r string, original_address_concat_l string,"
    " original_address_concat_r string,"
    " common_end_tokens_hist_r array<struct<tok: string, cnt: bigint, rel_freq: double>>,"
    " postcode_l string, postcode_r string"
)


def _pairs(spark, messy, canonicals, common_end_token=None):
    hist = [(common_end_token, 1, 0.0004)] if common_end_token else None
    rows = [
        (0.0, 0.5, f"l{i}", "r1", c, messy, hist, "W1A", "W1A")
        for i, c in enumerate(canonicals, start=1)
    ]
    return spark.createDataFrame(rows, PAIR_SCHEMA)


def _run(spark, messy, canonicals, common_end_token=None):
    df = _pairs(spark, messy, canonicals, common_end_token)
    out = improve_predictions_using_distinguishing_tokens(
        df, match_weight_threshold=-100, top_n_matches=5
    )
    return {r["unique_id_l"]: r.asDict() for r in out.collect()}


def test_scenario_one(spark):
    res = _run(spark, "10 X Y Z", ["10 X Y Z", "9 X Y Z"], common_end_token="D")
    l1, l2 = res["l1"], res["l2"]
    assert l1["overlapping_tokens_this_l_and_r"]["10"] == 1
    assert l1["overlapping_bigrams_this_l_and_r_filtered"]["10 X"] == 1
    assert l2["tokens_elsewhere_in_block_but_not_this"]["10"] == 1


def test_scenario_two(spark):
    res = _run(
        spark,
        "9 A B C D",
        ["9 A C D", "9 B C D", "8 B A C D Z"],
        common_end_token="D",
    )
    l1, l2, l3 = res["l1"], res["l2"], res["l3"]
    assert l1["overlapping_tokens_this_l_and_r"]["A"] == 2
    assert l1["overlapping_tokens_this_l_and_r"]["9"] == 2
    assert "D" not in l1["overlapping_tokens_this_l_and_r"]
    assert l1["overlapping_bigrams_this_l_and_r_filtered"]["9 A"] == 1
    assert l2["overlapping_bigrams_this_l_and_r_filtered"]["B C"] == 1
    assert l3["bigrams_elsewhere_in_block_but_not_this_filtered"]["9 A"] == 1


def test_scenario_three(spark):
    res = _run(
        spark,
        "1 HIGH STREET BOVINGDON",
        ["1 HIGH STREET BOVINGDON", "THE ANNEXE 1 HIGH STREET BOVINGDON"],
    )
    l1, l2 = res["l1"], res["l2"]
    assert l1["overlapping_tokens_this_l_and_r"]["HIGH"] == 2
    assert l1["overlapping_tokens_this_l_and_r"]["STREET"] == 2
    assert l2["missing_tokens"] == ["THE", "ANNEXE"]


def test_adjustment_arithmetic(spark):
    # exact duplicate candidate: all tokens overlap with count 1 (plus pc),
    # no elsewhere tokens, no missing -> adjustment = 3*sum(1/1) + 3*bigrams
    res = _run(spark, "10 X Y", ["10 X Y"])
    l1 = res["l1"]
    # tokens: 10, X, Y, W1A (postcode) each cnt 1 -> reward 4*3 = 12
    # bigrams: '10 X','X Y','Y W1A' each cnt 1 but all explained by unigrams
    # (unigram counts 1 <= bigram count 1) -> filtered out -> no bigram term
    assert l1["overlapping_bigrams_this_l_and_r_filtered"] == {}
    assert abs(l1["mw_adjustment"] - 12.0) < 1e-9
    assert l1["match_weight"] == l1["match_weight_original"] + l1["mw_adjustment"]
