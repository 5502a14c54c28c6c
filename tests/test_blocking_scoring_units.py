"""Unit tests for blocking-rule compilation and scoring semantics."""

import math

import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark.blocking import BLOCKING_RULES, block, blocking_keys
from uk_address_matcher_spark.scoring import (
    PRIOR_LOG2_ODDS,
    hist_intersection_product,
    score_pairs,
)

CLEANED_SCHEMA = (
    "unique_id string, numeric_token_1 string, numeric_token_2 string,"
    " numeric_token_3 string,"
    " token_rel_freq_arr_hist array<struct<tok: string, cnt: bigint, rel_freq: double>>,"
    " common_end_tokens_hist array<struct<tok: string, cnt: bigint, rel_freq: double>>,"
    " postcode string, original_address_concat string,"
    " flat_positional string, flat_letter string,"
    " unusual_tokens_arr array<string>, very_unusual_tokens_arr array<string>,"
    " extremely_unusual_tokens_arr array<string>"
)


def _rec(uid, n1=None, n2=None, n3=None, hist=None, cet=None, pc=None, oac=None,
         fp=None, fl=None, u=(), v=(), e=()):
    return (uid, n1, n2, n3, hist, cet, pc, oac, fp, fl, list(u), list(v), list(e))


def test_rule_count_matches_reference():
    # 17 transcribed rules + block_on(postcode) appended (training.py:549)
    assert len(BLOCKING_RULES) == 18


def test_sql_kernel_matches_column_api_kernel(spark):
    """The production kernel (score_pairs: compact rows, packed histogram
    arrays, __oac_sig, __nt1_dg, __pc_area/__pc_in) and the retained
    Column-API reference over the uncompacted rows must give identical
    BFs on a pair grid covering every cascade level (nulls, exact, digit
    run, fuzzy/area/incode postcode, fallthrough, TF present/absent)."""
    from uk_address_matcher_spark.scoring import (
        _comparison_bfs_column_api,
        attach_numeric_tf,
    )

    variants = [
        _rec("v0"),  # all null
        _rec("v1", n1="10", n2="12", n3="3", pc="SW1A 2AA",
             oac="10 DOWNING STREET", fp="GROUND FLOOR", fl="A",
             hist=[("DOWNING", 1, 1e-5), ("STREET", 2, 0.02)],
             cet=[("LONDON", 1, 0.002)]),
        _rec("v2", n1="10A", n2="10", pc="SW1A 2AB", oac="OTHER",
             fl="10", hist=[("RARE", 1, 1e-9)], cet=[("YORK", 1, 0.5)]),
        _rec("v3", n1="7", pc="ZZ9 9ZZ", fp="BASEMENT",
             hist=[("DOWNING", 3, 1e-5)]),
        _rec("v4", n1="12", n3="3", pc="SW1A 9XY", oac="10 DOWNING STREET",
             hist=[("STREET", 1, 0.02), ("DOWNING", 2, 1e-5)],
             cet=[("LONDON", 2, 0.002)]),
        _rec("v5", n1="10", n2="3", pc="E1 2AA", fl="B",
             hist=[("STREET", 3, 0.02)], cet=[("LONDON", 1, 0.002)]),
    ]
    cleaned = spark.createDataFrame(variants, CLEANED_SCHEMA)
    numeric_tf = spark.createDataFrame(
        [("10", 0.01), ("12", 0.02), ("3", 0.05), ("7", 0.001)],
        "numeric_token string, tf_numeric_token double",
    )
    ids = cleaned.select("unique_id")
    pairs = ids.withColumnRenamed("unique_id", "unique_id_l").crossJoin(
        ids.withColumnRenamed("unique_id", "unique_id_r")
    )
    prod = score_pairs(pairs, cleaned, cleaned, numeric_tf, retain_bf=True)

    ref = cleaned.select([F.col(c).alias(f"{c}_l") for c in cleaned.columns]).crossJoin(
        cleaned.select([F.col(c).alias(f"{c}_r") for c in cleaned.columns])
    )
    ref = attach_numeric_tf(attach_numeric_tf(ref, numeric_tf, "_l"), numeric_tf, "_r")
    col_bfs = _comparison_bfs_column_api()
    ref = ref.select(
        "unique_id_l", "unique_id_r",
        *[col_bfs[n].alias(f"c_{n}") for n in col_bfs],
    )
    checks = prod.select(
        "unique_id_l", "unique_id_r", *[F.col(n).alias(f"s_{n}") for n in col_bfs]
    ).join(ref, ["unique_id_l", "unique_id_r"])
    assert checks.count() == len(variants) ** 2
    bad = checks.filter(
        " OR ".join(f"(s_{n} <=> c_{n}) = false" for n in col_bfs)
    ).collect()
    assert bad == []
    # the grid really reaches the levels the compact columns feed
    got = {
        n: {r[0] for r in checks.select(f"s_{n}").distinct().collect()}
        for n in col_bfs
    }
    assert {3000.0, 2000.0} <= got["bf_postcode"]
    assert len(got["bf_numeric_token_1"]) >= 4
    assert len(got["bf_token_rel_freq_arr_hist"]) >= 4


def test_null_components_emit_no_key(spark):
    df = spark.createDataFrame([_rec("a", pc="SW1A 2AA")], CLEANED_SCHEMA)
    keys = blocking_keys(df, "l").collect()
    # only rules whose every component is non-null fire: postcode-only
    # (rule 17) and nothing requiring numeric/unusual tokens
    rule_ids = {r["rule_id"] for r in keys}
    assert 17 in rule_ids
    assert all(i in (17,) for i in rule_ids)


def test_cross_column_rule_pairs(spark):
    # rule 6 (index): l.numeric_token_1 = r.numeric_token_2 AND pc = pc
    left = spark.createDataFrame([_rec("L", n1="7", pc="AA1 1AA")], CLEANED_SCHEMA)
    right = spark.createDataFrame(
        [_rec("R", n1="9", n2="7", pc="AA1 1AA")], CLEANED_SCHEMA
    )
    pairs = block(left, right).collect()
    assert [(p["unique_id_l"], p["unique_id_r"]) for p in pairs] == [("L", "R")]


def test_pair_dedup_across_rules(spark):
    # a pair matching many rules appears exactly once
    left = spark.createDataFrame(
        [_rec("L", n1="7", n2="8", pc="AA1 1AA", u=["Q", "W"], v=["Q"], e=["Q"])],
        CLEANED_SCHEMA,
    )
    right = spark.createDataFrame(
        [_rec("R", n1="7", n2="8", pc="AA1 1AA", u=["Q", "W"], v=["Q"], e=["Q"])],
        CLEANED_SCHEMA,
    )
    assert block(left, right).count() == 1


def test_hist_intersection_product(spark):
    df = spark.createDataFrame(
        [
            (
                [("A", 2, 0.1), ("B", 1, 0.5)],
                [("A", 1, 0.1), ("C", 3, 0.9)],
            )
        ],
        "hl array<struct<tok: string, cnt: bigint, rel_freq: double>>,"
        " hr array<struct<tok: string, cnt: bigint, rel_freq: double>>",
    )
    # only A overlaps: 0.1 ^ min(2,1) = 0.1
    val = df.select(
        hist_intersection_product(F.col("hl"), F.col("hr")).alias("p")
    ).collect()[0]["p"]
    assert abs(val - 0.1) < 1e-12


def test_score_weights_reconcile(spark):
    left = spark.createDataFrame(
        [_rec("L", n1="10", pc="SW1A 2AA", oac="10 DOWNING STREET",
              hist=[("DOWNING", 1, 1e-5)], cet=[("LONDON", 1, 0.02)])],
        CLEANED_SCHEMA,
    )
    right = spark.createDataFrame(
        [_rec("R", n1="10", pc="SW1A 2AA", oac="10 DOWNING STREET",
              hist=[("DOWNING", 1, 1e-5)], cet=[("LONDON", 1, 0.02)])],
        CLEANED_SCHEMA,
    )
    pairs = spark.createDataFrame([("L", "R")], "unique_id_l string, unique_id_r string")
    row = score_pairs(pairs, left, right, retain_bf=True).collect()[0]
    # weight = prior + sum(log2(bf))
    bf_sum = sum(
        math.log2(row[c]) for c in row.asDict() if c.startswith("bf_")
    )
    assert abs(row["match_weight"] - (PRIOR_LOG2_ODDS + bf_sum)) < 1e-9
    # exact everything: oac 15, postcode 3e6, n1 95.01 (no TF table), hist
    # product 1e-5 -> first true threshold '<1e-4' = weight 4 -> bf 2^4,
    # cet product 0.02 >= 1e-2 -> else 1/1.5
    assert abs(row["bf_original_address_concat"] - 15.0) < 1e-9
    assert abs(row["bf_postcode"] - 3e6) < 1e-6
    assert abs(row["bf_token_rel_freq_arr_hist"] - 2**4) < 1e-6
    assert abs(row["bf_common_end_tokens"] - 1 / 1.5) < 1e-9
    assert row["match_probability"] > 0.999


def test_score_null_levels_give_unit_bf(spark):
    left = spark.createDataFrame([_rec("L")], CLEANED_SCHEMA)
    right = spark.createDataFrame([_rec("R")], CLEANED_SCHEMA)
    pairs = spark.createDataFrame([("L", "R")], "unique_id_l string, unique_id_r string")
    row = score_pairs(pairs, left, right, retain_bf=True).collect()[0]
    for c in (
        "bf_original_address_concat",
        "bf_flat_positional",
        "bf_numeric_token_1",
        "bf_numeric_token_2",
        "bf_numeric_token_3",
        "bf_token_rel_freq_arr_hist",
        "bf_common_end_tokens",
        "bf_postcode",
    ):
        assert row[c] == 1.0, c
    assert abs(row["match_weight"] - PRIOR_LOG2_ODDS) < 1e-9
