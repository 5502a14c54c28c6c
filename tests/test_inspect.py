"""FP drill-down report (inspect.py port of accuracy_from_labels.py:30-291)."""

import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark.best_match import best_matches_with_distinguishability
from uk_address_matcher_spark.blocking import block_on
from uk_address_matcher_spark.cleaning import clean_addresses
from uk_address_matcher_spark.corpus import domain_token_frequencies, edge_case_flat_rows
from uk_address_matcher_spark.inspect import (
    find_nth_false_positive,
    inspect_match_results_vs_labels,
)
from uk_address_matcher_spark.linkage import build_side_tables, link_addresses


def test_inspect_false_positive_report(spark):
    rows, labels = edge_case_flat_rows()
    flat = spark.createDataFrame(
        rows,
        "unique_id string, address_concat string, postcode string, "
        "side string, test_block int",
    )
    lab = spark.createDataFrame(
        labels, "unique_id string, correct_unique_id string, block int"
    )
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    side = build_side_tables(
        spark,
        flat.drop("side", "test_block"),
        common_end_min_share=0.05,
        rel_tok_freq=domain_token_frequencies(spark),
    )
    improved = link_addresses(
        canon, messy, side, rules=block_on(["test_block"])
    ).cache()
    with_dist = best_matches_with_distinguishability(
        improved, messy, best_match_only=False
    )

    # the pipeline mis-assigns blocks 6/7/21 -> at least one FP exists
    fp = find_nth_false_positive(lab, with_dist, 1)
    assert fp is not None and fp.startswith("m")

    cl = clean_addresses(canon, side.rel_tok_freq, side.common_end_tokens)
    cr = clean_addresses(messy, side.rel_tok_freq, side.common_end_tokens)
    res = inspect_match_results_vs_labels(
        lab,
        improved,
        with_dist,
        canon,
        df_messy_clean=cr,
        df_canonical_clean=cl,
    )
    assert res is not None and res.unique_id_r == fp
    assert "Messy address:" in res.report
    assert "Best match" in res.report and "True match" in res.report
    top = res.top_matches.collect()
    assert 1 <= len(top) <= 10
    # the correct candidate is flagged when present in the panel
    assert any("[CORRECT]" in (r["address_concat_l"] or "") for r in top)
    panel = {r["record_type"] for r in res.cleaned_panel.collect()}
    assert panel == {"Messy", "Best Match", "True Match"}


def test_inspect_explicit_id(spark):
    rows, labels = edge_case_flat_rows()
    flat = spark.createDataFrame(
        rows,
        "unique_id string, address_concat string, postcode string, "
        "side string, test_block int",
    )
    lab = spark.createDataFrame(
        labels, "unique_id string, correct_unique_id string, block int"
    )
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    side = build_side_tables(
        spark,
        flat.drop("side", "test_block"),
        common_end_min_share=0.05,
        rel_tok_freq=domain_token_frequencies(spark),
    )
    improved = link_addresses(
        canon, messy, side, rules=block_on(["test_block"])
    ).cache()
    with_dist = best_matches_with_distinguishability(
        improved, messy, best_match_only=False
    )
    res = inspect_match_results_vs_labels(
        lab, improved, with_dist, canon, unique_id_r="m1-0"
    )
    assert res.unique_id_r == "m1-0"
    assert res.cleaned_panel is None  # cleaned tables not passed


def test_pair_evidence_waterfall(spark):
    """pair_evidence returns the per-comparison BF ladder: prior first,
    one row per comparison, cumulative log2 ending at match_weight."""
    from uk_address_matcher_spark.corpus import domain_token_frequencies, edge_case_flat_rows
    from uk_address_matcher_spark.blocking import block_on
    from uk_address_matcher_spark.inspect import pair_evidence
    from uk_address_matcher_spark.linkage import build_side_tables
    from uk_address_matcher_spark.cleaning import clean_addresses
    from uk_address_matcher_spark.scoring import predict
    from pyspark.sql import functions as F

    rows, _ = edge_case_flat_rows()
    flat = spark.createDataFrame(
        rows,
        "unique_id string, address_concat string, postcode string, "
        "side string, test_block int",
    )
    side = build_side_tables(
        spark, flat.drop("side", "test_block"), common_end_min_share=0.05,
        rel_tok_freq=domain_token_frequencies(spark),
    )
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    cl = clean_addresses(canon, side.rel_tok_freq, side.common_end_tokens).cache()
    cr = clean_addresses(messy, side.rel_tok_freq, side.common_end_tokens).cache()
    pred = predict(cl, cr, side.numeric_tf, rules=block_on(["test_block"]), retain_bf=True)
    one = pred.limit(1).collect()[0]
    ev = pair_evidence(pred, one["unique_id_l"], one["unique_id_r"]).collect()
    assert ev[0]["comparison"] == "prior"
    assert len(ev) == 9  # prior + 8 comparisons
    assert [r["seq"] for r in ev] == list(range(9))
    assert abs(ev[-1]["cumulative_log2"] - one["match_weight"]) < 1e-9


@pytest.mark.parametrize("order", [["a", "b", "c"], ["b", "a", "c"], ["c", "b", "a"]])
def test_tied_best_match_ignores_arrival_order(spark, order):
    """Two candidates tie on the top weight: the best match is the lower
    unique_id_l, its runner-up is the other tied candidate (so the
    distinguishability is 0), and the drill-down agrees with it, in
    whatever order the rows arrive."""
    weights = {"a": 10.0, "b": 10.0, "c": 5.0}
    pred = spark.createDataFrame(
        [("r1", l, weights[l], f"{l} ST", "W1A") for l in order],
        "unique_id_r string, unique_id_l string, match_weight double, "
        "original_address_concat_l string, postcode_l string",
    ).coalesce(1)
    messy = spark.createDataFrame(
        [("r1", "A ST", "W1A")], "unique_id string, address_concat string, postcode string"
    )
    best = [
        (r["unique_id_l"], r["distinguishability"], r["distinguishability_category"])
        for r in best_matches_with_distinguishability(pred, messy).collect()
    ]
    assert best == [("a", 0.0, "06.: Distinguishability = 0")]

    with_dist = best_matches_with_distinguishability(pred, messy, best_match_only=False)
    lab = spark.createDataFrame(
        [("r1", "b")], "unique_id string, correct_unique_id string"
    )
    # the label names the tied runner-up, so the best match (a) is wrong
    assert find_nth_false_positive(lab, with_dist, 1) == "r1"
