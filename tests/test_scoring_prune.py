"""Fused top-n prune: score_pairs(prune_top_n=...) must equal
prune_candidates over the full scored output (same pairs, bit-identical
weights) — the contract linkage relies on."""

import pytest

from uk_address_matcher_spark.blocking import block
from uk_address_matcher_spark.cleaning import clean_addresses
from uk_address_matcher_spark.corpus import domain_token_frequencies, grid_documents
from uk_address_matcher_spark.extract import extract_addresses
from uk_address_matcher_spark.linkage import build_side_tables
from uk_address_matcher_spark.scoring import score_pairs
from uk_address_matcher_spark.second_pass import prune_candidates


@pytest.fixture(scope="module")
def scoring_inputs(spark):
    canon_docs, messy_docs, _ = grid_documents(spark, 3000, dup_factor=1)
    canon = extract_addresses(canon_docs)
    messy = extract_addresses(messy_docs)
    side = build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))
    cl = clean_addresses(canon, side.rel_tok_freq, side.common_end_tokens).cache()
    cr = clean_addresses(messy, side.rel_tok_freq, side.common_end_tokens).cache()
    cl.count(), cr.count()
    pairs = block(cl, cr).cache()
    pairs.count()
    return pairs, cl, cr, side.numeric_tf


def _rows(df):
    return sorted(
        (r["unique_id_l"], r["unique_id_r"], r["match_weight"], r["match_probability"])
        for r in df.select(
            "unique_id_l", "unique_id_r", "match_weight", "match_probability"
        ).collect()
    )


def test_fused_prune_matches_external_prune(spark, scoring_inputs):
    """prune_top_n must be exactly prune_candidates applied to the full
    scored output (the contract linkage relies on)."""
    pairs, cl, cr, ntf = scoring_inputs
    full = score_pairs(
        pairs, cl, cr, ntf,
        threshold_match_weight=-50.0, attach_display=False,
    )
    pruned_ext = prune_candidates(full, -20.0, 5)
    fused = score_pairs(
        pairs, cl, cr, ntf,
        threshold_match_weight=-50.0, attach_display=False,
        prune_top_n=(-20.0, 5),
    )
    assert _rows(pruned_ext) == _rows(fused)
