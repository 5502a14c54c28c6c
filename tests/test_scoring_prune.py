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


SCORED = ["unique_id_l", "unique_id_r", "match_weight", "match_probability"]


def _rows(df):
    cols = SCORED + sorted(c for c in df.columns if c.startswith("bf_"))
    return sorted(tuple(r) for r in df.select(cols).collect())


def test_fused_prune_matches_external_prune(spark, scoring_inputs):
    """prune_top_n must be exactly prune_candidates applied to the full
    scored output (the contract linkage relies on); under retain_bf the
    Bayes factors ride through the window unchanged."""
    pairs, cl, cr, ntf = scoring_inputs
    for retain_bf in (False, True):
        full = score_pairs(
            pairs, cl, cr, ntf,
            threshold_match_weight=-50.0, attach_display=False, retain_bf=retain_bf,
        )
        pruned_ext = prune_candidates(full, -20.0, 5)
        fused = score_pairs(
            pairs, cl, cr, ntf,
            threshold_match_weight=-50.0, attach_display=False, retain_bf=retain_bf,
            prune_top_n=(-20.0, 5),
        )
        assert sum(c.startswith("bf_") for c in fused.columns) == (8 if retain_bf else 0)
        assert _rows(pruned_ext) == _rows(fused)


def _pair_joins(df) -> int:
    """Join nodes in the optimized plan whose output holds both ids, i.e.
    joins evaluated once per candidate pair rather than once per record."""
    n, stack = 0, [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        names, it = set(), node.output().iterator()
        while it.hasNext():
            names.add(it.next().name())
        if node.nodeName() == "Join" and {"unique_id_l", "unique_id_r"} <= names:
            n += 1
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return n


def test_numeric_tf_is_attached_per_record(spark, scoring_inputs):
    """Only the two side-attach joins run on pair rows: the numeric TF
    lookups join the per-record sides before the pair join."""
    pairs, cl, cr, ntf = scoring_inputs
    scored = score_pairs(
        pairs, cl, cr, ntf, threshold_match_weight=-50.0, attach_display=False
    )
    assert _pair_joins(scored) == 2


@pytest.mark.parametrize("prune_top_n", [None, (-20.0, 5)])
def test_compact_output_is_ids_weight_probability(spark, scoring_inputs, prune_top_n):
    pairs, cl, cr, ntf = scoring_inputs
    scored = score_pairs(
        pairs, cl, cr, ntf, threshold_match_weight=-50.0,
        attach_display=False, prune_top_n=prune_top_n,
    )
    assert scored.columns == SCORED
