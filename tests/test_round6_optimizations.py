"""Round-6 optimization invariants.

1. assume_pruned: the second pass may skip its idempotent re-prune when
   the caller guarantees pruned input — outputs must be row-identical.
2. The raw blocked-pairs durable checkpoint is gone: a checkpointed
   linkage writes exactly the compact pass set (resume boundary =
   pass1_candidates), never a raw pair artifact, and each pass keeps the
   schema its checkpoint.FORMAT_VERSION promises.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from uk_address_matcher_spark.blocking import block, block_on
from uk_address_matcher_spark.checkpoint import CheckpointManager
from uk_address_matcher_spark.cleaning import clean_addresses
from uk_address_matcher_spark.corpus import (
    domain_token_frequencies,
    edge_case_flat_rows,
)
from uk_address_matcher_spark.linkage import build_side_tables, link_addresses
from uk_address_matcher_spark.scoring import score_pairs
from uk_address_matcher_spark.second_pass import (
    improve_predictions_using_distinguishing_tokens,
    prune_candidates,
)


_HIST = "array<struct<tok:string,cnt:bigint,rel_freq:double>>"
_MAP = "map<string,bigint>"
# the durable pass artifacts of a checkpointed edge-corpus linkage, as
# recorded in the manifest (checkpoint.FORMAT_VERSION 4)
PASS_SCHEMAS = {
    "cleaned_all": (
        "struct<unique_id:string,numeric_token_1:string,numeric_token_2:string,"
        f"numeric_token_3:string,token_rel_freq_arr_hist:{_HIST},"
        f"common_end_tokens_hist:{_HIST},postcode:string,"
        "original_address_concat:string,flat_positional:string,"
        "flat_letter:string,unusual_tokens_arr:array<string>,"
        "very_unusual_tokens_arr:array<string>,"
        "extremely_unusual_tokens_arr:array<string>,test_block:int,"
        "__side:string>"
    ),
    "pass1_candidates": (
        "struct<unique_id_r:string,unique_id_l:string,match_weight:double,"
        "match_probability:double,original_address_concat_l:string,"
        "postcode_l:string,original_address_concat_r:string,"
        f"common_end_tokens_hist_r:{_HIST},postcode_r:string>"
    ),
    "pass2_per_pair": (
        "struct<unique_id_r:string,unique_id_l:string,match_weight:double,"
        "match_probability:double,original_address_concat_l:string,"
        "original_address_concat_r:string,postcode_l:string,postcode_r:string,"
        "tokens_l:array<string>,tokens_r:array<string>>"
    ),
    "predictions_pass2": (
        "struct<unique_id_r:string,unique_id_l:string,"
        "match_weight_original:double,match_probability:double,"
        "original_address_concat_l:string,original_address_concat_r:string,"
        f"postcode_l:string,postcode_r:string,overlapping_tokens_this_l_and_r:{_MAP},"
        f"missing_tokens:array<string>,overlapping_bigrams_this_l_and_r:{_MAP},"
        f"tokens_elsewhere_in_block_but_not_this:{_MAP},"
        f"bigrams_elsewhere_in_block_but_not_this:{_MAP},"
        f"overlapping_bigrams_this_l_and_r_filtered:{_MAP},"
        f"bigrams_elsewhere_in_block_but_not_this_filtered:{_MAP},"
        "mw_adjustment:double,match_weight:double>"
    ),
}


def _edge_sides(spark):
    rows, _ = edge_case_flat_rows()
    flat = spark.createDataFrame(
        rows,
        "unique_id string, address_concat string, postcode string, "
        "side string, test_block int",
    )
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    return canon, messy


def test_assume_pruned_skips_noop_reprune_identically(spark):
    canon, messy = _edge_sides(spark)
    side = build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))
    cl = clean_addresses(canon, side.rel_tok_freq, side.common_end_tokens).cache()
    cr = clean_addresses(messy, side.rel_tok_freq, side.common_end_tokens).cache()
    cl.count(), cr.count()
    pred = score_pairs(
        block(cl, cr, rules=block_on(["test_block"])),
        cl,
        cr,
        side.numeric_tf,
        threshold_match_weight=-50.0,
    )
    pruned = prune_candidates(pred).cache()
    pruned.count()

    def rows_of(df):
        cols = ["unique_id_r", "unique_id_l", "match_weight_original",
                "mw_adjustment", "match_weight"]
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r)
            for r in df.select(cols).collect()
        )

    with_reprune = rows_of(improve_predictions_using_distinguishing_tokens(pruned))
    without = rows_of(
        improve_predictions_using_distinguishing_tokens(pruned, assume_pruned=True)
    )
    assert with_reprune == without
    assert len(without) > 0


def test_checkpointed_linkage_writes_no_raw_pair_artifact(spark, tmp_path):
    canon, messy = _edge_sides(spark)
    side = build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))
    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    out = link_addresses(
        canon, messy, side, rules=block_on(["test_block"]), checkpointer=ck
    )
    out.count()
    passes = set(ck.manifest["passes"])
    assert "blocked_pairs" not in passes
    assert {"cleaned_all", "pass1_candidates", "pass2_per_pair",
            "predictions_pass2"} <= passes
    # a resume reads these artifacts back under the manifest's
    # format_version: any change to a pass's columns must bump it
    for name, schema in PASS_SCHEMAS.items():
        assert ck.manifest["passes"][name]["schema"] == schema, (
            f"{name}: pass schema changed: bump checkpoint.FORMAT_VERSION"
        )


def test_fused_disjointness_guard(spark):
    # 3. the disjointness check is fused into bipartite_components' first
    # driver action — same contract as the former standalone semi-join:
    # overlapping id namespaces raise, disjoint ones cluster normally
    import pytest

    from uk_address_matcher_spark.clustering import cluster_predictions

    ok = spark.createDataFrame(
        [("c1", "m1", 9.0), ("c1", "m2", 9.0), ("c2", "m3", 9.0)],
        "unique_id_l string, unique_id_r string, match_weight double",
    )
    out = {
        r["unique_id"]: r["cluster_id"]
        for r in cluster_predictions(ok, 5.0).collect()
    }
    assert out == {"c1": "c1", "m1": "c1", "m2": "c1", "c2": "c2", "m3": "c2"}

    overlapping = spark.createDataFrame(
        [("c1", "x", 9.0), ("x", "m2", 9.0)],
        "unique_id_l string, unique_id_r string, match_weight double",
    )
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    with pytest.raises(ValueError, match="BOTH sides"):
        cluster_predictions(overlapping, 5.0)
    # the raise path releases the frames it cached (a subset check: the
    # context cleaner may drop earlier tests' garbage frames meanwhile)
    assert persisted() <= before
