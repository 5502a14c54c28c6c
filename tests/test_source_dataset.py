"""source_dataset contract, ported from the reference's
tests/test_source_dataset.py:

 - inputs carrying a ``source_dataset`` column are rejected
   (splink_model.py:38-46)
 - every output pair carries source_dataset_l='c_' / source_dataset_r='m_'
   regardless of input provenance (test_source_dataset.py:74-87)
"""

import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark.blocking import block_on
from uk_address_matcher_spark.corpus import domain_token_frequencies, edge_case_flat_rows
from uk_address_matcher_spark.linkage import build_side_tables, link_addresses


def _edge(spark):
    rows, _ = edge_case_flat_rows()
    return spark.createDataFrame(
        rows,
        "unique_id string, address_concat string, postcode string, "
        "side string, test_block int",
    )


def test_output_pairs_tagged_c_and_m(spark):
    flat = _edge(spark)
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    side = build_side_tables(
        spark,
        flat.drop("side", "test_block"),
        common_end_min_share=0.05,
        rel_tok_freq=domain_token_frequencies(spark),
    )
    pred = link_addresses(canon, messy, side, rules=block_on(["test_block"]))
    tags = pred.select("source_dataset_l", "source_dataset_r").distinct().collect()
    assert len(tags) == 1
    assert tags[0]["source_dataset_l"] == "c_"
    assert tags[0]["source_dataset_r"] == "m_"


def test_input_with_source_dataset_rejected(spark):
    flat = _edge(spark)
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    side = build_side_tables(
        spark,
        flat.drop("side", "test_block"),
        common_end_min_share=0.05,
        rel_tok_freq=domain_token_frequencies(spark),
    )
    poisoned = messy.withColumn("source_dataset", F.lit("user_tag"))
    with pytest.raises(ValueError, match="source_dataset"):
        link_addresses(canon, poisoned, side, rules=block_on(["test_block"]))
    poisoned_c = canon.withColumn("source_dataset", F.lit("x"))
    with pytest.raises(ValueError, match="source_dataset"):
        link_addresses(poisoned_c, messy, side, rules=block_on(["test_block"]))
