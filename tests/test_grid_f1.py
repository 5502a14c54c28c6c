"""Headline metric gate: pairwise F1 >= 0.99 on the labeled volume corpus
(BASELINE.json target) with the full 18-rule blocking and the domain TF
table — the reference's precomputed-TF path."""

import hashlib

import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark.corpus import domain_token_frequencies, grid_documents
from uk_address_matcher_spark.evaluate import pairwise_f1
from uk_address_matcher_spark.extract import extract_addresses
from uk_address_matcher_spark.linkage import build_side_tables, link_addresses


@pytest.fixture(scope="module")
def grid_inputs(spark):
    canon_docs, messy_docs, labels = grid_documents(spark, 3000, dup_factor=1)
    canon = extract_addresses(canon_docs).cache()
    messy = extract_addresses(messy_docs).cache()
    side = build_side_tables(
        spark, canon, rel_tok_freq=domain_token_frequencies(spark)
    )
    return labels, canon, messy, side


@pytest.fixture(scope="module")
def grid_run(grid_inputs):
    labels, canon, messy, side = grid_inputs
    improved = link_addresses(canon, messy, side).cache()
    return labels, improved


def test_pairwise_f1_meets_target(spark, grid_run):
    labels, improved = grid_run
    res = pairwise_f1(labels, improved)
    assert res["precision"] >= 0.99, res
    assert res["f1"] >= 0.99, res


# exact output pin: prediction count and the order-independent checksum
# perfbench uses (each weight rounded to a fixed decimal before summing)
GOLDEN_PREDICTIONS = 14588
GOLDEN_WEIGHT_SUM = "-12274.083164345"


def test_golden_output_pin(spark, grid_run):
    _, improved = grid_run
    r = improved.agg(
        F.count("*").alias("n"),
        F.sum(F.col("match_weight").cast("decimal(38,9)")).alias("s"),
    ).collect()[0]
    assert (r["n"], str(r["s"])) == (GOLDEN_PREDICTIONS, GOLDEN_WEIGHT_SUM)


# full-row pin: the row count and the md5 over every column of every
# sorted row, maps as sorted item lists and doubles by exact repr — the
# weight checksum above cannot see the second pass's map columns
GOLDEN_ROWS_MD5 = "31708d353adc45586f4e7c19b598e14d"


def _rows_digest(df) -> tuple[int, str]:
    def canon(v):
        if isinstance(v, dict):
            return sorted((k, canon(x)) for k, x in v.items())
        if isinstance(v, (list, tuple)):
            return [canon(x) for x in v]
        return v

    rows = sorted(repr([canon(v) for v in r]) for r in df.collect())
    return len(rows), hashlib.md5("\n".join(rows).encode()).hexdigest()


def test_golden_full_rows(spark, grid_run):
    _, improved = grid_run
    assert _rows_digest(improved) == (GOLDEN_PREDICTIONS, GOLDEN_ROWS_MD5)


def test_postcode_locality_same_output(spark, grid_inputs, grid_run):
    """Range-partitioning the inputs by postcode
    (sources.repartition_by_postcode_locality) is a pure layout change:
    the same predictions and the same exact weight checksum."""
    from uk_address_matcher_spark.sources import repartition_by_postcode_locality

    _, canon, messy, side = grid_inputs
    _, improved = grid_run

    def pin(pred):
        r = pred.agg(
            F.count("*").alias("n"),
            F.sum(F.col("match_weight").cast("decimal(38,9)")).alias("s"),
        ).collect()[0]
        return r["n"], str(r["s"])

    local = link_addresses(
        repartition_by_postcode_locality(canon),
        repartition_by_postcode_locality(messy),
        side,
    )
    assert pin(local) == pin(improved)


def test_salted_blocking_same_result(spark, grid_run):
    # explicit salting must not change the candidate-pair set
    from uk_address_matcher_spark.blocking import block
    from uk_address_matcher_spark.cleaning import clean_addresses
    from uk_address_matcher_spark.corpus import domain_token_frequencies

    canon_docs, messy_docs, _ = grid_documents(spark, 1000, dup_factor=1)
    canon = extract_addresses(canon_docs)
    messy = extract_addresses(messy_docs)
    side = build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))
    cl = clean_addresses(canon, side.rel_tok_freq, side.common_end_tokens).cache()
    cr = clean_addresses(messy, side.rel_tok_freq, side.common_end_tokens).cache()
    plain = block(cl, cr)
    salted = block(cl, cr, salt=4)
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0


def test_salted_blocking_same_result_under_zipf_skew(spark):
    """Salting must be a pure physical-layout change even on the worst
    case it exists for: a Zipf-skewed corpus where 10% of rows share a
    handful of postcodes (hot keys hit blocking rule 18 quadratically)."""
    from uk_address_matcher_spark.blocking import block
    from uk_address_matcher_spark.cleaning import clean_addresses
    from uk_address_matcher_spark.corpus import (
        domain_token_frequencies,
        grid_canonical_flat,
        messy_from_canonical,
        skew_postcodes,
    )

    canon = skew_postcodes(
        grid_canonical_flat(spark, 2000), n_hot=5, hot_share=0.10
    )
    messy, _ = messy_from_canonical(canon, dup_factor=1)
    side = build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))
    cl = clean_addresses(canon, side.rel_tok_freq, side.common_end_tokens).cache()
    cr = clean_addresses(messy, side.rel_tok_freq, side.common_end_tokens).cache()
    # skew really present: the biggest postcode block dwarfs the median
    sizes = sorted(
        r["n"] for r in cl.groupBy("postcode").agg(F.count("*").alias("n")).collect()
    )
    assert sizes[-1] >= 20 * sizes[len(sizes) // 2], sizes[-5:]
    plain = block(cl, cr)
    salted = block(cl, cr, salt=8)
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
