"""Repeat linkage runs reuse the classes the first run compiled.

One link_addresses + cluster_predictions run generates ~180 distinct
classes; get_spark sizes Spark's compiled-class cache above that, so a
second identical run compiles almost nothing. With Spark's default
100-entry cache every class misses again (~140 compilations here, 177 per
benchmark unit)."""

import pytest

from uk_address_matcher_spark import scoring
from uk_address_matcher_spark.clustering import cluster_predictions
from uk_address_matcher_spark.corpus import domain_token_frequencies, grid_documents
from uk_address_matcher_spark.extract import extract_addresses
from uk_address_matcher_spark.linkage import build_side_tables, link_addresses
from uk_address_matcher_spark.session import codegen_compilations


@pytest.fixture(scope="module")
def inputs(spark):
    canon_docs, messy_docs, _ = grid_documents(spark, 200, dup_factor=1)
    canon = extract_addresses(canon_docs).cache()
    messy = extract_addresses(messy_docs).cache()
    canon.count(), messy.count()
    side = build_side_tables(
        spark, canon, rel_tok_freq=domain_token_frequencies(spark)
    )
    yield canon, messy, side
    canon.unpersist()
    messy.unpersist()


def _run(canon, messy, side):
    """One in-memory linkage (second pass on) + clustering, materialised."""
    pred = link_addresses(canon, messy, side)
    slim = pred.select("unique_id_l", "unique_id_r", "match_weight")
    rows = sorted(tuple(r) for r in slim.collect())
    clusters = sorted(tuple(r) for r in cluster_predictions(slim, 5.0).collect())
    return rows, clusters


@pytest.fixture(scope="module")
def first_run(inputs):
    return _run(*inputs)


def test_second_run_reuses_compiled_classes(spark, inputs, first_run):
    before = codegen_compilations(spark)
    second = _run(*inputs)
    compiled = codegen_compilations(spark) - before
    # 2 in most runs. AQE creates one query's stages in a timing-dependent
    # order, and the stage number is part of the generated source, so the
    # first run that sees the other order recompiles those 7 stages (16
    # compilations in all); the default 100-entry cache gives ~140
    assert compiled <= 30, compiled
    assert second == first_run
    assert len(second[0]) > 0 and len(second[1]) > 0


def test_broadcast_gate_probed_once(spark, inputs, first_run, monkeypatch):
    calls = []
    probe = scoring._sides_broadcastable

    def counted(cl, cr):
        calls.append(1)
        return probe(cl, cr)

    monkeypatch.setattr(scoring, "_sides_broadcastable", counted)
    assert _run(*inputs) == first_run
    # link_addresses makes one link_cleaned call
    assert len(calls) == 1
