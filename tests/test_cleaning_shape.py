"""Cleaning builds one projection per stage.

``clean_addresses`` is four DataFrame calls plus the collect of the TF
table, and the side-table job evaluates the first-pass regex chain once
per corpus row, whichever TF branch it takes.
"""

from __future__ import annotations

import functools
import inspect
from collections import Counter

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from uk_address_matcher_spark.cleaning import clean_addresses
from uk_address_matcher_spark.corpus import (
    domain_token_frequencies,
    edge_case_documents,
    grid_documents,
)
from uk_address_matcher_spark.extract import extract_addresses
from uk_address_matcher_spark.linkage import build_side_tables


@pytest.fixture(scope="module")
def edge_flat(spark):
    docs, _ = edge_case_documents(spark)
    return extract_addresses(docs)


def _count_dataframe_calls(monkeypatch) -> Counter:
    """Count top-level calls of public DataFrame methods (a method that
    calls another counts once)."""
    calls: Counter = Counter()
    depth = [0]

    def wrap(name, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            if depth[0] == 0:
                calls[name] += 1
            depth[0] += 1
            try:
                return fn(*args, **kwargs)
            finally:
                depth[0] -= 1

        return counted

    for name in dir(DataFrame):
        attr = inspect.getattr_static(DataFrame, name)
        if not name.startswith("_") and inspect.isfunction(attr):
            monkeypatch.setattr(DataFrame, name, wrap(name, attr))
    return calls


def test_clean_addresses_is_four_dataframe_calls(spark, edge_flat, monkeypatch):
    side = build_side_tables(
        spark, edge_flat, rel_tok_freq=domain_token_frequencies(spark)
    )
    calls = _count_dataframe_calls(monkeypatch)
    clean_addresses(edge_flat, side.rel_tok_freq, side.common_end_tokens)
    assert calls["collect"] == 1  # the TF table, for the broadcast UDF
    assert sum(calls.values()) - calls["collect"] <= 4, dict(calls)


def _first_pass_chains(plan: str) -> int:
    # the chain opens with remove_commas_periods_sql: regexp_replace(x, '[,.]', ' ')
    return plan.count(", [,.],  , 1)")


@pytest.mark.parametrize("precomputed_tf", [False, True])
def test_side_tables_run_one_first_pass_chain(spark, monkeypatch, precomputed_tf):
    # a generated corpus: the optimizer folds a projection over a local
    # relation (the edge corpus) into a new local relation
    canon_docs, _, _ = grid_documents(spark, 200, dup_factor=1)
    corpus = extract_addresses(canon_docs)
    tf = domain_token_frequencies(spark) if precomputed_tf else None
    plans = []
    collect = DataFrame.collect

    def recording_collect(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if "Aggregate" in plan:
            plans.append(plan)
        return collect(df)

    monkeypatch.setattr(DataFrame, "collect", recording_collect)
    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        build_side_tables(spark, corpus, rel_tok_freq=tf)
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    assert len(plans) == 1
    assert _first_pass_chains(plans[0]) == 1
