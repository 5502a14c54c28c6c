"""Clustering convergence + checkpoint/resume tests."""

import os

import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark.checkpoint import CheckpointManager
from uk_address_matcher_spark.clustering import (
    cluster_predictions,
    connected_components,
)


def test_connected_components_chain(spark):
    # chain a-b-c-d plus isolated pair x-y: two components
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_connected_components_deterministic_cluster_ids(spark):
    edges = spark.createDataFrame(
        [("m2", "c9"), ("c9", "m7"), ("m7", "c1")], "src string, dst string"
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(cc.values()) == {"c1"}  # lexicographic min of the component


def test_cluster_predictions_threshold(spark):
    pred = spark.createDataFrame(
        [
            ("c1", "m1", 20.0),
            ("c1", "m2", 20.0),
            ("c2", "m3", 20.0),
            ("c3", "m9", -5.0),  # below threshold: excluded
        ],
        "unique_id_l string, unique_id_r string, match_weight double",
    )
    out = {r["unique_id"]: r["cluster_id"] for r in cluster_predictions(pred, 5.0).collect()}
    assert out["m1"] == "c1" and out["m2"] == "c1" and out["c1"] == "c1"
    assert out["m3"] == "c2"
    assert "m9" not in out and "c3" not in out


def test_cluster_predictions_all_below_threshold(spark):
    pred = spark.createDataFrame(
        [("c1", "m1", 1.0), ("c2", "m1", -3.0)],
        "unique_id_l string, unique_id_r string, match_weight double",
    )
    assert cluster_predictions(pred, 5.0).count() == 0


def test_checkpoint_manifest_and_resume(spark, tmp_path):
    base = str(tmp_path / "ckpt")
    ck = CheckpointManager(spark, base)
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = ck.checkpoint(df, "pass_a")
    assert out.count() == 100
    assert ck.has("pass_a")
    m = ck.manifest["passes"]["pass_a"]
    assert m["metrics"]["n_rows"] == 100
    assert m["metrics"]["n_partitions"] >= 1
    assert os.path.exists(os.path.join(base, "_manifest.json"))

    # resume: a new manager must serve the stored data without rewriting
    ck2 = CheckpointManager(spark, base, resume=True)
    before_mtime = os.path.getmtime(os.path.join(base, "_manifest.json"))
    out2 = ck2.checkpoint(spark.range(5).withColumn("v", F.lit(0)), "pass_a")
    assert out2.count() == 100  # stored result, not the new 5-row frame
    assert os.path.getmtime(os.path.join(base, "_manifest.json")) == before_mtime


def test_checkpoint_keeps_caller_job_description(spark, tmp_path):
    """checkpoint() labels its own jobs ``pass:<name>`` and then hands the
    caller's job description back instead of clearing it."""
    sc = spark.sparkContext
    ck = CheckpointManager(spark, str(tmp_path / "desc"))
    sc.setJobDescription("outer")
    try:
        ck.checkpoint(spark.range(10), "pass_a")
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)


def test_resume_refuses_cross_format_version(spark, tmp_path):
    import json

    import pytest

    from uk_address_matcher_spark.checkpoint import FORMAT_VERSION

    base = str(tmp_path / "old_ckpt")
    ck = CheckpointManager(spark, base)
    ck.checkpoint(spark.range(3), "pass_a")
    # simulate a manifest written by an older code version
    mp = os.path.join(base, "_manifest.json")
    m = json.load(open(mp))
    m["format_version"] = FORMAT_VERSION - 1
    json.dump(m, open(mp, "w"))
    with pytest.raises(ValueError, match="format_version"):
        CheckpointManager(spark, base, resume=True)
    # non-resume rebuild is allowed and stamps the current version
    ck3 = CheckpointManager(spark, base)
    assert ck3.manifest["format_version"] == FORMAT_VERSION


def test_second_pass_resumes_from_pass2_per_pair(spark, tmp_path):
    """Kill-between-passes contract: with a checkpointer, the rescoring
    pass persists its per_pair barrier durably, and a resumed run serves
    pass 1 AND pass2_per_pair from storage instead of recomputing."""
    from uk_address_matcher_spark.blocking import block_on
    from uk_address_matcher_spark.corpus import (
        domain_token_frequencies,
        edge_case_flat_rows,
    )
    from uk_address_matcher_spark.linkage import build_side_tables, link_addresses

    rows, _ = edge_case_flat_rows()
    flat = spark.createDataFrame(
        rows,
        "unique_id string, address_concat string, postcode string, side string, test_block int",
    )
    # side values in the edge corpus are 'c'/'m' (a previous revision
    # filtered on 'canonical'/'messy', which silently ran this test on
    # EMPTY frames and made the resume assertion vacuous — hence the
    # n1 > 0 guard below)
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    side = build_side_tables(
        spark, canon, rel_tok_freq=domain_token_frequencies(spark)
    )
    base = str(tmp_path / "link_ck")
    ck = CheckpointManager(spark, base)
    out1 = link_addresses(
        canon, messy, side, rules=block_on(["test_block"]), checkpointer=ck
    )
    n1 = out1.count()
    assert n1 > 0, "edge corpus must produce predictions"
    assert ck.has("pass1_candidates") and ck.has("pass2_per_pair")

    # "killed after pass 2's barrier": a resume run must reuse both
    # stored passes — corrupt the inputs so any recompute would differ
    ck2 = CheckpointManager(spark, base, resume=True)
    out2 = link_addresses(
        canon.limit(0), messy.limit(0), side, rules=block_on(["test_block"]),
        checkpointer=ck2,
    )
    assert out2.count() == n1, "resume must serve stored pass artifacts"


def test_connected_components_with_checkpointer(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path / "cc"))
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("p", "q")], "src string, dst string"
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges, checkpointer=ck).collect()}
    assert cc["c"] == "a" and cc["q"] == "p"
    assert any(k.startswith("cc_iter_") for k in ck.manifest["passes"])


def _assert_bipartite_matches_general_cc(spark, **kw):
    # random-ish bipartite graph incl. a chain c0-m0-c1-m1-...-c5 (tests
    # multi-round convergence) and isolated stars
    from uk_address_matcher_spark.clustering import bipartite_components

    chain = [(f"c{i}", f"m{i}") for i in range(6)] + [
        (f"c{i + 1}", f"m{i}") for i in range(5)
    ]
    stars = [("c100", f"m10{j}") for j in range(4)] + [("c200", "m300")]
    edges = spark.createDataFrame(chain + stars, "src string, dst string")
    bi = {r["node"]: r["component"] for r in bipartite_components(edges, **kw).collect()}
    gen = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert bi == gen
    assert bi["c5"] == "c0" and bi["m4"] == "c0"
    assert bi["m103"] == "c100"


def test_bipartite_components_matches_general_cc(spark):
    _assert_bipartite_matches_general_cc(spark)


@pytest.mark.parametrize("driver_merge_limit", [2, 0])
def test_bipartite_components_forced_rounds_match_general_cc(spark, driver_merge_limit):
    # a small driver merge limit sends the merges through distributed
    # rounds; 0 forces every merge there
    _assert_bipartite_matches_general_cc(spark, driver_merge_limit=driver_merge_limit)


def test_bipartite_components_with_checkpointer(spark, tmp_path):
    from uk_address_matcher_spark.checkpoint import CheckpointManager
    from uk_address_matcher_spark.clustering import bipartite_components

    ck = CheckpointManager(spark, str(tmp_path / "bcc"))
    edges = spark.createDataFrame(
        [("c1", "m1"), ("c2", "m1"), ("c9", "m9")], "src string, dst string"
    )
    cc = {r["node"]: r["component"] for r in bipartite_components(edges, checkpointer=ck).collect()}
    assert cc == {"c1": "c1", "c2": "c1", "m1": "c1", "c9": "c9", "m9": "c9"}
    assert any(k.startswith("bcc_round_") for k in ck.manifest["passes"])


def test_bipartite_components_distributed_round_checkpointed(spark, tmp_path):
    # driver_merge_limit=0: the first merge cannot go to the driver, so
    # round 0 runs a distributed hop, durably checkpointed
    from uk_address_matcher_spark.clustering import bipartite_components

    ck = CheckpointManager(spark, str(tmp_path / "bcc0"))
    edges = spark.createDataFrame(
        [("c1", "m1"), ("c2", "m1"), ("c2", "m2"), ("c3", "m2"), ("c9", "m9")],
        "src string, dst string",
    )
    cc = {
        r["node"]: r["component"]
        for r in bipartite_components(edges, checkpointer=ck, driver_merge_limit=0).collect()
    }
    assert cc == {
        "c1": "c1", "c2": "c1", "c3": "c1", "m1": "c1", "m2": "c1",
        "c9": "c9", "m9": "c9",
    }
    assert "bcc_round_0" in ck.manifest["passes"]
