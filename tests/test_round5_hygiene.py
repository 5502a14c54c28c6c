"""Round-5 hygiene: ADVICE fixes + deterministic SQL-text emission."""

import json
import os

import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark import session as sess
from uk_address_matcher_spark.blocking import block, block_on
from uk_address_matcher_spark.checkpoint import FORMAT_VERSION, CheckpointManager
from uk_address_matcher_spark.scoring import comparison_bf_sqls
from uk_address_matcher_spark.sources import sample_addresses


def test_manifest_reset_on_rebuild(spark, tmp_path):
    """resume=False must not carry forward old manifest entries
    (ADVICE: a stale v1 pass could survive a rebuild and later be served
    complete by resume=True)."""
    base = str(tmp_path / "ck")
    os.makedirs(base)
    with open(os.path.join(base, "_manifest.json"), "w") as f:
        json.dump(
            {
                "format_version": 1,
                "passes": {"predictions_pass1": {"complete": True, "path": "x"}},
            },
            f,
        )
    ck = CheckpointManager(spark, base, resume=False)
    assert ck.manifest["passes"] == {}
    df = spark.range(3).withColumnRenamed("id", "unique_id")
    ck.checkpoint(df, "fresh_pass")
    with open(os.path.join(base, "_manifest.json")) as f:
        stored = json.load(f)
    # the stale v1 entry is gone, only the rebuilt pass remains
    assert set(stored["passes"]) == {"fresh_pass"}
    assert stored["format_version"] == FORMAT_VERSION


def test_sample_addresses_skips_map_columns(spark):
    df = spark.createDataFrame(
        [(str(i), f"ADDR {i}") for i in range(50)], "unique_id string, a string"
    ).withColumn("m", F.create_map(F.lit("k"), F.col("unique_id")))
    out = sample_addresses(df, 5, seed=7)
    assert out.count() == 5
    again = {r["unique_id"] for r in sample_addresses(df, 5, seed=7).collect()}
    assert {r["unique_id"] for r in out.collect()} == again
    # repartitioning must not change the picked sample
    repart = {
        r["unique_id"] for r in sample_addresses(df.repartition(7), 5, seed=7).collect()
    }
    assert repart == again


def test_sample_addresses_all_map_raises(spark):
    df = spark.range(3).select(F.create_map(F.lit("k"), F.col("id")).alias("m"))
    with pytest.raises(ValueError, match="map-typed"):
        sample_addresses(df, 1)


def test_block_on_quotes_odd_column_names(spark):
    df = spark.createDataFrame(
        [("a", "K1"), ("b", "K1"), ("c", "K2")],
        ["unique_id", "weird name"],
    )
    pairs = block(df, df, rules=block_on(["weird name"]))
    got = {(r["unique_id_l"], r["unique_id_r"]) for r in pairs.collect()}
    assert got == {
        ("a", "a"), ("a", "b"), ("b", "a"), ("b", "b"), ("c", "c"),
    }


def test_sql_text_deterministic_across_calls():
    """scoped gensym: the same builder emits identical SQL text on every
    call (text-keyed plan caching / diffing works)."""
    a = comparison_bf_sqls()
    b = comparison_bf_sqls()
    assert a == b


def test_tmpfs_local_dir_gating(monkeypatch):
    monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_SHUFFLE", "0")
    assert sess._default_local_dir() is None
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_SHUFFLE", "1")
    assert (sess._default_local_dir() or "").startswith("/dev/shm")
    # auto mode refuses when the free-capacity floor can't be met
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_SHUFFLE", "auto")
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE_GB", "1000000")
    assert sess._default_local_dir() is None
    monkeypatch.setenv("SPARK_GRAFT_TMPFS_MIN_FREE_GB", "0.001")
    assert (sess._default_local_dir() or "").startswith("/dev/shm")


def test_sharded_street_model_bounds_block_sizes(spark):
    """A single global Zipf over n-proportional streets grows the hottest
    street ~n^0.6, making candidate pairs superlinear (BENCH/CORPUS.md).
    Sharding must hold the hottest street at the 50k-shard level
    regardless of n."""
    from uk_address_matcher_spark.corpus import grid_canonical_flat

    def max_street_pop(df):
        # (outward, inward letters) is injective per street identity
        key = F.concat(
            F.split_part(F.col("postcode"), F.lit(" "), F.lit(1)),
            F.substring(F.split_part(F.col("postcode"), F.lit(" "), F.lit(2)), 2, 2),
        )
        return (
            df.groupBy(key.alias("k")).count().agg(F.max("count")).collect()[0][0]
        )

    ref50 = max_street_pop(grid_canonical_flat(spark, 50_000))
    sharded150 = max_street_pop(grid_canonical_flat(spark, 150_000))
    assert sharded150 <= ref50 * 1.05  # bounded by the shard distribution
