"""Structured Streaming surface: file-source stream -> cleaning sink parity
with batch; micro-batch linkage via foreachBatch; watermarked arrivals."""

import time

from pyspark.sql import functions as F

from uk_address_matcher_spark.blocking import block_on
from uk_address_matcher_spark.corpus import domain_token_frequencies, edge_case_flat_rows
from uk_address_matcher_spark.cleaning import clean_addresses
from uk_address_matcher_spark.linkage import build_side_tables
from uk_address_matcher_spark.streaming import (
    arrival_stats,
    read_address_stream,
    stream_clean_addresses,
    stream_link_addresses,
)


def _flat_rows():
    rows, _ = edge_case_flat_rows()
    return [(r[0], r[1], r[2]) for r in rows]


def _side(spark, flat):
    return build_side_tables(
        spark, flat, common_end_min_share=0.05,
        rel_tok_freq=domain_token_frequencies(spark),
    )


def _await(query, timeout=120):
    query.awaitTermination(timeout * 1000)
    deadline = time.time() + timeout
    while query.isActive and time.time() < deadline:
        time.sleep(0.5)
    assert not query.isActive, "streaming query did not drain"


def test_stream_clean_matches_batch(spark, tmp_path):
    flat = spark.createDataFrame(
        _flat_rows(), "unique_id string, address_concat string, postcode string"
    )
    in_dir = str(tmp_path / "landing")
    flat.write.mode("overwrite").parquet(in_dir)
    side = _side(spark, flat)

    stream = read_address_stream(spark, in_dir)
    assert stream.isStreaming
    q = stream_clean_addresses(
        stream, side, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    _await(q)

    got = spark.read.parquet(str(tmp_path / "out"))
    want = clean_addresses(flat, side.rel_tok_freq, side.common_end_tokens)
    g = {r["unique_id"]: r.asDict() for r in got.collect()}
    w = {r["unique_id"]: r.asDict() for r in want.collect()}
    assert g == w  # stream == batch, row for row


def test_stream_link_microbatch(spark, tmp_path):
    rows, _ = edge_case_flat_rows()
    flat = spark.createDataFrame(
        rows,
        "unique_id string, address_concat string, postcode string, "
        "side string, test_block int",
    )
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side", "test_block")
    side = _side(spark, flat.drop("side", "test_block"))

    in_dir = str(tmp_path / "messy_landing")
    messy.write.mode("overwrite").parquet(in_dir)

    # stream lacks test_block -> block on postcode-style default rules
    stream = read_address_stream(spark, in_dir)
    q = stream_link_addresses(
        stream,
        canon.drop("test_block"),
        side,
        str(tmp_path / "pred"),
        str(tmp_path / "ckpt2"),
        rules=None,
        threshold_match_weight=-50,
    )
    _await(q)
    pred = spark.read.parquet(str(tmp_path / "pred"))
    assert pred.count() > 0
    assert {"unique_id_l", "unique_id_r", "match_weight", "match_probability"} <= set(
        pred.columns
    )
    # every streamed messy record that found any candidate appears
    assert pred.select("unique_id_r").distinct().count() > 10


def test_stream_link_cleans_canonical_once(spark, tmp_path, monkeypatch):
    """The static canonical side is cleaned OUTSIDE the micro-batch loop:
    across N batches, clean_addresses runs once for the canonical table
    plus once per batch for the incoming rows — never N times for the
    canonical side. Also covers idempotent batch_id-keyed output."""
    import uk_address_matcher_spark.streaming as streaming_mod

    rows, _ = edge_case_flat_rows()
    flat = spark.createDataFrame(
        rows,
        "unique_id string, address_concat string, postcode string, "
        "side string, test_block int",
    )
    canon = flat.filter(F.col("side") == "c").drop("side", "test_block")
    messy = flat.filter(F.col("side") == "m").drop("side", "test_block")
    side = _side(spark, flat.drop("side", "test_block"))

    in_dir = str(tmp_path / "landing_multi")
    # two files -> maxFilesPerTrigger=1 forces (at least) two micro-batches
    messy.limit(5).coalesce(1).write.mode("overwrite").parquet(in_dir + "/a")
    messy.subtract(messy.limit(5)).coalesce(1).write.mode("append").parquet(in_dir + "/a")

    calls = []
    real_clean = streaming_mod.clean_addresses

    def counting_clean(df, *args, **kwargs):
        calls.append(df)
        return real_clean(df, *args, **kwargs)

    monkeypatch.setattr(streaming_mod, "clean_addresses", counting_clean)

    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    stream = read_address_stream(spark, in_dir + "/a", max_files_per_trigger=1)
    q = stream_link_addresses(
        stream, canon, side, str(tmp_path / "pred2"), str(tmp_path / "ckpt3"),
        rules=None, threshold_match_weight=-50,
    )
    _await(q)

    pred = spark.read.parquet(str(tmp_path / "pred2"))
    n_batches = pred.select("batch_id").distinct().count()
    assert n_batches >= 2, "expected multiple micro-batches"
    # 1 canonical clean + 1 per non-empty batch
    assert len(calls) == 1 + n_batches
    assert calls[0] is canon
    # per-batch caches are released: only the cached canonical side stays
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) - persisted <= 1


def test_arrival_stats_plan_is_streaming(spark, tmp_path):
    from pyspark.sql import functions as F

    flat = spark.createDataFrame(
        [
            (uid, addr, pc, f"2024-01-01 00:{i % 50:02d}:00")
            for i, (uid, addr, pc) in enumerate(_flat_rows())
        ],
        "unique_id string, address_concat string, postcode string, event_time string",
    )
    in_dir = str(tmp_path / "landing3")
    flat.write.mode("overwrite").parquet(in_dir)
    stream = (
        spark.readStream.schema(
            "unique_id string, address_concat string, postcode string, "
            "event_time string"
        ).parquet(in_dir)
    )
    agg = arrival_stats(stream)
    assert agg.isStreaming
    q = (
        agg.writeStream.format("memory")
        .queryName("arrivals")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    # append mode emits only watermark-closed windows; explicit event
    # times spanning 50 minutes with a 10-minute watermark close the
    # early windows deterministically (no wall-clock dependence)
    rows = spark.sql("SELECT * FROM arrivals").collect()
    assert len(rows) > 0, "expected watermark-closed windows with explicit event time"


def test_arrival_stats_requires_event_time(spark):
    import pytest

    flat = spark.createDataFrame(
        _flat_rows(), "unique_id string, address_concat string, postcode string"
    )
    with pytest.raises(ValueError, match="event_time"):
        arrival_stats(flat)


def test_stream_deduplicate_stateful(spark, tmp_path):
    """applyInPandasWithState dedup: first occurrence per key survives,
    duplicates across micro-batches are suppressed by state."""
    from uk_address_matcher_spark.streaming import stream_deduplicate

    rows = _flat_rows()
    flat = spark.createDataFrame(
        rows, "unique_id string, address_concat string, postcode string"
    )
    in_dir = str(tmp_path / "dedup_landing")
    # file 1: originals; file 2: same addresses under new ids (duplicates)
    flat.coalesce(1).write.mode("overwrite").parquet(in_dir)
    flat.select(
        F.concat(F.lit("dup_"), "unique_id").alias("unique_id"),
        "address_concat",
        "postcode",
    ).coalesce(1).write.mode("append").parquet(in_dir)

    stream = read_address_stream(spark, in_dir, max_files_per_trigger=1)
    deduped = stream_deduplicate(stream)
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(tmp_path / "dedup_out"))
        .option("checkpointLocation", str(tmp_path / "dedup_ck"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = spark.read.parquet(str(tmp_path / "dedup_out"))
    got = out.groupBy("address_concat", "postcode").count().collect()
    expected = flat.select("address_concat", "postcode").distinct().count()
    assert len(got) == expected          # every distinct address present once
    assert all(r["count"] == 1 for r in got)  # and ONLY once
