"""Structured Streaming surface: streaming ingest -> cleaning -> sink, and
micro-batch linkage against a static canonical table.

The reference is a batch engine (no streaming surface); this module is the
north-rule value-add for continuous pipelines: new messy addresses arrive
as files (the standard landing-zone pattern), are cleaned with the SAME
cleaning projections the batch path uses (one per stage, no shuffle),
and are either persisted or linked per micro-batch.

Design notes for scale:
 - cleaning is stateless per-row (pure Catalyst projections + a broadcast
   TF dictionary), so it streams with no state store and no shuffle;
 - linkage needs blocking joins + windows, which Structured Streaming
   cannot express incrementally — so it runs via foreachBatch: each
   micro-batch is a bounded DataFrame linked against the static canonical
   side with the ordinary batch operators (the standard pattern for
   stream-to-large-static enrichment);
 - arrival_stats shows the watermark + event-time window idiom for late
   data over the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_address_matcher_spark.cleaning import clean_addresses

FLAT_SCHEMA = "unique_id string, address_concat string, postcode string"


def read_address_stream(
    spark: SparkSession,
    input_dir: str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of flat address rows (landing-zone pattern)."""
    reader = spark.readStream.format(fmt).schema(FLAT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "csv":
        reader = reader.option("header", True)
    return reader.load(input_dir)


def stream_clean_addresses(
    stream: DataFrame,
    side,
    output_dir: str,
    checkpoint_dir: str,
):
    """Cleaning as a continuous query: stateless projections only, so the
    stream needs no state store; TF attachment uses the broadcast-dict
    Arrow UDF (zero-shuffle). Returns the started StreamingQuery
    (availableNow trigger: drains what exists, then stops — the batch-able
    flavour; swap for processingTime on a live cluster)."""
    cleaned = clean_addresses(stream, side.rel_tok_freq, side.common_end_tokens)
    return (
        cleaned.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_link_addresses(
    stream: DataFrame,
    canonical_flat: DataFrame,
    side,
    output_dir: str,
    checkpoint_dir: str,
    rules=None,
    threshold_match_weight: float = -50.0,
):
    """Micro-batch linkage: each trigger's messy rows are linked against
    the static canonical table with the full two-pass batch pipeline.
    foreachBatch is the supported idiom for plans (blocking joins,
    windows, groupBys) that Structured Streaming cannot run incrementally.

    Scale/correctness properties:
     - the canonical side is cleaned and cached ONCE, outside the batch
       loop — per-trigger work is proportional to the batch, not to the
       static table (re-cleaning the canonical side per batch was the
       obvious way to get this wrong);
     - per-batch caches are unpersisted before the batch returns, so
       executor storage does not leak across triggers;
     - output is written to a ``batch_id=N`` subdirectory with overwrite,
       so a micro-batch retried after a failure REPLACES its own output
       instead of appending duplicates (effectively-once; readers see the
       batch_id as a partition column).
    """
    import os

    from uk_address_matcher_spark.linkage import link_cleaned

    canon_clean = clean_addresses(
        canonical_flat, side.rel_tok_freq, side.common_end_tokens
    ).cache()
    canon_clean.count()

    def for_each(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        cr = clean_addresses(
            batch_df, side.rel_tok_freq, side.common_end_tokens
        ).cache()
        cr.count()  # fill the cache before multi-branch consumption
        try:
            improved = link_cleaned(
                canon_clean,
                cr,
                side,
                rules=rules,
                threshold_match_weight=threshold_match_weight,
            )
            improved.select(
                "unique_id_l", "unique_id_r", "match_weight", "match_probability"
            ).write.mode("overwrite").parquet(
                os.path.join(output_dir, f"batch_id={batch_id}")
            )
        finally:
            cr.unpersist()

    return (
        stream.writeStream.foreachBatch(for_each)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_deduplicate(
    stream: DataFrame,
    key_cols: tuple[str, ...] = ("address_concat", "postcode"),
):
    """Custom STATEFUL streaming operator: emit only the FIRST record seen
    for each key across the whole stream (exact dedup with unbounded
    lineage — `dropDuplicates` on a stream needs a watermark to bound
    state; this keeps a one-row seen-marker per key instead).

    Built on applyInPandasWithState: state (seen-count) lives in the state
    store — per-key, partitioned across executors, RocksDB-backed on a
    real cluster — so the operator scales horizontally; the Python hook
    receives Arrow batches per key group. Returns an unstarted streaming
    DataFrame: attach your own sink.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = stream.schema

    def dedup_fn(key, pdf_iter, state):
        first = None
        n_new = 0
        for pdf in pdf_iter:
            n_new += len(pdf)
            if first is None and len(pdf):
                first = pdf.iloc[[0]]
        seen_before = state.exists
        total = (state.get[0] if state.exists else 0) + n_new
        state.update((total,))
        if not seen_before and first is not None:
            yield first

    return stream.groupBy(*[F.col(c) for c in key_cols]).applyInPandasWithState(
        dedup_fn,
        outputStructType=schema,
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def arrival_stats(
    stream: DataFrame,
    watermark: str = "10 minutes",
    window_len: str = "5 minutes",
    event_time_col: str = "event_time",
) -> DataFrame:
    """Watermarked event-time windowed counts per postcode district —
    the late-data idiom: rows later than ``watermark`` behind the max seen
    event time are dropped, windows finalize incrementally.

    ``event_time_col`` must exist on the stream (timestamp, or a string
    castable to one). There is deliberately NO wall-clock fallback: a
    ``current_timestamp()`` default would assign processing time as event
    time, making window counts nondeterministic and replays produce
    different results — if the source has no event time, derive one
    explicitly upstream.
    """
    if event_time_col not in stream.columns:
        raise ValueError(
            f"arrival_stats: stream has no '{event_time_col}' column. Pass "
            "event_time_col= naming a timestamp column; wall-clock fallback "
            "is not provided because it makes window counts replay-unstable."
        )
    with_ts = stream.withColumn(
        "event_time",
        # try_: ANSI mode throws on non-timestamp strings, null is wanted
        F.try_to_timestamp(F.col(event_time_col)),
    )
    district = F.split_part(F.col("postcode"), F.lit(" "), F.lit(1))
    return (
        with_ts.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window_len), district.alias("district"))
        .agg(F.count("*").alias("n_arrivals"))
    )
