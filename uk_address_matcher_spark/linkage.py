"""High-level linkage driver: side tables + clean + block + score + rescore.

The side tables (token TF, numeric TF, common end tokens) are tiny (at
most a few hundred thousand rows); they are materialised to the driver
once and re-created as local DataFrames so their (cleaning) plans are
never re-executed by downstream broadcast joins — without this,
every broadcast re-runs the generating pipeline. "Local" is literal:
session.local_frame plans them as a ``LocalRelation``, so collecting one
(the TF dict of the cleaning UDF) starts no Spark job and broadcasting
one (numeric TF in scoring) starts no Python workers; a frame built by
``createDataFrame(list)`` is a Python RDD, and every scan of it is a job.
All three are computed by ONE Spark job (one tagged token projection
over the corpus): driver-side action barriers are fixed latency that does not
shrink with cores, so they are the first thing scaling efficiency loses
to.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_address_matcher_spark.blocking import block
from uk_address_matcher_spark.cleaning import clean_addresses
from uk_address_matcher_spark.scoring import score_pairs
from uk_address_matcher_spark.second_pass import (
    improve_predictions_using_distinguishing_tokens,
)
from uk_address_matcher_spark.session import local_frame


@dataclass
class SideTables:
    rel_tok_freq: DataFrame  # (token, rel_freq)
    numeric_tf: DataFrame  # (numeric_token, tf_numeric_token)
    common_end_tokens: list[str]


def build_side_tables(
    spark: SparkSession,
    corpus_flat: DataFrame,
    common_end_min_share: float = 0.01,
    rel_tok_freq: DataFrame | None = None,
    max_side_rows: int = 5_000_000,
) -> SideTables:
    """``rel_tok_freq`` (precomputed domain TF, e.g.
    corpus.domain_token_frequencies) mirrors the reference's
    clean_data_using_precomputed_rel_tok_freq path; when None, TF is
    computed from the corpus itself (clean_data_on_the_fly path).

    One fused job: one projection over the corpus tags each token with
    the side table that counts it (cleaning.pipeline.side_table_tokens,
    which evaluates the first-pass regex chain once per row for all
    three), one explode, one groupBy(kind, token), one collect. The
    single-table public API (cleaning.pipeline.get_address_token_frequencies
    / get_numeric_term_frequencies / get_common_end_tokens) reads the
    same token projection.

    ``max_side_rows`` caps the driver collect: address vocabularies are
    bounded (a few hundred thousand tokens), but a generic corpus with
    unbounded vocabulary would otherwise OOM the driver silently. Over
    the cap the build fails loudly naming the fix.
    """
    from uk_address_matcher_spark.cleaning import pipeline as P

    kinds = ("ntf", "cet") if rel_tok_freq is not None else P.SIDE_TABLE_KINDS
    counts = (
        P.side_table_tokens(corpus_flat, kinds)
        .groupBy("kind", "token")
        .agg(F.count("*").alias("cnt"))
    )
    rows = counts.limit(max_side_rows + 1).collect()
    if len(rows) > max_side_rows:
        raise ValueError(
            f"build_side_tables: more than {max_side_rows:,} distinct "
            "(kind, token) rows — this corpus's vocabulary is too large to "
            "materialise on the driver. Pass a pre-aggregated TF table via "
            "rel_tok_freq= (and precompute numeric TF / common-end tokens "
            "with the get_* pipeline functions writing to storage), or "
            "raise max_side_rows explicitly."
        )

    by_kind: dict[str, list] = {"tf": [], "ntf": [], "cet": []}
    for r in rows:
        by_kind[r["kind"]].append((r["token"], r["cnt"]))

    ntf_total = sum(c for _, c in by_kind["ntf"]) or 1
    ntf = local_frame(
        spark,
        [(t, c / ntf_total) for t, c in by_kind["ntf"] if t is not None],
        "numeric_token string, tf_numeric_token double",
    )

    cet = P.common_end_tokens_from_counts(by_kind["cet"], common_end_min_share)

    if rel_tok_freq is None:
        tf_total = sum(c for _, c in by_kind["tf"]) or 1
        tf = local_frame(
            spark,
            [(t, c / tf_total) for t, c in by_kind["tf"] if t is not None],
            "token string, rel_freq double",
        )
    else:
        tf_rows = rel_tok_freq.limit(max_side_rows + 1).collect()
        if len(tf_rows) > max_side_rows:
            raise ValueError(
                f"build_side_tables: rel_tok_freq has more than "
                f"{max_side_rows:,} rows — pre-aggregate or filter it "
                "before passing, or raise max_side_rows explicitly."
            )
        # rel_freq is a frequency SHARE by definition (the on-the-fly
        # path above is a share by construction); raw counts would
        # silently skew every histogram BF — refuse loudly instead
        bad = [r for r in tf_rows if r[1] is not None and r[1] > 1.0]
        if bad:
            raise ValueError(
                f"build_side_tables: rel_tok_freq contains values > 1.0 "
                f"(e.g. {bad[0][0]!r} -> {bad[0][1]}); rel_freq must be a "
                "relative frequency share in (0, 1] — normalise counts "
                "before passing."
            )
        tf = local_frame(spark, tf_rows, "token string, rel_freq double")
    return SideTables(rel_tok_freq=tf, numeric_tf=ntf, common_end_tokens=cet)


def link_addresses(
    canonical_flat: DataFrame,
    messy_flat: DataFrame,
    side: SideTables,
    rules=None,
    salt: int = 1,
    threshold_match_weight: float = -50.0,
    checkpointer=None,
) -> DataFrame:
    """Full two-pass linkage. ``checkpointer`` (optional,
    checkpoint.CheckpointManager) persists each pass for lineage/resume.

    source_dataset contract (reference splink_model.py:38-46 +
    tests/test_source_dataset.py:74-87): inputs must NOT carry a
    ``source_dataset`` column (raises ValueError), and every output pair
    carries ``source_dataset_l = 'c_'`` / ``source_dataset_r = 'm_'``
    regardless of where the rows came from."""
    for name, frame in (("canonical", canonical_flat), ("messy", messy_flat)):
        if "source_dataset" in frame.columns:
            raise ValueError(
                f"{name} input contains a 'source_dataset' column. Remove it "
                "before calling link_addresses: the linker overwrites it "
                "with its own 'c_'/'m_' tags."
            )
    # clean BOTH sides in ONE job: a side-tagged union runs the cleaning
    # queue once over all rows (one codegen compile, one stage wave, one
    # materialisation) instead of two serial per-side jobs. The cleaned
    # union feeds several DAG branches (blocking keys l/r, score attach
    # l/r); without a materialisation barrier each branch re-runs the
    # whole cleaning pipeline — the reference needed DuckDB temp tables
    # here for the same reason (cleaning_pipelines.py:85-94)
    tagged = canonical_flat.withColumn("__side", F.lit("c")).unionByName(
        messy_flat.withColumn("__side", F.lit("m")), allowMissingColumns=True
    )
    cleaned = clean_addresses(tagged, side.rel_tok_freq, side.common_end_tokens)
    if checkpointer is not None:
        cleaned = checkpointer.checkpoint(cleaned, "cleaned_all")
    else:
        cleaned = cleaned.cache()
        # materialise the cache NOW: its consumers (per-rule blocking-key
        # branches, both score-attach sides) otherwise race to fill it
        # inside one job, each branch recomputing the cleaning pipeline
        cleaned.count()
    cl = cleaned.filter(F.col("__side") == "c").drop("__side")
    cr = cleaned.filter(F.col("__side") == "m").drop("__side")
    return link_cleaned(
        cl,
        cr,
        side,
        rules=rules,
        salt=salt,
        threshold_match_weight=threshold_match_weight,
        checkpointer=checkpointer,
    )


def link_cleaned(
    cl: DataFrame,
    cr: DataFrame,
    side: SideTables,
    rules=None,
    salt: int = 1,
    threshold_match_weight: float = -50.0,
    checkpointer=None,
) -> DataFrame:
    """block + score + rescore over ALREADY-CLEANED sides.

    For callers that reuse one cleaned side across many linkage calls —
    the streaming micro-batch loop cleans the static canonical table once
    and links every batch against it (streaming.stream_link_addresses).
    ``cl``/``cr`` must be materialised (cached or checkpointed) by the
    caller; each feeds multiple plan branches here.
    """
    from uk_address_matcher_spark.scoring import (
        _sides_broadcastable,
        attach_display_columns,
    )
    from uk_address_matcher_spark.second_pass import (
        PRUNE_MATCH_WEIGHT_THRESHOLD,
        PRUNE_TOP_N,
    )

    # NO durable checkpoint of the raw blocked pairs: the ~43M-row (at 1M
    # docs) id-pair artifact was parquet-encode/write-bandwidth bound and
    # showed ZERO scaling (49.3 s @ 4c vs 51.1 s @ 16c, ~32% of the clean
    # 16-core wall — BENCH/scale_4v16_final.json), and pass-1 re-read it
    # immediately. Blocking is consumed exactly once (the score_pairs
    # attach joins), so it now fuses straight into the pass-1 scoring
    # stage; the durable resume boundary is the COMPACT pass-1 candidate
    # set below (post-threshold, ~5% of the pair volume — a boundary that
    # shrinks rather than grows with corpus junk). A kill mid-pass-1
    # resumes from cleaned_all instead of raw pairs: re-running blocking
    # costs one narrow shuffle, orders of magnitude less than the encode
    # wave the checkpoint charged every run.
    pairs = block(cl, cr, rules=rules, salt=salt)
    # one size-gate probe (two count jobs) serves both attach steps
    bcast = _sides_broadcastable(cl, cr)
    # score in COMPACT form (no display strings through the pair
    # exchanges) with the prune to exactly the second pass's candidate
    # set (threshold -20 + top-5 per messy record) FUSED into
    # score_pairs, so only (ids, weight) cross the top-n window's
    # exchange and nothing below the cut reaches the re-attach joins or
    # the pass-1 checkpoint
    pred = score_pairs(
        pairs,
        cl,
        cr,
        side.numeric_tf,
        threshold_match_weight=threshold_match_weight,
        attach_display=False,
        prune_top_n=(PRUNE_MATCH_WEIGHT_THRESHOLD, PRUNE_TOP_N),
        broadcast_sides=bcast,
    )
    pred = attach_display_columns(
        pred, cl, cr, retain_matching_columns=False, broadcast_sides=bcast
    )
    if checkpointer is not None:
        # the artifact NAME states its semantics: the durable pass-1
        # output is the PRUNED rescoring candidate set (threshold -20 +
        # top-5), not the full threshold predictions (the manifest
        # format_version refuses cross-version resume,
        # checkpoint.FORMAT_VERSION)
        pred = checkpointer.checkpoint(pred, "pass1_candidates")
    # no cache in the in-memory path: the second pass reads the
    # predictions exactly once (one groupBy nests each block's rows and
    # unnests them, no fan-out), so a pass-1 cache would only pay an
    # extra 10^6-row encode for nothing
    #
    # assume_pruned: score_pairs fused EXACTLY this threshold+top-n cut
    # above (prune_top_n uses the same constants), so the second pass's
    # idempotent re-prune — one exchange + window sort over the whole
    # candidate set — is skipped (§2.4)
    improved = improve_predictions_using_distinguishing_tokens(
        pred, checkpointer=checkpointer, assume_pruned=True
    )
    if checkpointer is not None:
        improved = checkpointer.checkpoint(improved, "predictions_pass2")
    return improved.selectExpr(
        "*", "'c_' AS source_dataset_l", "'m_' AS source_dataset_r"
    )
