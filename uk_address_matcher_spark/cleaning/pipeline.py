"""Cleaning-pipeline composition + term-frequency side tables.

Mirrors the queue structure of the reference
(/root/reference/uk_address_matcher/cleaning/cleaning_pipelines.py:38-65):
QUEUE_PRE_TF -> TF attachment -> QUEUE_POST_TF. Composition is ordinary
function folding over DataFrames; Catalyst sees the whole chain and fuses
it (the reference needed explicit DuckDB materialisation barriers at
cleaning_pipelines.py:85-94 — Spark needs none for correctness; callers
checkpoint per-pass for lineage/resume instead, see checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uk_address_matcher_spark.cleaning import steps as S

QUEUE_PRE_TF = [
    S.trim_whitespace_address_and_postcode,
    S.canonicalise_postcode,
    S.upper_case_address_and_postcode,
    S.clean_address_string_first_pass,
    S.remove_duplicate_end_tokens,
    S.derive_original_address_concat,
    S.parse_out_flat_position_and_letter,
    S.parse_out_numbers,
    S.clean_address_string_second_pass,
    S.split_numeric_tokens_to_cols,
    S.tokenise_address_without_numbers,
]

QUEUE_POST_TF = [
    S.first_unusual_token,
    S.use_first_unusual_token_if_no_numeric_token,
    S.separate_unusual_tokens,
    S.final_column_order,
]

# The SHORT prep queues for side-table derivation (no postcode
# canonicalisation / duplicate-end-token removal — those are linkage-prep
# steps, not TF-prep steps; reference cleaning_pipelines.py:183-239).
# Shared by the single-table get_* functions below and the fused
# linkage.build_side_tables job.
TOKEN_TF_QUEUE = [
    S.trim_whitespace_address_and_postcode,
    S.upper_case_address_and_postcode,
    S.clean_address_string_first_pass,
    S.parse_out_flat_position_and_letter,  # parse_out_numbers needs flat_letter
    S.parse_out_numbers,
    S.clean_address_string_second_pass,
    S.split_numeric_tokens_to_cols,
    S.tokenise_address_without_numbers,
]

NUMERIC_TF_QUEUE = [
    S.trim_whitespace_address_and_postcode,
    S.upper_case_address_and_postcode,
    S.clean_address_string_first_pass,
    S.parse_out_flat_position_and_letter,  # parse_out_numbers needs flat_letter
    S.parse_out_numbers,
]


@S.X.scoped
def run_queue(df: DataFrame, queue) -> DataFrame:
    # scoped: one gensym scope per queue build, so the emitted SQL text is
    # identical for every run of the same queue (text-keyed plan caching)
    for step in queue:
        df = step(df)
    return df


@S.X.scoped
def clean_addresses(
    df: DataFrame,
    rel_tok_freq: DataFrame,
    common_end_tokens: list[str],
    derive_adjacency: bool = False,
    adjacency_partition_col: str | None = None,
) -> DataFrame:
    """(unique_id, address_concat, postcode, ...) -> cleaned feature table.

    TF attachment is the shuffle-free broadcast Arrow UDF
    (steps.add_term_frequencies_broadcast).
    ``derive_adjacency`` enables the optional distinguishing-start-tokens
    feature (reference QUEUE_PRE_TF_WITH_UNIQUE_AND_COMMON,
    cleaning_pipelines.py:52-57; default off there too).
    """
    if derive_adjacency:
        cut = QUEUE_PRE_TF.index(S.derive_original_address_concat) + 1
        df = run_queue(df, QUEUE_PRE_TF[:cut])
        df = S.separate_distinguishing_start_tokens_wrt_adjacent_records(
            df, partition_col=adjacency_partition_col
        )
        df = S.generalised_token_aliases(df)
        df = run_queue(df, QUEUE_PRE_TF[cut:])
    else:
        df = run_queue(df, QUEUE_PRE_TF)
    df = S.add_term_frequencies_broadcast(df, rel_tok_freq)
    df = S.move_common_end_tokens_to_field(df, common_end_tokens)
    return run_queue(df, QUEUE_POST_TF)


# ---------------------------------------------------------------------------
# Side tables, generated from a corpus (closed over synthetic data —
# FIXTURES.md F5; reference: cleaning_pipelines.py:183-239 and
# scripts/generate_common_end_tokens.py:53-64)
# ---------------------------------------------------------------------------


def get_address_token_frequencies(df: DataFrame) -> DataFrame:
    """(unique_id, address_concat, postcode) -> (token, rel_freq).

    Mirrors the reference's TF-table derivation
    (get_address_token_frequencies_from_address_table,
    cleaning_pipelines.py:220-239 + get_token_frequeny_table,
    cleaning_steps.py:289-323): the SHORT cleaning queue (no postcode
    canonicalisation / duplicate-end-token removal — those are linkage-prep
    steps, not TF-prep steps), and the token pool list_concats the non-null
    numeric_token_1..3 with the number-stripped tokens, so both the counts
    and the rel_freq denominator include numeric tokens.

    One explode + one groupBy; the global total comes from a single-row
    broadcast cross-join (no global window, which would single-partition).
    """
    prep = run_queue(df, TOKEN_TF_QUEUE)
    all_tokens = F.concat(
        F.filter(
            F.array("numeric_token_1", "numeric_token_2", "numeric_token_3"),
            lambda x: x.isNotNull(),
        ),
        F.col("address_without_numbers_tokenised"),
    )
    toks = prep.select(F.explode(all_tokens).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "token", (F.col("cnt") / F.col("total")).alias("rel_freq")
    )


def get_numeric_term_frequencies(df: DataFrame) -> DataFrame:
    """(numeric_token, tf_numeric_token) — reference cleaning_pipelines.py:183-217."""
    prep = run_queue(df, NUMERIC_TF_QUEUE)
    toks = prep.select(F.explode("numeric_tokens").alias("numeric_token"))
    counts = toks.groupBy("numeric_token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "numeric_token", (F.col("cnt") / F.col("total")).alias("tf_numeric_token")
    )


def get_common_end_tokens(df: DataFrame, min_share: float = 0.01) -> list[str]:
    """Most-frequent final tokens (towns/counties) of the cleaned corpus.

    The reference ships a CSV thresholded at count>3000 over a GB-scale
    corpus (cleaning_steps.py:495-502); for a closed corpus we threshold on
    the SHARE of rows whose address ends with the token, which is
    scale-invariant. The default share matches build_side_tables'.

    Ordered by (count desc, token asc): the list is inlined as an array
    literal into the cleaning SQL, so a tie order that followed row
    arrival would give different SQL text — and miss text-keyed plan and
    codegen reuse — for the same corpus.
    """
    # project to the one needed column BEFORE caching: the count() and the
    # groupBy share one materialisation of the cleaning queue instead of
    # running it twice, and the cache holds a single string per row
    last = run_queue(df, QUEUE_PRE_TF).select(
        F.try_element_at("address_without_numbers_tokenised", F.lit(-1)).alias("token")
    ).cache()
    n = last.count()
    rows = (
        last.filter(F.col("token").isNotNull() & (F.col("token") != ""))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > max(int(n * min_share), 3))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .collect()
    )
    last.unpersist()
    return [r["token"] for r in rows]
