"""Cleaning pipeline + the corpus tokens behind the side tables.

Mirrors the queue structure of the reference
(/root/reference/uk_address_matcher/cleaning/cleaning_pipelines.py:38-65):
QUEUE_PRE_TF -> TF attachment -> QUEUE_POST_TF. Each stage is ONE
projection whose items are the step builders of the steps module, in
reference order:
 - pre-TF: one selectExpr; each step reads the one before it as a lateral
   column alias (Spark >= 3.4, on by default via
   spark.sql.lateralColumnAlias.enableImplicitResolution);
 - TF: one select applying the broadcast Arrow UDF, which also drops the
   pre-TF intermediates;
 - post-TF: one selectExpr for common end tokens, the first unusual
   token, the rarity bands and the two histograms;
 - output: one selectExpr emitting FINAL_COLUMNS, then the caller's
   extra columns.
Catalyst sees the whole chain and fuses it (the reference needed explicit
DuckDB materialisation barriers at cleaning_pipelines.py:85-94 — Spark
needs none for correctness; callers checkpoint per-pass for
lineage/resume instead, see checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uk_address_matcher_spark import sqlexpr as X
from uk_address_matcher_spark.cleaning import steps as S

_PRE_TF_KEPT = [
    "postcode",
    "original_address_concat",
    "flat_positional",
    "flat_letter",
    "numeric_token_1",
    "numeric_token_2",
    "numeric_token_3",
]
_ADJACENCY = [
    "distinguishing_adj_start_tokens",
    "common_adj_start_tokens",
    "distinguishing_adj_token_aliases",
]
# names the pipeline writes or drops (the __* are the lateral aliases a
# later stage reads): never passed through from the caller's input
_OWNED = {
    *S.FINAL_COLUMNS,
    "address_concat",
    "address_without_numbers_tokenised",
    "token_rel_freq_arr",
    "__first_pass",
    "__nums",
    "__d3",
    "__ends",
    "__first_unusual",
    "__numeric_token_1",
    "__tokens",
    "__bands",
}


def _passthrough(columns: list[str]) -> list[str]:
    """The caller's extra columns, in input order."""
    return [c for c in columns if c not in _OWNED]


def _numbers_sql(addr: str, letter: str, nums: str) -> list[str]:
    """The flat letter of ``addr`` as ``letter`` and its parse_out_numbers
    struct as ``nums`` (a numeric flat letter drops the first number)."""
    _, letter_sql = S.parse_out_flat_position_and_letter_sql(addr)
    nums_sql = S.parse_out_numbers_sql(addr, letter)
    return [f"{letter_sql} AS {letter}", f"{nums_sql} AS {nums}"]


def _first_pass_sql() -> str:
    """trim -> upper -> first-pass regex chain over ``address_concat``."""
    return S.clean_address_string_first_pass_sql(
        S.upper_case_sql(S.trim_whitespace_sql("address_concat"))
    )


def _tokens_sql(nums: str) -> str:
    """Number-stripped, tokenised address of a parse_out_numbers struct."""
    return S.tokenise_address_without_numbers_sql(
        S.clean_address_string_second_pass_sql(f"{nums}.awn")
    )


@X.scoped
def pre_tf_sql(columns: list[str]) -> list[str]:
    """Select list of the pre-TF stage (the reference's QUEUE_PRE_TF)
    over an input with ``columns``: the reference steps in order, each
    reading the previous as a lateral column alias."""
    postcode = S.upper_case_sql(
        S.canonicalise_postcode_sql(S.trim_whitespace_sql("postcode"))
    )
    flat_positional, _ = S.parse_out_flat_position_and_letter_sql(
        "original_address_concat"
    )
    return [
        "unique_id",
        *(X.ident(c) for c in _passthrough(columns)),
        f"{postcode} AS postcode",
        f"{_first_pass_sql()} AS __first_pass",
        f"{S.remove_duplicate_end_tokens_sql('__first_pass')} AS original_address_concat",
        f"{flat_positional} AS flat_positional",
        *_numbers_sql("original_address_concat", "flat_letter", "__nums"),
        f"{_tokens_sql('__nums')} AS address_without_numbers_tokenised",
        f"{S.split_numeric_tokens_to_cols_sql('__nums.nums')} AS __d3",
        "__d3.n1 AS numeric_token_1",
        "__d3.n2 AS numeric_token_2",
        "__d3.n3 AS numeric_token_3",
    ]


@X.scoped
def clean_addresses(
    df: DataFrame,
    rel_tok_freq: DataFrame,
    common_end_tokens: list[str],
    derive_adjacency: bool = False,
    adjacency_partition_col: str | None = None,
) -> DataFrame:
    """(unique_id, address_concat, postcode, ...) -> cleaned feature table.

    TF attachment is the shuffle-free broadcast Arrow UDF
    (steps.term_frequency_udf).
    ``derive_adjacency`` enables the optional distinguishing-start-tokens
    feature (reference QUEUE_PRE_TF_WITH_UNIQUE_AND_COMMON,
    cleaning_pipelines.py:52-57; default off there too).
    """
    extra = _passthrough(df.columns)
    cleaned = df.selectExpr(*pre_tf_sql(df.columns))
    if derive_adjacency:
        cleaned = S.separate_distinguishing_start_tokens_wrt_adjacent_records(
            cleaned, partition_col=adjacency_partition_col
        )
        cleaned = S.generalised_token_aliases(cleaned)
        extra += _ADJACENCY
    attach = S.term_frequency_udf(rel_tok_freq)
    cleaned = cleaned.select(
        *(F.col(X.ident(c)) for c in ["unique_id", *extra, *_PRE_TF_KEPT]),
        attach("address_without_numbers_tokenised").alias("token_rel_freq_arr"),
    )
    num1, tokens = S.use_first_unusual_token_if_no_numeric_token_sql(
        "numeric_token_1", "__ends.remaining", "__first_unusual"
    )
    cleaned = cleaned.selectExpr(
        "*",
        f"{S.move_common_end_tokens_to_field_sql('token_rel_freq_arr', common_end_tokens)}"
        " AS __ends",
        f"{S.first_unusual_token_sql('__ends.remaining')} AS __first_unusual",
        f"{num1} AS __numeric_token_1",
        f"{tokens} AS __tokens",
        f"{S.separate_unusual_tokens_sql('__tokens')} AS __bands",
        f"{S._histogram_arr_sql('__tokens')} AS token_rel_freq_arr_hist",
        f"{S._histogram_arr_sql('__ends.common')} AS common_end_tokens_hist",
    )
    # cleaning_steps.py:451-481 — canonical column order; extra user
    # columns pass through after the contract columns
    return cleaned.selectExpr(
        "unique_id",
        "__numeric_token_1 AS numeric_token_1",
        "numeric_token_2",
        "numeric_token_3",
        "token_rel_freq_arr_hist",
        "common_end_tokens_hist",
        "postcode",
        "original_address_concat",
        "flat_positional",
        "flat_letter",
        "__bands.unusual AS unusual_tokens_arr",
        "__bands.very_unusual AS very_unusual_tokens_arr",
        "__bands.extremely_unusual AS extremely_unusual_tokens_arr",
        *(X.ident(c) for c in extra),
    )


# ---------------------------------------------------------------------------
# Side tables, generated from a corpus (closed over synthetic data —
# FIXTURES.md F5; reference: cleaning_pipelines.py:183-239 and
# scripts/generate_common_end_tokens.py:53-64)
# ---------------------------------------------------------------------------

SIDE_TABLE_KINDS = ("ntf", "tf", "cet")


@X.scoped
def side_table_tokens(df: DataFrame, kinds=SIDE_TABLE_KINDS) -> DataFrame:
    """(unique_id, address_concat, ...) -> (kind, token) rows, one per
    token that side table ``kind`` counts:
     - ``ntf``: the numeric tokens (numeric TF);
     - ``tf``: non-null numeric_token_1..3 plus the number-stripped
       tokens (token TF; get_token_frequeny_table, cleaning_steps.py:289-323,
       list_concats both into its pool, so both the counts and the
       rel_freq denominator include numeric tokens);
     - ``cet``: the last token, one row per corpus row — NULL when there
       is none — so the rows also count the corpus for the share
       threshold.
    ``ntf`` and ``tf`` read the SHORT TF-prep queue (no postcode
    canonicalisation / duplicate-end-token removal, reference
    cleaning_pipelines.py:183-239); ``cet`` reads the full pre-TF queue.
    One projection (the first-pass regex chain evaluated once per row,
    feeding every kind) and one explode of the tagged array.
    """
    empty = "cast(array() as array<string>)"

    def tagged(kind: str, arr: str) -> str:
        t = X.gensym("t")
        return (
            f"transform(coalesce({arr}, {empty}), "
            f"{t} -> named_struct('kind', '{kind}', 'token', {t}))"
        )

    items = [f"{_first_pass_sql()} AS __first_pass"]
    arrays = {}
    if "ntf" in kinds or "tf" in kinds:
        items += _numbers_sql("__first_pass", "__tf_flat_letter", "__tf_nums")
    if "ntf" in kinds:
        arrays["ntf"] = tagged("ntf", "__tf_nums.nums")
    if "tf" in kinds:
        x = X.gensym("x")
        items.append(f"{S.split_numeric_tokens_to_cols_sql('__tf_nums.nums')} AS __d3")
        numeric = f"filter(array(__d3.n1, __d3.n2, __d3.n3), {x} -> {x} IS NOT NULL)"
        arrays["tf"] = tagged("tf", f"concat({numeric}, {_tokens_sql('__tf_nums')})")
    if "cet" in kinds:
        items.append(f"{S.remove_duplicate_end_tokens_sql('__first_pass')} AS __deduped")
        items += _numbers_sql("__deduped", "__cet_flat_letter", "__cet_nums")
        last = f"try_element_at({_tokens_sql('__cet_nums')}, -1)"
        arrays["cet"] = f"array(named_struct('kind', 'cet', 'token', {last}))"
    items += [f"{sql} AS __{kind}" for kind, sql in arrays.items()]
    # the generator reads concat(...), not a column: Spark infers no
    # size(...) > 0 filter for it, which it would push down into (and so
    # re-evaluate) the cleaning chain
    tagged_all = ", ".join(f"__{kind}" for kind in arrays)
    return df.selectExpr(*items).selectExpr(f"inline(concat({tagged_all}))")


def common_end_tokens_from_counts(counts, min_share: float) -> list[str]:
    """Common end tokens from (last token, rows) counts of ``cet`` kind.

    The reference ships a CSV thresholded at count>3000 over a GB-scale
    corpus (cleaning_steps.py:495-502); for a closed corpus we threshold on
    the SHARE of rows whose address ends with the token, which is
    scale-invariant. NULL-token counts are rows too.

    Ordered by (count desc, token asc): the list is inlined as an array
    literal into the cleaning SQL, so a tie order that followed row
    arrival would give different SQL text — and miss text-keyed plan and
    codegen reuse — for the same corpus.
    """
    floor = max(int(sum(c for _, c in counts) * min_share), 3)
    return [
        t
        for t, c in sorted(counts, key=lambda x: (-x[1], x[0] or ""))
        if t is not None and t != "" and c > floor
    ]


def _relative_frequencies(df: DataFrame, kind: str, token: str, freq: str) -> DataFrame:
    # one explode + one groupBy; the global total comes from a single-row
    # broadcast cross-join (no global window, which would single-partition)
    counts = (
        side_table_tokens(df, (kind,))
        .groupBy(F.col("token").alias(token))
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        token, (F.col("cnt") / F.col("total")).alias(freq)
    )


def get_address_token_frequencies(df: DataFrame) -> DataFrame:
    """(unique_id, address_concat, postcode) -> (token, rel_freq).

    Mirrors the reference's TF-table derivation
    (get_address_token_frequencies_from_address_table,
    cleaning_pipelines.py:220-239 + get_token_frequeny_table,
    cleaning_steps.py:289-323): the ``tf`` tokens of side_table_tokens.
    """
    return _relative_frequencies(df, "tf", "token", "rel_freq")


def get_numeric_term_frequencies(df: DataFrame) -> DataFrame:
    """(numeric_token, tf_numeric_token) — reference cleaning_pipelines.py:183-217."""
    return _relative_frequencies(df, "ntf", "numeric_token", "tf_numeric_token")


def get_common_end_tokens(df: DataFrame, min_share: float = 0.01) -> list[str]:
    """Most-frequent final tokens (towns/counties) of the cleaned corpus
    (common_end_tokens_from_counts). The default share matches
    build_side_tables'."""
    rows = side_table_tokens(df, ("cet",)).groupBy("token").count().collect()
    return common_end_tokens_from_counts([tuple(r) for r in rows], min_share)
