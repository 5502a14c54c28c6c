"""Address-cleaning steps as SQL-text builders.

Each builder re-expresses one cleaning step of the reference pipeline
(/root/reference/uk_address_matcher/cleaning/cleaning_steps.py and
regexes.py) as a Catalyst expression: input column names in, SQL text
out — no Python UDFs in the hot path except the TF lookup. A step that
yields several columns returns a tuple of SQL texts or a named_struct.
cleaning.pipeline lists the builders as the items of one projection per
stage, which fuse into a handful of whole-stage-codegen projections.
SQL text costs one parse per projection, where the Column API costs a
Py4J round-trip per operator node (sqlexpr module doc); the parsed trees
are identical.

Dialect notes (verified empirically against DuckDB 1.0):
 - DuckDB's RE2 silently NO-OPS on lookbehind and backreference patterns,
   so the reference's `standarise_num_dash_num` (regexes.py:16-39) and
   `remove_repeated_tokens` (regexes.py:48-71) never fire there. Java
   regex supports both, so here they implement the reference's DOCUMENTED
   intent (the docstring examples) — a deliberate, noted divergence.
 - DuckDB `arr[:-2]` keeps all but the LAST element; `arr[:-3]` drops two.
 - `list_aggregate([], 'histogram')` is NULL, not an empty map.
 - Spark 4 runs ANSI mode: use try_element_at / guarded slice everywhere
   DuckDB would return NULL out-of-bounds.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed at module scope for pandas-UDF type hints

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uk_address_matcher_spark import sqlexpr as X


def let(value: Column, body) -> Column:
    """Bind ``value`` once and use it many times inside ``body``.

    Spark has no let-expression; substituting a Python Column variable N
    times duplicates the expression tree N times (filter pushdown and
    project collapse inline aliases freely), which blows up codegen for
    heavy expressions like the 9-regex cleaning chain. `transform` over a
    single-element array gives a real lambda binding: the value is
    evaluated once per row and the lambda variable is a cheap reference.
    """
    return F.try_element_at(F.transform(F.array(value), body), F.lit(1))


# ---------------------------------------------------------------------------
# String-level regex battery (reference: cleaning/regexes.py).
# Each helper emits SQL text: building these trees through Py4J costs
# milliseconds PER OPERATOR (sqlexpr module doc) and the cleaning
# projections are rebuilt per linkage call.
# ---------------------------------------------------------------------------


def _rr(c: str, pattern: str, replacement: str) -> str:
    return f"regexp_replace({c}, {X.q(pattern)}, {X.q(replacement)})"


def remove_commas_periods_sql(c: str) -> str:
    return _rr(c, r"[,.]", " ")


def remove_apostrophes_sql(c: str) -> str:
    return _rr(c, r"'", "")


def remove_multiple_spaces_sql(c: str) -> str:
    return _rr(c, r"\s+", " ")


def replace_fwd_slash_with_dash_sql(c: str) -> str:
    return _rr(c, r"/", "-")


NUM_DASH_NUM_RE = r"(?<![A-Za-z])(\d+[A-Za-z]?)\s*-\s*(\d+[A-Za-z]?)(?![A-Za-z])"


def standarise_num_dash_num_sql(c: str) -> str:
    # '23A - 24' -> '23A-24' (regexes.py:16-39; intent active here, see module doc)
    return _rr(c, NUM_DASH_NUM_RE, r"$1-$2")


def separate_letter_num_sql(c: str) -> str:
    # 'C230' -> 'C 230' (regexes.py:106-129)
    return _rr(c, r"\b([A-Za-z])\s*(\d+)\b", r"$1 $2")


def standarise_num_letter_sql(c: str) -> str:
    # '123-A ' -> '123A ' (regexes.py:78-103; [[:punct:]] -> \p{Punct})
    return _rr(c, r"(\d{1,4})[\p{Punct}\s]([A-Za-z])\s", r"$1$2 ")


def move_flat_to_front_sql(c: str) -> str:
    # regexes.py:132-153 — despite its name this only rewrites the matched
    # suffix in place ('\1 \2'), normalising whitespace after 'FLAT n'
    return _rr(c, r"\b(FLAT \d+[A-Z]?)\s+(.*)", r"$1 $2")


def remove_repeated_tokens_sql(c: str) -> str:
    # 'word word' -> 'word' (regexes.py:48-71; intent active here)
    return _rr(c, r"\b(\w{4,})\s+\1\b", r"$1")


UK_POSTCODE_REGEX = r"^([A-Z]{1,2}\d[A-Z\d]?|GIR)\s*(\d[A-Z]{2})$"


# ---------------------------------------------------------------------------
# Step builders (reference: cleaning/cleaning_steps.py). Column names in,
# SQL text out; cleaning.pipeline lists them as the items of one select
# per stage.
# ---------------------------------------------------------------------------


def trim_whitespace_sql(c: str) -> str:
    # cleaning_steps.py:47-58 (address and postcode)
    return f"trim({c})"


def canonicalise_postcode_sql(c: str) -> str:
    # cleaning_steps.py:61-90 — single space between outward/inward codes
    return _rr(c, UK_POSTCODE_REGEX, r"$1 $2")


def upper_case_sql(c: str) -> str:
    # cleaning_steps.py:20-31 (address and postcode)
    return f"upper({c})"


def clean_address_string_first_pass_sql(c: str) -> str:
    # cleaning_steps.py:93-119 — nested regex chain, same order
    for fn in (
        remove_commas_periods_sql,
        remove_apostrophes_sql,
        remove_multiple_spaces_sql,
        replace_fwd_slash_with_dash_sql,
        standarise_num_dash_num_sql,
        separate_letter_num_sql,
        standarise_num_letter_sql,
        move_flat_to_front_sql,
        remove_repeated_tokens_sql,
    ):
        c = fn(c)
    return f"trim({c})"


def remove_duplicate_end_tokens_sql(c: str) -> str:
    # cleaning_steps.py:260-286. DuckDB [:-2] drops ONE trailing token,
    # [:-3] drops TWO (verified). The result is the reference's
    # original_address_concat (cleaning_steps.py:34-44).
    def dedupe(t: str) -> str:
        last = f"try_element_at({t}, -1)"
        last2 = f"try_element_at({t}, -2)"
        last3 = f"try_element_at({t}, -3)"
        last4 = f"try_element_at({t}, -4)"
        return X.cascade(
            [
                (
                    f"size({t}) >= 2 AND {last} = {last2}",
                    f"array_join(slice({t}, 1, size({t}) - 1), ' ')",
                ),
                (
                    f"size({t}) >= 4 AND {last4} = {last2} AND {last3} = {last}",
                    f"array_join(slice({t}, 1, size({t}) - 2), ' ')",
                ),
                (None, f"array_join({t}, ' ')"),
            ]
        )

    # let-bound: the token array (and transitively the upstream cleaning
    # chain) is evaluated once per row instead of ~12x
    return X.let(f"split({c}, ' ')", dedupe)


FLOOR_POSITIONS_RE = (
    r"\b(BASEMENT|GROUND FLOOR|FIRST FLOOR|SECOND FLOOR|THIRD FLOOR|TOP FLOOR|GARDEN)\b"
)
FLAT_LETTER_RE = r"\b\d{0,4}([A-Za-z])\b"
LEADING_LETTER_RE = r"^\s*\d+([A-Za-z])\b"
FLAT_NUMBER_RE = r"\b(FLAT|UNIT|APARTMENT)\s+(\S*\d\S*)\s+\S*\d\S*\b"


def parse_out_flat_position_and_letter_sql(addr: str) -> tuple[str, str]:
    """(flat_positional, flat_letter). cleaning_steps.py:122-169. NOTE:
    the reference extracts GROUP 1 of FLAT_NUMBER_RE — the keyword
    itself, not the number (verified against DuckDB); 'FLAT'/'UNIT'
    (len<=4) can therefore land in flat_letter. Reproduced faithfully
    for scoring parity."""
    floor_pos = f"regexp_extract({addr}, {X.q(FLOOR_POSITIONS_RE)}, 1)"
    flat_letter = f"regexp_extract({addr}, {X.q(FLAT_LETTER_RE)}, 1)"
    leading_letter = f"regexp_extract({addr}, {X.q(LEADING_LETTER_RE)}, 1)"
    flat_number = f"regexp_extract({addr}, {X.q(FLAT_NUMBER_RE)}, 1)"
    return (
        f"nullif({floor_pos}, '')",
        f"nullif(coalesce(nullif({flat_letter}, ''), "
        f"nullif({leading_letter}, ''), "
        f"CASE WHEN length({flat_number}) <= 4 THEN {flat_number} END), '')",
    )


NUMERIC_TOKEN_RE = r"\b(\d{1,5}-\d{1,5}|[A-Za-z]?\d{1,5}[A-Za-z]?)\b"


def parse_out_numbers_sql(addr: str, flat_letter: str) -> str:
    """struct<awn: address without numbers, nums: numeric tokens>.
    cleaning_steps.py:172-211 — if flat_letter is purely numeric the
    first numeric token is dropped (it duplicates the flat number)."""

    def split_out(a: str) -> str:
        def pick(all_nums: str) -> str:
            digits_re = X.q(r"^\d+$")
            return (
                f"CASE WHEN {flat_letter} IS NOT NULL AND "
                f"{flat_letter} RLIKE {digits_re} "
                f"THEN slice({all_nums}, 2, greatest(size({all_nums}) - 1, 0)) "
                f"ELSE {all_nums} END"
            )

        nums = X.let(f"regexp_extract_all({a}, {X.q(NUMERIC_TOKEN_RE)}, 0)", pick)
        return (
            f"named_struct('awn', regexp_replace({a}, {X.q(NUMERIC_TOKEN_RE)}, ''), "
            f"'nums', {nums})"
        )

    # double let-binding: the (collapsed, regex-heavy) address expression
    # and the extract_all array are each evaluated once per row
    return X.let(addr, split_out)


def clean_address_string_second_pass_sql(c: str) -> str:
    # cleaning_steps.py:214-228
    return f"trim({remove_multiple_spaces_sql(c)})"


def split_numeric_tokens_to_cols_sql(numeric_tokens: str) -> str:
    """struct<n1, n2, n3>. cleaning_steps.py:231-243 — digit runs only
    ('21A' -> '21'; '23-24' -> 23,24)."""
    digit_re = X.q(r"\d+")
    digits = f"regexp_extract_all(array_join({numeric_tokens}, ' '), {digit_re}, 0)"
    return X.let(
        digits,
        lambda d: (
            f"named_struct('n1', try_element_at({d}, 1), "
            f"'n2', try_element_at({d}, 2), 'n3', try_element_at({d}, 3))"
        ),
    )


def tokenise_address_without_numbers_sql(c: str) -> str:
    # cleaning_steps.py:246-257
    ws_re = X.q(r"\s+")
    return f"split(trim({c}), {ws_re})"


# ---------------------------------------------------------------------------
# Term-frequency attachment (cleaning_steps.py:326-408)
# ---------------------------------------------------------------------------

TF_DEFAULT_REL_FREQ = 5e-5  # cleaning_steps.py:339


def add_term_frequencies(df: DataFrame, rel_tok_freq: DataFrame) -> DataFrame:
    """Attach (tok, rel_freq) structs per token, preserving token order.

    Join-based formulation: posexplode -> broadcast left join on token ->
    re-assemble with array_sort(collect_list(struct(pos,...))) (collect_list
    alone is unordered). One shuffle on unique_id. Not on the pipeline
    path: it is the reference the tests hold the pipeline's shuffle-free
    :func:`term_frequency_udf` to.
    """
    exploded = df.select(
        "unique_id",
        F.posexplode_outer("address_without_numbers_tokenised").alias("pos", "token"),
    )
    joined = exploded.join(F.broadcast(rel_tok_freq), "token", "left").select(
        "unique_id",
        "pos",
        "token",
        F.coalesce("rel_freq", F.lit(TF_DEFAULT_REL_FREQ)).alias("rel_freq"),
    )
    assembled = joined.groupBy("unique_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "token", "rel_freq"))),
            lambda s: F.struct(
                s["token"].alias("tok"), s["rel_freq"].alias("rel_freq")
            ),
        ).alias("token_rel_freq_arr")
    )
    return df.join(assembled, "unique_id").drop("address_without_numbers_tokenised")


def term_frequency_udf(rel_tok_freq: DataFrame):
    """Shuffle-free TF attachment: the TF table, broadcast as a dict into
    an Arrow-batched pandas UDF that maps each token array to
    array<struct<tok, rel_freq>> in place.

    The reference needs a join because SQL has no broadcast-variable
    concept (cleaning_steps.py:337-342 + the re-assembly join at 360-366);
    on Spark the idiomatic scale path is a broadcast lookup inside a
    vectorized UDF: zero shuffles, plan stays embarrassingly parallel.
    ~300k-token TF tables are a few tens of MB — well under broadcast
    limits. When the TF table comes from linkage.build_side_tables (a
    local relation, built by session.local_frame), the collect below
    starts no Spark job.
    """
    import pandas as pd
    from pyspark.sql import types as T

    spark = rel_tok_freq.sparkSession
    tf_map = {r["token"]: r["rel_freq"] for r in rel_tok_freq.collect()}
    btf = spark.sparkContext.broadcast(tf_map)

    out_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("tok", T.StringType()),
                T.StructField("rel_freq", T.DoubleType()),
            ]
        )
    )

    @F.pandas_udf(out_type)
    def attach(tokens: pd.Series) -> pd.Series:
        tf = btf.value
        default = TF_DEFAULT_REL_FREQ
        return tokens.map(
            lambda arr: None
            if arr is None
            else [{"tok": t, "rel_freq": tf.get(t, default)} for t in arr]
        )

    return attach


# ---------------------------------------------------------------------------
# Post-TF step builders
# ---------------------------------------------------------------------------


def move_common_end_tokens_to_field_sql(arr: str, end_tokens: list[str]) -> str:
    """struct<common, remaining>. cleaning_steps.py:484-550 — common
    trailing tokens (e.g. LONDON) into their own field; the side table
    arrives as a small Python list and is inlined as an array literal
    (the reference cross-joins a 1-row table)."""
    end_lit = (
        "array(" + ", ".join(X.q(t) for t in end_tokens) + ")"
        if end_tokens
        else "cast(array() as array<string>)"
    )

    def split_ends(a: str) -> str:
        x1, x2, i2 = X.gensym("x"), X.gensym("x"), X.gensym("i")
        last3 = f"CASE WHEN size({a}) >= 3 THEN slice({a}, -3, 3) ELSE {a} END"
        common = f"filter({last3}, {x1} -> array_contains({end_lit}, {x1}.tok))"
        # DuckDB (x,i) is 1-based: `i > len-2` selects the last two
        # positions; 0-based equivalent: i >= size-2
        remaining = (
            f"filter({a}, ({x2}, {i2}) -> NOT ({i2} >= size({a}) - 2 "
            f"AND array_contains({end_lit}, {x2}.tok)))"
        )
        return f"named_struct('common', {common}, 'remaining', {remaining})"

    return X.let(arr, split_ends)


def first_unusual_token_sql(arr: str) -> str:
    # cleaning_steps.py:411-425
    x = X.gensym("x")
    return f"try_element_at(filter({arr}, {x} -> {x}.rel_freq < 0.001D), 1)"


def use_first_unusual_token_if_no_numeric_token_sql(
    numeric_token_1: str, arr: str, first_unusual: str
) -> tuple[str, str]:
    """(numeric_token_1, token array). cleaning_steps.py:428-448."""
    x = X.gensym("x")
    return (
        f"CASE WHEN {numeric_token_1} IS NULL THEN {first_unusual}.tok "
        f"ELSE {numeric_token_1} END",
        f"CASE WHEN {numeric_token_1} IS NULL THEN "
        f"filter({arr}, {x} -> coalesce({x}.tok != {first_unusual}.tok, true)) "
        f"ELSE {arr} END",
    )


def _sorted_by_freq_sql(arr: str) -> str:
    # stable sort by rel_freq (DuckDB list_grade_up), tie-broken by position
    x, i = X.gensym("x"), X.gensym("i")
    return (
        f"array_sort(transform({arr}, ({x}, {i}) -> named_struct("
        f"'rel_freq', {x}.rel_freq, 'pos', {i}, 'tok', {x}.tok)))"
    )


def separate_unusual_tokens_sql(arr: str) -> str:
    """struct<unusual, very_unusual, extremely_unusual>.
    cleaning_steps.py:553-582 — rarity bands, ordered by rel_freq asc."""

    def bands(sorted_arr: str) -> str:
        def band(lo: float | None, hi: float | None) -> str:
            x, y = X.gensym("x"), X.gensym("y")
            preds = ["true"]
            if lo is not None:
                preds.append(f"{x}.rel_freq >= {X.d(lo)}")
            if hi is not None:
                preds.append(f"{x}.rel_freq < {X.d(hi)}")
            pred = " AND ".join(preds)
            return (
                f"transform(filter({sorted_arr}, {x} -> {pred}), {y} -> {y}.tok)"
            )

        return (
            f"named_struct('unusual', {band(5e-5, 1e-4)}, "
            f"'very_unusual', {band(1e-7, 5e-5)}, "
            f"'extremely_unusual', {band(None, 1e-7)})"
        )

    return X.let(_sorted_by_freq_sql(arr), bands)


def _histogram_arr_sql(arr: str) -> str:
    """array<struct<tok,rel_freq>> -> tok-sorted array<struct<tok,cnt,rel_freq>>.

    Carries the same information as the reference's MAP(STRUCT, UBIGINT)
    histogram (SURVEY §1.2: tok uniquely determines rel_freq per record),
    but as a SORTED ARRAY rather than a map: Tungsten encodes arrays far
    more cheaply than maps in both shuffle rows and parquet pages, and the
    scoring intersection probes short arrays instead of per-entry map
    lookups (scoring._hist_prod_parallel_sql). NULL (not an empty array)
    when the source array is empty — matching DuckDB
    list_aggregate(_, 'histogram').
    """

    def hist(a: str) -> str:
        s, y = X.gensym("s"), X.gensym("y")
        h = (
            f"array_sort(transform(array_distinct({a}), {s} -> named_struct("
            f"'tok', {s}.tok, "
            f"'cnt', cast(size(filter({a}, {y} -> {y}.tok = {s}.tok)) as bigint), "
            f"'rel_freq', {s}.rel_freq)))"
        )
        return f"CASE WHEN size({a}) > 0 THEN {h} END"

    return X.let(arr, hist)


# ---------------------------------------------------------------------------
# Optional adjacency feature (cleaning_steps.py:585-721; default OFF in the
# reference — cleaning_pipelines.py:118)
# ---------------------------------------------------------------------------

_ADJ_REMOVE = ["FLAT", "APARTMENT", "UNIT"]


def separate_distinguishing_start_tokens_wrt_adjacent_records(
    df: DataFrame, partition_col: str | None = None
) -> DataFrame:
    """Split each address into tokens unique to it vs tokens shared with
    its neighbours when sorted by reverse(original_address_concat) — the
    reference's address_concat at this point of its queue.

    Faithful to the reference including its off-by-one (the correlated
    max(i) understates the true common-suffix length by one when the whole
    shorter list matches is impossible; cleaning_steps.py:624-636) and the
    NULL-when-no-overlap behaviour.

    ``partition_col`` bounds the sort window (e.g. postcode sector) — the
    reference uses a single global window (cleaning_steps.py:609), which
    cannot scale; per-sector ordering is the documented relaxation
    (SURVEY §2.5). Default None keeps exact reference semantics.
    """
    from pyspark.sql import Window

    remove_lit = F.array(*[F.lit(t) for t in _ADJ_REMOVE])
    toks = F.filter(
        F.split(F.col("original_address_concat"), r"\s+"),
        lambda x: ~F.array_contains(remove_lit, x),
    )
    reversed_address = F.reverse(F.col("original_address_concat"))
    if partition_col is None:
        w = Window.orderBy(reversed_address)
    else:
        w = Window.partitionBy(partition_col).orderBy(reversed_address)
    df = (
        df.withColumn("__toks_adj", toks)
        .withColumn("__prev", F.lag("__toks_adj").over(w))
        .withColumn("__next", F.lead("__toks_adj").over(w))
    )

    def suffix_len(t: Column, p: Column) -> Column:
        # max i in [0, min-1] with equal length-(i+1) reversed prefixes;
        # NULL when even the last tokens differ (reference subquery result)
        rev_t, rev_p = F.reverse(t), F.reverse(p)
        n = F.least(F.size(t), F.size(p))
        matches = F.filter(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.slice(rev_t, 1, i + 1) == F.slice(rev_p, 1, i + 1),
        )
        return F.when(p.isNotNull() & (n >= 1), F.array_max(matches)).otherwise(
            F.when(p.isNull(), F.lit(0))
        )

    t = F.col("__toks_adj")
    df = df.withColumn(
        "__max_suffix",
        F.greatest(
            suffix_len(t, F.col("__prev")), suffix_len(t, F.col("__next"))
        ),
    )
    cnt = F.size(t)
    unique_toks = F.filter(t, lambda x, i: i < cnt - F.col("__max_suffix"))
    common_toks = F.filter(t, lambda x, i: i >= cnt - F.col("__max_suffix"))
    return (
        df.withColumn(
            "distinguishing_adj_start_tokens",
            F.coalesce(unique_toks, F.array().cast("array<string>")),
        )
        .withColumn(
            "common_adj_start_tokens",
            F.coalesce(common_toks, F.array().cast("array<string>")),
        )
        .drop("__toks_adj", "__prev", "__next", "__max_suffix")
    )


def generalised_token_aliases(df: DataFrame) -> DataFrame:
    # cleaning_steps.py:663-721 — guide matches away from implausible
    # floor-level pairings
    def alias_of(tok: Column) -> Column:
        return (
            F.when(
                tok.isin("FIRST", "SECOND", "THIRD", "TOP"),
                F.array(F.lit("UPPERFLOOR"), F.lit("LEVEL")),
            )
            .when(tok.isin("GARDEN", "GROUND"), F.array(F.lit("GROUNDFLOOR"), F.lit("LEVEL")))
            .when(tok == "BASEMENT", F.array(F.lit("LEVEL")))
            .otherwise(F.array(tok))
        )

    return df.withColumn(
        "distinguishing_adj_token_aliases",
        F.flatten(
            F.transform(F.col("distinguishing_adj_start_tokens"), alias_of)
        ),
    )


FINAL_COLUMNS = [
    "unique_id",
    "numeric_token_1",
    "numeric_token_2",
    "numeric_token_3",
    "token_rel_freq_arr_hist",
    "common_end_tokens_hist",
    "postcode",
    "original_address_concat",
    "flat_positional",
    "flat_letter",
    "unusual_tokens_arr",
    "very_unusual_tokens_arr",
    "extremely_unusual_tokens_arr",
]
