"""Fellegi-Sunter pairwise scoring: 8 comparisons, first-match-wins levels.

The model is the reference's hard-coded one
(/root/reference/uk_address_matcher/linking_model/training.py:11-587,
persisted as data/splink_model.json): prior
probability_two_random_records_match = 3e-8; each comparison is a CASE
cascade whose stored "m_probability" values are literally Bayes factors
because u is fixed at 1 (training.py:42 uses 2^weight) except where noted
(num_3, original_address_concat, common_end, postcode carry explicit m/u
pairs -> BF = m/u).

match_weight = log2(prior odds) + sum(log2(BF_c)); p = 2^w / (1 + 2^w).

Spark realisation (score_pairs), three steps: one projection per side
builds the compact per-record comparison inputs, the numeric TF included;
one join pair attaches both sides to the candidate ids; one kernel
projection computes all comparison BFs as when-cascades over the joined
pair row and the weight from them. The 34-level histogram comparison
computes its product expression ONCE (let-bound) and buckets it with a
when ladder — the reference re-inlines the product per level
(splink_model.json:337-607), which we deliberately do not. The threshold
filter and the optional top-n prune run on the narrow (ids, weight) rows;
match_probability is derived from the weight once, at the end.

TF adjustment (Splink public semantics): on a matched level with
tf_adjustment_column c and weight w, BF *= (u_level / tf(c))^w with
tf = greatest(tf_l, tf_r) from the numeric-token TF table; no adjustment
when the value is absent. (training.py:176-178, 242-244, 293-295, 302-304)
The TF value belongs to a record, so it is looked up once per record on
each side, not once per pair.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uk_address_matcher_spark import sqlexpr as X
from uk_address_matcher_spark.cleaning.steps import let
from uk_address_matcher_spark.second_pass import prune_candidates

PRIOR_P = 3e-8
PRIOR_LOG2_ODDS = math.log2(PRIOR_P / (1 - PRIOR_P))


def _w2bf(weight: float) -> float:
    return float(2.0**weight)


def hist_intersection_product(hl: Column, hr: Column) -> Column:
    """Product over tokens present in both histograms of
    rel_freq ^ min(cnt_l, cnt_r); 1.0 when no overlap.

    Reference: array_reduce_by_freq, training.py:323-357.

    Histograms are ``array<struct<tok,cnt,rel_freq>>`` with distinct toks
    per side (steps._histogram_arr_sql): one aggregate over the left side
    with a filter-probe into the right. Address histograms are short (<~15
    entries), so the O(n_l * n_r) probe beats both the previous map
    encoding (Spark map lookups are O(n) scans over UnsafeMapData, and map
    columns are the expensive payload in every shuffle/encode) and a
    concat + array_sort merge (measured 7.0s vs 9.1s per 3.7M pairs on
    32 cores — the sort comparator costs more than the short probes).
    """

    def body(e: Column) -> Column:
        hit = F.try_element_at(
            F.filter(hr, lambda y: y["tok"] == e["tok"]), F.lit(1)
        )
        return F.coalesce(
            F.when(
                hit.isNotNull(),
                F.pow(e["rel_freq"], F.least(e["cnt"], hit["cnt"]).cast("double")),
            ),
            F.lit(1.0),
        )

    return F.aggregate(hl, F.lit(1.0), lambda acc, e: acc * body(e))


def _tf_multiplier(u_level: float, tf_weight: float, tf_l: Column, tf_r: Column) -> Column:
    tf = F.greatest(tf_l, tf_r)
    return F.coalesce(
        F.when(tf.isNotNull(), F.pow(F.lit(u_level) / tf, F.lit(tf_weight))),
        F.lit(1.0),
    )


def _cascade(levels: list[tuple[Column, Column]]) -> Column:
    """[(condition, bf_column)] -> first-match-wins BF column."""
    expr = None
    for cond, bf in levels[:-1]:
        expr = F.when(cond, bf) if expr is None else expr.when(cond, bf)
    return expr.otherwise(levels[-1][1])


def _hist_prod_parallel_sql(prefix: str) -> str:
    """Intersection product over the PARALLEL-ARRAY histogram encoding
    (see _side): per side ``{prefix}_tok`` array<bigint>
    (xxhash64 of tok, side-distinct), ``{prefix}_cnt`` array<bigint>,
    and on the LEFT side ``{prefix}_rf`` array<double> — the product
    reads only the left side's rel_freq (min-cnt exponent, left entry
    order), exactly like :func:`hist_intersection_product`, so the right
    side never ships its rel_freq array at all.

    vs the struct probe (hist_intersection_product): array_position over
    a dense primitive long array SHORT-CIRCUITS at the first hit where
    filter(...) materialises the whole filtered struct array, and the
    per-entry struct headers disappear from the pair-attach exchange.
    Multiplication order is the left entry order either way, so the
    emitted double is bit-identical.

    MEASURED NEGATIVE RESULT (round 5), recorded so it is not retried:
    lambda HOFs are CodegenFallback, so this expression keeps the whole
    kernel projection OFF whole-stage codegen — we built an unrolled,
    HOF-free twin (fixed-depth product over try_element_at /
    array_position, probe-sized to the corpus max histogram length,
    bit-identical outputs) that put the kernel back INSIDE codegen
    ("* Project" in the plan). It was ~2x MORE executor CPU, not less:
    interleaved kernel A/B at 250k docs / 16 cores, 19.8M pairs —
    HOF 24.3s/704 busy-cpu-s vs unrolled 65.3s/1342 (and 42.9s/1014
    with spark.sql.codegen.hugeMethodLimit=8000, i.e. part of the loss
    is giant generated consume() methods HotSpot refuses to JIT; the
    rest is the unroll evaluating every padded slot where the fold
    walks only the real entries). Catalyst's interpreted fold over
    packed primitive arrays is simply the faster shape here.
    """
    tl, cl_, rl = f"{prefix}_tok_l", f"{prefix}_cnt_l", f"{prefix}_rf_l"
    tr, cr_ = f"{prefix}_tok_r", f"{prefix}_cnt_r"
    t, p, i = X.gensym("t"), X.gensym("p"), X.gensym("i")
    acc, x = X.gensym("acc"), X.gensym("x")
    pos = f"transform({tl}, {t} -> cast(array_position({tr}, {t}) as int))"
    body = (
        f"CASE WHEN {p} > 0 THEN pow(element_at({rl}, {i} + 1), "
        f"cast(least(element_at({cl_}, {i} + 1), element_at({cr_}, {p})) as double)) "
        f"ELSE 1.0D END"
    )
    return (
        f"aggregate(transform({pos}, ({p}, {i}) -> {body}), 1.0D, "
        f"({acc}, {x}) -> {acc} * {x})"
    )


def _tf_mult_sql(u_level: float, tf_weight: float, tf_l: str, tf_r: str) -> str:
    tf = f"greatest({tf_l}, {tf_r})"
    return (
        f"coalesce(CASE WHEN {tf} IS NOT NULL THEN "
        f"pow({X.d(u_level)} / {tf}, {X.d(tf_weight)}) END, 1.0D)"
    )


def _bucket_sql(prod: str) -> str:
    """The 34-level product-threshold ladder as SQL over an arbitrary
    (already-bound) product expression. Non-increasing in ``prod``:
    smaller products hit earlier (higher-weight) levels."""
    return X.cascade(
        [
            (f"{prod} < {X.d(10.0 ** exp)}", X.d(_w2bf(weight)))
            for exp, weight in _token_hist_levels()
        ]
        + [(None, X.d(1 / 256))]
    )


@X.scoped
def comparison_bf_sqls() -> dict[str, str]:
    """All 8 comparison BF expressions as SQL text over a suffixed pair of
    COMPACT rows (see _side): cols *_l/*_r, the per-record columns
    ``__oac_sig``, ``__nt1_dg``, ``__th_*``/``__ch_*`` and
    ``__pc_area``/``__pc_in``, plus tf_numeric_token_{1,2,3}_{l,r}.
    Values equal :func:`_comparison_bfs_column_api` over the uncompacted
    rows (parity-tested).

    Why strings: the Column API costs one Py4J round-trip per operator
    node; this kernel has thousands. One ``F.expr`` per comparison
    parses the identical tree JVM-side in milliseconds (all constants
    are Python-computed and embedded with exact round-trip repr, so the
    values are bit-identical to the former ``F.lit`` forms).
    """
    # 1. original_address_concat — cl.ExactMatch u=[1,2] m=[15,1] (training.py:14-16)
    oac = X.cascade(
        [
            ("(__oac_sig_l IS NULL OR __oac_sig_r IS NULL)", "1.0D"),
            ("__oac_sig_l = __oac_sig_r", X.d(15.0)),
            (None, X.d(1 / 2)),
        ]
    )

    # 2. flat_positional (training.py:94-157)
    fp = X.cascade(
        [
            (
                "(flat_positional_l IS NULL AND flat_positional_r IS NULL "
                "AND flat_letter_l IS NULL AND flat_letter_r IS NULL)",
                "1.0D",
            ),
            ("flat_positional_l = flat_positional_r", X.d(_w2bf(6.57))),
            ("flat_letter_l = flat_letter_r", X.d(_w2bf(6.57))),
            (
                "(flat_letter_l = numeric_token_1_r "
                "OR flat_letter_r = numeric_token_1_l)",
                X.d(_w2bf(0)),
            ),
            (
                "((flat_positional_l IS NOT NULL AND flat_positional_r IS NULL "
                "AND flat_letter_r IS NOT NULL) OR "
                "(flat_positional_r IS NOT NULL AND flat_positional_l IS NULL "
                "AND flat_letter_l IS NOT NULL))",
                X.d(_w2bf(0)),
            ),
            (None, X.d(_w2bf(-5))),
        ]
    )

    # 3. numeric_token_1 (training.py:160-219)
    tf1 = _tf_mult_sql(1.0, 0.1, "tf_numeric_token_1_l", "tf_numeric_token_1_r")
    n1 = X.cascade(
        [
            ("(numeric_token_1_l IS NULL OR numeric_token_1_r IS NULL)", "1.0D"),
            ("numeric_token_1_l = numeric_token_1_r", f"{X.d(_w2bf(6.57))} * {tf1}"),
            ("__nt1_dg_l = __nt1_dg_r", f"{X.d(_w2bf(6.57))} * {tf1}"),
            (
                "(numeric_token_2_l = numeric_token_1_r "
                "OR numeric_token_1_l = numeric_token_2_r)",
                X.d(_w2bf(2)),
            ),
            # level 5 of the reference (NULL OR NULL, weight -4) is shadowed
            # by level 1 — kept out; ELSE:
            (None, X.d(_w2bf(-8))),
        ]
    )

    # 4. numeric_token_2 (training.py:222-273)
    tf2 = _tf_mult_sql(1.0, 0.1, "tf_numeric_token_2_l", "tf_numeric_token_2_r")
    n2 = X.cascade(
        [
            ("(numeric_token_2_l IS NULL AND numeric_token_2_r IS NULL)", "1.0D"),
            ("numeric_token_2_l = numeric_token_2_r", f"{X.d(_w2bf(6.57))} * {tf2}"),
            (
                "(numeric_token_1_l = numeric_token_2_r "
                "OR numeric_token_1_r = numeric_token_2_l)",
                X.d(_w2bf(0)),
            ),
            ("(numeric_token_2_l IS NULL OR numeric_token_2_r IS NULL)", X.d(_w2bf(-2))),
            (None, X.d(_w2bf(-4))),
        ]
    )

    # 5. numeric_token_3 — explicit m/u pairs (training.py:281-320)
    tf3a = _tf_mult_sql(0.0001, 0.5, "tf_numeric_token_3_l", "tf_numeric_token_3_r")
    tf3b = _tf_mult_sql(0.0025, 0.5, "tf_numeric_token_3_l", "tf_numeric_token_3_r")
    n3 = X.cascade(
        [
            ("(numeric_token_3_l IS NULL AND numeric_token_3_r IS NULL)", "1.0D"),
            ("numeric_token_3_l = numeric_token_3_r", f"{X.d(0.6 / 0.0001)} * {tf3a}"),
            ("numeric_token_2_l = numeric_token_3_r", f"{X.d(0.3 / 0.0025)} * {tf3b}"),
            ("(numeric_token_3_l IS NULL OR numeric_token_3_r IS NULL)", X.d(1 / 16)),
            (None, X.d(1 / 256)),
        ]
    )

    # 6. token_rel_freq_arr_hist — 34 product-threshold levels
    #    (training.py:386-455); product computed once (let-bound),
    #    bucketed by the when ladder
    th_null = "(__th_tok_l IS NULL OR __th_tok_r IS NULL)"
    th_prod = _hist_prod_parallel_sql("__th")
    ch_null = "(__ch_tok_l IS NULL OR __ch_tok_r IS NULL)"
    ch_prod = _hist_prod_parallel_sql("__ch")
    tok_hist = X.cascade(
        [
            (th_null, "1.0D"),
            (None, X.let(th_prod, _bucket_sql)),
        ]
    )

    # 7. common_end_tokens (training.py:458-486)
    cet = X.cascade(
        [
            (ch_null, "1.0D"),
            (f"{ch_prod} < {X.d(1e-2)}", X.d(4.0)),
            (None, X.d(1 / 1.5)),
        ]
    )

    # 8. postcode (training.py:489-546)
    pc = X.cascade(
        [
            ("(postcode_l IS NULL AND postcode_r IS NULL)", "1.0D"),
            ("postcode_l = postcode_r", X.d(3e6)),
            ("levenshtein(postcode_l, postcode_r) <= 1", X.d(10000.0)),
            ("levenshtein(postcode_l, postcode_r) <= 2", X.d(5000.0)),
            ("__pc_area_l = __pc_area_r", X.d(3000.0)),
            ("__pc_in_l = __pc_in_r", X.d(2000.0)),
            (None, X.d(1 / 64)),
        ]
    )

    return {
        "bf_original_address_concat": oac,
        "bf_flat_positional": fp,
        "bf_numeric_token_1": n1,
        "bf_numeric_token_2": n2,
        "bf_numeric_token_3": n3,
        "bf_token_rel_freq_arr_hist": tok_hist,
        "bf_common_end_tokens": cet,
        "bf_postcode": pc,
    }


def _comparison_bfs_column_api() -> dict[str, Column]:
    """Column-API reference kernel over UNCOMPACTED suffixed pair rows
    (text, struct histograms, raw postcodes): the parity test asserts the
    production kernel (score_pairs over comparison_bf_sqls) emits the same
    BFs; not used on the hot path — building it costs ~3s of Py4J
    round-trips.
    """
    c = F.col

    # 1. original_address_concat — cl.ExactMatch u=[1,2] m=[15,1] (training.py:14-16)
    oac_l, oac_r = "original_address_concat_l", "original_address_concat_r"
    oac = _cascade(
        [
            (c(oac_l).isNull() | c(oac_r).isNull(), F.lit(1.0)),
            (c(oac_l) == c(oac_r), F.lit(15.0)),
            (F.lit(True), F.lit(1 / 2)),
        ]
    )

    # 2. flat_positional (training.py:94-157)
    fp = _cascade(
        [
            (
                c("flat_positional_l").isNull()
                & c("flat_positional_r").isNull()
                & c("flat_letter_l").isNull()
                & c("flat_letter_r").isNull(),
                F.lit(1.0),
            ),
            (c("flat_positional_l") == c("flat_positional_r"), F.lit(_w2bf(6.57))),
            (c("flat_letter_l") == c("flat_letter_r"), F.lit(_w2bf(6.57))),
            (
                (c("flat_letter_l") == c("numeric_token_1_r"))
                | (c("flat_letter_r") == c("numeric_token_1_l")),
                F.lit(_w2bf(0)),
            ),
            (
                (
                    c("flat_positional_l").isNotNull()
                    & c("flat_positional_r").isNull()
                    & c("flat_letter_r").isNotNull()
                )
                | (
                    c("flat_positional_r").isNotNull()
                    & c("flat_positional_l").isNull()
                    & c("flat_letter_l").isNotNull()
                ),
                F.lit(_w2bf(0)),
            ),
            (F.lit(True), F.lit(_w2bf(-5))),
        ]
    )

    # 3. numeric_token_1 (training.py:160-219)
    digits = lambda col: F.nullif(F.regexp_extract(col, r"\d+", 0), F.lit(""))  # noqa: E731
    n1 = _cascade(
        [
            (c("numeric_token_1_l").isNull() | c("numeric_token_1_r").isNull(), F.lit(1.0)),
            (
                c("numeric_token_1_l") == c("numeric_token_1_r"),
                F.lit(_w2bf(6.57))
                * _tf_multiplier(1.0, 0.1, c("tf_numeric_token_1_l"), c("tf_numeric_token_1_r")),
            ),
            (
                digits(c("numeric_token_1_l")) == digits(c("numeric_token_1_r")),
                F.lit(_w2bf(6.57))
                * _tf_multiplier(1.0, 0.1, c("tf_numeric_token_1_l"), c("tf_numeric_token_1_r")),
            ),
            (
                (c("numeric_token_2_l") == c("numeric_token_1_r"))
                | (c("numeric_token_1_l") == c("numeric_token_2_r")),
                F.lit(_w2bf(2)),
            ),
            # level 5 of the reference (NULL OR NULL, weight -4) is shadowed
            # by level 1 — kept out; ELSE:
            (F.lit(True), F.lit(_w2bf(-8))),
        ]
    )

    # 4. numeric_token_2 (training.py:222-273)
    n2 = _cascade(
        [
            (c("numeric_token_2_l").isNull() & c("numeric_token_2_r").isNull(), F.lit(1.0)),
            (
                c("numeric_token_2_l") == c("numeric_token_2_r"),
                F.lit(_w2bf(6.57))
                * _tf_multiplier(1.0, 0.1, c("tf_numeric_token_2_l"), c("tf_numeric_token_2_r")),
            ),
            (
                (c("numeric_token_1_l") == c("numeric_token_2_r"))
                | (c("numeric_token_1_r") == c("numeric_token_2_l")),
                F.lit(_w2bf(0)),
            ),
            (c("numeric_token_2_l").isNull() | c("numeric_token_2_r").isNull(), F.lit(_w2bf(-2))),
            (F.lit(True), F.lit(_w2bf(-4))),
        ]
    )

    # 5. numeric_token_3 — explicit m/u pairs (training.py:281-320)
    n3 = _cascade(
        [
            (c("numeric_token_3_l").isNull() & c("numeric_token_3_r").isNull(), F.lit(1.0)),
            (
                c("numeric_token_3_l") == c("numeric_token_3_r"),
                F.lit(0.6 / 0.0001)
                * _tf_multiplier(0.0001, 0.5, c("tf_numeric_token_3_l"), c("tf_numeric_token_3_r")),
            ),
            (
                c("numeric_token_2_l") == c("numeric_token_3_r"),
                F.lit(0.3 / 0.0025)
                * _tf_multiplier(0.0025, 0.5, c("tf_numeric_token_3_l"), c("tf_numeric_token_3_r")),
            ),
            (c("numeric_token_3_l").isNull() | c("numeric_token_3_r").isNull(), F.lit(1 / 16)),
            (F.lit(True), F.lit(1 / 256)),
        ]
    )

    # 6. token_rel_freq_arr_hist — 34 product-threshold levels
    #    (training.py:386-455); product computed once, bucketed by ladder
    levels = _token_hist_levels()

    def bucket(prod: Column) -> Column:
        expr = None
        for threshold_exp, weight in levels:
            cond = prod < float(10.0**threshold_exp)
            bf = F.lit(_w2bf(weight))
            expr = F.when(cond, bf) if expr is None else expr.when(cond, bf)
        return expr.otherwise(F.lit(1 / 256))

    tok_hist = F.when(
        c("token_rel_freq_arr_hist_l").isNull() | c("token_rel_freq_arr_hist_r").isNull(),
        F.lit(1.0),
    ).otherwise(
        let(
            hist_intersection_product(
                c("token_rel_freq_arr_hist_l"), c("token_rel_freq_arr_hist_r")
            ),
            bucket,
        )
    )

    # 7. common_end_tokens (training.py:458-486)
    cet = F.when(
        c("common_end_tokens_hist_l").isNull() | c("common_end_tokens_hist_r").isNull(),
        F.lit(1.0),
    ).otherwise(
        F.when(
            hist_intersection_product(
                c("common_end_tokens_hist_l"), c("common_end_tokens_hist_r")
            )
            < 1e-2,
            F.lit(4.0),
        ).otherwise(F.lit(1 / 1.5))
    )

    # 8. postcode (training.py:489-546)
    pc = _cascade(
        [
            (c("postcode_l").isNull() & c("postcode_r").isNull(), F.lit(1.0)),
            (c("postcode_l") == c("postcode_r"), F.lit(3e6)),
            (F.levenshtein(c("postcode_l"), c("postcode_r")) <= 1, F.lit(10000.0)),
            (F.levenshtein(c("postcode_l"), c("postcode_r")) <= 2, F.lit(5000.0)),
            (
                F.split_part(c("postcode_l"), F.lit(" "), F.lit(1))
                == F.split_part(c("postcode_r"), F.lit(" "), F.lit(1)),
                F.lit(3000.0),
            ),
            (
                F.split_part(c("postcode_l"), F.lit(" "), F.lit(2))
                == F.split_part(c("postcode_r"), F.lit(" "), F.lit(2)),
                F.lit(2000.0),
            ),
            (F.lit(True), F.lit(1 / 64)),
        ]
    )

    return {
        "bf_original_address_concat": oac,
        "bf_flat_positional": fp,
        "bf_numeric_token_1": n1,
        "bf_numeric_token_2": n2,
        "bf_numeric_token_3": n3,
        "bf_token_rel_freq_arr_hist": tok_hist,
        "bf_common_end_tokens": cet,
        "bf_postcode": pc,
    }


def _token_hist_levels() -> list[tuple[int, float]]:
    """(threshold_exponent, weight) pairs, most-negative exponent first —
    generate_arr_reduce_data(4, -4, [8,8,8,10], [1,1,0.25,0.25]) reversed
    (training.py:386-418)."""
    data = []
    current_exp, current_weight = 4, -4.0
    for segment, delta in zip([8, 8, 8, 10], [1.0, 1.0, 0.25, 0.25]):
        for _ in range(segment):
            data.append((current_exp, current_weight))
            current_weight += delta
            current_exp -= 1
    return data[::-1]


def _sides_broadcastable(cleaned_l: DataFrame, cleaned_r: DataFrame) -> bool:
    """Size gate for broadcasting the side tables into pair-attach joins.

    Two count jobs over the n-record sides (the linkage caller's durable
    cleaning barrier makes these cheap parquet counts) buy the removal of
    an n_pairs-row exchange — at 1M docs that trade is ~2 narrow scans vs
    5.1 GB of intermediate shuffle. The cap is rows, not bytes: a compact
    side row is ~250 B (packed histogram arrays + short strings), so the
    default 2M rows is ~500 MB per broadcast table — sized for >=4 GB
    executors; lower/raise SPARK_GRAFT_BROADCAST_SIDES_ROWS per
    deployment, 0 disables."""
    cap = int(os.environ.get("SPARK_GRAFT_BROADCAST_SIDES_ROWS", "2000000"))
    if cap <= 0:
        return False
    return cleaned_l.count() <= cap and cleaned_r.count() <= cap


def _side(
    cleaned: DataFrame, numeric_tf: DataFrame | None, suffix: str, rf: bool
) -> DataFrame:
    """One side's COMPACT, suffixed pair-join payload, built as one
    projection per record. Every candidate pair (23M at 250k docs)
    carries both sides' comparison inputs into the kernel, but only the
    ~5% surviving the threshold need display columns — measured
    per-stage executor-CPU shows the attach/scoring stages dominated by
    payload bytes (memory bandwidth) at high parallelism. The blocking
    key arrays (unusual_* bands) are not projected at all.
     - token histogram: tok -> xxhash64(tok), then split into PARALLEL
       primitive arrays (__th_tok array<bigint>, __th_cnt array<bigint>,
       __th_rf array<double> on the left side only — the intersection
       product never reads the right side's rel_freq, so ``rf=False``
       for the right/messy side). Intersection needs token EQUALITY only
       (collision odds inside one pair's ~30-token vocabulary: ~2^-59);
       dense primitive arrays drop the per-entry struct headers from the
       join payload and let the probe short-circuit (array_position)
       instead of filtering.
     - common-end histogram: same encoding (__ch_*; its BF is also
       intersection-only). The STRING form the second pass needs is
       re-attached post-filter by attach_display_columns.
     - original_address_concat: replaced by a null-preserving xxhash64
       signature (__oac_sig); its BF is equality-only. Text re-attached
       post-filter.
     - __nt1_dg: numeric_token_1's digit run, extracted once per record;
       the n1 cascade's level 3 compares these instead of
       regexp_extract-ing per pair — identical values, the regex runs n
       times instead of n_pairs times.
     - __pc_area/__pc_in: the postcode split once per record for the
       postcode cascade's levels 5-6. Spark's split_part (StringSplitSQL)
       routes through UTF8String.split -> String.split, which COMPILES A
       java.util.regex Pattern on every call — JFR-profiled at ~25% of
       the scoring stage's CPU when the four calls sat on the pair path
       (evaluated for every pair whose equality/levenshtein levels miss,
       i.e. most of them). Same values, including split_part's
       ''-on-missing-part and NULL propagation.
     - tf_numeric_token_{1,2,3}: the numeric TF belongs to the record, so
       it is looked up here (attach_numeric_tf) rather than per pair;
       all NULL (no adjustment) without a TF table.
    """
    s = suffix
    cols = [
        f"{c} AS {c}{s}"
        for c in (
            "unique_id", "numeric_token_1", "numeric_token_2", "numeric_token_3",
            "postcode", "flat_positional", "flat_letter",
        )
    ]
    parts = [("tok", "xxhash64({e}.tok)"), ("cnt", "{e}.cnt")]
    if rf:
        parts.append(("rf", "{e}.rel_freq"))
    for hist, pref in (
        ("token_rel_freq_arr_hist", "__th"),
        ("common_end_tokens_hist", "__ch"),
    ):
        for part, body in parts:
            e = X.gensym("e")
            cols.append(f"transform({hist}, {e} -> {body.format(e=e)}) AS {pref}_{part}{s}")
    cols += [
        f"nullif(regexp_extract(numeric_token_1, '\\\\d+', 0), '') AS __nt1_dg{s}",
        f"split_part(postcode, ' ', 1) AS __pc_area{s}",
        f"split_part(postcode, ' ', 2) AS __pc_in{s}",
        "CASE WHEN original_address_concat IS NOT NULL "
        f"THEN xxhash64(original_address_concat) END AS __oac_sig{s}",
    ]
    if numeric_tf is None:
        cols += [f"CAST(NULL AS double) AS tf_numeric_token_{k}{s}" for k in (1, 2, 3)]
    side = cleaned.selectExpr(*cols)
    return side if numeric_tf is None else attach_numeric_tf(side, numeric_tf, s)


def attach_numeric_tf(df: DataFrame, numeric_tf: DataFrame, suffix: str) -> DataFrame:
    """Broadcast-join tf_numeric_token_k for k=1..3 on one side's columns."""
    for k in (1, 2, 3):
        tf = F.broadcast(
            numeric_tf.select(
                F.col("numeric_token").alias(f"numeric_token_{k}{suffix}"),
                F.col("tf_numeric_token").alias(f"tf_numeric_token_{k}{suffix}"),
            )
        )
        df = df.join(tf, f"numeric_token_{k}{suffix}", "left")
    return df


def _attach_sides(
    df: DataFrame, left: DataFrame, right: DataFrame, broadcast_sides: bool
) -> DataFrame:
    """Join ``left`` on unique_id_l and ``right`` on unique_id_r.

    Broadcast: the two-key attach otherwise re-exchanges the n_pairs-row
    (pairs x left-signature) intermediate to co-locate on unique_id_r
    (5.1 GB of shuffle read at 1M docs / 43M pairs); broadcast, scan ->
    attach -> kernel -> threshold filter is ONE map-side stage.
    Shuffle-hash, for sides over the size gate (_sides_broadcastable):
    sort-merge would sort 10^6-10^9 wide (array-carrying) rows per side;
    hashing the cleaned side is cheaper."""

    def hinted(side: DataFrame) -> DataFrame:
        return F.broadcast(side) if broadcast_sides else side.hint("shuffle_hash")

    return df.join(hinted(left), "unique_id_l").join(hinted(right), "unique_id_r")


@X.scoped
def score_pairs(
    pairs: DataFrame,
    cleaned_l: DataFrame,
    cleaned_r: DataFrame,
    numeric_tf: DataFrame | None = None,
    threshold_match_weight: float | None = None,
    retain_bf: bool = False,
    retain_matching_columns: bool = True,
    attach_display: bool = True,
    prune_top_n: tuple[float, int] | None = None,
    broadcast_sides: bool | None = None,
) -> DataFrame:
    """(unique_id_l, unique_id_r) pairs -> scored prediction table.

    Three steps: one projection per side (_side: the compact comparison
    inputs plus the per-record numeric TF), the pair join that attaches
    both sides to the ids AFTER pair dedup (ids only move through the
    blocking shuffle), and one kernel projection computing all 8 BFs and
    the weight. The threshold filter sits directly above it, over rows
    narrowed to (ids, weight) — plus the bf_* columns under
    ``retain_bf`` — so nothing else crosses the top-n window or reaches
    the caller; match_probability is computed from the weight last.

    ``prune_top_n=(thr, n)``: the prune IS ``prune_candidates(df, thr, n)``
    — weight > thr and rank <= n per messy record by (weight DESC,
    unique_id_l DESC) — applied here to the narrow rows over a core-sized
    repartition on unique_id_r, so only (ids, weight) cross the top-n
    window's exchange. A two-stage branch-and-bound kernel was measured
    and removed; OPTIMIZATION_r06.md §4 records why and when it would pay.

    ``attach_display=False`` returns the scored rows as they are (ids,
    weight, probability, and bf_* under ``retain_bf``) — for callers that
    prune further before needing text columns (linkage prunes to the
    rescoring candidate set first, then calls attach_display_columns).

    ``retain_matching_columns`` mirrors the reference setting of the same
    name (splink_model.py:36): False keeps only ids, weights, the
    address/postcode pair and common_end_tokens_hist_r (the second pass's
    inputs) in the output; True also re-attaches the compared attribute
    columns. Either way they are re-attached from the cleaned tables
    AFTER the threshold filter (attach_display_columns).

    ``broadcast_sides``: None probes the size gate (_sides_broadcastable,
    two count jobs); a caller that also calls attach_display_columns
    computes the decision once and passes it to both.
    """
    left = _side(cleaned_l, numeric_tf, "_l", rf=True)
    right = _side(cleaned_r, numeric_tf, "_r", rf=False)
    if broadcast_sides is None:
        broadcast_sides = _sides_broadcastable(cleaned_l, cleaned_r)
    df = _attach_sides(pairs, left, right, broadcast_sides)

    bf_sqls = comparison_bf_sqls()
    df = df.selectExpr(
        "unique_id_l", "unique_id_r", *[f"{sql} AS {name}" for name, sql in bf_sqls.items()]
    )
    log_sum = " + ".join(f"log2({name})" for name in bf_sqls)
    # Pin the weight projection: CollapseProject + PushDownPredicate would
    # otherwise inline the ENTIRE scoring expression tree into every
    # downstream consumer — the threshold filter (which lands in the join
    # condition), the match_weight output, and match_probability's two
    # references — evaluating all 8 BF cascades 4x per pair (measured: 4
    # copies of every comparison in the optimized plan). Adding
    # ``0.0 * rand(seed)`` leaves the value bit-identical (0.0 * r is
    # exactly 0.0 for r in [0,1)) but flags the column nondeterministic,
    # which Catalyst refuses to collapse through or push filters below, so
    # the kernel runs exactly once and consumers read the materialised
    # column. (A boolean guard like ``rand() >= -1`` does NOT survive:
    # Spark 4 folds out-of-range rand comparisons to literals.)
    df = df.selectExpr(
        "unique_id_l",
        "unique_id_r",
        *(bf_sqls if retain_bf else []),
        f"{X.d(PRIOR_LOG2_ODDS)} + {log_sum} + 0.0D * rand(7) AS match_weight",
    )
    if threshold_match_weight is not None:
        df = df.filter(F.col("match_weight") > threshold_match_weight)
    if prune_top_n is not None:
        # Size the window's exchange by CORES, not bytes (same rationale
        # and same replace-not-add mechanics as the second pass's
        # per_pair repartition): the top-n window needs a hash exchange
        # on unique_id_r anyway, and AQE's byte-targeted coalescing sizes
        # this CPU-dense, byte-light stage to ~1 ragged wave (9-13 tasks
        # at 8 cores measured on the pass-1 write job). An explicit
        # partition count on the SAME key pre-empts that exchange — the
        # window reuses the partitioning — keeps ~3 balanced waves per
        # core at any width, and (under a checkpointer) fans the pass-1
        # artifact into core-count-derived files so the next pass's scan
        # parallelism follows too. The rows are narrow by now: the
        # window's exchange + sort no longer copy the compact payload
        # (JFR showed UnsafeRow.copy inside the window-group-limit as
        # ~10% of stage CPU when they did).
        par = 3 * df.sparkSession.sparkContext.defaultParallelism
        df = prune_candidates(df.repartition(par, "unique_id_r"), *prune_top_n)
    df = df.withColumn(
        "match_probability",
        F.expr("pow(2.0D, match_weight) / (1.0D + pow(2.0D, match_weight))"),
    )
    if attach_display:
        df = attach_display_columns(
            df, cleaned_l, cleaned_r, retain_matching_columns,
            broadcast_sides=broadcast_sides,
        )
    return df


def attach_display_columns(
    df: DataFrame,
    cleaned_l: DataFrame,
    cleaned_r: DataFrame,
    retain_matching_columns: bool = True,
    broadcast_sides: bool | None = None,
) -> DataFrame:
    """Attach the text/histogram columns to score_pairs' (ids, weight,
    probability) rows: two narrow joins against the cleaned tables. Call
    AFTER any filtering/pruning — at the linkage defaults, the rescoring
    candidates are ~5% of the scored pairs, so attaching late moves a
    fraction of the bytes that carrying display strings through the pair
    joins would.

    ``broadcast_sides``: None probes the same size gate as score_pairs
    (_sides_broadcastable); pass the already-computed decision to skip
    the two count jobs."""
    if broadcast_sides is None:
        broadcast_sides = _sides_broadcastable(cleaned_l, cleaned_r)

    def _reatt(side_df: DataFrame, suffix: str, wanted: list[str]):
        return side_df.select(
            F.col("unique_id").alias(f"unique_id{suffix}"),
            *[F.col(c).alias(f"{c}{suffix}") for c in wanted],
        )

    want_l = ["original_address_concat", "postcode"]
    want_r = ["original_address_concat", "common_end_tokens_hist", "postcode"]
    if retain_matching_columns:
        matching = [
            "numeric_token_1", "numeric_token_2", "numeric_token_3",
            "flat_positional", "flat_letter", "token_rel_freq_arr_hist",
        ]
        want_l += matching + ["common_end_tokens_hist"]
        want_r += matching
    left, right = _reatt(cleaned_l, "_l", want_l), _reatt(cleaned_r, "_r", want_r)
    df = _attach_sides(df, left, right, broadcast_sides)

    if not retain_matching_columns:
        keep = {
            "unique_id_l",
            "unique_id_r",
            "match_weight",
            "match_probability",
            "original_address_concat_l",
            "original_address_concat_r",
            "postcode_l",
            "postcode_r",
            "common_end_tokens_hist_r",
        }
        df = df.select(*[c for c in df.columns if c in keep])
    return df


def predict(
    cleaned_l: DataFrame,
    cleaned_r: DataFrame,
    numeric_tf: DataFrame | None = None,
    rules=None,
    salt: int = 1,
    threshold_match_weight: float | None = None,
    retain_bf: bool = False,
) -> DataFrame:
    """block + score — the reference's linker.inference.predict equivalent."""
    from uk_address_matcher_spark.blocking import block

    pairs = block(cleaned_l, cleaned_r, rules=rules, salt=salt)
    return score_pairs(
        pairs,
        cleaned_l,
        cleaned_r,
        numeric_tf,
        threshold_match_weight=threshold_match_weight,
        retain_bf=retain_bf,
    )
