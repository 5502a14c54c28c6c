"""Second-pass rescoring via distinguishing tokens and bigrams.

Re-expression of the reference's
post_linkage/identify_distinguishing_tokens.py:4-443 (7 relational steps;
tuning constants at lines 4-17). Sides follow the reference: l =
canonical candidate, r = messy record.

Spark plan shape: filter -> window top-k (one shuffle on unique_id_r) ->
groupBy(unique_id_r) block aggregates (same key: no extra exchange under
AQE) -> join aggregates back (same key) -> map algebra in one projection.
Everything after the top-k is partition-local in unique_id_r.

Representation choices vs the reference:
 - bigrams are 'TOK1 TOK2' strings, not LIST<VARCHAR> map keys (Spark map
   keys hash poorly for arrays; tokens contain no spaces so the string is
   lossless)
 - histograms are map<string, long> built by expression over the (small)
   per-block arrays
 - block token pools are collected as struct(unique_id_l, tokens) and
   array_sort'ed so the flattened order — and hence the cross-candidate
   bigram artifacts the reference also has — is DETERMINISTIC (DuckDB's
   array_agg order is accidental; collect_list order is too, so we pin it)
 - the map/array algebra is emitted as SQL text (sqlexpr module doc:
   Column-API construction costs ~ms of Py4J per operator; this pass is
   hundreds of nodes rebuilt per linkage call)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uk_address_matcher_spark import sqlexpr as X

# pass-1 -> pass-2 candidate cut (reference
# identify_distinguishing_tokens.py:8-9); linkage fuses this prune into
# score_pairs (prune_top_n), so the constants live here once
PRUNE_MATCH_WEIGHT_THRESHOLD = -20.0
PRUNE_TOP_N = 5

REWARD_MULTIPLIER = 3.0
PUNISHMENT_MULTIPLIER = 1.5
BIGRAM_REWARD_MULTIPLIER = 3.0
BIGRAM_PUNISHMENT_MULTIPLIER = 1.5
MISSING_TOKEN_PENALTY = 0.1


def _tokenise(addr: str, pc: str) -> str:
    return f"split(upper(trim(concat_ws(' ', {addr}, {pc}))), '\\\\s+')"


def _strip_common_end(addr: str, common_end: str) -> str:
    """Drop up to TWO trailing tokens that appear in the messy record's
    common-end set (identify_distinguishing_tokens.py:59-88: double
    list_filter over the reversed token list)."""

    def strip_once(arr: str) -> str:
        return (
            f"CASE WHEN size({arr}) > 0 AND array_contains({common_end}, "
            f"try_element_at({arr}, -1)) "
            f"THEN slice({arr}, 1, size({arr}) - 1) ELSE {arr} END"
        )

    toks = f"split(upper(trim({addr})), '\\\\s+')"
    # let-bind each strip stage: strip_once references its input 4x
    stripped = X.let(toks, lambda t: X.let(strip_once(t), strip_once))
    return f"array_join({stripped}, ' ')"


def _bigrams(tokens: str) -> str:
    # zip-of-shifted-slices (identify_distinguishing_tokens.py:140-146) as
    # 'A B' strings; empty when fewer than 2 tokens
    def body(t: str) -> str:
        a, b = X.gensym("a"), X.gensym("b")
        return (
            f"CASE WHEN size({t}) >= 2 THEN "
            f"zip_with(slice({t}, 1, size({t}) - 1), slice({t}, 2, size({t}) - 1), "
            f"({a}, {b}) -> concat_ws(' ', {a}, {b})) "
            f"ELSE cast(array() as array<string>) END"
        )

    return X.let(tokens, body)


def _hist(arr: str) -> str:
    """array<string> -> map<string, long> multiset counts (NULL if empty,
    matching DuckDB list_aggregate 'histogram')."""

    def h(a: str) -> str:
        t, y = X.gensym("t"), X.gensym("y")
        m = (
            f"map_from_entries(transform(array_distinct({a}), {t} -> "
            f"named_struct('key', {t}, 'value', "
            f"cast(size(filter({a}, {y} -> {y} = {t})) as bigint))))"
        )
        return f"CASE WHEN size({a}) > 0 THEN {m} END"

    return X.let(arr, h)


def _filter_map_keys(m: str, keys: str) -> str:
    e = X.gensym("e")
    return (
        f"map_from_entries(filter(map_entries({m}), "
        f"{e} -> array_contains({keys}, {e}.key)))"
    )


def _map_sum_inv_sq(m: str) -> str:
    # sum over map values of 1/v^2 (the reward kernel,
    # identify_distinguishing_tokens.py:384-387); 0 for empty/null maps
    acc, v = X.gensym("acc"), X.gensym("v")
    return (
        f"coalesce(aggregate(map_values({m}), 0.0D, ({acc}, {v}) -> "
        f"{acc} + 1.0D / (cast({v} as double) * cast({v} as double))), 0.0D)"
    )


def prune_candidates(
    df_predict: DataFrame,
    match_weight_threshold: float = PRUNE_MATCH_WEIGHT_THRESHOLD,
    top_n_matches: int = PRUNE_TOP_N,
) -> DataFrame:
    """Steps 1-2 of the rescoring pass: threshold + top-n per messy record
    (DESC weight, DESC id). Exposed separately so the linkage driver can
    prune the scored pairs BEFORE display columns are attached and the
    pass-1 checkpoint is written — everything below the threshold / rank
    cut is unreachable by the second pass, so carrying it through the
    re-attach joins and the durable checkpoint is pure waste (at 1M docs:
    45.8M scored rows of which ~2.5M are rescoring candidates).
    Idempotent: applying it to already-pruned input is a no-op.
    """
    good = df_predict.filter(F.col("match_weight") > match_weight_threshold)
    w = Window.partitionBy("unique_id_r").orderBy(
        F.desc("match_weight"), F.desc("unique_id_l")
    )
    return (
        good.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n_matches)
        .drop("__rn")
    )


@X.scoped
def improve_predictions_using_distinguishing_tokens(
    df_predict: DataFrame,
    match_weight_threshold: float = PRUNE_MATCH_WEIGHT_THRESHOLD,
    top_n_matches: int = PRUNE_TOP_N,
    checkpointer=None,
    assume_pruned: bool = False,
) -> DataFrame:
    """``assume_pruned=True``: the caller guarantees ``df_predict`` is
    EXACTLY ``prune_candidates(df, match_weight_threshold, top_n_matches)``
    already — the linkage driver fuses that cut into score_pairs — so the
    idempotent re-prune here (a full exchange + window sort over the
    candidate set, §2.4 "remove shuffles outright") is skipped. Default
    False preserves the standalone API contract."""
    # Step 1-2: threshold + top-n per messy record
    top = (
        df_predict
        if assume_pruned
        else prune_candidates(df_predict, match_weight_threshold, top_n_matches)
    )

    # Step 3: strip up to 2 common end tokens (from the messy side's set).
    # EFFECTIVE reference behaviour: only tokens_r sees the stripped text —
    # the reference's step 4 (tokenise_r) reads FROM remove_common_end_tokens,
    # but steps 5 and 6 read FROM top_n_matches, so tokens_l /
    # tokens_in_block_l and the output original_address_concat_* are all
    # built from the UN-stripped l side
    # (identify_distinguishing_tokens.py:86-270).
    cet_e = X.gensym("e")
    top = top.withColumns(
        {
            "__cet_r": F.expr(
                f"coalesce(transform(common_end_tokens_hist_r, "
                f"{cet_e} -> {cet_e}.tok), cast(array() as array<string>))"
            )
        }
    ).withColumn(
        "addr_r_stripped",
        F.expr(_strip_common_end("original_address_concat_r", "__cet_r")),
    )

    # Step 4-5: per-block aggregates keyed by unique_id_r. The block
    # histograms are computed ONCE PER BLOCK in the groupBy branch (a
    # window formulation would recompute them once per member row —
    # measured as the second-heaviest CPU stage in the pipeline and the
    # worst memory-bandwidth inflator at high parallelism). per_pair is
    # cached AND materialised (count) before fan-out: its two consumers
    # (the groupBy branch and the join-back) would otherwise race to fill
    # the cache inside one job, each recomputing the whole upstream
    # scoring pipeline. The groupBy and join share the top-n window's
    # unique_id_r hash partitioning, so neither adds an exchange.
    per_pair = top.selectExpr(
        "unique_id_r",
        "unique_id_l",
        "match_weight",
        "match_probability",
        "original_address_concat_l",
        "original_address_concat_r",
        "postcode_l",
        "postcode_r",
        f"{_tokenise('original_address_concat_l', 'postcode_l')} AS tokens_l",
        f"{_tokenise('addr_r_stripped', 'postcode_r')} AS tokens_r",
    )
    if checkpointer is not None:
        # under a checkpointer the barrier is DURABLE: the rescoring pass
        # becomes resumable mid-way (a kill between pass 1 and pass 2
        # restarts from pass2_per_pair, not from blocking) and the wide
        # tokenised rows leave executor memory.
        per_pair = checkpointer.checkpoint(per_pair, "pass2_per_pair")
        # Size the pass-2 exchange by CORES, not bytes: reading the
        # barrier back from storage, the groupBy/join below need a hash
        # exchange on unique_id_r anyway, and AQE's byte-targeted
        # coalescing sizes it to ~1 ragged wave (9-13 tasks at 8 cores
        # measured) because this stage is CPU-dense per byte (~3 CPU-s/MB
        # of map algebra over a ~35 MB artifact). An explicit repartition
        # on the SAME key replaces — not adds to — that exchange (the
        # groupBy and the join-back both reuse the partitioning), and
        # 3 tasks/core keeps the wave balanced at every width. The
        # in-memory path below keeps the window's cached partitioning
        # (zero exchanges) — repartitioning there would ADD an exchange.
        par = 3 * per_pair.sparkSession.sparkContext.defaultParallelism
        per_pair = per_pair.repartition(par, "unique_id_r")
    else:
        per_pair = per_pair.cache()
        per_pair.count()

    s = X.gensym("s")
    block_aggs = (
        per_pair.groupBy("unique_id_r")
        .agg(
            F.expr("first(tokens_r)").alias("tokens_r"),
            F.expr(
                f"flatten(transform(array_sort(collect_list("
                f"struct(unique_id_l, tokens_l))), {s} -> {s}.tokens_l))"
            ).alias("tokens_in_block_l"),
        )
        .selectExpr(
            "unique_id_r",
            f"{X.pin(_hist('tokens_in_block_l'), 11)} AS hist_all_tokens_in_block_l",
            f"{X.pin(_hist(_bigrams('tokens_in_block_l')), 12)} AS hist_all_bigrams_in_block_l",
            f"{X.pin(_bigrams('tokens_r'), 20)} AS bigrams_r",
            "tokens_r",
        )
        .selectExpr(
            "unique_id_r",
            "bigrams_r",
            "hist_all_tokens_in_block_l",
            "hist_all_bigrams_in_block_l",
            f"{_filter_map_keys('hist_all_tokens_in_block_l', 'tokens_r')}"
            " AS hist_overlapping_tokens_r_block_l",
            f"{_filter_map_keys('hist_all_bigrams_in_block_l', 'bigrams_r')}"
            " AS hist_overlapping_bigrams_r_block_l",
        )
    )
    df = per_pair.join(block_aggs, "unique_id_r")

    # Step 6: per-pair intermediates. Every map/array column below is
    # consumed by several later expressions — some inside HOF lambdas,
    # where an inlined definition would re-evaluate per ELEMENT — so each
    # is pinned (computed once per row, referenced thereafter).
    t1, t2 = X.gensym("t"), X.gensym("t")
    b1 = X.gensym("b")
    df = df.withColumn("bigrams_l", F.expr(X.pin(_bigrams("tokens_l"), 21)))
    df = df.withColumns(
        {
            "overlapping_tokens_this_l_and_r": F.expr(
                X.pin(
                    _filter_map_keys("hist_overlapping_tokens_r_block_l", "tokens_l"),
                    13,
                )
            ),
            "tokens_r_not_in_l": F.expr(
                X.pin(
                    f"filter(tokens_r, {t1} -> NOT array_contains(tokens_l, {t1}))",
                    22,
                )
            ),
            "missing_tokens": F.expr(
                X.pin(
                    f"filter(tokens_l, {t2} -> NOT array_contains(tokens_r, {t2}))",
                    23,
                )
            ),
            "overlapping_bigrams_this_l_and_r": F.expr(
                X.pin(
                    _filter_map_keys(
                        "hist_overlapping_bigrams_r_block_l", "bigrams_l"
                    ),
                    15,
                )
            ),
            "bigrams_r_not_in_l": F.expr(
                X.pin(
                    f"filter(bigrams_r, {b1} -> NOT array_contains(bigrams_l, {b1}))",
                    24,
                )
            ),
        }
    )

    # Step 7: elsewhere-in-block maps + unigram-explained bigram filtering
    df = df.withColumns(
        {
            "tokens_elsewhere_in_block_but_not_this": F.expr(
                X.pin(
                    _filter_map_keys(
                        "hist_all_tokens_in_block_l", "tokens_r_not_in_l"
                    ),
                    14,
                )
            ),
            "bigrams_elsewhere_in_block_but_not_this": F.expr(
                X.pin(
                    _filter_map_keys(
                        "hist_all_bigrams_in_block_l", "bigrams_r_not_in_l"
                    ),
                    16,
                )
            ),
        }
    )

    def bigram_not_explained(bigram_map: str, unigram_map: str) -> str:
        # keep bigram entries NOT already explained by both unigram counts
        # (identify_distinguishing_tokens.py:328-361)
        e = X.gensym("e")
        l1 = f"try_element_at({unigram_map}, split_part({e}.key, ' ', 1))"
        l2 = f"try_element_at({unigram_map}, split_part({e}.key, ' ', 2))"
        explained = (
            f"({l1} IS NOT NULL AND {l1} <= {e}.value "
            f"AND {l2} IS NOT NULL AND {l2} <= {e}.value)"
        )
        return (
            f"map_from_entries(filter(map_entries({bigram_map}), "
            f"{e} -> NOT {explained}))"
        )

    df = df.withColumns(
        {
            "overlapping_bigrams_this_l_and_r_filtered": F.expr(
                X.pin(
                    bigram_not_explained(
                        "overlapping_bigrams_this_l_and_r",
                        "overlapping_tokens_this_l_and_r",
                    ),
                    17,
                )
            ),
            "bigrams_elsewhere_in_block_but_not_this_filtered": F.expr(
                X.pin(
                    bigram_not_explained(
                        "bigrams_elsewhere_in_block_but_not_this",
                        "tokens_elsewhere_in_block_but_not_this",
                    ),
                    18,
                )
            ),
        }
    )

    # Step 8: adjusted weight (identify_distinguishing_tokens.py:376-441)
    adj = (
        f"{_map_sum_inv_sq('overlapping_tokens_this_l_and_r')} * {X.d(REWARD_MULTIPLIER)}"
        f" - size(map_keys(tokens_elsewhere_in_block_but_not_this))"
        f" * {X.d(PUNISHMENT_MULTIPLIER)}"
        f" - size(missing_tokens) * {X.d(MISSING_TOKEN_PENALTY)}"
        f" + {_map_sum_inv_sq('overlapping_bigrams_this_l_and_r_filtered')}"
        f" * {X.d(BIGRAM_REWARD_MULTIPLIER)}"
        f" - size(map_keys(bigrams_elsewhere_in_block_but_not_this_filtered))"
        f" * {X.d(BIGRAM_PUNISHMENT_MULTIPLIER)}"
    )

    return (
        df.withColumn("mw_adjustment", F.expr(X.pin(adj, 19)))
        .withColumnRenamed("match_weight", "match_weight_original")
        .withColumn(
            "match_weight", F.col("match_weight_original") + F.col("mw_adjustment")
        )
        # output column set matches the reference's final `matches` table
        # (identify_distinguishing_tokens.py:376-441): the block-level
        # histogram maps are INTERMEDIATES there too — and they are the
        # widest columns in the frame (every block's full token/bigram
        # multiset duplicated onto each of its ~top_n candidate rows), so
        # carrying them into the durable pass artifact multiplied the
        # checkpoint encode and the memory traffic of the whole pass
        .drop(
            "tokens_l", "tokens_r", "bigrams_l", "bigrams_r",
            "tokens_r_not_in_l", "bigrams_r_not_in_l",
            "hist_all_tokens_in_block_l", "hist_all_bigrams_in_block_l",
            "hist_overlapping_tokens_r_block_l",
            "hist_overlapping_bigrams_r_block_l",
        )
    )
