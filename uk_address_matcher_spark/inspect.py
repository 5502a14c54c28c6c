"""False-positive drill-down vs labels — port of the reference's
inspect_match_results_vs_labels (post_linkage/accuracy_from_labels.py:30-291).

Differences from the reference, by design:
 - returns structured results (report string + DataFrames) instead of
   printing + notebook display(), so it is testable and usable headless;
 - the Splink waterfall CHART (an altair visualisation,
   accuracy_from_labels.py:227-244) is replaced by :func:`pair_evidence`,
   which returns the chart's underlying data — the per-comparison Bayes
   factor / log2 contribution ladder for one pair — as a DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uk_address_matcher_spark.session import local_frame

# cleaned-table columns worth showing in the side-by-side panel
# (accuracy_from_labels.py CLEANED_COLS_TO_SELECT)
CLEANED_PANEL_COLS = [
    "unique_id",
    "original_address_concat",
    "flat_positional",
    "flat_letter",
    "numeric_token_1",
    "numeric_token_2",
    "numeric_token_3",
    "postcode",
]


@dataclass
class InspectionResult:
    unique_id_r: str
    report: str
    top_matches: DataFrame  # top-10 panel with correctness marker
    cleaned_panel: DataFrame | None  # messy / best / true cleaned rows


def pair_evidence(
    df_predict_bf: DataFrame, unique_id_l: str, unique_id_r: str
) -> DataFrame:
    """Waterfall-style evidence for ONE pair: (seq, comparison,
    bayes_factor, log2_contribution, cumulative_log2) — the data behind
    the reference's Splink waterfall chart (accuracy_from_labels.py:227-244).

    ``df_predict_bf`` must come from score_pairs/predict with
    ``retain_bf=True`` (the bf_* columns carry each comparison's matched
    Bayes factor, TF adjustment included). Row 0 is the prior; the last
    cumulative_log2 equals the pair's match_weight.
    """
    from uk_address_matcher_spark.scoring import PRIOR_LOG2_ODDS

    bf_cols = [c for c in df_predict_bf.columns if c.startswith("bf_")]
    if not bf_cols:
        raise ValueError(
            "pair_evidence needs bf_* columns — score with retain_bf=True"
        )
    row = df_predict_bf.filter(
        (F.col("unique_id_l") == unique_id_l)
        & (F.col("unique_id_r") == unique_id_r)
    )
    stack_args = ", ".join(
        f"'{c[3:]}', cast({c} as double)" for c in bf_cols
    )
    terms = row.select(
        F.expr(
            f"stack({len(bf_cols)}, {stack_args}) as (comparison, bayes_factor)"
        )
    ).withColumn("log2_contribution", F.log2("bayes_factor"))
    prior = local_frame(
        row.sparkSession,
        [("prior", float(2.0**PRIOR_LOG2_ODDS), float(PRIOR_LOG2_ODDS))],
        "comparison string, bayes_factor double, log2_contribution double",
    )
    order_lits = []
    for i, name in enumerate(["prior"] + [c[3:] for c in bf_cols]):
        order_lits += [F.lit(name), F.lit(i)]
    ev = prior.unionByName(terms).withColumn(
        "seq", F.element_at(F.create_map(*order_lits), F.col("comparison"))
    )
    w = Window.orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    return (
        ev.withColumn("cumulative_log2", F.sum("log2_contribution").over(w))
        .select("seq", "comparison", "bayes_factor", "log2_contribution", "cumulative_log2")
        .orderBy("seq")
    )


def find_nth_false_positive(
    labels: DataFrame, df_predict_with_distinguishability: DataFrame, n: int = 1
) -> str | None:
    """unique_id_r of the nth false positive (best match != label),
    ordered by unique_id_r for reproducible example selection
    (accuracy_from_labels.py:60-85). The best match breaks weight ties on
    unique_id_l ASC, as evaluate.top_predictions does."""
    w = Window.partitionBy("unique_id_r").orderBy(
        F.desc("match_weight"), F.asc("unique_id_l")
    )
    labeled = (
        df_predict_with_distinguishability.withColumn(
            "__rn", F.row_number().over(w)
        )
        .filter(F.col("__rn") == 1)
        .join(
            labels.select(
                F.col("unique_id").alias("unique_id_r"),
                F.col("correct_unique_id").cast("string").alias("correct_unique_id"),
            ),
            "unique_id_r",
        )
        .filter(F.col("unique_id_l") != F.col("correct_unique_id"))
        .select("unique_id_r")
        .orderBy("unique_id_r")
    )
    rows = labeled.limit(n).collect()
    return rows[-1]["unique_id_r"] if len(rows) == n else None


def inspect_match_results_vs_labels(
    labels: DataFrame,
    df_predict_improved: DataFrame,
    df_predict_with_distinguishability: DataFrame,
    df_canonical_flat: DataFrame,
    df_messy_clean: DataFrame | None = None,
    df_canonical_clean: DataFrame | None = None,
    unique_id_r: str | None = None,
    example_number: int = 1,
) -> InspectionResult | None:
    """Drill into one (false-positive by default) messy record:
    best-vs-true match report, top-10 candidate panel with token evidence,
    and the cleaned-feature side-by-side."""
    target = unique_id_r or find_nth_false_positive(
        labels, df_predict_with_distinguishability, example_number
    )
    if target is None:
        return None

    lab = labels.select(
        F.col("unique_id").alias("unique_id_r"),
        F.col("correct_unique_id").cast("string").alias("correct_unique_id"),
    )
    improved = (
        df_predict_improved.filter(F.col("unique_id_r") == target)
        .join(F.broadcast(lab), "unique_id_r", "left")
        .cache()
    )

    # best match + distinguishability + true-match address
    w = Window.partitionBy("unique_id_r").orderBy(
        F.desc("match_weight"), F.asc("unique_id_l")
    )
    best = (
        df_predict_with_distinguishability.filter(F.col("unique_id_r") == target)
        .join(F.broadcast(lab), "unique_id_r", "left")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .join(
            F.broadcast(
                df_canonical_flat.select(
                    F.col("unique_id").alias("correct_unique_id"),
                    F.col("address_concat").alias("label_address_concat"),
                    F.col("postcode").alias("label_postcode"),
                )
            ),
            "correct_unique_id",
            "left",
        )
        .collect()
    )
    if not best:
        improved.unpersist()
        return None
    b = best[0].asDict()

    true_rows = improved.filter(
        F.col("unique_id_l") == F.col("correct_unique_id")
    ).collect()
    if true_rows:
        t = true_rows[0].asDict()
        true_score = f"{t['match_weight']:,.2f}"
    else:
        true_score = "NOT SCORED"

    dist = b.get("distinguishability")
    report = (
        "===========================================================================\n"
        f"unique_id_r:                  {target}\n"
        f"{'Messy address:':<30}{b.get('original_address_concat_r', 'N/A')} {b.get('postcode_r', '')}\n\n"
        f"{'Best match (score: ' + format(b.get('match_weight'), ',.2f') + '):':<30}"
        f"{b.get('original_address_concat_l', 'N/A')} {b.get('postcode_l', '')} (ID: {b.get('unique_id_l')})\n"
        f"{'True match (score: ' + true_score + '):':<30}"
        f"{b.get('label_address_concat', 'N/A')} {b.get('label_postcode', '')} (ID: {b.get('correct_unique_id')})\n"
        f"Distinguishability:           {format(dist, ',.2f') if dist is not None else 'N/A'}\n"
        "===========================================================================\n"
    )

    top_matches = (
        improved.select(
            "original_address_concat_r",
            F.when(
                F.col("unique_id_l") == F.col("correct_unique_id"),
                F.concat(F.lit("[CORRECT] "), F.col("original_address_concat_l")),
            )
            .otherwise(F.col("original_address_concat_l"))
            .alias("address_concat_l"),
            F.format_string("%.2f", F.col("match_weight")).alias("final_score"),
            F.format_string("%.2f", F.col("match_weight_original")).alias(
                "splink_score"
            ),
            F.format_string("%.2f", F.col("mw_adjustment")).alias("adjustment_score"),
            F.col("overlapping_tokens_this_l_and_r").alias("matching_tokens"),
            F.col("tokens_elsewhere_in_block_but_not_this").alias("penalty_tokens"),
            "missing_tokens",
            F.col("overlapping_bigrams_this_l_and_r_filtered").alias(
                "matching_bigrams"
            ),
            F.col("bigrams_elsewhere_in_block_but_not_this_filtered").alias(
                "penalty_bigrams"
            ),
            F.col("unique_id_l").alias("canonical_id"),
        )
        .orderBy(F.desc(F.col("final_score").cast("double")))
        .limit(10)
    )

    cleaned_panel = None
    if df_messy_clean is not None and df_canonical_clean is not None:
        cols = [c for c in CLEANED_PANEL_COLS if c in df_messy_clean.columns]
        panels = [
            df_messy_clean.filter(F.col("unique_id") == target).select(
                F.lit("Messy").alias("record_type"), *cols
            )
        ]
        if b.get("unique_id_l"):
            panels.append(
                df_canonical_clean.filter(
                    F.col("unique_id") == b["unique_id_l"]
                ).select(F.lit("Best Match").alias("record_type"), *cols)
            )
        if b.get("correct_unique_id"):
            panels.append(
                df_canonical_clean.filter(
                    F.col("unique_id") == b["correct_unique_id"]
                ).select(F.lit("True Match").alias("record_type"), *cols)
            )
        panel = panels[0]
        for p in panels[1:]:
            panel = panel.unionByName(p)
        cleaned_panel = panel

    # release the drill-down cache before returning (repeated inspection
    # calls would otherwise leak executor storage); top_matches is lazy and
    # recomputes its one-record filter from lineage if materialised later
    improved.unpersist()
    return InspectionResult(
        unique_id_r=target,
        report=report,
        top_matches=top_matches,
        cleaned_panel=cleaned_panel,
    )
