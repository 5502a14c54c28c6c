"""Best-match selection with distinguishability categories.

Re-expression of /root/reference/uk_address_matcher/post_linkage/
analyse_results.py:5-191. Distinguishability = top match weight minus the
runner-up's, per messy record; ties broken on unique_id_l ASC everywhere
(determinism — analyse_results.py:64).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def best_matches_with_distinguishability(
    df_predict: DataFrame,
    df_addresses_to_match: DataFrame,
    distinguishability_thresholds: list[float] | None = None,
    best_match_only: bool = True,
) -> DataFrame:
    thresholds = list(distinguishability_thresholds or [1, 5, 10])
    if 0 not in thresholds:
        thresholds.append(0)
    thres_sorted = sorted(thresholds, reverse=True)

    # one order for both the runner-up (lead) and the best row: under a
    # tie on the top weight the runner-up is then the other tied row
    # (distinguishability 0), whatever order the rows arrive in
    w_rank = Window.partitionBy("unique_id_r").orderBy(
        F.desc("match_weight"), F.asc("unique_id_l")
    )
    calc = (
        df_predict.withColumn(
            "distinguishability",
            F.col("match_weight") - F.lead("match_weight").over(w_rank),
        )
        .withColumn("match_count", F.count("*").over(Window.partitionBy("unique_id_r")))
        .withColumn("__rn", F.row_number().over(w_rank))
    )
    if best_match_only:
        calc = calc.filter(F.col("__rn") == 1)
    calc = calc.drop("__rn")

    cat = F.when(F.col("match_count") == 1, F.lit("01: One match only"))
    next_idx = len(thres_sorted) + 2
    cat = cat.when(
        F.col("distinguishability").isNull(),
        F.lit(f"{next_idx:02d}.: NaN (last match in group)"),
    )
    for i, d in enumerate(thres_sorted, start=2):
        cat = cat.when(
            F.col("distinguishability") > d,
            F.lit(f"{i:02d}: Distinguishability > {d}"),
        )
    cat = cat.when(
        F.col("distinguishability") == 0,
        F.lit(f"{next_idx:02d}.: Distinguishability = 0"),
    ).otherwise(F.lit("99: error, uncategorized"))
    categorized = calc.withColumn("distinguishability_category", cat)

    out = (
        df_addresses_to_match.select(
            F.col("unique_id").alias("unique_id_r"),
            F.col("address_concat").alias("address_concat_r"),
            F.col("postcode").alias("postcode_r_raw"),
        )
        .join(
            categorized.select(
                "unique_id_r",
                "unique_id_l",
                "original_address_concat_l",
                "postcode_l",
                "match_weight",
                "distinguishability",
                "distinguishability_category",
            ),
            "unique_id_r",
            "left",
        )
        .withColumn(
            "distinguishability_category",
            F.coalesce(F.col("distinguishability_category"), F.lit("99: No match")),
        )
    )
    return out


def best_matches_summary(
    df_predict: DataFrame, df_addresses_to_match: DataFrame, **kwargs
) -> DataFrame:
    # analyse_results.py:119-191 — category histogram with percentage
    d = best_matches_with_distinguishability(df_predict, df_addresses_to_match, **kwargs)
    counts = d.groupBy("distinguishability_category").agg(F.count("*").alias("count"))
    total = Window.partitionBy()
    return counts.withColumn(
        "percentage",
        F.format_string("%.2f%%", 100.0 * F.col("count") / F.sum("count").over(total)),
    ).orderBy("distinguishability_category")
