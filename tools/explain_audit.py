"""Physical-plan audit -> PLANS.md.

Captures .explain("formatted") for the engine's key operators and checks
the properties that matter at 100 TB: parquet pushdown/pruning, broadcast
vs shuffle join selection, whole-stage codegen coverage, exchange count.
Planning only — no jobs are executed.
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(name: str, plan: str) -> str:
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    n_wsc = len(re.findall(r"^\s*\* ", plan, re.M)) + len(re.findall(r"codegen id", plan))
    # NOTE: AQE plans print isFinalPlan=false before execution — codegen
    # annotations only appear on non-adaptive (or executed) plans
    n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
    n_smj = len(re.findall(r"SortMergeJoin", plan))
    n_shj = len(re.findall(r"ShuffledHashJoin", plan))
    pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
    schema = re.findall(r"ReadSchema: [^\n]*", plan)
    lines = [f"### {name}", "",
             f"- exchanges: {n_exchange}, codegen'd operators: {n_wsc}, "
             f"joins: {n_bhj} broadcast / {n_shj} shuffled-hash / {n_smj} sort-merge"]
    for p in pushed[:3]:
        lines.append(f"- {p}")
    for s_ in schema[:3]:
        lines.append(f"- {s_}")
    return "\n".join(lines) + "\n"


def main() -> None:
    from pyspark.sql import functions as F

    from uk_address_matcher_spark.blocking import block
    from uk_address_matcher_spark.cleaning import clean_addresses
    from uk_address_matcher_spark.corpus import (
        domain_token_frequencies,
        grid_documents,
    )
    from uk_address_matcher_spark.extract import extract_addresses
    from uk_address_matcher_spark.linkage import build_side_tables
    from uk_address_matcher_spark.scoring import attach_display_columns, score_pairs
    from uk_address_matcher_spark.second_pass import (
        improve_predictions_using_distinguishing_tokens,
    )
    from uk_address_matcher_spark.session import get_spark
    from uk_address_matcher_spark.textops.dedup import minhash_lsh_pairs
    from uk_address_matcher_spark.textops.similarity import brute_force_topk

    spark = get_spark(master="local[2]", shuffle_partitions=8)
    sections = []

    # parquet pushdown evidence: filter + 2-col projection on documents
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    sections.append(("Parquet scan: filter + column pruning", plan_of(q)))

    canon_docs, messy_docs, _ = grid_documents(spark, 1000)
    canon = extract_addresses(canon_docs)
    messy = extract_addresses(messy_docs)
    side = build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))
    cl = clean_addresses(canon, side.rel_tok_freq, side.common_end_tokens)
    cr = clean_addresses(messy, side.rel_tok_freq, side.common_end_tokens)
    sections.append(("Cleaning pipeline (per-record, shuffle-free)", plan_of(cl)))

    pairs = block(cl, cr)
    sections.append(("Blocking: key-union single join + pair dedup", plan_of(pairs)))

    pred = score_pairs(pairs, cl, cr, side.numeric_tf, threshold_match_weight=-50)
    sections.append(("Scoring: attach + BF projection + threshold", plan_of(pred)))

    pruned = score_pairs(
        pairs, cl, cr, side.numeric_tf, threshold_match_weight=-50,
        attach_display=False, prune_top_n=(-20.0, 5),
    )
    sections.append(
        ("Scoring, linkage path: threshold + fused top-n window "
         "over (ids, weight) rows", plan_of(pruned))
    )

    # the linkage path: display columns attached to the pruned rows, and
    # the pass trusts score_pairs' cut (assume_pruned)
    imp = improve_predictions_using_distinguishing_tokens(
        attach_display_columns(pruned, cl, cr, retain_matching_columns=False),
        assume_pruned=True,
    )
    sections.append(
        ("Second pass, linkage path: per-pair, block and rescoring "
         "projections", plan_of(imp))
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    knn = brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=3)
    sections.append(("kNN brute force (broadcast query side)", plan_of(knn)))

    docs_t = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    mh = minhash_lsh_pairs(docs_t)
    sections.append(("MinHash LSH (band bucket join + verify)", plan_of(mh)))

    out = ["# PLANS — physical-plan audit (`.explain(\"formatted\")`)",
           "",
           "Generated by tools/explain_audit.py. Summaries first; the checks",
           "that matter at scale: filters/projections reach the parquet scan,",
           "small sides broadcast, pair-attach joins are shuffled-hash (no",
           "wide-row sorts), codegen spans cover the hot path.",
           ""]
    for name, plan in sections:
        out.append(summarize(name, plan))
    out.append("## Full plans\n")
    for name, plan in sections:
        out.append(f"<details><summary>{name}</summary>\n\n```\n{plan}\n```\n</details>\n")
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
