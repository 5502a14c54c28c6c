"""End-to-end linkage over the labeled edge-case corpus.

Mirrors the reference harness (/root/reference/tests/test_edge_cases.py):
blocking overridden to block_on('test_block') so each messy record only
sees its own block's canonical candidates. The reference's own corpus
comments mark blocks 6, 7, 11 and 21 as confusable; our floor encodes the
measured behaviour (19/21 first pass, 18/21 after rescoring) so any
regression is caught.
"""

import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark.blocking import block_on
from uk_address_matcher_spark.cleaning import (
    clean_addresses,
    get_address_token_frequencies,
    get_common_end_tokens,
    get_numeric_term_frequencies,
)
from uk_address_matcher_spark.corpus import edge_case_documents
from uk_address_matcher_spark.evaluate import (
    evaluate_predictions_against_labels,
    pairwise_f1,
    top_predictions,
)
from uk_address_matcher_spark.extract import extract_addresses, span_signature
from uk_address_matcher_spark.scoring import predict
from uk_address_matcher_spark.second_pass import (
    improve_predictions_using_distinguishing_tokens,
)


@pytest.fixture(scope="module")
def edge_run(spark):
    docs, labels = edge_case_documents(spark)
    flat = extract_addresses(docs)
    tf = get_address_token_frequencies(flat)
    cet = get_common_end_tokens(flat, min_share=0.05)
    ntf = get_numeric_term_frequencies(flat)
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    cl = clean_addresses(canon, tf, cet)
    cr = clean_addresses(messy, tf, cet)
    pred = predict(
        cl, cr, ntf, rules=block_on(["test_block"]), threshold_match_weight=-50
    ).cache()
    improved = improve_predictions_using_distinguishing_tokens(pred).cache()
    return docs, labels, pred, improved


def test_first_pass_match_rate(spark, edge_run):
    _, labels, pred, _ = edge_run
    res = pairwise_f1(labels, pred)
    assert res["n_labels"] == 21
    assert res["n_correct"] >= 19, res


def test_second_pass_match_rate(spark, edge_run):
    _, labels, _, improved = edge_run
    res = pairwise_f1(labels, improved)
    assert res["n_correct"] >= 18, res
    # mw_adjustment must reconcile
    bad = improved.filter(
        F.abs(F.col("match_weight") - (F.col("match_weight_original") + F.col("mw_adjustment")))
        > 1e-9
    ).count()
    assert bad == 0


def test_easy_blocks_always_correct(spark, edge_run):
    _, labels, _, improved = edge_run
    top = top_predictions(improved)
    got = {
        r["unique_id_r"]: r["predicted_unique_id"] for r in top.collect()
    }
    for blk in [1, 2, 3, 4, 5, 10, 12, 13, 14, 15, 17, 18, 19, 20]:
        assert got[f"m{blk}-0"] == f"c{blk}-0", f"block {blk}"


def test_evaluation_report_shape(spark, edge_run):
    _, labels, _, improved = edge_run
    rows = {r["status"]: r for r in evaluate_predictions_against_labels(labels, improved).collect()}
    assert rows["Total"]["count"] == 21
    assert rows["Correctly Predicted"]["count"] + rows.get(
        "Incorrectly Predicted", {"count": 0}
    )["count"] == 21 if "Incorrectly Predicted" in rows else True
    assert abs(rows["Total"]["percentage"] - 100.0) < 1e-9


def test_span_invariant_survives_pipeline(spark, edge_run):
    docs, labels, _, improved = edge_run
    # join the pipeline output back to the documents: spans untouched
    before = docs.select("doc_id", span_signature().alias("sig_before"))
    again, _ = edge_case_documents(spark)
    after = again.select("doc_id", span_signature().alias("sig_after"))
    assert (
        before.join(after, "doc_id")
        .filter(F.col("sig_before") != F.col("sig_after"))
        .count()
        == 0
    )


def test_side_table_collect_guard(spark):
    """build_side_tables fails LOUDLY (naming the fix) instead of
    collecting an unbounded vocabulary onto the driver."""
    import pytest

    from uk_address_matcher_spark.linkage import build_side_tables

    df = spark.createDataFrame(
        [(f"u{i}", f"{i} TOK{i} STREET{i % 7}", "AA1 1AA") for i in range(300)],
        "unique_id string, address_concat string, postcode string",
    )
    with pytest.raises(ValueError, match="pre-aggregated TF table|rel_tok_freq"):
        build_side_tables(spark, df, max_side_rows=50)


def test_fused_side_tables_match_single_table_api(spark):
    """build_side_tables' one fused job must give exactly what the three
    single-table get_* functions give. The doubles compare exactly: both
    sides divide integer counts below 2^53."""
    from uk_address_matcher_spark.linkage import build_side_tables

    docs, _ = edge_case_documents(spark)
    flat = extract_addresses(docs).drop("side", "test_block")
    # at a 3% share the edge corpus's common-end list has tied counts
    # (SANDS/STREET at 5, ALBANS/BIRDTON/HITCHIN at 4), so the list
    # comparison also pins the (count desc, token asc) tie order
    side = build_side_tables(
        spark, flat, common_end_min_share=0.03, rel_tok_freq=None
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(side.rel_tok_freq) == rows(get_address_token_frequencies(flat))
    assert rows(side.numeric_tf) == rows(get_numeric_term_frequencies(flat))
    cet = get_common_end_tokens(flat, min_share=0.03)
    assert cet[:3] == ["LONDON", "KEYNES", "LANE"]
    assert side.common_end_tokens == cet


def test_output_independent_of_partitioning(spark):
    """link_addresses gives the same rows, column for column, whatever
    the input partitioning and shuffle width. Within one session
    defaultParallelism is fixed (it sizes the top-n and pass-2
    repartitions), so a local[2]-vs-local[8] comparison needs two
    sessions and is not covered here."""
    from uk_address_matcher_spark.corpus import (
        domain_token_frequencies,
        edge_case_flat_rows,
    )
    from uk_address_matcher_spark.linkage import build_side_tables, link_addresses

    rows, _ = edge_case_flat_rows()
    schema = (
        "unique_id string, address_concat string, postcode string, "
        "side string, test_block int"
    )

    def run(n_parts):
        flat = spark.createDataFrame(rows, schema).repartition(n_parts)
        canon = flat.filter(F.col("side") == "c").drop("side")
        messy = flat.filter(F.col("side") == "m").drop("side")
        side = build_side_tables(
            spark, canon, rel_tok_freq=domain_token_frequencies(spark)
        )
        out = link_addresses(canon, messy, side, rules=block_on(["test_block"]))

        def norm(v):
            if isinstance(v, dict):
                return tuple(sorted(v.items()))
            return tuple(v) if isinstance(v, list) else v

        return sorted(
            (tuple(norm(v) for v in r) for r in out.collect()), key=repr
        ), out.columns

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        narrow, cols_narrow = run(1)
        spark.conf.set(key, "7")
        wide, cols_wide = run(5)
    finally:
        spark.conf.set(key, before)
    assert cols_narrow == cols_wide
    assert len(narrow) > 0
    assert narrow == wide
