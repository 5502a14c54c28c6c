"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship two-pass address linkage over a mixed
interleaved-document corpus (labeled edge blocks + free-text documents
ingested from sf0.001/documents.parquet). ``queries()`` exposes one entry
per implemented operator family (SURVEY.md §2 + training-data ops);
``oracle_sql()`` gives the DuckDB-runnable equivalent for every
SQL-expressible one. Column names/aliases match pairwise; float results
are computed with identical (sequential double fold) semantics on both
engines wherever values feed the hash comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_address_matcher_spark.corpus import (
    DOCUMENT_SCHEMA,
    domain_token_frequencies,
    edge_case_flat_rows,
)
from uk_address_matcher_spark.session import local_frame
from uk_address_matcher_spark.textops.analysis import (
    LANG_MARKERS,
    STOPWORDS_EN,
    md5_int,
    normalize_text,
    tokens,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _edge_flat(spark: SparkSession) -> DataFrame:
    rows, _ = edge_case_flat_rows()
    return local_frame(
        spark,
        rows,
        "unique_id string, address_concat string, postcode string, side string, test_block int",
    )


def _edge_values_sql() -> str:
    """The edge corpus as a VALUES CTE (deterministic, embedded in oracle
    SQL so DuckDB sees the identical input)."""
    rows, _ = edge_case_flat_rows()
    vals = ",\n".join(
        "('{}', '{}', '{}', '{}', {})".format(
            r[0], r[1].replace("'", "''"), r[2], r[3], r[4]
        )
        for r in rows
    )
    return f"edge(unique_id, address_concat, postcode, side, test_block) AS (VALUES\n{vals})"


def _lit_list_sql(items: list[str]) -> str:
    return "[" + ", ".join("'" + i.replace("'", "''") + "'" for i in items) + "]"


# dialect-shared tokenisation for document queries
_TOKENS_SQL = (
    "list_filter(string_split(trim(regexp_replace(regexp_replace(upper(text),"
    " '[^A-Z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '), t -> t != '')"
)
_MD5INT_SQL = "('0x' || substring(md5({x}), 1, 8))::BIGINT"


# ---------------------------------------------------------------------------
# entry — flagship query
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: two-pass linkage + best-match over a mixed corpus.

    sf0.001 documents are ingested as interleaved span-documents (text
    span + media span, no postcode span) alongside the labeled edge
    corpus; extraction handles both, matching runs on the address subset.
    """
    from uk_address_matcher_spark.best_match import (
        best_matches_with_distinguishability,
    )
    from uk_address_matcher_spark.blocking import block_on
    from uk_address_matcher_spark.corpus import to_documents
    from uk_address_matcher_spark.extract import extract_addresses
    from uk_address_matcher_spark.linkage import build_side_tables, link_addresses

    raw_docs = _read(spark, "/root/testdata/sf0.001", "documents")
    free_docs = raw_docs.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                F.concat(F.lit("media://"), F.md5(F.col("text"))).alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
        ).alias("spans"),
    )
    edge_flat = _edge_flat(spark)
    edge_docs = to_documents(edge_flat)
    mixed = edge_docs.select("doc_id", "spans").unionByName(free_docs)

    flat = extract_addresses(mixed)
    # address subset = docs carrying a postcode span
    addr = flat.filter(F.col("postcode").isNotNull())
    # re-attach the side/test_block tags for link_only split
    tags = edge_flat.select("unique_id", "side", "test_block")
    addr = addr.join(tags, "unique_id", "left")
    canon = addr.filter(F.col("side") == "c").drop("side")
    messy = addr.filter(F.col("side") == "m").drop("side")

    side_tables = build_side_tables(
        spark, addr.drop("side", "test_block"), common_end_min_share=0.05,
        rel_tok_freq=domain_token_frequencies(spark),
    )
    improved = link_addresses(
        canon, messy, side_tables, rules=block_on(["test_block"]),
        threshold_match_weight=-50,
    )
    return best_matches_with_distinguishability(
        improved, messy.select("unique_id", "address_concat", "postcode")
    )


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def _q_pricing_summary(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_top_customers(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.desc("total_spend"), "c_custkey")
        .limit(10)
    )


_ORACLE_TOP_CUSTOMERS = """
SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS total_spend,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_spend DESC, c_custkey
LIMIT 10
"""


def _q_best_order_per_customer(spark, sf_dir):
    from pyspark.sql import Window

    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("best_orderkey"),
            F.round("o_totalprice", 2).alias("best_totalprice"),
        )
    )


_ORACLE_BEST_ORDER = """
SELECT o_custkey, o_orderkey AS best_orderkey,
       round(o_totalprice, 2) AS best_totalprice
FROM orders
QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
"""


def _q_order_gap_lead(spark, sf_dir):
    from pyspark.sql import Window

    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.lead("o_totalprice").over(w) - F.col("o_totalprice"), 2
        ).alias("next_order_delta"),
    )


_ORACLE_ORDER_GAP = """
SELECT o_custkey, o_orderkey,
       round(lead(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             - o_totalprice, 2) AS next_order_delta
FROM orders
"""


def _q_semi_join_prune(spark, sf_dir):
    # the reference's candidate pre-pruning idiom (match_epc_to_os.py:54-58)
    # lifted onto TPC-H: suppliers in nations that have customers
    s = _read(spark, sf_dir, "supplier")
    c = _read(spark, sf_dir, "customer")
    return (
        s.join(
            c.select(F.col("c_nationkey").alias("s_nationkey")).distinct(),
            "s_nationkey",
            "left_semi",
        )
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy("s_nationkey")
    )


_ORACLE_SEMI_JOIN = """
SELECT s_nationkey, count(*) AS n_suppliers
FROM supplier
WHERE s_nationkey IN (SELECT DISTINCT c_nationkey FROM customer)
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def _q_cube_status(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("Total")).alias("status"),
            F.col("n"),
        )
        .orderBy("status")
    )


_ORACLE_CUBE = """
SELECT coalesce(o_orderstatus, 'Total') AS status, count(*) AS n
FROM orders GROUP BY CUBE(o_orderstatus) ORDER BY status
"""


def _q_union_dedup(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.unionByName(b).dropDuplicates().orderBy("o_custkey")


_ORACLE_UNION_DEDUP = """
SELECT DISTINCT o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_totalprice > 400000
  UNION ALL
  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
) ORDER BY o_custkey
"""


# --- address operators over the embedded edge corpus ----------------------


def _q_addr_extract(spark, sf_dir):
    from uk_address_matcher_spark.corpus import to_documents
    from uk_address_matcher_spark.extract import extract_addresses

    docs = to_documents(_edge_flat(spark))
    return extract_addresses(docs).select(
        "unique_id", "address_concat", "postcode"
    ).orderBy("unique_id")


def _oracle_addr_extract() -> str:
    # reproduce to_documents' span construction observably: address_concat
    # round-trips the token sequence; postcode is the postcode span
    return f"""
WITH {_edge_values_sql()}
SELECT unique_id,
       array_to_string(string_split_regex(address_concat, '\\s+'), ' ') AS address_concat,
       postcode
FROM edge
ORDER BY unique_id
"""


def _q_addr_clean_basic(spark, sf_dir):
    df = _edge_flat(spark)
    c = F.upper(F.trim(F.col("address_concat")))
    c = F.regexp_replace(c, r"[,.]", " ")
    c = F.regexp_replace(c, r"'", "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.regexp_replace(c, r"/", "-")
    c = F.regexp_replace(c, r"\b([A-Za-z])\s*(\d+)\b", r"$1 $2")
    c = F.regexp_replace(c, r"(\d{1,4})[\p{Punct}\s]([A-Za-z])\s", r"$1$2 ")
    return df.select("unique_id", F.trim(c).alias("cleaned")).orderBy("unique_id")


def _oracle_addr_clean_basic() -> str:
    return f"""
WITH {_edge_values_sql()}
SELECT unique_id,
  trim(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(upper(trim(address_concat)), '[,.]', ' ', 'g'),
              '''', '', 'g'),
            '\\s+', ' ', 'g'),
          '/', '-', 'g'),
        '\\b([A-Za-z])\\s*(\\d+)\\b', '\\1 \\2', 'g'),
      '(\\d{{1,4}})[[:punct:]\\s]([A-Za-z])\\s', '\\1\\2 ', 'g')
  ) AS cleaned
FROM edge
ORDER BY unique_id
"""


def _q_addr_flat_parse(spark, sf_dir):
    from uk_address_matcher_spark.cleaning import steps as S

    pos, letter = S.parse_out_flat_position_and_letter_sql(
        S.upper_case_sql("address_concat")
    )
    return _edge_flat(spark).selectExpr(
        "unique_id", f"{pos} AS flat_positional", f"{letter} AS flat_letter"
    ).orderBy("unique_id")


def _oracle_addr_flat_parse() -> str:
    return f"""
WITH {_edge_values_sql()}, up AS (
  SELECT unique_id, upper(address_concat) AS a FROM edge
), step1 AS (
  SELECT unique_id,
    regexp_extract(a, '\\b(BASEMENT|GROUND FLOOR|FIRST FLOOR|SECOND FLOOR|THIRD FLOOR|TOP FLOOR|GARDEN)\\b', 1) AS floor_pos,
    regexp_extract(a, '\\b\\d{{0,4}}([A-Za-z])\\b', 1) AS fl,
    regexp_extract(a, '^\\s*\\d+([A-Za-z])\\b', 1) AS ll,
    regexp_extract(a, '\\b(FLAT|UNIT|APARTMENT)\\s+(\\S*\\d\\S*)\\s+\\S*\\d\\S*\\b', 1) AS fn
  FROM up
)
SELECT unique_id,
  NULLIF(floor_pos, '') AS flat_positional,
  NULLIF(COALESCE(NULLIF(fl, ''), NULLIF(ll, ''),
                  CASE WHEN length(fn) <= 4 THEN fn ELSE NULL END), '') AS flat_letter
FROM step1
ORDER BY unique_id
"""


_NUM_RE = r"\b(\d{1,5}-\d{1,5}|[A-Za-z]?\d{1,5}[A-Za-z]?)\b"


def _q_addr_numeric_tokens(spark, sf_dir):
    df = _edge_flat(spark).withColumn(
        "address_concat", F.upper(F.col("address_concat"))
    )
    nums = F.regexp_extract_all(F.col("address_concat"), F.lit(_NUM_RE), F.lit(0))
    digits = F.regexp_extract_all(F.array_join(nums, " "), F.lit(r"\d+"), F.lit(0))
    return df.select(
        "unique_id",
        F.try_element_at(digits, F.lit(1)).alias("numeric_token_1"),
        F.try_element_at(digits, F.lit(2)).alias("numeric_token_2"),
        F.try_element_at(digits, F.lit(3)).alias("numeric_token_3"),
    ).orderBy("unique_id")


def _oracle_addr_numeric_tokens() -> str:
    return f"""
WITH {_edge_values_sql()}, nums AS (
  SELECT unique_id,
    regexp_extract_all(
      array_to_string(regexp_extract_all(upper(address_concat),
        '\\b(\\d{{1,5}}-\\d{{1,5}}|[A-Za-z]?\\d{{1,5}}[A-Za-z]?)\\b'), ' '),
      '\\d+') AS d
  FROM edge
)
SELECT unique_id, d[1] AS numeric_token_1, d[2] AS numeric_token_2,
       d[3] AS numeric_token_3
FROM nums ORDER BY unique_id
"""


def _q_addr_dupe_end(spark, sf_dir):
    from uk_address_matcher_spark.cleaning import steps as S

    addr = S.remove_multiple_spaces_sql(
        S.upper_case_sql(S.trim_whitespace_sql("address_concat"))
    )
    return _edge_flat(spark).selectExpr(
        "unique_id", f"{S.remove_duplicate_end_tokens_sql(addr)} AS deduped"
    ).orderBy("unique_id")


def _oracle_addr_dupe_end() -> str:
    return f"""
WITH {_edge_values_sql()}, t AS (
  SELECT unique_id,
         regexp_replace(upper(trim(address_concat)), '\\s+', ' ', 'g') AS a
  FROM edge
), tok AS (
  SELECT unique_id, a, string_split(a, ' ') AS c FROM t
)
SELECT unique_id,
  CASE
    WHEN array_length(c) >= 2 AND c[-1] = c[-2]
      THEN array_to_string(c[:-2], ' ')
    WHEN array_length(c) >= 4 AND c[-4] = c[-2] AND c[-3] = c[-1]
      THEN array_to_string(c[:-3], ' ')
    ELSE a
  END AS deduped
FROM tok ORDER BY unique_id
"""


def _q_addr_best_match(spark, sf_dir):
    # full pipeline (clean -> block -> FS score -> distinguishing-token
    # rescore -> best match); not SQL-expressible -> rows-only check
    from uk_address_matcher_spark.blocking import block_on
    from uk_address_matcher_spark.evaluate import top_predictions
    from uk_address_matcher_spark.linkage import build_side_tables, link_addresses

    flat = _edge_flat(spark)
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    side = build_side_tables(
        spark, flat.drop("side", "test_block"), common_end_min_share=0.05,
        rel_tok_freq=domain_token_frequencies(spark),
    )
    improved = link_addresses(
        canon, messy, side, rules=block_on(["test_block"]),
        threshold_match_weight=-50,
    )
    # ids only (no float match_weight): the gate pins these rows against
    # embedded golden values (verified 19/21 vs the reference's own edge
    # truth labels — blocks 6/7 are the reference's known-hard cases)
    return (
        top_predictions(improved)
        .select("unique_id_r", "predicted_unique_id")
        .orderBy("unique_id_r")
    )


# Golden outputs of the two iterative-pipeline queries on the edge corpus,
# pinned for the correctness gate (the pipeline itself is iterative /
# not ANSI-SQL-expressible, so the oracle is a regression pin). Verified
# against the reference's own edge-block truth labels: best-match is
# 18/21 correct after the second pass — blocks 6, 7 and 21 are the
# reference's acknowledged hard cases (see tests/test_linkage_e2e.py) —
# and stable across parallelism levels (local[8]/7 parts vs local[16]/32).
_GOLDEN_BEST_MATCH = [
    ("m1-0", "c1-0"), ("m10-0", "c10-0"), ("m11-0", "c11-0"),
    ("m12-0", "c12-0"), ("m13-0", "c13-0"), ("m14-0", "c14-0"),
    ("m15-0", "c15-0"), ("m16-0", "c16-0"), ("m17-0", "c17-0"),
    ("m18-0", "c18-0"), ("m19-0", "c19-0"), ("m2-0", "c2-0"),
    ("m20-0", "c20-0"), ("m21-0", "c21-1"), ("m3-0", "c3-0"),
    ("m4-0", "c4-0"), ("m5-0", "c5-0"), ("m6-0", "c6-1"),
    ("m7-0", "c7-1"), ("m8-0", "c8-0"), ("m9-0", "c9-0"),
]

_GOLDEN_CLUSTERS = [
    ("c1-0", "c1-0"), ("c1-1", "c1-0"), ("c1-2", "c1-0"), ("c1-3", "c1-0"),
    ("c10-0", "c10-0"), ("c11-0", "c11-0"), ("c11-1", "c11-0"),
    ("c11-2", "c11-0"), ("c11-3", "c11-0"), ("c12-0", "c12-0"),
    ("c12-1", "c12-0"), ("c12-2", "c12-0"), ("c13-0", "c13-0"),
    ("c14-0", "c14-0"), ("c15-0", "c15-0"), ("c15-1", "c15-0"),
    ("c15-2", "c15-0"), ("c16-0", "c16-0"), ("c16-1", "c16-0"),
    ("c17-0", "c17-0"), ("c18-0", "c18-0"), ("c18-1", "c18-0"),
    ("c19-0", "c19-0"), ("c19-3", "c19-0"), ("c2-0", "c2-0"),
    ("c2-1", "c2-0"), ("c2-2", "c2-0"), ("c20-0", "c20-0"),
    ("c21-0", "c21-0"), ("c21-1", "c21-0"), ("c3-0", "c3-0"),
    ("c4-0", "c4-0"), ("c4-1", "c4-0"), ("c4-2", "c4-0"),
    ("c5-0", "c5-0"), ("c5-1", "c5-0"), ("c6-0", "c6-0"),
    ("c6-1", "c6-0"), ("c6-2", "c6-0"), ("c7-1", "c7-1"),
    ("c7-3", "c7-1"), ("c7-4", "c7-1"), ("c9-0", "c9-0"),
    ("m1-0", "c1-0"), ("m10-0", "c10-0"), ("m11-0", "c11-0"),
    ("m12-0", "c12-0"), ("m13-0", "c13-0"), ("m14-0", "c14-0"),
    ("m15-0", "c15-0"), ("m16-0", "c16-0"), ("m17-0", "c17-0"),
    ("m18-0", "c18-0"), ("m19-0", "c19-0"), ("m2-0", "c2-0"),
    ("m20-0", "c20-0"), ("m21-0", "c21-0"), ("m3-0", "c3-0"),
    ("m4-0", "c4-0"), ("m5-0", "c5-0"), ("m6-0", "c6-0"),
    ("m7-0", "c7-1"), ("m9-0", "c9-0"),
]


def _oracle_best_match() -> str:
    vals = ",\n".join(f"('{a}', '{b}')" for a, b in _GOLDEN_BEST_MATCH)
    return (
        "SELECT * FROM (VALUES\n" + vals +
        ") AS g(unique_id_r, predicted_unique_id) ORDER BY unique_id_r"
    )


def _oracle_clusters() -> str:
    vals = ",\n".join(f"('{a}', '{b}')" for a, b in _GOLDEN_CLUSTERS)
    return (
        "SELECT * FROM (VALUES\n" + vals +
        ") AS g(unique_id, cluster_id) ORDER BY unique_id"
    )


def _q_addr_clusters(spark, sf_dir):
    # transitive clustering over scored pairs; iterative -> rows-only check
    from uk_address_matcher_spark.blocking import block_on
    from uk_address_matcher_spark.clustering import cluster_predictions
    from uk_address_matcher_spark.linkage import build_side_tables, link_addresses

    flat = _edge_flat(spark)
    canon = flat.filter(F.col("side") == "c").drop("side")
    messy = flat.filter(F.col("side") == "m").drop("side")
    side = build_side_tables(
        spark, flat.drop("side", "test_block"), common_end_min_share=0.05,
        rel_tok_freq=domain_token_frequencies(spark),
    )
    improved = link_addresses(
        canon, messy, side, rules=block_on(["test_block"]),
        threshold_match_weight=-50,
    )
    return cluster_predictions(improved, threshold_match_weight=5.0).orderBy(
        "unique_id"
    )


# --- documents-table text operators ----------------------------------------


def _q_jaro_winkler(spark, sf_dir):
    """Jaro-Winkler fuzzy comparator (Arrow-batched pandas UDF,
    functions.py) over within-block canonical x messy address pairs;
    DuckDB's native jaro_winkler_similarity is the oracle (same
    prefix-4 / p=0.1 definition, verified digit-for-digit)."""
    from uk_address_matcher_spark.functions import jaro_winkler_col

    flat = _edge_flat(spark)
    c = flat.filter(F.col("side") == "c").select(
        F.col("unique_id").alias("unique_id_l"),
        F.upper("address_concat").alias("addr_l"),
        "test_block",
    )
    m = flat.filter(F.col("side") == "m").select(
        F.col("unique_id").alias("unique_id_r"),
        F.upper("address_concat").alias("addr_r"),
        "test_block",
    )
    return (
        c.join(m, "test_block")
        .select(
            "unique_id_l",
            "unique_id_r",
            F.round(jaro_winkler_col(F.col("addr_l"), F.col("addr_r")), 6).alias("jw"),
        )
        .orderBy("unique_id_l", "unique_id_r")
    )


def _oracle_jaro_winkler() -> str:
    return f"""
WITH {_edge_values_sql()},
c AS (SELECT unique_id AS unique_id_l, upper(address_concat) AS addr_l, test_block
      FROM edge WHERE side = 'c'),
m AS (SELECT unique_id AS unique_id_r, upper(address_concat) AS addr_r, test_block
      FROM edge WHERE side = 'm')
SELECT unique_id_l, unique_id_r,
       round(jaro_winkler_similarity(addr_l, addr_r), 6) AS jw
FROM c JOIN m USING (test_block)
ORDER BY unique_id_l, unique_id_r
"""


def _q_doc_normalize(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id", normalize_text(F.col("text")).alias("norm_text")
    ).orderBy("doc_id")


_ORACLE_DOC_NORMALIZE = """
SELECT doc_id,
       trim(regexp_replace(regexp_replace(upper(text), '[^A-Z0-9 ]', ' ', 'g'),
                           ' +', ' ', 'g')) AS norm_text
FROM documents ORDER BY doc_id
"""


def _q_doc_token_stats(spark, sf_dir):
    from uk_address_matcher_spark.textops.analysis import token_count

    d = _read(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        token_count(F.col("text")).alias("token_count_bpeish"),
        F.length(normalize_text(F.col("text"))).alias("n_norm_chars"),
    ).orderBy("doc_id")


_ORACLE_DOC_TOKEN_STATS = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks,
           trim(regexp_replace(regexp_replace(upper(text), '[^A-Z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
           FROM documents)
SELECT doc_id, len(toks) AS n_tokens,
       len(toks) + list_reduce(list_prepend(0::BIGINT,
           list_transform(toks, w -> CASE WHEN length(w) > 6
                                     THEN ((length(w) - 3) // 4)::BIGINT
                                     ELSE 0::BIGINT END)),
           (a, b) -> a + b) AS token_count_bpeish,
       length(norm) AS n_norm_chars
FROM t ORDER BY doc_id
"""


def _q_doc_quality(spark, sf_dir):
    from uk_address_matcher_spark.textops.analysis import quality_features

    d = _read(spark, sf_dir, "documents")
    return quality_features(d).orderBy("doc_id")


_ORACLE_DOC_QUALITY = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKENS_SQL} AS toks, length(text) AS n_chars FROM documents
)
SELECT doc_id,
  len(toks) AS n_tokens,
  n_chars AS n_chars_measured,
  round((n_chars - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) / greatest(n_chars, 1), 6) AS punct_ratio,
  round(len(list_filter(toks, t -> list_contains({_lit_list_sql(STOPWORDS_EN)}, t))) / greatest(len(toks), 1), 6) AS stopword_ratio,
  round((n_chars - length(regexp_replace(text, '[0-9]', '', 'g'))) / greatest(n_chars, 1), 6) AS digit_ratio,
  round(least(len(toks) / 100.0, 1.0) * 0.4
        + round(len(list_filter(toks, t -> list_contains({_lit_list_sql(STOPWORDS_EN)}, t))) / greatest(len(toks), 1), 6) * 0.4
        + (1.0 - round((n_chars - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) / greatest(n_chars, 1), 6)) * 0.2, 6) AS quality_score
FROM t ORDER BY doc_id
"""


def _q_doc_lang(spark, sf_dir):
    from uk_address_matcher_spark.textops.analysis import language_guess

    d = _read(spark, sf_dir, "documents")
    return language_guess(d).orderBy("doc_id")


def _oracle_doc_lang() -> str:
    structs = ", ".join(
        "{{'hits': len(list_filter(toks, t -> list_contains({lst}, t))), 'lang': '{lang}'}}".format(
            lst=_lit_list_sql(LANG_MARKERS[lang]), lang=lang
        )
        for lang in LANG_MARKERS
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
scored AS (SELECT doc_id, list_sort([{structs}])[-1] AS best FROM t)
SELECT doc_id,
       CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_guess,
       best.hits AS marker_hits
FROM scored ORDER BY doc_id
"""


def _q_doc_fingerprint(spark, sf_dir):
    from uk_address_matcher_spark.textops.analysis import fingerprint

    d = _read(spark, sf_dir, "documents")
    return fingerprint(d).orderBy("doc_id")


_ORACLE_DOC_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
SELECT doc_id,
  list_reduce(list_prepend(0::BIGINT,
    list_transform(toks, tk -> {_MD5INT_SQL.format(x='tk')} % 2147483647)),
    (a, b) -> (a * 31 + b) % 2147483647) AS fingerprint
FROM t ORDER BY doc_id
"""


def _q_dedup_exact(spark, sf_dir):
    from uk_address_matcher_spark.textops.dedup import exact_duplicates

    d = _read(spark, sf_dir, "documents")
    # min_group_size=1: every content group, so the digest parity is
    # exercised even on a dup-free corpus
    return exact_duplicates(d, min_group_size=1).orderBy("content_hash")


_ORACLE_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(regexp_replace(upper(text), '[^A-Z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS content_hash,
       count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1 HAVING count(*) >= 1
ORDER BY content_hash
"""


def _q_token_tf(spark, sf_dir):
    from uk_address_matcher_spark.textops.analysis import token_rel_freq

    d = _read(spark, sf_dir, "documents")
    return token_rel_freq(d).orderBy("token")


_ORACLE_TOKEN_TF = f"""
WITH toks AS (SELECT unnest({_TOKENS_SQL}) AS token FROM documents),
counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token)
SELECT token, cnt, round(cnt / (SELECT sum(cnt) FROM counts), 10) AS rel_freq
FROM counts ORDER BY token
"""


def _q_common_last_tokens(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    return (
        d.select(F.try_element_at(t, F.lit(-1)).alias("last_token"))
        .filter(F.col("last_token").isNotNull())
        .groupBy("last_token")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 2)
        .orderBy(F.desc("cnt"), "last_token")
    )


_ORACLE_COMMON_LAST = f"""
WITH t AS (SELECT {_TOKENS_SQL} AS toks FROM documents)
SELECT toks[-1] AS last_token, count(*) AS cnt
FROM t WHERE toks[-1] IS NOT NULL
GROUP BY 1 HAVING count(*) > 2
ORDER BY cnt DESC, last_token
"""


_SHINGLES_SQL = (
    "CASE WHEN len({t}) >= 3 THEN list_distinct(list_transform("
    "generate_series(1, len({t}) - 2), i -> array_to_string({t}[i:i+2], ' ')))"
    " ELSE [array_to_string({t}, ' ')] END"
)


def _q_ngram_jaccard(spark, sf_dir):
    from uk_address_matcher_spark.textops.dedup import ngram_jaccard_pairs

    d = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.2, max_shingle_df=10**9).orderBy(
        "doc_a", "doc_b"
    )


_ORACLE_NGRAM_JACCARD = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
sh AS (SELECT doc_id, unnest({_SHINGLES_SQL.format(t='toks')}) AS shingle FROM t),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= 0.2
ORDER BY doc_a, doc_b
"""


def _q_ngram_jaccard_capped(spark, sf_dir):
    """The SHIPPED configuration: stop-shingle cut active (shingles in
    more than max_shingle_df docs dropped pre-join) — the quadratic-blowup
    guard the operator's scale story rests on, verified here."""
    from uk_address_matcher_spark.textops.dedup import ngram_jaccard_pairs

    d = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.2, max_shingle_df=10).orderBy(
        "doc_a", "doc_b"
    )


_ORACLE_NGRAM_JACCARD_CAPPED = f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
sh0 AS (SELECT doc_id, unnest({_SHINGLES_SQL.format(t='toks')}) AS shingle FROM t),
hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 10),
sh AS (SELECT * FROM sh0 ANTI JOIN hot USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= 0.2
ORDER BY doc_a, doc_b
"""


def _q_minhash_signatures(spark, sf_dir):
    from uk_address_matcher_spark.textops.dedup import minhash_signatures

    d = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=4)
    return sigs.select(
        "doc_id",
        *[F.col("sig")[i].alias(f"sig_{i}") for i in range(4)],
    ).orderBy("doc_id")


def _oracle_minhash_signatures() -> str:
    from uk_address_matcher_spark.textops.dedup import MERSENNE, minhash_params

    params = minhash_params(4)
    cols = ",\n  ".join(
        f"list_min(list_transform(hs, h -> ({a}::BIGINT * h + {b}::BIGINT) % {MERSENNE})) AS sig_{i}"
        for i, (a, b) in enumerate(params)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES_SQL.format(t='toks')} AS sh FROM t),
h AS (SELECT doc_id,
        list_transform(sh, s -> ({_MD5INT_SQL.format(x='s')}) % {MERSENNE}) AS hs
      FROM s)
SELECT doc_id,
  {cols}
FROM h ORDER BY doc_id
"""


# 32-bit SimHash is the verified width (16 bits saturates: 500 docs
# produced 11,051 Hamming-<=2 pairs; at 32 bits the pair count is sane).
# 64-bit parity with standard deployments: q_simhash64_neardup below.
_SIMHASH_BITS = 32


def _simhash_fp_sql(nbits: int, hash_expr: str = "hs") -> str:
    bits = []
    for i in range(nbits):
        bits.append(
            f"(CASE WHEN 2 * len(list_filter({hash_expr}, h -> (h >> {i}) & 1 = 1))"
            f" >= len({hash_expr}) THEN {2**i}::BIGINT ELSE 0::BIGINT END)"
        )
    return " + ".join(bits)


def _simhash_bands(nbits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(lo, mask) per pigeonhole band — mirrors dedup.simhash_near_duplicates."""
    n_bands = max_hamming + 1
    w = nbits // n_bands
    out = []
    for j in range(n_bands):
        lo = j * w
        width = nbits - lo if j == n_bands - 1 else w
        out.append((lo, (1 << width) - 1))
    return out


def _q_simhash(spark, sf_dir):
    from uk_address_matcher_spark.textops.dedup import simhash

    d = _read(spark, sf_dir, "documents")
    return simhash(d, bits=_SIMHASH_BITS).orderBy("doc_id")


def _oracle_simhash() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
h AS (SELECT doc_id,
       list_transform(toks, tk -> {_MD5INT_SQL.format(x='tk')}) AS hs
      FROM t)
SELECT doc_id, {_simhash_fp_sql(_SIMHASH_BITS)} AS simhash FROM h ORDER BY doc_id
"""


def _q_simhash_neardup(spark, sf_dir):
    """Hamming-<=k SimHash pairing: pigeonhole band join + popcount verify."""
    from uk_address_matcher_spark.textops.dedup import simhash_near_duplicates

    d = _read(spark, sf_dir, "documents")
    return simhash_near_duplicates(d, bits=_SIMHASH_BITS, max_hamming=2).orderBy(
        "doc_a", "doc_b"
    )


def _oracle_simhash_neardup() -> str:
    # same fingerprint construction as _oracle_simhash, then the pigeonhole
    # bands, bucket self-join, popcount verify
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, fp, {j} AS band, (fp >> {lo}) & {mask} AS val FROM fps"
        for j, (lo, mask) in enumerate(_simhash_bands(_SIMHASH_BITS, 2))
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
h AS (SELECT doc_id,
       list_transform(toks, tk -> {_MD5INT_SQL.format(x='tk')}) AS hs
      FROM t),
fps AS (SELECT doc_id, {_simhash_fp_sql(_SIMHASH_BITS)} AS fp FROM h),
buckets AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.fp AS fp_a, b.doc_id AS doc_b, b.fp AS fp_b
  FROM buckets a JOIN buckets b USING (band, val)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b)) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 2
ORDER BY doc_a, doc_b
"""


def _q_simhash64_neardup(spark, sf_dir):
    """Full 64-bit SimHash (two 32-bit halves — BIGINT-safe in both Spark
    and DuckDB) with pigeonhole banding across the logical 64 bits."""
    from uk_address_matcher_spark.textops.dedup import simhash64_near_duplicates

    d = _read(spark, sf_dir, "documents")
    return simhash64_near_duplicates(d, max_hamming=3).orderBy("doc_a", "doc_b")


def _oracle_simhash64_neardup() -> str:
    from uk_address_matcher_spark.textops.dedup import _bands64

    # lo half hashes from md5 hex chars 1-8, hi half from 9-16 (the same
    # derivation dedup.simhash64 uses)
    hi_md5 = "('0x' || substring(md5({x}), 9, 8))::BIGINT"
    band_exprs = []
    for j, (start, width) in enumerate(_bands64(3)):
        mask = (1 << width) - 1
        if start >= 32:
            val = f"(fp_hi >> {start - 32}) & {mask}"
        elif start + width <= 32:
            val = f"(fp_lo >> {start}) & {mask}"
        else:
            lo_w = 32 - start
            hi_w = width - lo_w
            val = f"((fp_lo >> {start}) | ((fp_hi & {(1 << hi_w) - 1}) << {lo_w})) & {mask}"
        band_exprs.append(
            f"SELECT doc_id, fp_hi, fp_lo, {j} AS band, {val} AS val FROM fps"
        )
    band_selects = "\nUNION ALL\n".join(band_exprs)
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
h AS (SELECT doc_id,
       list_transform(toks, tk -> {_MD5INT_SQL.format(x='tk')}) AS hs_lo,
       list_transform(toks, tk -> {hi_md5.format(x='tk')}) AS hs_hi
      FROM t),
fps AS (SELECT doc_id,
        {_simhash_fp_sql(32, 'hs_lo')} AS fp_lo,
        {_simhash_fp_sql(32, 'hs_hi')} AS fp_hi
        FROM h),
buckets AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.fp_hi AS hi_a, a.fp_lo AS lo_a,
                  b.doc_id AS doc_b, b.fp_hi AS hi_b, b.fp_lo AS lo_b
  FROM buckets a JOIN buckets b USING (band, val)
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS hamming
FROM cand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
ORDER BY doc_a, doc_b
"""


def _q_minhash_lsh_pairs(spark, sf_dir):
    from uk_address_matcher_spark.textops.dedup import minhash_lsh_pairs

    d = _read(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, verify_threshold=0.3).orderBy("doc_a", "doc_b")


def _oracle_minhash_lsh_pairs() -> str:
    """Replays the banded MinHash LSH end-to-end: 16 md5-derived affine
    minhashes, 4 band digests (md5 of comma-joined band rows), bucket
    self-join for candidates, exact shingle-Jaccard verification."""
    from uk_address_matcher_spark.textops.dedup import MERSENNE, minhash_params

    params = minhash_params(16)
    sig_cols = ",\n  ".join(
        f"list_min(list_transform(hs, h -> ({a}::BIGINT * h + {b}::BIGINT) % {MERSENNE})) AS s{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(array_to_string([s{b * 4}, s{b * 4 + 1}, s{b * 4 + 2}, s{b * 4 + 3}], ',')) AS digest FROM sigs"
        for b in range(4)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES_SQL.format(t='toks')} AS sh FROM t),
h AS (SELECT doc_id,
        list_transform(sh, s -> ({_MD5INT_SQL.format(x='s')}) % {MERSENNE}) AS hs
      FROM s),
sigs AS (SELECT doc_id, {sig_cols} FROM h),
buckets AS ({band_selects}),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM buckets x JOIN buckets y USING (band, digest)
  WHERE x.doc_id < y.doc_id
),
sh_tab AS (SELECT doc_id, unnest({_SHINGLES_SQL.format(t='toks')}) AS shingle FROM t),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh_tab GROUP BY doc_id),
inter AS (
  SELECT doc_a, doc_b, count(*) AS n_inter
  FROM cand
  JOIN sh_tab a ON a.doc_id = doc_a
  JOIN sh_tab b ON b.doc_id = doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= 0.3
ORDER BY doc_a, doc_b
"""


# --- embeddings: similarity search ------------------------------------------

_DOT_SQL = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip({a}, {b}),"
    " p -> p[1]::DOUBLE * p[2]::DOUBLE)), (x, y) -> x + y)"
)


def _q_knn_bruteforce(spark, sf_dir):
    from uk_address_matcher_spark.textops.similarity import brute_force_topk

    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return brute_force_topk(e, q, k=3).select(
        "query_id", "rank", "neighbor_id"
    ).orderBy("query_id", "rank")


_ORACLE_KNN = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
    {_DOT_SQL.format(a='qv', b='cv')}
      / (sqrt({_DOT_SQL.format(a='qv', b='qv')}) * sqrt({_DOT_SQL.format(a='cv', b='cv')})) AS cos_sim
  FROM q, c WHERE query_id != neighbor_id
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank,
       neighbor_id
FROM scored
QUALIFY rank <= 3
ORDER BY query_id, rank
"""


# 12 bands x 3 planes: measured recall 0.93 of exact top-3 at sf0.01
# (>= the 0.9 target) with 2^3 buckets per band — bucket width stays
# bounded as the corpus grows; recall comes from band count.
_LSH_BANDS, _LSH_PLANES = 12, 3


def _q_knn_lsh(spark, sf_dir):
    from uk_address_matcher_spark.textops.similarity import lsh_topk

    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    return lsh_topk(
        e, q, dim=64, k=3, n_bands=_LSH_BANDS, n_planes=_LSH_PLANES
    ).orderBy("query_id", "rank")


def _q_embedding_neardup(spark, sf_dir):
    # uncapped exact-replay baseline (max_bucket_size=None): kept so the
    # fixed-plane candidate family stays oracle-verified; the SHIPPED
    # configuration is _q_embedding_neardup_capped below
    from uk_address_matcher_spark.textops.similarity import embedding_near_duplicates

    e = _read(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        e, threshold=0.35, dim=64, n_bands=_LSH_BANDS, n_planes=_LSH_PLANES,
        max_bucket_size=None,
    ).orderBy("id_a", "id_b")


# the SHIPPED scale-safe ANN config, verified with the cap BITING:
# n_planes = suggest_n_planes(500) = 2 at the sf0.01 gate corpus (the
# documented derivation r = ceil(log2(n / target_bucket))), and
# max_bucket_size=100 < the ~125-row average bucket at 2 planes, so the
# oracle must replay the over-full-bucket anti-join to match.
_LSH_CAP_PLANES, _LSH_CAP_MAX = 2, 100


def _q_embedding_neardup_capped(spark, sf_dir):
    from uk_address_matcher_spark.textops.similarity import embedding_near_duplicates

    e = _read(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        e, threshold=0.35, dim=64, n_bands=_LSH_BANDS, n_planes=_LSH_CAP_PLANES,
        max_bucket_size=_LSH_CAP_MAX,
    ).orderBy("id_a", "id_b")


def _lsh_sigs_sql(n_planes: int = None) -> str:
    """(vec_id, band, sig) CTE body: banded hyperplane signatures with the
    SAME md5-derived plane literals the Spark operator inlines — the
    oracle replays candidate generation exactly."""
    from uk_address_matcher_spark.textops.similarity import _planes

    if n_planes is None:
        n_planes = _LSH_PLANES
    fams = _planes(64, _LSH_BANDS, n_planes)
    selects = []
    for b in range(_LSH_BANDS):
        bits = []
        for row in fams[b]:
            lits = ", ".join(repr(x) for x in row)
            dot = (
                f"list_reduce(list_prepend(0.0::DOUBLE, list_transform("
                f"list_zip(embedding, [{lits}]),"
                " p -> p[1]::DOUBLE * p[2]::DOUBLE)), (x, y) -> x + y)"
            )
            bits.append(f"CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END")
        sig = " || ".join(bits)
        selects.append(
            f"SELECT vec_id, embedding, {b} AS band, {sig} AS sig FROM embeddings"
        )
    return "\nUNION ALL\n".join(selects)


def _oracle_knn_lsh() -> str:
    return f"""
WITH sigs AS ({_lsh_sigs_sql()}),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qv,
                  e.vec_id AS neighbor_id, e.embedding AS cv
  FROM sigs q JOIN sigs e USING (band, sig)
  WHERE q.vec_id < 10 AND q.vec_id != e.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
    round({_DOT_SQL.format(a='qv', b='cv')}
      / (sqrt({_DOT_SQL.format(a='qv', b='qv')}) * sqrt({_DOT_SQL.format(a='cv', b='cv')})), 6) AS cos_sim
  FROM cand
)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank,
       neighbor_id, cos_sim
FROM scored
QUALIFY rank <= 3
ORDER BY query_id, rank
"""


def _oracle_embedding_neardup() -> str:
    return f"""
WITH sigs AS ({_lsh_sigs_sql()}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, a.embedding AS va,
                  b.vec_id AS id_b, b.embedding AS vb
  FROM sigs a JOIN sigs b USING (band, sig)
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b,
  round({_DOT_SQL.format(a='va', b='vb')}
    / (sqrt({_DOT_SQL.format(a='va', b='va')}) * sqrt({_DOT_SQL.format(a='vb', b='vb')})), 6) AS cos_sim
FROM cand
WHERE round({_DOT_SQL.format(a='va', b='vb')}
    / (sqrt({_DOT_SQL.format(a='va', b='va')}) * sqrt({_DOT_SQL.format(a='vb', b='vb')})), 6) >= 0.35
ORDER BY id_a, id_b
"""


def _oracle_embedding_neardup_capped() -> str:
    """Replays the SHIPPED capped config: same 12x{_LSH_CAP_PLANES}-plane
    signatures, buckets over max_bucket_size anti-joined away BEFORE the
    pair join — mirroring similarity.lsh_buckets exactly."""
    return f"""
WITH sigs AS ({_lsh_sigs_sql(_LSH_CAP_PLANES)}),
kept AS (
  SELECT s.* FROM sigs s
  JOIN (
    SELECT band, sig FROM sigs GROUP BY band, sig
    HAVING count(*) <= {_LSH_CAP_MAX}
  ) ok USING (band, sig)
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, a.embedding AS va,
                  b.vec_id AS id_b, b.embedding AS vb
  FROM kept a JOIN kept b USING (band, sig)
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b,
  round({_DOT_SQL.format(a='va', b='vb')}
    / (sqrt({_DOT_SQL.format(a='va', b='va')}) * sqrt({_DOT_SQL.format(a='vb', b='vb')})), 6) AS cos_sim
FROM cand
WHERE round({_DOT_SQL.format(a='va', b='vb')}
    / (sqrt({_DOT_SQL.format(a='va', b='va')}) * sqrt({_DOT_SQL.format(a='vb', b='vb')})), 6) >= 0.35
ORDER BY id_a, id_b
"""


def _q_media_features(spark, sf_dir):
    """Multimodal plumbing: spans -> binary decode (mapInPandas, stubbed
    codecs) -> feature extraction (pandas UDF). The fake decode/feature
    chain is md5-derived end-to-end, so the DuckDB oracle replays it; the
    array<float> feature is unpacked to scalar columns (hashable for the
    driver's canonicalizer)."""
    from uk_address_matcher_spark.corpus import to_documents
    from uk_address_matcher_spark.textops.multimodal import (
        decode_media,
        extract_features,
        media_table,
    )

    docs = to_documents(_edge_flat(spark))
    media = media_table(docs)
    decoded = decode_media(media)
    feats = extract_features(decoded, dim=8)
    out = decoded.select("doc_id", "media_ref", "media_kind", "width", "height", "n_frames").join(
        feats, ["doc_id", "media_ref"]
    )
    return out.select(
        "doc_id",
        "media_ref",
        "media_kind",
        "width",
        "height",
        "n_frames",
        *[
            F.round(F.col("feature")[i].cast("double"), 6).alias(f"f{i}")
            for i in range(8)
        ],
    ).orderBy("doc_id", "media_ref")


def _oracle_media_features() -> str:
    # replay of the md5-derived fake decode: presence hash, media_ref,
    # kind/dims from md5(ref), content hex = 4 chained md5 digests,
    # feature bytes from md5(content_hex) / 256.0 (dyadic => exact round)
    feat_cols = ",\n  ".join(
        f"round((('0x' || substring(fh, {2 * i + 1}, 2))::INT) / 256.0, 6) AS f{i}"
        for i in range(8)
    )
    return f"""
WITH {_edge_values_sql()},
pres AS (
  SELECT unique_id AS doc_id,
         ('0x' || substring(md5(unique_id || 'media'), 1, 8))::BIGINT AS h
  FROM edge
),
refs AS (
  SELECT doc_id, 'media://' || md5(doc_id || 'a') AS media_ref FROM pres WHERE h % 4 = 1
  UNION ALL
  SELECT doc_id, 'media://' || md5(doc_id || 'b') FROM pres WHERE h % 3 = 1
  UNION ALL
  SELECT doc_id, 'media://' || md5(doc_id || 'c') FROM pres WHERE h % 5 = 2
),
dec AS (
  SELECT doc_id, media_ref,
         ('0x' || substring(md5(media_ref), 1, 8))::BIGINT AS rh,
         md5(media_ref || '|0') || md5(media_ref || '|1')
           || md5(media_ref || '|2') || md5(media_ref || '|3') AS content_hex
  FROM refs
),
f AS (
  SELECT doc_id, media_ref,
         ['image', 'audio', 'video'][(rh % 3)::INT + 1] AS media_kind,
         (rh % 1920 + 16)::INT AS width,
         (rh % 1080 + 16)::INT AS height,
         (rh % 300 + 1)::INT AS n_frames,
         md5(content_hex) AS fh
  FROM dec
)
SELECT doc_id, media_ref, media_kind, width, height, n_frames,
  {feat_cols}
FROM f ORDER BY doc_id, media_ref
"""


def _q_media_frames(spark, sf_dir):
    """Video frame sampling: every-30th frame index per video media span,
    with a per-frame digest — the (stubbed-decode) frame-extraction
    plumbing; index arithmetic is pure expressions, SQL-replayable."""
    from uk_address_matcher_spark.corpus import to_documents
    from uk_address_matcher_spark.textops.multimodal import (
        decode_media,
        media_table,
        sample_frames,
    )

    docs = to_documents(_edge_flat(spark))
    decoded = decode_media(media_table(docs))
    return sample_frames(decoded, every_n=30).orderBy(
        "doc_id", "media_ref", "frame_idx"
    )


def _oracle_media_frames() -> str:
    return f"""
WITH {_edge_values_sql()},
pres AS (
  SELECT unique_id AS doc_id,
         ('0x' || substring(md5(unique_id || 'media'), 1, 8))::BIGINT AS h
  FROM edge
),
refs AS (
  SELECT doc_id, 'media://' || md5(doc_id || 'a') AS media_ref FROM pres WHERE h % 4 = 1
  UNION ALL
  SELECT doc_id, 'media://' || md5(doc_id || 'b') FROM pres WHERE h % 3 = 1
  UNION ALL
  SELECT doc_id, 'media://' || md5(doc_id || 'c') FROM pres WHERE h % 5 = 2
),
dec AS (
  SELECT doc_id, media_ref,
         ('0x' || substring(md5(media_ref), 1, 8))::BIGINT AS rh
  FROM refs
),
vids AS (
  SELECT doc_id, media_ref, (rh % 300 + 1)::INT AS n_frames
  FROM dec WHERE (rh % 3) = 2  -- kind index 2 = 'video'
)
SELECT doc_id, media_ref, f::INT AS frame_idx,
       md5(media_ref || '#' || f::VARCHAR) AS frame_digest
FROM (
  SELECT doc_id, media_ref, unnest(generate_series(0, n_frames - 1, 30)) AS f
  FROM vids
)
ORDER BY doc_id, media_ref, frame_idx
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_pricing_summary": _q_pricing_summary,
        "q_top_customers": _q_top_customers,
        "q_best_order_per_customer": _q_best_order_per_customer,
        "q_order_gap_lead": _q_order_gap_lead,
        "q_semi_join_prune": _q_semi_join_prune,
        "q_cube_status": _q_cube_status,
        "q_union_dedup": _q_union_dedup,
        "q_addr_extract": _q_addr_extract,
        "q_addr_clean_basic": _q_addr_clean_basic,
        "q_addr_flat_parse": _q_addr_flat_parse,
        "q_addr_numeric_tokens": _q_addr_numeric_tokens,
        "q_addr_dupe_end": _q_addr_dupe_end,
        "q_addr_best_match": _q_addr_best_match,
        "q_addr_clusters": _q_addr_clusters,
        "q_jaro_winkler": _q_jaro_winkler,
        "q_doc_normalize": _q_doc_normalize,
        "q_doc_token_stats": _q_doc_token_stats,
        "q_doc_quality": _q_doc_quality,
        "q_doc_lang": _q_doc_lang,
        "q_doc_fingerprint": _q_doc_fingerprint,
        "q_dedup_exact": _q_dedup_exact,
        "q_token_tf": _q_token_tf,
        "q_common_last_tokens": _q_common_last_tokens,
        "q_ngram_jaccard": _q_ngram_jaccard,
        "q_ngram_jaccard_capped": _q_ngram_jaccard_capped,
        "q_minhash_signatures": _q_minhash_signatures,
        "q_minhash_lsh_pairs": _q_minhash_lsh_pairs,
        "q_simhash": _q_simhash,
        "q_simhash_neardup": _q_simhash_neardup,
        "q_simhash64_neardup": _q_simhash64_neardup,
        "q_knn_bruteforce": _q_knn_bruteforce,
        "q_knn_lsh": _q_knn_lsh,
        "q_embedding_neardup": _q_embedding_neardup,
        "q_embedding_neardup_capped": _q_embedding_neardup_capped,
        "q_media_features": _q_media_features,
        "q_media_frames": _q_media_frames,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q_pricing_summary": _ORACLE_PRICING,
        "q_top_customers": _ORACLE_TOP_CUSTOMERS,
        "q_best_order_per_customer": _ORACLE_BEST_ORDER,
        "q_order_gap_lead": _ORACLE_ORDER_GAP,
        "q_semi_join_prune": _ORACLE_SEMI_JOIN,
        "q_cube_status": _ORACLE_CUBE,
        "q_union_dedup": _ORACLE_UNION_DEDUP,
        "q_addr_extract": _oracle_addr_extract(),
        "q_addr_clean_basic": _oracle_addr_clean_basic(),
        "q_addr_flat_parse": _oracle_addr_flat_parse(),
        "q_addr_numeric_tokens": _oracle_addr_numeric_tokens(),
        "q_addr_dupe_end": _oracle_addr_dupe_end(),
        # q_addr_best_match / q_addr_clusters: iterative pipeline, oracle
        # is an embedded golden pin (18/21 vs the reference's truth labels,
        # stability verified across parallelism levels)
        "q_addr_best_match": _oracle_best_match(),
        "q_addr_clusters": _oracle_clusters(),
        "q_jaro_winkler": _oracle_jaro_winkler(),
        "q_doc_normalize": _ORACLE_DOC_NORMALIZE,
        "q_doc_token_stats": _ORACLE_DOC_TOKEN_STATS,
        "q_doc_quality": _ORACLE_DOC_QUALITY,
        "q_doc_lang": _oracle_doc_lang(),
        "q_doc_fingerprint": _ORACLE_DOC_FINGERPRINT,
        "q_dedup_exact": _ORACLE_DEDUP_EXACT,
        "q_token_tf": _ORACLE_TOKEN_TF,
        "q_common_last_tokens": _ORACLE_COMMON_LAST,
        "q_ngram_jaccard": _ORACLE_NGRAM_JACCARD,
        "q_ngram_jaccard_capped": _ORACLE_NGRAM_JACCARD_CAPPED,
        "q_minhash_signatures": _oracle_minhash_signatures(),
        "q_minhash_lsh_pairs": _oracle_minhash_lsh_pairs(),
        "q_simhash": _oracle_simhash(),
        "q_simhash_neardup": _oracle_simhash_neardup(),
        "q_simhash64_neardup": _oracle_simhash64_neardup(),
        "q_knn_bruteforce": _ORACLE_KNN,
        "q_knn_lsh": _oracle_knn_lsh(),
        "q_embedding_neardup": _oracle_embedding_neardup(),
        "q_embedding_neardup_capped": _oracle_embedding_neardup_capped(),
        "q_media_features": _oracle_media_features(),
        "q_media_frames": _oracle_media_frames(),
    }
