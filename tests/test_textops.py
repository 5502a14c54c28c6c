"""Training-data operator tests: dedup, similarity, analysis, multimodal."""

import duckdb
import pytest
from pyspark.sql import functions as F

from uk_address_matcher_spark.corpus import edge_case_documents
from uk_address_matcher_spark.textops import analysis as A
from uk_address_matcher_spark.textops import dedup as D
from uk_address_matcher_spark.textops import multimodal as M
from uk_address_matcher_spark.textops import similarity as S

DOCS = [
    ("d1", "The quick brown fox jumps over the lazy dog"),
    ("d2", "the quick brown fox jumps over the lazy dog!"),  # exact dup after norm
    ("d3", "The quick brown fox jumps over a sleepy dog"),   # near dup
    ("d4", "Completely different content about spark shuffles and joins"),
    ("d5", "le chat et la souris et le fromage des alpes"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string").cache()


def test_exact_duplicates(spark, docs):
    out = D.exact_duplicates(docs).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2
    assert out[0]["keep_doc_id"] == "d1"


def test_ngram_jaccard(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert pairs[("d1", "d2")] == 1.0
    assert ("d1", "d3") in pairs and pairs[("d1", "d3")] < 1.0
    assert not any("d4" in p for p in pairs)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_pairs(docs, verify_threshold=0.3).collect()}
    assert ("d1", "d2") in pairs


def test_minhash_lsh_pairs_releases_shingle_cache(spark, docs):
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs.count()  # the fixture's own cache is not the call's
    before = persisted()
    out = D.minhash_lsh_pairs(docs, verify_threshold=0.3)
    assert ("d1", "d2") in {(r["doc_a"], r["doc_b"]) for r in out.collect()}
    # the only RDD left persisted is the call's own materialised result
    plan = out._jdf.queryExecution().analyzed()
    own = {plan.rdd().id()} if plan.nodeName() == "LogicalRDD" else set()
    assert persisted() - before <= own


def test_simhash_exact_dups_equal(spark, docs):
    out = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert out["d1"] == out["d2"]
    assert out["d1"] != out["d4"]


def test_md5_int_matches_duckdb(spark):
    df = spark.createDataFrame([("hello",), ("WORLD",)], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", A.md5_int(F.col("t")).alias("h")).collect()}
    for t, h in got.items():
        expected = duckdb.sql(
            f"SELECT ('0x' || substring(md5('{t}'),1,8))::BIGINT"
        ).fetchone()[0]
        assert h == expected, t


def test_quality_and_language(spark, docs):
    q = {r["doc_id"]: r for r in A.quality_features(docs).collect()}
    assert q["d1"]["n_tokens"] == 9
    assert q["d2"]["punct_ratio"] > 0
    lang = {r["doc_id"]: r["lang_guess"] for r in A.language_guess(docs).collect()}
    assert lang["d1"] == "en"
    assert lang["d5"] == "fr"


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [("a", "alpha beta gamma"), ("b", "gamma beta alpha")], "doc_id string, text string"
    )
    out = {r["doc_id"]: r["fingerprint"] for r in A.fingerprint(df).collect()}
    assert out["a"] != out["b"]


def test_brute_force_topk(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = S.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = [(r["rank"], r["neighbor_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [(1, 1), (2, 2)]


def test_lsh_topk_subset_of_bruteforce_space(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    approx = S.lsh_topk(emb, emb.filter(F.col("vec_id") < 5), dim=16, k=3, n_planes=4)
    got = approx.collect()
    assert all(r["rank"] <= 3 for r in got)
    assert len({r["query_id"] for r in got}) >= 1


def test_multimodal_pipeline(spark):
    docs, _ = edge_case_documents(spark)
    media = M.media_table(docs)
    n_media = media.count()
    assert n_media > 10
    decoded = M.decode_media(media)
    assert decoded.count() == n_media
    row = decoded.first()
    assert len(row["content"]) == 64
    feats = M.extract_features(decoded)
    frow = feats.first()
    assert len(frow["feature"]) == 8
    # deterministic: same media_ref -> same feature
    f2 = M.extract_features(decoded)
    assert f2.exceptAll(feats).count() == 0
    frames = M.sample_frames(decoded, every_n=50)
    vids = decoded.filter(F.col("media_kind") == "video").count()
    if vids:
        assert frames.count() >= vids


def test_decode_media_real_path_raises(spark):
    docs, _ = edge_case_documents(spark)
    media = M.media_table(docs)
    with pytest.raises(Exception) as exc_info:
        M.decode_media(media, deterministic_fake=False).count()
    assert "NotImplementedError" in str(exc_info.value) or "real media decode" in str(
        exc_info.value
    )


def test_simhash_neardup_matches_bruteforce(spark, docs):
    """Pigeonhole banding must find EVERY pair within max_hamming (no
    false negatives) and the popcount verify kills everything else."""
    import itertools

    from uk_address_matcher_spark.textops import dedup as D

    fps = {r["doc_id"]: r["simhash"] for r in D.simhash(docs, bits=16).collect()}
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 2
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash_near_duplicates(docs, bits=16, max_hamming=2).collect()
    }
    assert got == want


def test_simhash64_neardup_matches_bruteforce(spark, docs):
    """64-bit simhash (two 32-bit halves): banding across the logical 64
    bits finds exactly the brute-force Hamming-<=k pairs."""
    import itertools

    fps = {
        r["doc_id"]: (r["fp_hi"] << 32) | r["fp_lo"]
        for r in D.simhash64(docs).collect()
    }
    for v in fps.values():
        assert 0 <= v < (1 << 64)
    k = 3
    want = {
        (a, b): bin(fps[a] ^ fps[b]).count("1")
        for a, b in itertools.combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= k
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in D.simhash64_near_duplicates(docs, max_hamming=k).collect()
    }
    assert got == want


def test_simhash32_pair_count_sane(spark):
    """At 32 bits the fingerprint space is not saturated: distinct-content
    docs do not collapse into Hamming-<=2 pairs the way 16-bit
    fingerprints did (the round-2 16-bit config produced 11,051 pairs
    from 500 docs)."""
    rows = [(f"d{i}", f"document number {i} about topic {i % 7} item {i*13%101}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    n16 = D.simhash_near_duplicates(df, bits=16, max_hamming=2).count()
    n32 = D.simhash_near_duplicates(df, bits=32, max_hamming=2).count()
    assert n32 <= n16
    assert n32 < 60  # far below the all-pairs 1770


def test_lsh_suggest_planes_and_cap(spark):
    assert S.suggest_n_planes(500, target_bucket=200) == 2
    assert S.suggest_n_planes(1_000_000, target_bucket=200) == 13
    assert S.suggest_n_planes(1, target_bucket=200) == 1
    # capped near-dup drops over-full buckets but still returns verified pairs
    rows = []
    for i in range(40):
        base = [((i * 31 + d * 7) % 13 - 6) / 6.0 for d in range(8)]
        rows.append((i, [float(x) for x in base]))
    e = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    uncapped = S.embedding_near_duplicates(e, threshold=0.9, dim=8, n_bands=4, n_planes=2, max_bucket_size=None)
    capped = S.embedding_near_duplicates(e, threshold=0.9, dim=8, n_bands=4, n_planes=2, max_bucket_size=5)
    u = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    c = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert c <= u  # the cap only removes candidates, never invents pairs
