"""Deduplication operators for web-scale corpora.

Four families, each with an explicit scale story:
 - exact: hash-groupBy on a normalized-content digest. One shuffle on the
   digest; at 100 TB this is the cheapest possible dedup (map-side
   partial aggregation applies).
 - n-gram Jaccard: shingle explode + self-join. The join is quadratic in
   per-shingle document frequency, so hot shingles are CAPPED
   (max_shingle_df) — the standard stop-shingle cut; the cap is logged in
   the plan via a count column, never silent.
 - MinHash + LSH: k md5-derived hash functions -> signature -> banded
   bucket join -> verify. All hashing is md5-based so results are
   deterministic and engine-independent.
 - SimHash: 64-bit sign-aggregated token hashes; near-dups = equal
   fingerprints (or small Hamming distance at verify time).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uk_address_matcher_spark.textops.analysis import md5_int, normalize_text, tokens

MERSENNE = 2147483647


def _spread(df: DataFrame) -> DataFrame:
    """Re-split a narrow input across all cores before per-row-heavy
    compute (shingling, per-shingle hashing): a small parquet table
    arrives as ONE file split, which would serialize the whole scan onto
    one core. No-op when the scan is already parallel — at real scale the
    file splits provide the parallelism and no shuffle is added."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_duplicates(
    df: DataFrame, text_col: str = "text", min_group_size: int = 2
) -> DataFrame:
    """One row per content GROUP of >= min_group_size docs with identical
    normalized text: (content_hash, n_docs, keep_doc_id = min)."""
    h = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(F.col("doc_id"), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") >= min_group_size)
    )


def _shingles(c: Column, n: int) -> Column:
    from uk_address_matcher_spark.cleaning.steps import let

    def body(t: Column) -> Column:
        return F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - (n - 1)),
                    lambda i: F.array_join(F.slice(t, i, n), " "),
                )
            ),
        ).otherwise(F.array(F.array_join(t, " ")))

    # let-bound: inlining tokens(c) would re-run the regex tokenisation
    # once PER SHINGLE INDEX (it appears inside the transform lambda)
    return let(tokens(c), body)


def shingle_table(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    return _spread(df).select(
        "doc_id", F.explode(_shingles(F.col(text_col), n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs by token-n-gram Jaccard similarity.

    Shingles occurring in more than ``max_shingle_df`` documents are
    dropped before the self-join (stop-shingle cut) — at web scale a hot
    shingle would otherwise create a quadratic blowup on one key.
    """
    sh = shingle_table(df, text_col, n)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df_cnt"))
    sh = sh.join(
        F.broadcast(df_counts.filter(F.col("df_cnt") > max_shingle_df)),
        "shingle",
        "left_anti",
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("sz_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) affine-permutation constants, md5-derived.
    a odd and < 2^31 (|1 keeps it within the h32 range), b < 2^31 —
    a*h < 2^31 * 2^31 = 2^62, safely inside BIGINT in both Spark and
    DuckDB even under ANSI overflow checking."""
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % MERSENNE

    return [(h32(f"a{i}") | 1, h32(f"b{i}")) for i in range(num_hashes)]


def _affine_sigs(base: Column, params: list[tuple[int, int]]) -> Column:
    """MinHash signature of one base-hash array: per (a, b) in ``params``,
    min over the array of (a * h + b) mod MERSENNE."""
    return F.array(
        *[
            F.array_min(F.transform(base, lambda h: (F.lit(a) * h + F.lit(b)) % MERSENNE))
            for a, b in params
        ]
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — sig[i] = min over shingles of
    (a_i * md5_int(shingle) + b_i) mod MERSENNE.

    Standard one-base-hash + affine-permutation MinHash: md5 runs ONCE per
    shingle (let-bound base array), each signature row is 2 integer ops
    per shingle — 16x cheaper than hashing per (i, shingle), and still
    deterministic/engine-independent.
    """
    from uk_address_matcher_spark.cleaning.steps import let

    params = minhash_params(num_hashes)
    base_hashes = F.transform(
        _shingles(F.col(text_col), n), lambda s: md5_int(s) % MERSENNE
    )
    return _spread(df).select(
        "doc_id", let(base_hashes, lambda base: _affine_sigs(base, params)).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """LSH candidate generation + exact Jaccard verification.

    Signature is split into ``bands`` bands of num_hashes/bands rows; docs
    sharing any full band land in one bucket (one narrow shuffle on the
    band digest); candidates are verified with true shingle Jaccard.
    """
    from uk_address_matcher_spark.cleaning.steps import let

    rows = num_hashes // bands
    # ONE shingling pass: the signature branch and the verification
    # shingle table both derive from a cached per-doc shingle array —
    # previously each re-ran tokenise+shingle over every document
    # (identical values either way; this is the minhash_signatures /
    # shingle_table composition with the common subexpression hoisted)
    params = minhash_params(num_hashes)
    arr = (
        _spread(df)
        .select("doc_id", _shingles(F.col(text_col), n).alias("__sh_arr"))
        .cache()
    )
    base_hashes = F.transform(F.col("__sh_arr"), lambda s: md5_int(s) % MERSENNE)
    sigs = arr.select(
        "doc_id", let(base_hashes, lambda base: _affine_sigs(base, params)).alias("sig")
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.col("sig")[b * rows + r] for r in range(rows)])).alias("digest"),
        )
        for b in range(bands)
    ]
    buckets = sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "doc_id", F.col("bk")["band"].alias("band"), F.col("bk")["digest"].alias("digest")
    )
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "digest"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .dropDuplicates()
    )
    sh = arr.select("doc_id", F.explode("__sh_arr").alias("shingle"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    # shingle is part of BOTH join keys: the intersection is produced by
    # the hash join itself (joining on doc only and filtering afterwards
    # would materialise the |sh_a| x |sh_b| cross product per pair)
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    verified = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("sz_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
    )
    # materialise the (small) verified-pair set so the cached shingle
    # arrays are released before returning, on the raise path too
    try:
        return verified.localCheckpoint()
    finally:
        arr.unpersist()


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 2,
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with Hamming(simhash) <= max_hamming.

    Pigeonhole banding: the fingerprint is split into ``max_hamming + 1``
    contiguous bit bands — two fingerprints within Hamming distance k MUST
    agree exactly on at least one band, so equal-band bucket joins find
    every qualifying pair (no false negatives); candidates are verified
    with bit_count(xor). One narrow shuffle on (band, value); no
    all-pairs product.
    """
    n_bands = max_hamming + 1
    w = bits // n_bands
    fps = simhash(df, text_col, bits)
    band_cols = []
    for j in range(n_bands):
        lo = j * w
        width = bits - lo if j == n_bands - 1 else w
        mask = (1 << width) - 1
        band_cols.append(
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), lo)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
        )
    buckets = fps.select(
        "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        "doc_id",
        "simhash",
        F.col("bk")["band"].alias("band"),
        F.col("bk")["val"].alias("val"),
    )
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("fp_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash(df: DataFrame, text_col: str = "text", bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — sign-aggregated token hash bits (unweighted).

    Expression-only: for each bit position, count tokens whose md5-derived
    hash has that bit set vs unset; fingerprint bit = majority.
    """
    from uk_address_matcher_spark.cleaning.steps import let

    t = tokens(F.col(text_col))
    hashes = F.transform(t, lambda tok: md5_int(tok))

    def fp_of(hs: Column) -> Column:
        # let-bound: the md5 transform is evaluated ONCE per row — inlining
        # `hashes` into every bit() would re-hash every token per bit
        def bit(i: int) -> Column:
            ones = F.size(
                F.filter(hs, lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1)
            )
            return F.when(ones * 2 >= F.size(hs), F.lit(1).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ) * F.lit(2**i).cast("bigint")

        fp = None
        for i in range(bits):
            fp = bit(i) if fp is None else fp + bit(i)
        return fp

    return _spread(df).select("doc_id", let(hashes, fp_of).alias("simhash"))


# ---------------------------------------------------------------------------
# 64-bit SimHash (standard deployment width): two 32-bit halves, because a
# sum-of-2^i encoding caps a signed BIGINT at 62 usable bits in both Spark
# and DuckDB. Each half is an independent 32-bit simhash over its own
# md5-derived token hash (hex chars 1-8 for the low half, 9-16 for the
# high), so the logical fingerprint is hi * 2^32 + lo.
# ---------------------------------------------------------------------------


def _md5_int_hi(c: Column) -> Column:
    """Hex digits 9-16 of md5 as BIGINT — the high-half token hash,
    replayable in DuckDB as ('0x' || substring(md5(x), 9, 8))::BIGINT."""
    return F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("bigint")


def _half_fp(hs: Column) -> Column:
    def bit(i: int) -> Column:
        ones = F.size(
            F.filter(hs, lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1)
        )
        return F.when(ones * 2 >= F.size(hs), F.lit(1).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        ) * F.lit(2**i).cast("bigint")

    fp = None
    for i in range(32):
        fp = bit(i) if fp is None else fp + bit(i)
    return fp


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp_hi, fp_lo) — 64-bit simhash as two 32-bit halves."""
    from uk_address_matcher_spark.cleaning.steps import let

    t = tokens(F.col(text_col))
    lo_hashes = F.transform(t, lambda tok: md5_int(tok))
    hi_hashes = F.transform(t, lambda tok: _md5_int_hi(tok))
    return _spread(df).select(
        "doc_id",
        let(hi_hashes, _half_fp).alias("fp_hi"),
        let(lo_hashes, _half_fp).alias("fp_lo"),
    )


def _bands64(max_hamming: int) -> list[tuple[int, int]]:
    """(start, width) pigeonhole bands partitioning logical bits [0, 64)."""
    n_bands = max_hamming + 1
    w = 64 // n_bands
    bands = []
    for j in range(n_bands):
        start = j * w
        width = 64 - start if j == n_bands - 1 else w
        bands.append((start, width))
    return bands


def _extract64(hi: Column, lo: Column, start: int, width: int) -> Column:
    """Bits [start, start+width) of the logical fingerprint hi*2^32+lo.
    Every intermediate stays under 2^62 (halves are < 2^32)."""
    mask = F.lit((1 << width) - 1)
    if start >= 32:
        return F.shiftright(hi, start - 32).bitwiseAND(mask)
    if start + width <= 32:
        return F.shiftright(lo, start).bitwiseAND(mask)
    lo_w = 32 - start
    hi_w = width - lo_w
    lo_part = F.shiftright(lo, start)
    hi_part = hi.bitwiseAND(F.lit((1 << hi_w) - 1)) * F.lit(1 << lo_w).cast("bigint")
    return (lo_part.bitwiseOR(hi_part)).bitwiseAND(mask)


def simhash64_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, hamming) with 64-bit SimHash Hamming <= max_hamming.

    Same pigeonhole guarantee as simhash_near_duplicates — bands partition
    all 64 logical bits, so a Hamming-<=k pair agrees exactly on at least
    one band — with band values extracted across the hi/lo halves.
    """
    fps = simhash64(df, text_col)
    band_cols = [
        F.struct(
            F.lit(j).alias("band"),
            _extract64(F.col("fp_hi"), F.col("fp_lo"), start, width).alias("val"),
        )
        for j, (start, width) in enumerate(_bands64(max_hamming))
    ]
    buckets = fps.select(
        "doc_id", "fp_hi", "fp_lo", F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        "doc_id", "fp_hi", "fp_lo",
        F.col("bk")["band"].alias("band"), F.col("bk")["val"].alias("val"),
    )
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "val"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.fp_hi").alias("hi_a"),
            F.col("a.fp_lo").alias("lo_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.fp_hi").alias("hi_b"),
            F.col("b.fp_lo").alias("lo_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return (
        cand.select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
