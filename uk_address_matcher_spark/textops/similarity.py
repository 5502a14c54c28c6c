"""Similarity search over embedding columns (array<float>).

Two paths:
 - brute-force cosine top-k: exact baseline. Query side is broadcast (a
   top-k search has a small query set by construction); the corpus scan
   stays partition-parallel with zero shuffles before the per-query top-k
   window.
 - LSH-bucketed top-k: random-hyperplane signatures (md5-derived
   deterministic planes); only vectors sharing a signature bucket are
   compared — the scale path when the query set is large. Recall is
   traded for the removed cross product; bucket width is tunable.
"""

from __future__ import annotations

import hashlib
import logging
import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from uk_address_matcher_spark.session import local_frame

logger = logging.getLogger(__name__)

DEFAULT_TARGET_BUCKET = 200
DEFAULT_MAX_BUCKET = 1000


def suggest_n_planes(n_rows: int, target_bucket: int = DEFAULT_TARGET_BUCKET) -> int:
    """Planes per band so that EXPECTED bucket occupancy stays ~constant
    as the corpus grows: r = ceil(log2(n / target_bucket)), min 1.

    With r planes a band has 2^r buckets; occupancy ~ n / 2^r. A FIXED r
    means occupancy grows linearly with n and the within-bucket self-join
    quadratically — the scale hazard this function exists to remove.
    Recall is governed by the BAND count (OR over bands), so deepening
    bands as data grows trades candidate volume, not recall structure.
    """
    return max(1, math.ceil(math.log2(max(n_rows, 2) / target_bucket)))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos_sim) — exact top-k by cosine.

    ``queries`` is broadcast; self-matches excluded; ties broken on
    neighbor id for determinism.
    """
    # Norms are per-VECTOR, not per-pair: compute them below the join
    # (once per query row / once per candidate row) instead of inside the
    # per-pair cosine, which re-aggregated both operands' norms for every
    # (query, candidate) combination — 2/3 of the pairwise HOF work.
    # Bit-identical: same _norm expression per row, same q*c multiply
    # order, same dot/(q*c) division as cosine().
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ).withColumn("q_norm", _norm(F.col("q_vec")))
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).withColumn("c_norm", _norm(F.col("c_vec")))
    scored = q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def _planes(dim: int, n_bands: int, n_planes: int) -> list[list[list[float]]]:
    """Deterministic pseudo-random hyperplanes from md5 (no RNG state):
    one independent family of ``n_planes`` planes per band. md5-derived so
    the DuckDB oracle can inline the identical literals."""
    bands = []
    for b in range(n_bands):
        band = []
        for p in range(n_planes):
            row = []
            for d in range(dim):
                h = int(
                    hashlib.md5(f"band{b}|plane{p}|{d}".encode()).hexdigest()[:8], 16
                )
                row.append((h % 2001 - 1000) / 1000.0)
            band.append(row)
        bands.append(band)
    return bands


def _band_signature(vec: Column, band_planes: list[list[float]]) -> Column:
    parts = []
    for row in band_planes:
        plane = F.array(*[F.lit(x) for x in row])
        parts.append(F.when(_dot(vec, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*parts)


def lsh_buckets(
    df: DataFrame,
    dim: int,
    n_bands: int = 4,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id, vec, band, sig) — one row per (vector, band).

    b independent bands of r hyperplanes each: a pair collides if it
    agrees on ALL r signs in ANY band (OR-of-ANDs, the standard banded
    scheme — same shape as dedup.minhash_lsh_pairs). At scale the shuffle
    key is (band, sig): 2^r buckets *per band*. NOTE a FIXED r does NOT
    keep buckets small as data grows — occupancy is ~n/2^r, linear in n,
    and the within-bucket self-join quadratic in it. Scale r with the
    corpus (suggest_n_planes) and keep ``max_bucket_size`` set; recall
    comes from the band count.

    ``max_bucket_size`` drops over-full buckets (the quadratic-blowup
    guard, like the stop-shingle cut in ngram_jaccard_pairs); the number
    of dropped buckets/rows is logged, never silently capped at read
    time.
    """
    all_planes = _planes(dim, n_bands, n_planes)
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _band_signature(F.col(vec_col), all_planes[b]).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    out = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(band_cols).alias("bk"),
    ).select("id", "v", F.col("bk")["band"].alias("band"), F.col("bk")["sig"].alias("sig"))
    if max_bucket_size is not None:
        oversized = (
            out.groupBy("band", "sig")
            .agg(F.count("*").alias("bucket_n"))
            .filter(F.col("bucket_n") > max_bucket_size)
        )
        # The anti-join side is broadcast, i.e. driver-collected anyway:
        # collect it ONCE (limit-guarded, like linkage side tables),
        # derive the drop stats from the same rows, and re-create a local
        # frame — one aggregation job, and no cache left pinned in
        # executor storage for the session's lifetime.
        max_oversized = 1_000_000
        rows = oversized.limit(max_oversized + 1).collect()
        if len(rows) > max_oversized:
            raise ValueError(
                f"lsh_buckets: more than {max_oversized:,} over-full buckets — "
                "the banding is far too coarse for this corpus; raise n_planes "
                "(suggest_n_planes) instead of dropping most of the data."
            )
        if rows:
            logger.warning(
                "lsh_buckets: dropped %d over-full bucket(s) (%d rows) above "
                "max_bucket_size=%d — raise n_planes (suggest_n_planes) if "
                "this loses too much recall",
                len(rows), sum(r["bucket_n"] for r in rows), max_bucket_size,
            )
            local = local_frame(
                df.sparkSession, rows, "band int, sig string, bucket_n bigint"
            )
            out = out.join(F.broadcast(local), ["band", "sig"], "left_anti")
    return out


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_bands: int = 4,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Approximate top-k: compare a query only to vectors sharing a full
    band signature in at least one band; candidates deduped across bands
    before the (expensive) cosine. Vectors colliding in no band are never
    compared (approximation trade-off, by design).

    Shipped defaults are scale-safe: ``n_planes=None`` derives the band
    depth from the corpus size (one count; see suggest_n_planes) and
    ``max_bucket_size`` caps bucket occupancy with logged drops.
    """
    if n_planes is None:
        n_planes = suggest_n_planes(embeddings.count())
    e = lsh_buckets(embeddings, dim, n_bands, n_planes, id_col, vec_col, max_bucket_size)
    q = lsh_buckets(queries, dim, n_bands, n_planes, id_col, vec_col)
    # norm hoist (see brute_force_topk): q_norm once per (query, band) row
    # below the bucket join, c_norm once per embedding row below the
    # attach join — the verify projection was re-aggregating both per
    # candidate pair. Bit-identical (same expression, multiply, divide).
    cand = (
        q.select(F.col("id").alias("query_id"), F.col("v").alias("q_vec"), "band", "sig")
        .withColumn("q_norm", _norm(F.col("q_vec")))
        .join(e.select(F.col("id").alias("neighbor_id"), "band", "sig"), ["band", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_vec", "q_norm", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.join(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
        ).withColumn("c_norm", _norm(F.col("c_vec"))),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("q_vec"), F.col("c_vec"))
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos_sim")
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.98,
    dim: int = 64,
    n_bands: int = 4,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: banded hyperplane LSH
    candidates (deduped across bands), cosine verify, threshold filter.

    Shipped defaults are scale-safe: ``n_planes=None`` derives the band
    depth from the corpus size (one count; see suggest_n_planes) and
    ``max_bucket_size`` caps bucket occupancy with logged drops.
    """
    if n_planes is None:
        n_planes = suggest_n_planes(embeddings.count())
    e = lsh_buckets(
        embeddings, dim, n_bands, n_planes, id_col, vec_col, max_bucket_size
    ).withColumn("nrm", _norm(F.col("v")))
    # norm hoist (see brute_force_topk): one _norm per (vector, band) row
    # below the self-join instead of two per candidate pair in the verify
    # projection. Bit-identical (same expression, multiply, divide).
    cand = (
        e.alias("a")
        .join(e.alias("b"), ["band", "sig"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.v").alias("v_a"),
            F.col("a.nrm").alias("n_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.v").alias("v_b"),
            F.col("b.nrm").alias("n_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand.select(
        "id_a",
        "id_b",
        F.round(
            _dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 6
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)
