"""LSH-bucketed approximate nearest neighbors — the scale path for ANN.

Random-hyperplane LSH (Charikar): sign of ⟨v, h_j⟩ for H deterministic
hyperplanes gives an H-bit bucket id; cosine-close vectors collide with
probability 1 − θ/π per bit. Search only scores the query's bucket (and
optionally neighboring buckets by Hamming distance), turning a full-corpus
scan into a bucket-sized one.

Design for 100 TB:
- Hyperplanes are derived deterministically from a seed (hash-based, no RNG
  state) so every executor — and every future run — agrees on the bucketing
  without shipping model state. They're tiny literal arrays baked into the
  plan.
- Bucket assignment is a one-pass expression over the corpus; in production
  you'd persist the bucketed corpus partitioned by bucket id so a query
  reads exactly one partition (partition pruning does the candidate
  selection for free).
- Multi-probe: flip the lowest-margin bits to visit adjacent buckets,
  trading recall for extra bucket reads without re-bucketing the corpus.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.partitioning import fan_out
from data_ingestion_pipeline_spark.functions.vector import as_double_array, cosine, dot

__all__ = [
    "hyperplanes",
    "bucket_expr",
    "band_buckets",
    "ann_topk",
    "ann_topk_multitable",
]


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 20240601) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes.

    Components are derived from md5(seed, plane, coord) mapped to [-1, 1) —
    reproducible everywhere (no numpy/RNG), statistically adequate for LSH
    (only the sign structure matters).
    """
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            digest = hashlib.md5(f"{seed}:{j}:{i}".encode()).digest()
            (u,) = struct.unpack("<Q", digest[:8])
            row.append(u / float(1 << 63) - 1.0)
        planes.append(row)
    return planes


def bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """H-bit bucket id: bit j = sign(⟨vec, plane_j⟩).

    Deliberately the compact ``aggregate``-fold dot, NOT the unrolled form:
    bucketing runs once per row (not per pair), so per-row eval cost is
    small, while an H×dim unrolled expression adds seconds of plan/codegen
    compile time to every query that embeds it (measured: ~3× end-to-end
    slowdown at bench scale). See functions/vector.py for the trade."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        bit = F.when(
            dot(vec, lit_plane) >= 0, F.shiftleft(F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def band_buckets(
    vec: Column,
    dim: int,
    n_bands: int,
    planes_per_band: int,
    seed_base: int = 971,
) -> Column:
    """All B band buckets in one Arrow-batched matmul: array<long> of
    length ``n_bands``, entry b = ``bucket_expr`` of band b's hyperplanes
    (same md5-derived planes, same ``dot >= 0`` sign convention, seeds
    ``seed_base + b``). Identical to the expression path up to FP summation
    order: the BLAS matmul and the sequential fold can disagree on the
    sign of a dot product at/near exactly 0, flipping that bucket bit —
    harmless for verified variants (exact re-scoring follows) but
    unverified bucket outputs are reproducible only per BLAS backend.

    Exists because the expression form is O(B·planes·dim) codegen *terms*:
    at 64 bands × 8 planes × 64 dims that's a 32k-term tree whose compile
    time alone dominates the query (measured 63 s vs ~2 s for this kernel
    at bench scale). One (batch × dim) @ (dim × B·planes) BLAS call per
    Arrow batch amortizes the Python boundary to noise and is the same
    work a GPU/SIMD hasher would do at 100 TB."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    mats = [
        np.array(hyperplanes(dim, planes_per_band, seed=seed_base + b)).T
        for b in range(n_bands)
    ]
    planes_matrix = np.concatenate(mats, axis=1)  # dim × (B·planes)
    bit_weights = 1 << np.arange(planes_per_band, dtype=np.int64)

    def _buckets(v):
        x = np.vstack(v.to_numpy())  # batch × dim
        bits = (x @ planes_matrix) >= 0  # batch × B·planes
        bits = bits.reshape(len(x), n_bands, planes_per_band)
        buckets = (bits * bit_weights).sum(axis=2)  # batch × B
        return pd.Series(list(buckets))

    # annotations set as live classes (module uses postponed annotations,
    # which pandas_udf's type-hint inference can't resolve from strings)
    _buckets.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_buckets, "array<long>")(vec)


def ann_topk(
    corpus: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_planes: int = 12,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's bucket.

    query_df: (query_id, qvec). Equi-join on bucket replaces the cross join —
    the recall/coverage trade dials with n_planes (fewer planes → bigger
    buckets → higher recall, more compute).
    """
    planes = hyperplanes(dim, n_planes)
    corpus_d = fan_out(corpus).select(
        F.col(id_col), as_double_array(F.col("embedding")).alias("_v")
    )
    bucketed = corpus_d.withColumn("bucket", bucket_expr(F.col("_v"), planes))
    q = query_df.select(
        "query_id", as_double_array(F.col("qvec")).alias("_qv")
    ).withColumn("bucket", bucket_expr(F.col("_qv"), planes))
    from pyspark.sql import Window

    scored = bucketed.join(F.broadcast(q), ["bucket"]).select(
        "query_id",
        F.col(id_col),
        cosine(F.col("_v"), F.col("_qv")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("score", 6).alias("score"), "rank")
    )


def ann_topk_multitable(
    corpus: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_tables: int = 16,
    planes_per_table: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
) -> DataFrame:
    """OR-amplified LSH ANN: L independent hash tables, each a
    ``planes_per_table``-bit random-hyperplane bucket; a corpus vector is a
    candidate when it collides with the query in ANY table. This is the
    standard recall amplifier over single-bucket ``ann_topk`` — miss
    probability per neighbor drops from (1−p) to (1−p)^L.

    100 TB shape (same machinery as dedup/embedding.py's banded near-dup):
    - all L buckets per vector come from ONE Arrow-batched matmul
      (``band_buckets``); the exploded index carries only
      (id, table, bucket) rows (~16 B), never vectors;
    - the query side is a broadcast, so candidate generation is a map-side
      hash join on (table, bucket);
    - candidates dedup to DISTINCT (query_id, id) before vectors re-attach
      via one hash join, so each candidate is scored exactly once.

    Tuning: expected candidate fraction on an uncorrelated corpus is
    ~L·2^-planes_per_table; raise ``planes_per_table`` as corpus similarity
    concentrates (real embedding corpora cluster, so deeper tables keep
    recall while pruning harder than this fixture's random vectors allow).
    """
    from pyspark.sql import Window

    corpus_d = fan_out(corpus).select(
        F.col(id_col), as_double_array(F.col("embedding")).alias("_v")
    )
    index = corpus_d.select(
        F.col(id_col),
        F.posexplode(
            band_buckets(F.col("_v"), dim, n_tables, planes_per_table)
        ).alias("table", "bucket"),
    )
    q = query_df.select(
        "query_id", as_double_array(F.col("qvec")).alias("_qv")
    )
    q_index = q.select(
        "query_id",
        F.posexplode(
            band_buckets(F.col("_qv"), dim, n_tables, planes_per_table)
        ).alias("table", "bucket"),
    )
    candidates = (
        index.join(F.broadcast(q_index), ["table", "bucket"])
        .select("query_id", id_col)
        .distinct()
    )
    scored = (
        candidates.join(corpus_d, id_col)
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            F.col(id_col),
            cosine(F.col("_v"), F.col("_qv"), dim).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("score", 6).alias("score"), "rank")
    )
