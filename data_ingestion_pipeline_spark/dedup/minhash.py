"""MinHash + LSH near-duplicate detection — the scale path.

Pipeline (all built-in expressions, one narrow explode + two shuffles):

1. shingle each document to hashed token windows (dedup/ngram.shingle_sets);
2. base-hash each shingle (xxhash64) and derive K permuted hashes
   ``h_i(x) = (a_i·x + b_i) mod p`` (universal hashing, p = 2^61-1);
3. per-document MinHash signature = element-wise min over shingles —
   a single groupBy with K min() aggregates (map-side partial mins make the
   shuffle O(docs·K), independent of document length);
4. split the signature into B bands of R rows, hash each band, and
   self-join on (band index, band hash) → candidate pairs;
5. verify candidates with exact Jaccard on the true shingle sets.

With K=32, B=8, R=4 the candidate-recall curve crosses ~0.5 at
J ≈ (1/B)^(1/R) ≈ 0.59 — pairs above ~0.8 are found with P > 0.99.
Tunable per corpus.

Seeded-hash pipelines aren't reproducible in other engines, so the driver
check for this operator is the *verified* output's contract (exact Jaccard
on candidates), tested separately in pytest with planted near-duplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.dedup.ngram import shingle_sets

__all__ = [
    "lsh_candidate_pairs",
    "minhash_near_dup_pairs",
    "minhash_verified_pairs_complete",
    "minhash_incremental_pairs",
]

# Mersenne prime 2^31-1: the base hash is folded to 31 bits so a·x + b stays
# within a 64-bit long (a < p, x < 2^31 → product < 2^62) — pure long
# arithmetic inside codegen. A 31-bit min-hash space is ample for Jaccard
# estimation (collisions within a document's shingle set are ~|set|²/2³¹).
_P = (1 << 31) - 1


def _perm_params(k: int, seed: int = 1337) -> list[tuple[int, int]]:
    # Deterministic (a, b) per hash function — fixed linear-congruential
    # stream so every run/cluster derives the same family.
    params = []
    state = seed
    for _ in range(k):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = (state % (_P - 1)) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % _P
        params.append((a, b))
    return params


def _exploded_shingles(sets: DataFrame, id_col: str) -> DataFrame:
    """(id, sh) — one row per (document, shingle). explode_outer +
    null-filter: see dedup/ngram.jaccard_pairs — a plain explode's inferred
    size()>0 filter re-runs the shingle transform below the fan_out
    exchange, single-threaded."""
    return sets.select(
        F.col(id_col), F.explode_outer("sset").alias("sh")
    ).filter(F.col("sh").isNotNull())


def _signatures_from_exploded(
    exploded: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """K min() aggregates over permuted 31-bit hashes — map-side partial mins
    make the shuffle O(docs·K) regardless of document length. Input rows
    carry the 64-bit hashed shingle (``sh``, dedup/ngram.shingle_sets);
    folding to 31 bits keeps a·x + b inside long arithmetic."""
    hashed = exploded.withColumn("h", F.col("sh").bitwiseAND(F.lit((1 << 31) - 1)))
    aggs = []
    for i, (a, b) in enumerate(_perm_params(num_hashes)):
        perm = (F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_P)
        aggs.append(F.min(perm).alias(f"sig_{i}"))
    return hashed.groupBy(id_col).agg(*aggs)


def _band_rows(
    sigs: DataFrame, id_col: str, bands: int, rows_per_band: int, out_id: str
) -> DataFrame:
    """(out_id, band_idx, band_hash) — one row per (document, band): the
    banded-signature index both the batch self-join and the incremental
    cross-set probe build, so the band hash can never diverge between
    them."""
    band_cols = [
        F.xxhash64(
            F.lit(j),
            *[F.col(f"sig_{j * rows_per_band + r}") for r in range(rows_per_band)],
        ).alias(f"band_{j}")
        for j in range(bands)
    ]
    return sigs.select(
        F.col(id_col).alias(out_id),
        F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash"),
    )


def _verified_jaccard(
    cands: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    id_col: str,
    a_id: str,
    b_id: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard on the candidate pairs only — the verify join both the
    batch and incremental paths share."""
    ga = sets_a.select(F.col(id_col).alias(a_id), F.col("sset").alias("set_a"))
    gb = sets_b.select(F.col(id_col).alias(b_id), F.col("sset").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    union = F.size(F.array_union("set_a", "set_b")).cast("double")
    return (
        cands.join(ga, [a_id])
        .join(gb, [b_id])
        .select(a_id, b_id, F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Self-join on banded signature hashes → distinct candidate (a < b) pairs."""
    banded = _band_rows(sigs, id_col, bands, rows_per_band, id_col)
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_verified_pairs_complete(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH tuned for (near-)complete recall at ``threshold`` so the
    VERIFIED output equals the exact Jaccard pair set — oracle-checkable.

    With K=32 split as B=16 bands × R=2 rows, a pair at J=0.7 is missed with
    (1 − 0.7²)¹⁶ ≈ 2·10⁻⁵ — effectively never on fixture-sized planted-dup
    counts, so exact verification of the candidates reproduces the full
    J ≥ 0.7 relation. The trade is candidate selectivity: R=2 admits most
    mid-similarity pairs as candidates, so this configuration is the
    *correctness* instrument; the default (B=8, R=4) remains the
    scale-tuned production path registered alongside as rows-only.
    """
    return minhash_near_dup_pairs(
        df,
        text_col,
        id_col,
        threshold=threshold,
        num_hashes=32,
        bands=16,
        shingle_n=shingle_n,
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidates from LSH, verified with exact Jaccard ≥ threshold.

    The verify join touches only candidate pairs — the whole point: exact
    Jaccard on every pair is O(n²), on LSH candidates it's O(near-dups).
    """
    rows_per_band = num_hashes // bands
    # One shingle-array pass feeds both the signature aggregation (via
    # explode) and the verification sets (arrays as-is, no collect_set
    # round-trip) — cached so the corpus is shingled exactly once.
    sets = shingle_sets(df, text_col, id_col, shingle_n).cache()
    sigs = _signatures_from_exploded(
        _exploded_shingles(sets, id_col), id_col, num_hashes
    )
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    return _verified_jaccard(
        cands, sets, sets, id_col, "id_a", "id_b", threshold
    )


def minhash_incremental_pairs(
    incoming: DataFrame,
    existing: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-set LSH: INCOMING band rows probe the EXISTING band index —
    the incremental-ingest dedup shape. Nothing is ever compared within
    either set, so a day's delta costs O(delta · collisions), not a full
    re-clustering; at scale the existing side's banded index is a
    materialized table the delta joins against. NEAR-complete banding
    (B=16, R=2, same argument as ``minhash_verified_pairs_complete``): a
    true pair at J = 0.7 misses all 16 bands with p ≈ (1 − 0.7²)² ^ 16 ≈
    2e-5, so at fixture scale the verified output equals the exact
    cross-set J ≥ threshold relation, but the equality is probabilistic,
    not structural — at much larger corpora an unlucky pair can diverge
    from the exact oracle. The oracle-green recall sibling
    ``minhash_scale_recall_documents`` exists precisely so a missed pair
    flips a boolean gate instead of silently failing a value hash.
    """
    rows_per_band = num_hashes // bands
    sets_in = shingle_sets(incoming, text_col, id_col, shingle_n).cache()
    sets_ex = shingle_sets(existing, text_col, id_col, shingle_n).cache()

    def _sigs(sets: DataFrame) -> DataFrame:
        return _signatures_from_exploded(
            _exploded_shingles(sets, id_col), id_col, num_hashes
        )

    cands = (
        _band_rows(_sigs(sets_in), id_col, bands, rows_per_band, "inc_id")
        .join(
            _band_rows(_sigs(sets_ex), id_col, bands, rows_per_band, "ex_id"),
            ["band_idx", "band_hash"],
        )
        .select("inc_id", "ex_id")
        .distinct()
    )
    return _verified_jaccard(
        cands, sets_in, sets_ex, id_col, "inc_id", "ex_id", threshold
    )
