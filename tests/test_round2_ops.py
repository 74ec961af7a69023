"""Semantics tests for the round-2 operators: kNN graph, packing, mixture,
survivor-policy dedup, verified MinHash, and the decimal-sum parity helper.

The oracle checks (tools/check_oracle.py) prove engine-vs-DuckDB equality;
these tests pin the SEMANTIC properties directly so a future refactor that
breaks both sides symmetrically still fails somewhere.
"""

from __future__ import annotations

import hashlib
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.dedup.embedding import cosine_pairs_blas
from data_ingestion_pipeline_spark.dedup.ngram import jaccard_pairs
from data_ingestion_pipeline_spark.functions.numeric import dec_sum2
from data_ingestion_pipeline_spark.operators import llm_data
from data_ingestion_pipeline_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def test_knn_graph_matches_numpy_brute_force(spark):
    out = llm_data.knn_graph_embeddings(spark, SF_SMOKE).collect()
    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    ids = np.array([r.vec_id for r in emb])
    m = np.stack([np.array(r.embedding, dtype="float64") for r in emb])
    scores = np.round(
        (m @ m.T) / np.outer(np.linalg.norm(m, axis=1), np.linalg.norm(m, axis=1)), 6
    )
    np.fill_diagonal(scores, -np.inf)
    got = {}
    for r in out:
        got.setdefault(r.src_id, []).append((r.rnk, r.nbr_id, r.score))
    assert len(got) == len(ids)
    for i, src in enumerate(ids):
        # expected top-5 with (score desc, nbr_id asc) tie-break
        order = sorted(
            range(len(ids)), key=lambda j: (-scores[i, j], ids[j])
        )[:5]
        expected = [(rk + 1, ids[j], scores[i, j]) for rk, j in enumerate(order)]
        assert sorted(got[src]) == expected, f"src {src}"


def test_pack_documents_respects_budget_and_order(spark):
    rows = llm_data.pack_documents_context_windows(spark, SF_SMOKE).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    budget = 2048
    for source, docs in by_source.items():
        docs.sort(key=lambda r: r.doc_id)
        running = 0
        for r in docs:
            # a doc's pack is determined by its start offset in doc_id order
            assert r.pack_id == running // budget, (source, r.doc_id)
            running += r.n_tokens
        # pack ids are non-decreasing and start at 0
        assert docs[0].pack_id == 0


def test_corpus_mixture_rates_and_determinism(spark):
    once = llm_data.corpus_mixture_documents(spark, SF_SMOKE)
    kept = once.collect()
    again = llm_data.corpus_mixture_documents(spark, SF_SMOKE).collect()
    assert sorted(r.doc_id for r in kept) == sorted(r.doc_id for r in again)
    total = load_table(spark, SF_SMOKE, "documents").count()
    # global keep-rate should land near the tier-weighted mean (~0.43 for
    # uniform sources); md5-byte sampling on 500 docs is tight enough for
    # a coarse band
    assert 0.25 * total < len(kept) < 0.65 * total
    # every kept row respects its own tier byte
    for r in kept:
        src_num = int("".join(ch for ch in r.source if ch.isdigit()))
        expected = {0: 230, 1: 128, 2: 64, 3: 26}[src_num % 4]
        assert r.rate_byte == expected


def test_dedup_survivor_policy_keeps_longest(spark):
    out = {
        r.fingerprint: (r.survivor_id, r.n_tokens)
        for r in llm_data.dedup_survivor_quality_documents(spark, SF_SMOKE).collect()
    }
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").collect()
    aug = [(r.doc_id, r.text) for r in docs] + [
        (r.doc_id + 100000, r.text) for r in docs if r.doc_id % 10 == 0
    ]

    groups: dict[str, list] = {}
    for doc_id, text in aug:
        canon = re.sub(r"\s+", " ", text.strip()).lower()
        fp = hashlib.md5(canon.encode()).hexdigest()
        n_tok = len(text.strip().split())
        groups.setdefault(fp, []).append((doc_id, n_tok))
    assert set(groups) == set(out)
    for fp, members in groups.items():
        best = sorted(members, key=lambda m: (-m[1], m[0]))[0]
        assert out[fp] == (best[0], best[1]), fp


def test_minhash_verified_equals_exact_jaccard(spark):
    """The recall-complete banding must reproduce the exact J>=0.7 pair set
    (this is the property that justifies giving it a SQL oracle)."""

    aug = llm_data._near_dup_corpus(load_table(spark, SF_SMOKE, "documents"))
    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(aug, "text", "doc_id", n=3, threshold=0.7).collect()
    }
    verified = {
        (r.id_a, r.id_b)
        for r in llm_data.minhash_verified_near_dup_documents(
            spark, SF_SMOKE
        ).collect()
    }
    assert verified == exact
    assert exact, "fixture must plant at least one J>=0.7 pair"


def test_embedding_lsh_verified_equals_exact_cosine(spark):
    """Recall-complete hyperplane banding must reproduce the exact ≥0.8
    cosine pair set (the property justifying its SQL oracle)."""

    emb = load_table(spark, SF_SMOKE, "embeddings")
    aug = llm_data._near_dup_embeddings(emb)
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_pairs_blas(aug, "vec_id", "embedding", threshold=0.8).collect()
    }
    verified = {
        (r.id_a, r.id_b)
        for r in llm_data.embedding_lsh_verified_near_dup(spark, SF_SMOKE).collect()
    }
    assert verified == exact
    assert exact, "fixture must plant at least one >=0.8 pair"


@pytest.mark.parametrize("n_parts", [1, 3, 32])
def test_dec_sum2_is_partitioning_invariant(spark, n_parts):
    """Decimal summation must yield identical cents for ANY partitioning —
    the property float sums lack and the reason every money aggregate uses
    functions/numeric.py."""

    vals = [((i * 2654435761) % 100000) / 7.0 + 0.005 for i in range(999)]
    expected = sum(
        Decimal(v).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        for v in vals
    ).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    df = spark.createDataFrame([(v,) for v in vals], "v double").repartition(n_parts)
    got = df.agg(dec_sum2(F.col("v")).alias("s")).first().s
    assert got == float(expected)
