"""LLM-data operators (operators/llm_data.py) and the kernels they build
on (dedup/, similarity/): planted-duplicate recall, similarity and ANN
parity, span excision, language-ID rules, multimodal plumbing."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.dedup.clustering import (
    connected_components,
    dedup_groups,
)
from data_ingestion_pipeline_spark.dedup.embedding import (
    cosine_pairs,
    cosine_pairs_blas,
    lsh_cosine_pairs,
)
from data_ingestion_pipeline_spark.dedup.exact import exact_dedup
from data_ingestion_pipeline_spark.dedup.minhash import minhash_near_dup_pairs
from data_ingestion_pipeline_spark.dedup.ngram import jaccard_pairs
from data_ingestion_pipeline_spark.dedup.simhash import simhash_near_dup_pairs
from data_ingestion_pipeline_spark.functions.text import (
    clean_text,
    lang_id,
    redact_pii,
    repetition_ratio,
    rolling_fingerprint,
)
from data_ingestion_pipeline_spark.functions.vector import as_double_array, cosine
from data_ingestion_pipeline_spark.multimodal.binary_ops import (
    attach_media_metadata,
    chunk_audio,
    decode_image_features,
    sample_video_frames,
)
from data_ingestion_pipeline_spark.operators.llm_data import (
    EMB_DIM,
    _near_dup_embeddings,
)
from data_ingestion_pipeline_spark.similarity.brute_force import topk_cosine_batch
from data_ingestion_pipeline_spark.similarity.ivf import ivf_topk
from data_ingestion_pipeline_spark.similarity.ivfpq import (
    ivfpq_encode,
    ivfpq_topk,
    train_ivfpq,
)
from data_ingestion_pipeline_spark.similarity.lsh import ann_topk
from data_ingestion_pipeline_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


WORDS = (
    "spark batch window join filter agg table row scan merge query value "
    "hash sort key vector data stream group order column line part fast slow"
).split()


@pytest.fixture(scope="module")
def corpus(spark):
    """60 random-ish docs + exact copies of 0-9 (+100) + 85%-prefix near-dups
    of 10-19 (+200)."""

    rng = random.Random(11)
    rows = []
    for i in range(60):
        toks = [rng.choice(WORDS) for _ in range(rng.randint(40, 80))]
        rows.append((i, " ".join(toks)))
    base = dict(rows)
    for i in range(10):
        rows.append((100 + i, base[i]))  # exact copies
    for i in range(10, 20):
        toks = base[i].split()
        rows.append((200 + i, " ".join(toks[: int(len(toks) * 0.85)])))  # near dups
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_collapses_copies(corpus):
    out = exact_dedup(corpus, "text", "doc_id")
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert len(ids) == 70  # 80 rows - 10 exact copies
    assert all(i < 100 or i >= 210 or not (100 <= i < 110) for i in ids)
    # survivors are the originals (min id wins)
    assert all(not (100 <= i < 110) for i in ids)


def test_ngram_jaccard_finds_planted_pairs(corpus):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(corpus, "text", "doc_id", n=3, threshold=0.4).collect()
    }
    for i in range(10):  # exact copies: jaccard 1.0
        assert pairs.get((i, 100 + i)) == pytest.approx(1.0)
    for i in range(10, 20):  # prefix copies: high jaccard
        assert pairs.get((i, 200 + i), 0) >= 0.6


def test_minhash_recall_on_planted_pairs(corpus):
    got = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(corpus, "text", "doc_id", threshold=0.5).collect()
    }
    exact_planted = {(i, 100 + i) for i in range(10)}
    near_planted = {(i, 200 + i) for i in range(10, 20)}
    # all exact copies must be found; near-dups with J≈0.85 at worst miss
    # with P < 1e-2 each under (K=32, B=8, R=4) — allow one miss
    assert exact_planted <= got
    assert len(near_planted & got) >= 9
    # verified jaccard means no false positives below threshold
    for r in minhash_near_dup_pairs(corpus, "text", "doc_id", threshold=0.5).collect():
        assert r.jaccard >= 0.5


def test_simhash_exact_copies_distance_zero(corpus):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(corpus, "text", "doc_id", max_hamming=3).collect()
    }
    for i in range(10):
        assert pairs.get((i, 100 + i)) == 0  # identical text → identical signature


def test_cosine_self_similarity(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    row = emb.select(
        cosine(
            as_double_array(F.col("embedding")), as_double_array(F.col("embedding"))
        ).alias("c")
    ).first()
    assert row.c == pytest.approx(1.0, abs=1e-12)


def test_ann_scores_match_brute_force(spark):
    """ANN returns a subset of the corpus with *correct* scores; its rank-1
    for each query is the query itself (always in its own bucket)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    ann = ann_topk(emb, q, k=5, n_planes=6)
    brute = topk_cosine_batch(emb, q, k=500)
    brute_scores = {(r.query_id, r.vec_id): r.score for r in brute.collect()}
    for r in ann.collect():
        assert brute_scores[(r.query_id, r.vec_id)] == pytest.approx(r.score, abs=1e-9)
        if r.rank == 1:
            assert r.vec_id == r.query_id and r.score == pytest.approx(1.0)


def test_lang_id_rules(spark):
    samples = [
        (1, "the cat sat on the mat and it was happy with the result", "en"),
        (2, "el perro corre por la calle con una pelota para jugar", "es"),
        (3, "le chat est dans la maison avec une souris pour jouer", "fr"),
        (4, "der Hund ist nicht mit der Katze und ein Vogel auf dem Dach", "de"),
        (5, "这是一个中文句子用来测试语言识别功能是否正常工作", "zh"),
        (6, "これは日本語のテストですとても簡単な文章です", "ja"),
        (7, "이것은 한국어 테스트 문장입니다 언어 감지가 잘 되는지 확인합니다", "ko"),
        (8, "это русское предложение для проверки определения языка", "ru"),
        (9, "xyzzy qwerty plugh", "und"),
    ]
    df = spark.createDataFrame(samples, "id long, text string, expected string")
    out = df.select("id", "expected", lang_id(F.col("text")).alias("got")).collect()
    for r in out:
        assert r.got == r.expected, f"id={r.id}: got {r.got}, want {r.expected}"


def test_multimodal_plumbing(spark):
    rows = [
        (1, b"fake-image-bytes-aaaa", ("image/png", 64, 64, None)),
        (2, b"fake-video-bytes-bbbb", ("video/mp4", 640, 480, 3500)),
        (3, None, ("image/png", 0, 0, None)),
    ]
    df = spark.createDataFrame(
        rows,
        "media_id long, payload binary, "
        "meta struct<mime string, width int, height int, duration_ms long>",
    )
    meta = attach_media_metadata(df)
    got = {r.media_id: r.payload_bytes for r in meta.collect()}
    assert got[1] == 21 and got[3] is None

    feats = decode_image_features(df).collect()
    assert {r.media_id for r in feats} == {1, 2, 3}
    assert all(len(r.feature) == 8 for r in feats)
    # deterministic: same payload → same features
    feats2 = decode_image_features(df).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))

    frames = sample_video_frames(df, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_ts_ms)
    assert sorted(by_id[2]) == [0, 1000, 2000, 3000]
    assert 1 not in by_id  # no duration → no frames

    with pytest.raises(Exception, match="NotImplementedError|not available"):
        sample_video_frames(df, strict=True).collect()


def test_embedding_cosine_dedup_finds_planted_pairs(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    aug = _near_dup_embeddings(emb)
    pairs = {(r.id_a, r.id_b): r.score for r in cosine_pairs(aug, threshold=0.8).collect()}
    planted = {r.vec_id for r in emb.filter(F.col("vec_id") % 10 == 0).collect()}
    # every planted (original, perturbed-copy) pair crosses the threshold
    for vid in planted:
        assert pairs.get((vid, vid + 100000), 0) >= 0.8
    # and nothing else does (natural max pair cosine is ~0.51)
    assert set(pairs) == {(vid, vid + 100000) for vid in planted}


def test_embedding_lsh_recall_vs_exact(spark):
    aug = _near_dup_embeddings(spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet"))
    exact = {(r.id_a, r.id_b) for r in cosine_pairs(aug, threshold=0.8).collect()}
    got = {(r.id_a, r.id_b) for r in lsh_cosine_pairs(aug, threshold=0.8).collect()}
    # candidates are verified with exact cosine → no false positives
    assert got <= exact
    # cosine≈0.99 pairs collide in one 6-bit band w.p. ~(1-acos(.99)/pi)^6≈0.76,
    # in ≥1 of 4 bands w.p. ~99.7% → expect ≥80% recall with margin
    assert len(got) >= 0.8 * len(exact)


def test_ivf_topk_recall_vs_brute_force(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    brute = topk_cosine_batch(emb, q, k=10)
    ivf = ivf_topk(emb, q, k=10, n_centroids=16, nprobe=4)
    brute_sets: dict[int, set] = {}
    for r in brute.collect():
        brute_sets.setdefault(r.query_id, set()).add(r.vec_id)
    ivf_sets: dict[int, set] = {}
    ivf_scores = {}
    for r in ivf.collect():
        ivf_sets.setdefault(r.query_id, set()).add(r.vec_id)
        ivf_scores[(r.query_id, r.vec_id)] = r.score
    brute_scores = {(r.query_id, r.vec_id): r.score for r in brute.collect()}
    for qid, bset in brute_sets.items():
        # rank-1 is the query itself (its own list is always probed)
        assert qid in ivf_sets[qid]
        # recall@10 with nprobe=4/16 lists: expect at least 40% overlap
        assert len(ivf_sets[qid] & bset) >= 4
    # scores of returned candidates are exact (same cosine expression)
    for key, s in ivf_scores.items():
        if key in brute_scores:
            assert brute_scores[key] == pytest.approx(s, abs=1e-9)


def test_rolling_fingerprint_properties(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "abc"), (3, "acb"), (4, ""), (5, None)],
        "id long, text string",
    )
    got = {r.id: r.fp for r in df.select("id", rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    # deterministic, matches the direct computation
    expected = 0
    for ch in "abc":
        expected = (expected * 31 + ord(ch)) % 2147483647
    assert got[1] == expected
    assert got[1] == got[2]          # same text, same hash
    assert got[1] != got[3]          # order-sensitive
    assert got[4] == 0               # empty → 0
    assert got[5] is None            # null propagates


def test_connected_components_chains_and_cliques(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3),          # chain 1-2-3 → cluster 1
         (10, 11), (10, 12), (11, 12),   # clique → cluster 10
         (20, 21)],               # pair → cluster 20
        "id_a long, id_b long",
    )
    cc = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    keep = {r.node: r.keep for r in dedup_groups(pairs).collect()}
    assert [n for n, k in sorted(keep.items()) if k] == [1, 10, 20]


def test_text_hygiene_functions(spark):
    df = spark.createDataFrame(
        [
            (1, "<p>Hello   <b>world</b></p>  extra"),
            (2, "mail me at a.b@example.org or call +1 555-123-4567 ok"),
            (3, "spam spam spam spam spam"),
            (4, "all words here are distinct tokens"),
        ],
        "id long, text string",
    )
    out = {
        r.id: (r.clean, r.redacted, r.rep)
        for r in df.select(
            "id",
            clean_text(F.col("text")).alias("clean"),
            redact_pii(F.col("text")).alias("redacted"),
            repetition_ratio(F.col("text"), 1).alias("rep"),
        ).collect()
    }
    assert out[1][0] == "Hello world extra"
    assert "<EMAIL>" in out[2][1] and "<PHONE>" in out[2][1]
    assert "a.b@example.org" not in out[2][1]
    assert out[3][2] == pytest.approx(0.8)   # 5 tokens, 1 distinct → 1 - 1/5
    assert out[4][2] == pytest.approx(0.0)


def test_cosine_blas_matches_expression_form(spark):
    """The cogrouped BLAS kernel and the per-pair expression form emit the
    same pairs with the same 6-decimal scores."""

    aug = _near_dup_embeddings(load_table(spark, SF_SMOKE, "embeddings"))
    expr = sorted(
        tuple(r)
        for r in cosine_pairs(aug, threshold=0.8, dim=EMB_DIM).collect()
    )
    blas = sorted(tuple(r) for r in cosine_pairs_blas(aug, threshold=0.8).collect())
    assert expr == blas and len(blas) > 0


def test_ivfpq_topk_recall_and_exactness(spark):
    """IVF-PQ with exact refine: recall@10 clears the gate floor (0.3) at
    smoke scale, the query always finds itself, and returned scores are
    EXACT cosines (the refine step re-scores full vectors, so any returned
    candidate's score must equal brute force's bitwise)."""

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    brute = topk_cosine_batch(emb, q, k=10)
    ann = ivfpq_topk(emb, q, k=10, n_centroids=16, nprobe=4)
    brute_rows = brute.collect()
    brute_sets: dict[int, set] = {}
    for r in brute_rows:
        brute_sets.setdefault(r.query_id, set()).add(r.vec_id)
    ann_sets: dict[int, set] = {}
    ann_scores = {}
    for r in ann.collect():
        ann_sets.setdefault(r.query_id, set()).add(r.vec_id)
        ann_scores[(r.query_id, r.vec_id)] = r.score
    brute_scores = {(r.query_id, r.vec_id): r.score for r in brute_rows}
    for qid, bset in brute_sets.items():
        assert qid in ann_sets[qid]  # own cell always probed
        assert len(ann_sets[qid] & bset) >= 3  # gate floor 0.3 with margin
    for key, s in ann_scores.items():
        if key in brute_scores:
            assert brute_scores[key] == pytest.approx(s, abs=1e-9)


def test_ivfpq_encode_shape_and_determinism(spark):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    cents, books = train_ivfpq(emb)
    enc1 = {r.vec_id: (r.list_id, tuple(r.codes)) for r in ivfpq_encode(emb, cents, books).collect()}
    enc2 = {r.vec_id: (r.list_id, tuple(r.codes)) for r in ivfpq_encode(emb, cents, books).collect()}
    assert enc1 == enc2  # deterministic end to end
    n_sub, n_codes, _ = books.shape
    for list_id, codes in enc1.values():
        assert 0 <= list_id < len(cents)
        assert len(codes) == n_sub
        assert all(0 <= c < n_codes for c in codes)


def test_audio_chunking_plumbing(spark):
    rows = [
        (1, b"clip-a", ("audio/wav", None, None, 25_000)),
        (2, b"clip-b", ("audio/wav", None, None, 10_000)),
        (3, None, ("audio/wav", None, None, None)),
    ]
    df = spark.createDataFrame(
        rows,
        "media_id long, payload binary, "
        "meta struct<mime string, width int, height int, duration_ms long>",
    )
    chunks = chunk_audio(df, chunk_ms=10_000).collect()
    by_id = {}
    for r in chunks:
        by_id.setdefault(r.media_id, []).append(r)
    # 25 s → windows [0,10),[10,20),[20,25); last window clips to duration
    assert sorted(c.start_ms for c in by_id[1]) == [0, 10_000, 20_000]
    assert max(c.end_ms for c in by_id[1]) == 25_000
    # exact-multiple duration → exactly one full window
    assert [(c.start_ms, c.end_ms) for c in by_id[2]] == [(0, 10_000)]
    # no duration → no chunks
    assert 3 not in by_id
    # stub kernel is the documented md5 recipe
    want = hashlib.md5(b"clip-a:10000").digest()[0] / 255.0
    got = [c.rms for c in by_id[1] if c.start_ms == 10_000][0]
    assert abs(got - want) < 1e-12

    with pytest.raises(Exception, match="NotImplementedError|not present"):
        chunk_audio(df, strict=True).collect()
