"""Gopher repetition rules + winnowing fingerprints: published-semantics
pins that the oracle comparison alone can't express (the match guarantee,
planted-pathology verdicts)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators.bpe import bpe_merges_documents
from data_ingestion_pipeline_spark.operators.corpus_quality import (
    DUP5_MAX,
    TOP2_MAX,
    WINNOW_K,
    WINNOW_W,
    dsir_importance_documents,
    gopher_repetition_documents,
    winnowing_fingerprints_documents,
    winnowing_near_copy_pairs_documents,
)
from tests.conftest import SF_SMOKE, write_sf
from tests.test_round7_ops import _py_bpe


DOCS = "doc_id long, text string"


def test_gopher_flags_planted_repetition(spark, tmp_path):
    """A document that is one 2-gram repeated forever must fail the top-2-
    gram rule; a document of distinct tokens must pass all rules."""
    rows = [
        (1, " ".join(["spam ham"] * 30)),          # top2 share == 1.0
        (2, " ".join(f"tok{i}" for i in range(60))),  # all-distinct
        (3, " ".join(["a b c d e"] * 12)),          # every 5-gram repeats
    ]
    sf = write_sf(tmp_path, documents=spark.createDataFrame(rows, DOCS))
    got = {r.doc_id: r for r in gopher_repetition_documents(spark, sf).collect()}
    assert got[1].top2gram_frac >= TOP2_MAX and not got[1].keep
    assert got[2].keep and got[2].dup5gram_frac == 0.0
    assert got[3].dup5gram_frac >= DUP5_MAX and not got[3].keep


def test_winnowing_match_guarantee_and_density(spark, tmp_path):
    """Two documents sharing a run of >= w + k - 1 tokens must share at
    least one fingerprint hash; disjoint-vocabulary documents share none;
    density stays within the theoretical band (>= 1/w by pigeonhole)."""
    shared = " ".join(f"s{i}" for i in range(WINNOW_W + WINNOW_K - 1))
    rows = [
        (1, "x1 x2 x3 " + shared + " x4 x5 x6"),
        (2, "y1 y2 y3 y4 " + shared + " y5"),
        (3, " ".join(f"z{i}" for i in range(30))),
    ]
    sf = write_sf(tmp_path, documents=spark.createDataFrame(rows, DOCS))
    out = winnowing_fingerprints_documents(spark, sf)
    got = {r.doc_id: r for r in out.collect()}
    for r in got.values():
        assert r.n_fingerprints >= 1
        # every window picks one of w hashes → density >= 1/w, <= 1.0
        assert 1.0 / WINNOW_W <= r.density <= 1.0

    # the guarantee needs the raw fingerprint sets — recompute ranges:
    # min/max fp of docs 1 and 2 must overlap IF they share a fingerprint;
    # assert directly on the shared-run hash: both documents contain the
    # identical shared k-grams, and winnowing any full window inside the
    # shared run selects a shared hash. Check via set intersection of the
    # per-doc selected hash sets.

    # rebuild fingerprint sets inline (same construction, hashes only)
    def fp_hashes(doc_text):
        toks = [t for t in doc_text.split() if t]
        hs = []
        for i in range(len(toks) - WINNOW_K + 1):
            g = " ".join(toks[i : i + WINNOW_K])
            h = int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
            hs.append((h, i))
        sel = set()
        for i in range(len(hs) - WINNOW_W + 1):
            sel.add(min((h * (1 << 20) + p) for h, p in hs[i : i + WINNOW_W]))
        return {k // (1 << 20) for k in sel}

    s1, s2, s3 = (fp_hashes(r[1]) for r in rows)
    assert s1 & s2, "shared >= w+k-1 run must share a fingerprint"
    assert not (s1 & s3) and not (s2 & s3)
    # and the Spark-side counts agree with the inline reference
    assert got[1].n_fingerprints == len(fp_hashes(rows[0][1]))
    assert got[3].n_fingerprints == len(s3)


def test_gopher_on_fixture_is_mostly_keep(spark):
    """The synthetic fixture corpus is not pathological: the overwhelming
    majority of documents must pass the repetition rules."""
    out = gopher_repetition_documents(spark, SF_SMOKE)
    agg = out.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("keep"), 1)).alias("kept"),
    ).collect()[0]
    assert agg.kept >= 0.6 * agg.n


def test_winnowing_pairs_find_every_planted_copy(spark):
    """Every planted 80%-prefix copy (doc_id % 20 == 0 → +1000000) must be
    detected: the shared prefix is a run far longer than w + k - 1, so the
    winnowing guarantee makes the pair structurally unmissable."""

    pairs = {
        (r.doc_a, r.doc_b)
        for r in winnowing_near_copy_pairs_documents(spark, SF_SMOKE).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    planted = [
        r.doc_id
        for r in docs.filter(
            (F.col("doc_id") % 20 == 0)
            & (F.size(F.split(F.trim("text"), r"\s+")) >= 9)
        ).collect()
    ]
    assert planted, "fixture must contain planted sources"
    for d in planted:
        assert (d, d + 1000000) in pairs, f"planted pair for doc {d} missed"


def test_dsir_importance_separates_target_language(spark):
    """DSIR with an lang='en' target must score English documents higher
    on average than non-English ones — the selection property the method
    exists for. (The fixture's languages use distinct token vocabularies,
    so the hashed-unigram ratio separates them sharply.)"""

    scores = dsir_importance_documents(spark, SF_SMOKE)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "lang"
    )
    j = scores.join(docs, "doc_id").groupBy(F.col("lang") == "en").agg(
        F.avg(F.col("log_importance") / F.col("n_tokens")).alias("mean_per_tok")
    )
    got = {r[0]: r.mean_per_tok for r in j.collect()}
    assert got[True] > got[False], (
        f"target-language docs must score higher: {got}"
    )


def test_bpe_greedy_leftmost_overlap_semantics(spark, tmp_path):
    """The island/parity rewrite must implement greedy LEFTMOST
    non-overlapping merges — pinned against the reference on
    pathological repeat-runs ('aaaa' merging a|a → two merges, 'aaa' →
    one merge plus a trailing 'a')."""

    rows = [
        (1, "aaaa aaaa aaaa"),   # dominant pair a|a, even run
        (2, "aaa aaa"),          # odd run: leftmost merge, trailing a
        (3, "xy xy xy"),         # runner-up pair
    ]
    sf = write_sf(tmp_path, documents=spark.createDataFrame(rows, "doc_id long, text string"))
    out = bpe_merges_documents(spark, sf).orderBy("merge_rank").collect()
    ref_merges, _ = _py_bpe({"aaaa": 3, "aaa": 2, "xy": 3}, 5)
    assert [(r.merge_rank, r.pair, r.pair_count) for r in out] == [
        (i + 1, f"{a}|{b}", c) for i, (a, b, c) in enumerate(ref_merges)
    ]
