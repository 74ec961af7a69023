"""Round-8 operators: the applyInPandasWithState twin of the protobuf-gated
MapState counter, the IVF top-k oracle promotion, and the TPC-H broadcast
fallback plumbing."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_pipeline_spark.functions.vector import as_double_array
from data_ingestion_pipeline_spark.multimodal.codecs import (
    decode_bmp,
    decode_wav_pcm16,
    encode_bmp,
    encode_wav_pcm16,
)
from data_ingestion_pipeline_spark.operators import evolution_checks as ev
from data_ingestion_pipeline_spark.operators import llm_data as ll
from data_ingestion_pipeline_spark.operators import temporal_checks as tc
from data_ingestion_pipeline_spark.operators import tpch_queries as t
from data_ingestion_pipeline_spark.operators.analytics_checks import (
    item_item_cosine_topk_parts,
    srm_check_events,
)
from data_ingestion_pipeline_spark.operators.inference_stats import (
    kaplan_meier_user_retention,
    logrank_test_retention_arms,
    msprt_always_valid_ab_daily,
)
from data_ingestion_pipeline_spark.operators.llm_data import (
    _ann_query_batch,
    _near_dup_embeddings,
    exact_substring_excision,
)
from data_ingestion_pipeline_spark.operators.mlprep_checks import (
    simplified_silhouette_embeddings,
)
from data_ingestion_pipeline_spark.operators.pii import (
    _PII_RULES,
    _pii_corpus,
    pii_detect_documents,
    pii_redact_documents,
)
from data_ingestion_pipeline_spark.operators.streaming_checks import (
    stateful_event_type_counts_pandas_events,
)
from data_ingestion_pipeline_spark.similarity.brute_force import topk_cosine_batch
from data_ingestion_pipeline_spark.similarity.lsh import band_buckets
from data_ingestion_pipeline_spark.sources.catalog import load_table
from data_ingestion_pipeline_spark.sources.csv_reader import csv_source
from data_ingestion_pipeline_spark.streaming.stateful import _update_type_counts
from tests.conftest import SF_ORACLE, SF_SMOKE, executed_plan


def test_stateful_counts_pandas_twin_matches_closed_form(spark):
    """The applyInPandasWithState twin must fold the
    planted two-batch replay into exactly 2x the base per-(user,type) counts
    — same contract the transformWithStateInPandas original carries where
    protobuf exists."""

    out = stateful_event_type_counts_pandas_events(spark, SF_SMOKE)
    direct = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id", "event_type")
        .agg((2 * F.count("*")).cast("bigint").alias("n_events"))
    )
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in direct.collect()}


def test_stateful_counts_twin_state_roundtrip_is_exact():
    """The parallel-array map emulation must round-trip counts through the
    state tuple without loss or reorder nondeterminism."""

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists = True
            self._v = v

    st = FakeState()
    b1 = pd.DataFrame({"event_type": ["view", "view", "purchase", None]})
    out1 = list(_update_type_counts((7,), [b1], st))[0]
    # null event_type dropped (value_counts policy, same as the MapState twin)
    assert list(out1["event_type"]) == ["purchase", "view"]
    assert list(out1["n_events"]) == [1, 2]
    b2 = pd.DataFrame({"event_type": ["view", "click"]})
    out2 = list(_update_type_counts((7,), [b2], st))[0]
    assert list(out2["event_type"]) == ["click", "purchase", "view"]
    assert list(out2["n_events"]) == [1, 1, 3]


@pytest.mark.parametrize(
    "n_bands,planes,collisions,candidates",
    [
        # embedding_lsh_near_dup's scale-tuned config
        (4, 6, 10808, 10392),
        # embedding_lsh_verified_near_dup / pair_recall's recall-complete config
        (64, 12, 4544, 3359),
    ],
)
def test_lsh_candidate_volume_pinned(spark, n_bands, planes, collisions, candidates):
    """The LSH family's bench cost is proportional to band-collision volume
    (B x sum bucket^2) and the distinct candidate-pair count. Both are
    deterministic for the seeded planes + fixed fixture, so pin them: a
    commit that widens banding (band count, plane count, seed, bucketing
    math) moves these numbers and must justify the cost shift explicitly.
    The r7 bench drift in this family (+20-40%) was box contention, NOT a
    count change — band_buckets/lsh_cosine_pairs are untouched since r6
    (git 516ddad..b0303bd shows only the exact-path block_grid refactor)."""

    aug = _near_dup_embeddings(load_table(spark, SF_SMOKE, "embeddings"))
    vecs = aug.select(
        F.col("vec_id").alias("_id"),
        as_double_array(F.col("embedding")).alias("_v"),
    )
    bands = vecs.select(
        "_id", band_buckets(F.col("_v"), 64, n_bands, planes).alias("_bkts")
    ).select("_id", F.posexplode("_bkts").alias("band", "bucket"))
    occ = bands.groupBy("band", "bucket").count()
    got_coll = int(
        occ.select(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("c")
        ).collect()[0]["c"]
    )
    left = bands.select("band", "bucket", F.col("_id").alias("id_a"))
    right = bands.select("band", "bucket", F.col("_id").alias("id_b"))
    got_cand = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert got_coll == collisions, f"band-collision volume moved: {got_coll}"
    assert got_cand == candidates, f"candidate-pair count moved: {got_cand}"


def test_csv_reader_drops_malformed_consistently(spark, tmp_path):
    """CSV DROPMALFORMED under column pruning was projection-dependent:
    count() kept malformed rows and a narrow projection leaked them as
    all-NULL data (both observed). The reader's all-columns marker filter
    forces full-row parsing, so every projection sees one dropped-row set
    — mirrors the JSONL pin."""

    p = tmp_path / "c"
    p.mkdir()
    (p / "x.csv").write_text("a,b,c\n1,x,0.5\nBADROW_ONE_FIELD\n2,y,1.5\n")
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    df = csv_source(spark.read, str(p), schema)
    assert df.count() == 2
    assert sorted((r.a, r.b) for r in df.select("a", "b").collect()) == [
        (1, "x"),
        (2, "y"),
    ]
    assert sorted(r.b for r in df.select("b").collect()) == ["x", "y"]


def test_excision_occ_encoding_wide_docs_and_guard(spark):
    """The corpus-order encoding is doc_id<<32 | pos (was doc_id*1e6+pos,
    which silently corrupted first-occurrence-wins for docs with >=1e6
    tokens or colliding id ranges). Pin: (a) first-wins ordering holds for
    a pos that would have overflowed the old multiplier, (b) an
    out-of-range doc_id fails loudly instead of corrupting a destructive
    rewrite."""

    # (a) doc 2 duplicates doc 1's 8-token span: doc 1 (earlier corpus
    # position) keeps, doc 2 excises — regardless of id magnitude below 2^31
    span = " ".join(f"w{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, span + " tailone tailtwo"), ((1 << 31) - 1, span + " novel suffix here")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in exact_substring_excision(docs).collect()}
    assert rows[1].n_excised == 0
    assert rows[(1 << 31) - 1].n_excised == 8

    # (b) doc_id at 2^31 raises instead of silently wrapping
    bad = spark.createDataFrame(
        [(1 << 31, span), (1, span)], "doc_id long, text string"
    )
    with pytest.raises(Exception) as ei:
        exact_substring_excision(bad).collect()
    assert "encoding range" in str(ei.value)


def test_tpch_completion_tier_plan_shapes(spark):
    """These TPC-H queries must plan the shapes their docstrings
    claim: Q4's EXISTS as a left-semi (no row multiplication), Q19's
    disjunctive predicate inside a broadcast hash join (never a
    cartesian), Q18's head as a bounded TakeOrdered (never a global
    sort), Q6 zero-join with all three predicates pushed to the scan."""

    q4 = executed_plan(t.tpch_q4_shaped_priority_check(spark, SF_SMOKE))
    assert "LeftSemi" in q4

    q19 = executed_plan(t.tpch_q19_shaped_discounted_revenue(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in q19
    assert "CartesianProduct" not in q19

    q18 = executed_plan(t.tpch_q18_large_volume_customers(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in q18

    q6 = executed_plan(t.tpch_q6_forecast_revenue(spark, SF_SMOKE))
    assert "Join" not in q6
    assert "PushedFilters: [IsNotNull(l_shipdate)" in q6 or "GreaterThanOrEqual(l_shipdate" in q6


def test_tpch_q15_ties_and_q22_threshold(spark):
    """Q15 returns EVERY supplier at the max (tie contract) and its
    total_revenue equals the max of the supplier-grain aggregate; Q22's
    population is exactly the above-positive-average, dormant set."""

    top = t.tpch_q15_top_supplier(spark, SF_SMOKE).collect()
    assert len(top) >= 1
    assert len({r.total_revenue for r in top}) == 1

    rows = t.tpch_q22_shaped_dormant_customers(spark, SF_SMOKE).collect()
    cust = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal")
    ).first()[0]
    recent = {
        r.o_custkey
        for r in orders.filter(
            F.col("o_orderdate") >= F.to_timestamp(F.lit("1999-01-01"))
        )
        .select("o_custkey")
        .distinct()
        .collect()
    }
    expect = cust.filter(F.col("c_acctbal") > avg_bal).collect()
    expect_n = sum(1 for r in expect if r.c_custkey not in recent)
    assert sum(r.numcust for r in rows) == expect_n


def test_pii_detect_and_redact_structural(spark):
    """Structural gates for the PII tier beyond the oracle hash: doc 0
    (residue 0 for every plant key) carries all four classes and lands in
    the high bucket; a clean doc stays clean; redaction leaves ZERO
    residual matches and preserves non-PII text."""

    det = {r.doc_id: r for r in pii_detect_documents(spark, SF_SMOKE).collect()}
    d0 = det[0]
    assert (d0.n_email, d0.n_ssn, d0.n_phone, d0.n_ipv4) == (1, 1, 1, 1)
    assert d0.risk == "high"
    clean = [r for r in det.values() if r.pii_total == 0]
    assert clean and all(r.risk == "clean" for r in clean)
    # every planted class appears somewhere in the corpus census
    assert all(
        sum(getattr(r, f"n_{name}") for r in det.values()) > 0
        for name, _, _ in _PII_RULES
    )

    # redaction: replay the rewrite and assert zero residual matches
    aug = _pii_corpus(load_table(spark, SF_SMOKE, "documents"))
    red = F.col("text")
    for _, pat, rep in _PII_RULES:
        red = F.regexp_replace(red, pat, rep)
    residual = aug.select(red.alias("t")).filter(
        sum(
            F.size(F.regexp_extract_all(F.col("t"), F.lit(pat), F.lit(0)))
            for _, pat, _ in _PII_RULES
        )
        > 0
    )
    assert residual.count() == 0
    # counts agree between detect and redact surfaces
    nred = {r.doc_id: r.n_redactions for r in pii_redact_documents(spark, SF_SMOKE).collect()}
    assert all(nred[k] == det[k].pii_total for k in det)


def test_km_curve_contracts(spark):
    """Kaplan-Meier invariants: survival non-increasing over t, within
    (0,1], at-risk strictly decreasing, and the at-risk count at the
    first event time equals the full cohort minus earlier censors."""

    rows = (
        kaplan_meier_user_retention(spark, SF_ORACLE)
        .orderBy("t_hours")
        .collect()
    )
    assert rows, "curve must have at least one event step at sf0.01"
    surv = [r.survival for r in rows]
    assert all(0.0 < s <= 1.0 for s in surv)
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    risk = [r.n_at_risk for r in rows]
    assert all(a > b for a, b in zip(risk, risk[1:]))


def test_item_item_topk_contracts(spark):
    """Item-item neighbors: ranked 1..<=10 per item without gaps, cosine
    non-increasing within an item, and cosine(i,j) consistent with the
    symmetric entry when both directions survive the top-k cut."""

    rows = item_item_cosine_topk_parts(spark, SF_SMOKE).collect()
    assert rows
    by_item = {}
    for r in rows:
        by_item.setdefault(r.item, []).append(r)
    for item, rs in by_item.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r.cosine for r in rs]
        assert all(a >= b for a, b in zip(cosines, cosines[1:]))
    pair_cos = {(r.item, r.neighbor): r.cosine for r in rows}
    both = [(k, v) for k, v in pair_cos.items() if (k[1], k[0]) in pair_cos]
    assert both and all(pair_cos[(b, a)] == v for (a, b), v in both)


def test_silhouette_bounds_and_srm_sanity(spark):
    """Silhouette means lie in [-1, 1]; the md5 50/50 split on this
    corpus must NOT trigger SRM (a deterministic fair hash cannot
    mismatch its own declared ratio beyond chance)."""

    sil = simplified_silhouette_embeddings(spark, SF_SMOKE).collect()
    assert sil and all(-1.0 <= r.mean_silhouette <= 1.0 for r in sil)

    srm = srm_check_events(spark, SF_ORACLE).collect()[0]
    assert srm.n_a + srm.n_b == 150
    assert not srm.srm_flag


def test_logrank_msprt_contracts(spark):
    """Cross-surface contracts: log-rank observed events split the KM
    curve's total churns between the arms; mSPRT's p is non-increasing
    over days and in (0,1]."""

    sf = SF_ORACLE
    lr = logrank_test_retention_arms(spark, sf).collect()[0]
    km_total = sum(
        r.d_events for r in kaplan_meier_user_retention(spark, sf).collect()
    )
    assert lr.obs_a + lr.obs_b == km_total
    assert lr.chi2 >= 0.0

    ms = msprt_always_valid_ab_daily(spark, sf).orderBy("day").collect()
    ps = [r.p_always_valid for r in ms]
    assert all(0.0 < p <= 1.0 for p in ps)
    assert all(a >= b for a, b in zip(ps, ps[1:]))


def test_dpp_ship_year_join_plans_dynamic_pruning(spark):
    """The DPP demo must actually exercise DYNAMIC partition pruning: the
    fact scan carries a dynamicpruningexpression partition filter (the
    year set is join-produced, not foldable), and the surviving years are
    exactly the ship-window years — static recompute agrees."""

    df = ev.dpp_ship_year_join_orders(spark, SF_SMOKE)
    assert "dynamicpruningexpression" in executed_plan(df)
    rows = {r["o_year"]: r["n_orders"] for r in df.collect()}
    assert set(rows) == {1997, 1998, 1999}

    orders = load_table(spark, SF_SMOKE, "orders")
    static = {
        r["y"]: r["n"]
        for r in orders.groupBy(F.year("o_orderdate").alias("y"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("y").isin(1997, 1998, 1999))
        .collect()
    }
    assert rows == static


def test_growth_accounting_identities(spark):
    """Growth accounting is a closed ledger: dau = new + retained +
    resurrected per day; retained(d) = dau(d-1) - churned(d) on contiguous
    days (every fixture day has actives); total new across days = distinct
    users; day 1 churns nobody."""

    rows = sorted(
        tc.growth_accounting_daily_users(spark, SF_SMOKE).collect(),
        key=lambda r: r["day"],
    )
    assert rows, "no days"
    for r in rows:
        assert r["dau"] == r["new_users"] + r["retained_users"] + r["resurrected_users"]
    assert rows[0]["churned_users"] == 0
    for prev, cur in zip(rows, rows[1:]):
        assert (cur["day"] - prev["day"]).days == 1, "fixture days contiguous"
        assert cur["retained_users"] == prev["dau"] - cur["churned_users"]

    events = load_table(spark, SF_SMOKE, "events")
    n_users = events.select("user_id").distinct().count()
    assert sum(r["new_users"] for r in rows) == n_users


def test_matryoshka_full_width_slice_is_identity(spark):
    """Truncation eval contracts: overlap counts live in [0, 10] with one
    row per (dim, probe); and slicing to the FULL width must reproduce the
    full top-10 exactly (overlap = 10 for every probe) — the strongest
    exactness pin available without trusting any approximate band."""

    out = ll.matryoshka_truncation_recall_embeddings(spark, SF_SMOKE).collect()
    assert len(out) == 9
    assert {(r["trunc_dim"], r["query_id"]) for r in out} == {
        (d, q) for d in (8, 16, 32) for q in (0, 1, 2)
    }
    assert all(0 <= r["overlap_at_10"] <= 10 for r in out)

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = _ann_query_batch(emb)
    full = topk_cosine_batch(emb, q, k=10)
    emb64 = emb.select("vec_id", F.slice("embedding", 1, 64).alias("embedding"))
    q64 = q.select("query_id", F.slice("qvec", 1, 64).alias("qvec"))
    sliced = topk_cosine_batch(emb64, q64, k=10, dim=64)
    full_set = {(r["query_id"], r["vec_id"]) for r in full.collect()}
    sliced_set = {(r["query_id"], r["vec_id"]) for r in sliced.collect()}
    assert full_set == sliced_set


def test_codecs_roundtrip_and_format_conformance():
    """The dependency-free BMP/WAV codecs must round-trip exactly (incl.
    the odd-width padded-row case and the top-down negative-height BMP
    variant) and emit spec-conformant headers; the WAV decoder must walk
    past interleaved metadata chunks."""

    rng = np.random.RandomState(7)
    for h, w in [(8, 13), (1, 1), (5, 4), (3, 7)]:
        rgb = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = encode_bmp(rgb)
        assert payload[:2] == b"BM"
        stride = (w * 3 + 3) & ~3
        assert len(payload) == 54 + stride * h, "padded stride sizing"
        out = decode_bmp(payload)
        assert out.shape == (h, w, 3)
        assert (out == rgb).all(), f"lossless round-trip at {h}x{w}"

    # top-down (negative height) BMP variant decodes too
    rgb = rng.randint(0, 256, size=(4, 5, 3), dtype=np.uint8)
    payload = bytearray(encode_bmp(rgb))
    h_field = struct.unpack_from("<i", payload, 22)[0]
    struct.pack_into("<i", payload, 22, -h_field)
    rows = decode_bmp(bytes(payload))
    assert (rows == rgb[::-1]).all(), "negative height = top-down rows"

    samples = rng.randint(-32768, 32768, size=1234).astype(np.int16)
    wav = encode_wav_pcm16(samples, rate=8000)
    got, rate = decode_wav_pcm16(wav)
    assert rate == 8000 and (got == samples).all()

    # a LIST metadata chunk between fmt and data must be skipped (odd
    # length exercises RIFF word alignment)
    fmt_end = 12 + 8 + 16
    data_part = wav[fmt_end:]
    list_chunk = struct.pack("<4sI", b"LIST", 5) + b"INFO\x00" + b"\x00"
    padded = wav[:fmt_end] + list_chunk + data_part
    got2, rate2 = decode_wav_pcm16(padded)
    assert rate2 == 8000 and (got2 == samples).all()

    with pytest.raises(NotImplementedError):
        stereo = struct.pack("<4sI4s", b"RIFF", 40, b"WAVE") + struct.pack(
            "<4sI", b"fmt ", 16
        ) + struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16) + struct.pack(
            "<4sI", b"data", 0
        )
        decode_wav_pcm16(stereo)
