"""Round-7 operators: exact-substring span excision (Lee et al. shape),
corpus-wide BPE encoding, and the round-7 statistics tier."""

from __future__ import annotations

import datetime as dt
import hashlib
import statistics
from unittest import mock

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

import data_ingestion_pipeline_spark.operators.analytics_checks as A
import data_ingestion_pipeline_spark.operators.inference_stats as I
import data_ingestion_pipeline_spark.operators.lm_stats as M
from data_ingestion_pipeline_spark.dedup.clustering import (
    connected_components,
    connected_components_star,
)
from data_ingestion_pipeline_spark.functions.temporal import asof_join_prev
from data_ingestion_pipeline_spark.operators import lm_stats
from data_ingestion_pipeline_spark.operators import tpch_queries as t
from data_ingestion_pipeline_spark.operators.bpe import _train
from data_ingestion_pipeline_spark.operators.llm_data import exact_substring_excision
from data_ingestion_pipeline_spark.operators.lm_stats import (
    mattr_lexical_diversity_documents,
    negative_sampling_table_documents,
    skipgram_pmi_documents,
)
from data_ingestion_pipeline_spark.operators.timeseries_checks import (
    ar2_yule_walker_daily,
)
from data_ingestion_pipeline_spark.operators.tpch_queries import (
    tpch_q10_returned_items,
    tpch_q1_pricing_summary,
    tpch_q3_shipping_priority,
    tpch_q8_market_share,
)
from data_ingestion_pipeline_spark.plans.quality import check_rules
from data_ingestion_pipeline_spark.plans.zorder import morton_key
from data_ingestion_pipeline_spark.similarity.ivf import sample_centroids
from data_ingestion_pipeline_spark.similarity.ivfpq import ivfpq_encode, train_ivfpq
from data_ingestion_pipeline_spark.similarity.knn import knn_graph
from data_ingestion_pipeline_spark.sources.fixed_width import (
    read_fixed_width,
    write_fixed_width,
)
from data_ingestion_pipeline_spark.sources.jsonl_reader import read_jsonl
from data_ingestion_pipeline_spark.streaming.windows import sessionize_gaps_and_islands
from tests.conftest import SF_SMOKE, run_oracle, write_sf
from tests.test_llm_data import corpus


def _py_bpe(word_freq: dict, n_merges: int):
    """Reference BPE: greedy most-frequent pair (ties by (a, b) text asc),
    greedy-leftmost non-overlapping application — Sennrich et al. 2016."""
    seqs = {w: list(w) for w in word_freq}
    merges = []
    for _ in range(n_merges):
        counts: dict = {}
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + word_freq[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((a, b, cnt))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


@pytest.fixture(scope="module")
def excised(spark):
    a = "a b c d e f g h x y z"  # 11 tokens, the span source
    rows = [
        (1, a),
        # novel 8-token prefix + doc 1's first 8 tokens copied verbatim
        (2, "p q r s t u v w a b c d e f g h"),
        (3, a),  # exact copy — must excise to nothing
        (4, "only five short tokens here"),  # <8 tokens, unique, intact
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r.doc_id: r for r in exact_substring_excision(df).collect()}


def test_excision_first_occurrence_intact(excised):
    r = excised[1]
    assert r.n_excised == 0
    assert r.kept_frac == 1.0
    assert r.rewritten_md5 == hashlib.md5(b"a b c d e f g h x y z").hexdigest()


def test_excision_removes_copied_span_only(excised):
    # doc 2: the copied 8-token suffix goes, the novel prefix stays
    r = excised[2]
    assert r.n_tokens == 16
    assert r.n_excised == 8
    assert r.rewritten_md5 == hashlib.md5(b"p q r s t u v w").hexdigest()


def test_excision_exact_copy_removed_entirely(excised):
    r = excised[3]
    assert r.n_excised == r.n_tokens == 11
    assert r.kept_frac == 0.0
    assert r.rewritten_md5 == hashlib.md5(b"").hexdigest()


def test_excision_short_unique_doc_intact(excised):
    r = excised[4]
    assert r.n_excised == 0
    assert r.rewritten_md5 == hashlib.md5(b"only five short tokens here").hexdigest()


def test_good_turing_hand_computed(spark, tmp_path):
    # corpus: trigram "a b c" ×2 (via two docs), all other trigrams unique
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y")], "doc_id long, text string"
    )
    sf = write_sf(tmp_path, documents=docs)
    got = run_oracle("good_turing_unseen_mass_documents", sf)
    # trigrams: doc1 {abc, bcd, cde}, doc2 {abc, bcx, cxy} → abc:2, four r=1
    by_r = {r[0]: r for r in got}
    assert by_r[1][1] == 4 and by_r[2][1] == 1
    # r* for r=1: (1+1)·N2/N1 = 2·1/4 = 0.5 ; p0 = N1/N = 4/6
    assert by_r[1][2] == 0.5
    assert abs(by_r[1][3] - round(4 / 6, 6)) < 1e-9
    # the Spark operator agrees with the oracle on the same fixture
    spark_rows = lm_stats.good_turing_unseen_mass_documents(spark, sf).collect()
    assert sorted(map(tuple, spark_rows)) == sorted(got)


def test_mattr_bounds_and_degenerate_docs(spark):
    rows = [
        (1, " ".join(["same"] * 80)),  # zero diversity
        (2, " ".join(f"w{i}" for i in range(80))),  # all distinct
        (3, "a b a b"),  # short doc: plain TTR = 0.5
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # exercise the core expression by monkey-free direct call on a frame

    with mock.patch.object(M, "load_table", lambda s, d, t: df):
        out = {r.doc_id: r for r in
               mattr_lexical_diversity_documents(spark, "unused").collect()}
    assert out[1].mattr == round(1 / 50, 6)
    assert out[2].mattr == 1.0
    assert out[3].mattr == 0.5 and out[3].ttr == 0.5


def test_negative_sampling_distribution_properties(spark):
    out = negative_sampling_table_documents(spark, SF_SMOKE).collect()
    assert len(out) > 0
    # ranks are 1..n in count order; cum_p monotone; probabilities positive
    ranks = [r.rank for r in sorted(out, key=lambda r: r.rank)]
    assert ranks == list(range(1, len(out) + 1))
    cps = [r.cum_p for r in sorted(out, key=lambda r: r.rank)]
    assert all(b >= a for a, b in zip(cps, cps[1:]))
    # full-vocab normalizer: if every token is published, cum_p ≈ 1
    assert abs(cps[-1] - 1.0) < 1e-4


def test_skipgram_pairs_symmetric_and_thresholded(spark):
    out = skipgram_pmi_documents(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 100
    for r in out:
        assert r.a <= r.b  # unordered normalization
        assert r.c_ab >= 5


def test_canonical_entities_duplicate_collapse(spark):
    """Identical (size, name) parts must land in one entity even with no
    fuzzy neighbor, and the fuzzy edge must still bridge distinct names —
    the distinct-name-collapse plan preserves part-level CC semantics."""

    rows = [
        (1, "alpha widget", 5),
        (2, "alpha widget", 5),  # exact dup of 1 — pair at distance 0
        (3, "alpha widgez", 5),  # distance 1 from "alpha widget"
        (4, "unrelated name", 5),  # singleton, no pair → excluded
        (5, "alpha widget", 9),  # same name, DIFFERENT size → not linked
    ]
    df = spark.createDataFrame(rows, "p_partkey long, p_name string, p_size int")
    with mock.patch.object(A, "load_table", lambda s, d, t: df):
        out = {r.p_partkey: r for r in
               A.canonical_entities_parts(spark, "unused").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].entity_id == out[2].entity_id == out[3].entity_id == 1
    assert out[1].entity_size == 3
    assert out[1].is_canonical and not out[2].is_canonical


def test_bpe_encode_matches_python_reference(spark):
    corpus = [
        "low low low lower lowest",
        "new newer newest news",
        "wide wider widest low new",
        "aaaa aaa aa a",  # overlapping-run greedy-leftmost stress
    ]
    freq: dict = {}
    for line in corpus:
        for w in line.split():
            freq[w] = freq.get(w, 0) + 1
    ref_merges, ref_seqs = _py_bpe(freq, 5)

    wf = spark.createDataFrame(list(freq.items()), "word string, w long")
    merges, seq = _train(wf)
    assert [(a, b) for a, b, _ in ref_merges] == [
        tuple(p.split("|")) for _, p, _ in merges
    ]
    assert [c for _, _, c in ref_merges] == [c for _, _, c in merges]
    got = {
        r.word: r.n_sym
        for r in seq.groupBy("word").agg(F.count("*").alias("n_sym")).collect()
    }
    want = {w: len(s) for w, s in ref_seqs.items()}
    assert got == want


def test_wilson_ci_hand_computed(spark):
    """x=3 of n=10 on one day: Wilson bounds from the closed form."""

    rows = [("2024-01-01 00:00:0%d" % i,
             "purchase" if i < 3 else "view") for i in range(10)]
    df = spark.createDataFrame(rows, "ts string, event_type string").selectExpr(
        "CAST(ts AS TIMESTAMP) AS ts", "event_type"
    )
    with mock.patch.object(I, "load_table", lambda s, d, t: df):
        r = I.wilson_ci_purchase_rate_daily(spark, "unused").collect()[0]
    z2 = 1.96 * 1.96
    p, n = 0.3, 10.0
    denom = 1 + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = 1.96 * ((p * (1 - p) / n + z2 / (4 * n * n)) ** 0.5) / denom
    assert r.n == 10 and r.x == 3
    assert r.ci_lo == round(center - half, 6)
    assert r.ci_hi == round(center + half, 6)
    assert 0.0 <= r.ci_lo <= r.p_hat <= r.ci_hi <= 1.0


def test_anova_two_group_equals_t_squared(spark):
    """For k=2 groups, F must equal the pooled-variance t² (classic
    identity), and eta_sq = SSB/(SSB+SSW) in [0, 1]."""

    ga = [1.0, 2.0, 3.0, 4.0]
    gb = [6.0, 7.0, 8.0, 9.0]
    rows = [("a", v) for v in ga] + [("b", v) for v in gb]
    df = spark.createDataFrame(rows, "event_type string, value double")
    with mock.patch.object(I, "load_table", lambda s, d, t: df):
        r = I.oneway_anova_event_values(spark, "unused").collect()[0]

    na, nb = len(ga), len(gb)
    sp2 = (
        (na - 1) * statistics.variance(ga) + (nb - 1) * statistics.variance(gb)
    ) / (na + nb - 2)
    t2 = (statistics.mean(ga) - statistics.mean(gb)) ** 2 / (
        sp2 * (1 / na + 1 / nb)
    )
    assert r.k == 2 and r.n == 8
    assert abs(r.f_stat - t2) < 1e-6
    assert 0.0 <= r.eta_sq <= 1.0


def test_gini_uniform_spend_is_zero(spark):
    rows = [(c, 100.0) for c in range(1, 21)]
    df = spark.createDataFrame(rows, "o_custkey long, o_totalprice double")
    with mock.patch.object(I, "load_table", lambda s, d, t: df):
        out = I.gini_lorenz_customer_spend(spark, "unused").collect()
    assert len(out) == 10
    assert all(r.gini == 0.0 for r in out)
    # uniform Lorenz curve is the diagonal
    for r in out:
        assert abs(r.cum_spend_frac - r.decile / 10.0) < 1e-9


def test_cooks_distance_flags_planted_outlier(spark):
    """Points on y=2x plus one gross outlier: the outlier must rank
    first, and every leverage must obey 1/n <= h <= 1."""

    rows = [(1, i, float(i), 2.0 * i) for i in range(1, 30)]
    rows.append((1, 30, 30.0, 500.0))  # outlier at the high-leverage end
    df = spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber int, l_quantity double, "
        "l_extendedprice double"
    )
    with mock.patch.object(I, "load_table", lambda s, d, t: df):
        out = I.cooks_distance_price_quantity(spark, "unused").collect()
    assert out[0].l_linenumber == 30
    n = len(rows)
    for r in out:
        assert 1.0 / n - 1e-9 <= r.leverage <= 1.0
    ds = [r.cooks_d for r in out]
    assert ds == sorted(ds, reverse=True)


def test_hill_alpha_recovers_pareto_exponent(spark):
    """Deterministic Pareto(α=2) quantile sample: x_i = (i/N)^(-1/2);
    the Hill estimate over the top 100 must land near 2."""

    N = 2000
    rows = [(i, (i / N) ** -0.5) for i in range(1, N + 1)]
    df = spark.createDataFrame(rows, "o_orderkey long, o_totalprice double")
    with mock.patch.object(I, "load_table", lambda s, d, t: df):
        r = I.hill_tail_index_orders(spark, "unused").collect()[0]
    assert r.k == 100
    assert abs(r.hill_alpha - 2.0) < 0.2
    assert bool(r.finite_mean) is True


def test_ar2_phi_identities_from_rho(spark):
    """φ must satisfy the Yule–Walker correlation identities against the
    published ρ, and the AR(2) fit of a linear-trend daily series must
    produce ρ1 near 1 (strong serial dependence)."""

    r = ar2_yule_walker_daily(spark, SF_SMOKE).collect()[0]
    r1, r2 = r.rho1, r.rho2
    assert abs(r.phi1 - round(r1 * (1 - r2) / (1 - r1 * r1), 6)) <= 1e-6
    assert abs(r.phi2 - round((r2 - r1 * r1) / (1 - r1 * r1), 6)) <= 1e-6
    assert -1.0 <= r1 <= 1.0 and -1.0 <= r2 <= 1.0
    assert r.n_days > 10


def test_tukey_two_groups_q_is_sqrt2_t(spark):
    """With k=2 equal-size groups, q = √2·t (pooled t) — the classic
    studentized-range identity."""

    ga = [1.0, 2.0, 3.0, 4.0]
    gb = [6.0, 7.0, 8.0, 9.0]
    rows = [("a", v) for v in ga] + [("b", v) for v in gb]
    df = spark.createDataFrame(rows, "event_type string, value double")
    with mock.patch.object(I, "load_table", lambda s, d, t: df):
        out = I.tukey_hsd_event_values(spark, "unused").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b) == ("a", "b")

    sp2 = (3 * statistics.variance(ga) + 3 * statistics.variance(gb)) / 6
    t = abs(statistics.mean(ga) - statistics.mean(gb)) / (
        sp2 * (1 / 4 + 1 / 4)
    ) ** 0.5
    assert abs(r.q_stat - 2**0.5 * t) < 1e-6
    assert r.mean_diff == round(
        statistics.mean(ga) - statistics.mean(gb), 6
    )


def test_levene_bf_equal_spread_groups(spark):
    """Two groups that are shifted copies (identical spread around their
    medians) must give BF F ≈ 0; the output degrees line up."""

    ga = [1.0, 2.0, 3.0, 4.0, 5.0]
    gb = [v + 100.0 for v in ga]  # pure location shift
    rows = [("a", v) for v in ga] + [("b", v) for v in gb]
    df = spark.createDataFrame(rows, "event_type string, value double")
    with mock.patch.object(I, "load_table", lambda s, d, t: df):
        r = I.levene_bf_event_values(spark, "unused").collect()[0]
    assert r.k == 2 and r.n == 10
    assert abs(r.bf_f) < 1e-9  # |x − med| distributions identical
    assert abs(r.eta_sq) < 1e-9


def test_tpch_q1_group_grid_and_bounds(spark):
    out = tpch_q1_pricing_summary(spark, SF_SMOKE).collect()
    assert {(r.l_returnflag, r.l_linestatus) for r in out} <= {
        (f, s) for f in "ANR" for s in "FO"
    }
    for r in out:
        # discounts in [0,1): disc price below base, charge above disc
        assert r.sum_disc_price <= r.sum_base_price
        assert r.sum_charge >= r.sum_disc_price
        assert 0.0 <= r.avg_disc <= 1.0
        assert abs(r.avg_qty - r.sum_qty / r.count_order) < 1e-4


def test_tpch_q3_head_is_sorted_and_bounded(spark):
    out = tpch_q3_shipping_priority(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 10
    revs = [r.revenue for r in out]
    assert revs == sorted(revs, reverse=True)


def test_tpch_q5_counts_only_local_suppliers(spark):
    """Hand fixture: two lineitems on one ASIA order — one supplied from
    the customer's own nation (counted), one from a different nation
    (dropped). The local-supplier constraint is the whole point of Q5."""

    tables = {
        "region": spark.createDataFrame(
            [(0, "ASIA"), (1, "EUROPE")], "r_regionkey int, r_name string"
        ),
        "nation": spark.createDataFrame(
            [(0, "N_A", 0), (1, "N_B", 0), (2, "N_E", 1)],
            "n_nationkey int, n_name string, n_regionkey int",
        ),
        "customer": spark.createDataFrame(
            [(10, "cust", 0, 0.0, "BUILDING")],
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        ),
        "supplier": spark.createDataFrame(
            [(100, "s_local", 0, 0.0), (101, "s_remote", 1, 0.0)],
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        ),
        "orders": spark.createDataFrame(
            [(1000, 10, "O", 50.0, "1996-06-01", "1-URGENT")],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate string, o_orderpriority string",
        ).selectExpr(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_orderpriority",
        ),
        "lineitem": spark.createDataFrame(
            [
                (1000, 1, 100, 1, 10.0, 100.0, 0.1, 0.0),
                (1000, 2, 101, 2, 10.0, 999.0, 0.0, 0.0),
            ],
            "l_orderkey long, l_partkey long, l_suppkey long, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double",
        ),
    }
    with mock.patch.object(t, "load_table", lambda s, d, name: tables[name]):
        out = t.tpch_q5_local_supplier_volume(spark, "unused").collect()
    assert len(out) == 1
    assert out[0].n_name == "N_A"
    assert out[0].revenue == 90.0  # 100 * (1 - 0.1); remote line excluded


def test_tpch_q8_share_bounds(spark):
    out = tpch_q8_market_share(spark, SF_SMOKE).collect()
    assert len(out) >= 1
    for r in out:
        assert 0.0 <= r.mkt_share <= 1.0
        assert r.nation_volume <= r.total_volume
        assert r.o_year in (1996, 1997)


def test_tpch_q10_top20_descending(spark):
    out = tpch_q10_returned_items(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 20
    revs = [r.revenue for r in out]
    assert revs == sorted(revs, reverse=True)
    assert len({r.c_custkey for r in out}) == len(out)


def test_excision_short_exact_copies_stay_intact(spark):
    """Docs shorter than k=8 tokens contribute no windows: exact copies of
    a 5-token doc must BOTH survive untouched (sub-k spans are outside the
    >=k-token excision contract)."""

    rows = [(1, "tiny doc of five tokens"), (2, "tiny doc of five tokens")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in exact_substring_excision(df).collect()}
    assert out[1].n_excised == 0 and out[2].n_excised == 0
    assert out[1].kept_frac == 1.0 and out[2].kept_frac == 1.0


def test_knn_local_topk_breaks_ties_by_nbr_id(spark):
    """Duplicate embeddings tie at 6 decimals: the block-local top-k must
    keep the SMALLEST nbr_ids among the tied candidates (the global
    window's and the oracle's order), not an arbitrary argpartition pick."""

    # one query vector + 8 identical neighbors (all score 1.0): k=3 must
    # select nbr_ids 2,3,4 deterministically
    rows = [(i, [1.0, 0.0]) for i in range(1, 10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = [
        r
        for r in knn_graph(df, k=3, n_blocks=2).collect()
        if r.src_id == 1
    ]
    assert sorted(r.nbr_id for r in out) == [2, 3, 4]
    assert all(r.score == 1.0 for r in out)


def test_strided_sample_empty_stride_fallback(spark):
    """An id space that misses every stride multiple (all-odd ids, even
    stride) must fall back to the smallest ids instead of returning an
    empty sample that would crash the codebook Lloyd."""

    rows = [(2 * i + 1, [float(i), 1.0]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c = sample_centroids(df, 16)  # stride 4; no odd id % 4 == 0
    assert len(c) == 16
    # dense 0-based space: behavior unchanged (every 4th id)
    dense = spark.createDataFrame(
        [(i, [float(i)]) for i in range(64)], "vec_id long, embedding array<double>"
    )
    c2 = sample_centroids(dense, 16)
    assert len(c2) == 16 and c2[0] == [0.0] and c2[1] == [4.0]


def test_star_contraction_keeps_self_pair_singletons(spark):
    """A node that appears only in self-pairs must get a (node, node) row
    from BOTH component implementations — the shared output contract."""

    pairs = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    want = [(1, 1), (2, 1), (3, 1), (5, 5)]
    a = sorted((r.node, r.cluster_id) for r in connected_components(pairs).collect())
    b = sorted(
        (r.node, r.cluster_id) for r in connected_components_star(pairs).collect()
    )
    assert a == want and b == want


def test_ivfpq_adc_table_is_exact_inner_product_decomposition(spark):
    """With 1 subspace and enough codes to represent every residual
    exactly, ADC must reproduce q·v EXACTLY (q·c + q·r̂ with r̂ = r): the
    residual-query table form this replaced was off by −c·r̂ per
    candidate."""

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(32, 4)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, books = train_ivfpq(
        df, n_centroids=2, n_subspaces=1, n_codes=256, sample_size=32
    )
    enc = {r.vec_id: r for r in ivfpq_encode(df, cents, books).collect()}
    q = rng.normal(size=4)
    books = np.asarray(books)
    for i in range(len(vecs)):
        li = enc[i].list_id
        code = enc[i].codes[0]
        v_hat = np.asarray(cents)[li] + books[0][code]
        adc = float(np.asarray(cents)[li] @ q + books[0][code] @ q)
        assert abs(adc - float(v_hat @ q)) < 1e-12


def test_sessionize_subsecond_gap_splits_sessions(spark):
    """A 300.5 s gap exceeds the 5-minute threshold: truncating timestamps
    to whole seconds read it as 300 and merged the sessions (diverging
    from both the >gap contract and session_window); the double cast
    keeps the fraction."""

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 7, 1.0),
        (2, t0 + dt.timedelta(seconds=300, milliseconds=500), 7, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = sessionize_gaps_and_islands(df, gap_minutes=5).collect()
    assert len(out) == 2  # two sessions, not one


def test_check_rules_dotted_rule_names(spark):
    df = spark.createDataFrame([(1, 2.0), (2, None)], "x long, a double")
    out = {
        r.rule: r.n_violations
        for r in check_rules(
            df,
            {"x.notnull": F.col("x").isNotNull(), "a.notnull": F.col("a").isNotNull()},
        ).collect()
    }
    assert out == {"x.notnull": 0, "a.notnull": 1}


def test_morton_key_empty_and_allnull_inputs(spark):
    empty = spark.createDataFrame([], "a double, b double")
    assert empty.select(morton_key(empty, ["a", "b"]).alias("k")).collect() == []
    allnull = spark.createDataFrame(
        [(None, 1.0), (None, 2.0)], "a double, b double"
    )
    ks = [
        r.k for r in allnull.select(morton_key(allnull, ["a", "b"]).alias("k")).collect()
    ]
    assert all(k is not None for k in ks)


def test_fixed_width_null_field_roundtrips(spark, tmp_path):
    """A NULL field must write as an all-blank field and read back NULL —
    concat's null-propagation previously blanked the ENTIRE record,
    silently losing every other field of that row."""

    spec = [("k", "bigint", 6), ("name", "string", 8), ("v", "double2", 10)]
    rows = [(1, "alpha", 2.5), (2, None, 7.25), (3, "gamma", None)]
    df = spark.createDataFrame(rows, "k long, name string, v double")
    out = str(tmp_path / "fw")
    write_fixed_width(df, out, spec)
    got = {r.k: (r.name, r.v) for r in read_fixed_width(spark, out, spec).collect()}
    assert got == {1: ("alpha", 2.5), 2: (None, 7.25), 3: ("gamma", None)}


def test_fixed_width_date8_width_validated(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="date8 requires width 8"):
        write_fixed_width(df, "/tmp/unused", [("k", "date8", 10)])


def test_jsonl_reader_drops_malformed_and_counts(spark, tmp_path):
    """Malformed lines are dropped at the reader, and a bare count() works
    (the PERMISSIVE + corrupt-column filter form raised
    QUERY_ONLY_CORRUPT_RECORD_COLUMN on corrupt-only queries)."""

    p = tmp_path / "j"
    p.mkdir()
    (p / "x.jsonl").write_text(
        '{"a": 1, "b": "x"}\nNOT JSON{{{\n{"a": 2, "b": "y"}\n'
    )
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    df = read_jsonl(spark, str(p), schema)
    assert df.count() == 2
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_asof_prev_carries_genuine_null_values(spark):
    """A right row whose VALUE is NULL is still the as-of match — the
    ignorenulls-on-value form fell through to a stale older value; and a
    null-timestamp right row must never match."""

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    left = spark.createDataFrame([(7, t(30))], "user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(7, t(10), 5.0), (7, t(20), None), (7, None, 99.0)],
        "user_id long, ts timestamp, value double",
    )
    out = asof_join_prev(left, right, "user_id", "ts", ["value"]).collect()
    assert len(out) == 1
    assert out[0].prev_value is None  # the t(20) NULL row wins, not 5.0
