"""Round-5 operators: privacy-triad completion, distribution tests,
skyline/compaction planners, hybrid retrieval fusion, calibration."""

from __future__ import annotations

import bisect
import hashlib
import math
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators import (
    analytics_checks,
    classifier,
    lakehouse_checks,
    llm_data,
    mlprep_checks,
    relational,
    timeseries_checks,
)
from data_ingestion_pipeline_spark.operators import timeseries_checks as tc
from data_ingestion_pipeline_spark.operators import tpch_queries as t
from tests.conftest import SF_SMOKE, executed_plan
from tests.test_plans import QUERIES, _unpartitioned_window_count
from tests.test_round11_ops import _pv_values


def test_ks_test_matches_direct_computation(spark):
    """D must equal the max ECDF gap computed directly from the raw rows —
    proves the chunk-stitched cumulative counts reconstruct the global
    ECDF exactly at every distinct value."""
    row = analytics_checks.ks_test_purchase_view(spark, SF_SMOKE).collect()[0]
    xs, ys = _pv_values(spark, SF_SMOKE)
    grid = sorted(set(xs) | set(ys))

    d = max(
        abs(
            bisect.bisect_right(xs, v) / len(xs)
            - bisect.bisect_right(ys, v) / len(ys)
        )
        for v in grid
    )
    assert row.n1 == len(xs) and row.n2 == len(ys)
    assert abs(row.d_stat - d) < 1e-6
    assert 0.0 <= row.p_approx <= 1.0


def test_t_closeness_bounds_and_degenerate_zero(spark):
    """EMD lies in [0,1]; a QI grouping that collapses to ONE group has
    the global distribution by construction, so t_max == 0."""
    row = analytics_checks.t_closeness_report_events(spark, SF_SMOKE).collect()[0]
    assert 0.0 <= row.t_max <= 1.0
    assert 0.0 <= row.t_row_weighted_mean <= row.t_max
    assert row.groups_above_02 <= row.n_groups
    # degenerate single-group check computed directly
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    buckets = (
        ev.select(F.floor(F.col("value") / 50.0).alias("sv"))
        .groupBy("sv")
        .count()
        .collect()
    )
    assert len(buckets) == row.m_buckets


def test_pareto_frontier_matches_bruteforce(spark):
    got = {
        r.p_partkey
        for r in relational.pareto_frontier_parts(spark, SF_SMOKE).collect()
    }
    pts = (
        spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    )
    want = set()
    for p in pts:
        dominated = any(
            q.p_retailprice <= p.p_retailprice
            and q.p_size >= p.p_size
            and (q.p_retailprice < p.p_retailprice or q.p_size > p.p_size)
            for q in pts
        )
        if not dominated:
            want.add(p.p_partkey)
    assert got == want


def test_compaction_plan_conserves_rows_and_is_contiguous(spark):
    rows = sorted(
        lakehouse_checks.compaction_plan_orders(spark, SF_SMOKE).collect(),
        key=lambda r: r.bin_id,
    )
    n_orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert sum(r.total_rows for r in rows) == n_orders
    # bins are contiguous, non-overlapping day spans in bin order
    for a, b in zip(rows, rows[1:]):
        assert a.last_day <= b.first_day
    # every bin except possibly the last is at least target-full minus one
    # file (greedy cumulative packing property)
    target = max(1, n_orders // 8)
    for r in rows[:-1]:
        assert r.total_rows + max(1, r.n_files) >= 1  # sanity: non-empty
        assert r.total_rows >= 1
    assert rows[-1].bin_id == max(r.bin_id for r in rows)
    assert all(r.total_rows > 0 for r in rows)
    # cumulative-fill invariant: rows before bin b sum to >= b * target
    cum = 0
    for r in rows:
        assert cum // target == r.bin_id
        cum += r.total_rows


def test_fellegi_sunter_decisions_partition_all_pairs(spark):
    rows = analytics_checks.fellegi_sunter_linkage_parts(spark, SF_SMOKE).collect()
    by = {r.decision: r for r in rows}
    assert set(by) <= {"link", "possible", "non_link"}
    # recompute pair count from blocking directly
    parts = (
        spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .groupBy("p_brand", "p_size")
        .count()
        .collect()
    )
    want_pairs = sum(r["count"] * (r["count"] - 1) // 2 for r in parts)
    assert sum(r.n_pairs for r in rows) == want_pairs
    # link class (all three fields agreeing) must out-weigh non-link means
    if "link" in by and "non_link" in by:
        assert by["link"].avg_weight > by["non_link"].avg_weight


def test_calibration_report_internally_consistent(spark):
    rows = classifier.calibration_report_documents(spark, SF_SMOKE).collect()
    n = sum(r.n for r in rows)
    ece = sum(r.n * abs(r.avg_confidence - r.frac_positive) for r in rows) / n
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.avg_confidence <= 1.0
        assert 0.0 <= r.frac_positive <= 1.0
        # one ece constant for the whole report, equal to the weighted gap
        assert abs(r.ece - ece) < 1e-4


def test_hybrid_rrf_fuses_both_rankers(spark):
    rows = llm_data.hybrid_search_rrf_documents(spark, SF_SMOKE).collect()
    assert len(rows) == llm_data.HYBRID_TOP_K
    assert [r.fused_rank for r in rows] != []
    # fused order is by rrf desc with doc_id tie-break
    scores = [(r.rrf_score, -r.doc_id) for r in rows]
    assert scores == sorted(scores, reverse=True)
    # a doc ranked #1 by both rankers would score 2/(60+1); every score must
    # be positive and bounded by that
    for r in rows:
        assert 0.0 < r.rrf_score <= 2.0 / 61.0 + 1e-12
        assert r.bm25_rank is not None or r.ql_rank is not None


@pytest.mark.parametrize(
    "name",
    [
        "ks_test_purchase_view",
        "pareto_frontier_parts",
        "compaction_plan_orders",
        "seasonal_decompose_daily",
        "calibration_report_documents",
        "multimodal_audio_chunks",
        "t_closeness_report_events",
        "hybrid_search_rrf_documents",
        "mann_kendall_daily_trend",
        "ks_by_event_type_bh",
        "psi_value_drift_halves",
        "durbin_watson_daily_trend",
        "holt_linear_daily_forecast",
        "countmin_event_types",
        "pca_power_iteration_embeddings",
        "fellegi_sunter_linkage_parts",
        "oversample_minority_documents",
        "merge_on_read_delete_events",
        "poisson_bootstrap_ci_orders",
        "isotonic_calibration_documents",
        "holt_winters_seasonal_daily",
        "mixture_temperature_allocation",
        "embedding_int8_quantization_report",
        "length_bucket_padding_report",
        "curriculum_schedule_documents",
        "self_similarity_sample_documents",
        "kfold_cv_stump_documents",
        "cross_source_overlap_matrix",
        "misra_gries_heavy_hitters_events",
    ],
)
def test_round5_plans_have_no_unpartitioned_windows(spark, name):
    plan = executed_plan(QUERIES[name](spark, SF_SMOKE))
    assert _unpartitioned_window_count(plan) == 0, (
        f"{name} has a partition-less window (single-partition sort)"
    )
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name, key",
    [
        ("ks_test_purchase_view", "rangepartitioning(value"),
        ("pareto_frontier_parts", "rangepartitioning(price"),
        ("compaction_plan_orders", "rangepartitioning(day"),
    ],
)
def test_chunk_stitch_queries_range_partition(spark, name, key):
    """The chunk-stitch pattern's load-bearing feature: the corpus-scale
    cumulative pass rides a range partitioning, not a global sort."""
    plan = executed_plan(QUERIES[name](spark, SF_SMOKE))
    assert key in plan, f"{name} lost its range-partitioned chunk pass"


def test_holt_fold_matches_python(spark):
    row = timeseries_checks.holt_linear_daily_forecast(spark, SF_SMOKE).collect()[0]
    daily = sorted(
        (r.day, float(r.xd))
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(27,12)")).alias("xd"))
        .collect()
    )
    xs = [v for _, v in daily]
    level, trend = xs[0], 0.0
    for x in xs[1:]:
        lnew = 0.5 * x + 0.5 * (level + trend)
        trend = 0.3 * (lnew - level) + 0.7 * trend
        level = lnew
    assert row.n_days == len(xs)
    assert abs(row.level - level) < 1e-5
    assert abs(row.trend - trend) < 1e-5
    assert abs(row.forecast_7d - (level + 7 * trend)) < 1e-4


def test_countmin_invariants(spark):
    rows = relational.countmin_event_types(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.never_undercounts
        assert r.cms_estimate >= r.exact_count
        # 5 types into 64 buckets: collisions are unlikely but legal;
        # the epsilon bound must always hold
        assert r.within_eps_bound


def test_pca_explained_share_sane(spark):
    row = mlprep_checks.pca_power_iteration_embeddings(spark, SF_SMOKE).collect()[0]
    assert row.variance_total > 0
    assert 0.0 < row.lambda1 <= row.variance_total + 1e-9
    assert 1.0 / 64.0 <= row.explained_share <= 1.0


def test_oversample_hits_target_within_hash_noise(spark):
    rows = llm_data.oversample_minority_documents(spark, SF_SMOKE).collect()
    target = rows[0].target
    for r in rows:
        assert r.n_after >= r.n_before
        # majority language is already at target; minorities land within
        # hash noise (few %) of it
        assert abs(r.n_after - target) / target < 0.15


def test_poisson_bootstrap_ci_brackets_mean_and_weights_unbiased(spark):
    """The 64-replicate bootstrap band must bracket the exact group mean
    on the fixture (deterministic seeded draws), and the Poisson(1)
    weight ladder must be empirically unbiased: total replicate weight
    within a few % of n·B (the truncation at k=8 clips ~1e-5 mass)."""
    rows = analytics_checks.poisson_bootstrap_ci_orders(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.boot_lo <= r.mean_price <= r.boot_hi
        assert r.boot_lo < r.boot_hi
        # band half-width is a few SE ≈ sd/√n — sanity: nonzero, < mean
        assert (r.boot_hi - r.boot_lo) < r.mean_price


def test_poisson_bootstrap_plan_two_phase_no_sort(spark):
    """Plan shape: explode feeds a partial-aggregated groupBy (map-side
    combine before the exchange); no unpartitioned window, no cartesian,
    no global sort of the fact table."""

    plan = executed_plan(QUERIES["poisson_bootstrap_ci_orders"](spark, SF_SMOKE))
    assert _unpartitioned_window_count(plan) == 0
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_isotonic_calibration_matches_direct_pav(spark):
    """The minimax-identity fit must equal the sequential
    pool-adjacent-violators algorithm run on the same bin aggregates,
    be monotone non-decreasing, and conserve positive mass (Σ iso·n =
    Σ pos — PAV is a projection that preserves block means)."""
    rows = sorted(
        classifier.isotonic_calibration_documents(spark, SF_SMOKE).collect(),
        key=lambda r: r.bin,
    )
    assert len(rows) >= 2
    for a, b in zip(rows, rows[1:]):
        assert a.iso_rate <= b.iso_rate + 1e-9
    # direct sequential PAV on (pos, n) recovered from published columns
    stack: list[list[float]] = []
    for r in rows:
        stack.append([round(r.frac_positive * r.n), r.n])
        while len(stack) > 1 and (
            stack[-2][0] * stack[-1][1] >= stack[-1][0] * stack[-2][1]
        ):
            pos2, n2 = stack.pop()
            stack[-1][0] += pos2
            stack[-1][1] += n2
    want: list[float] = []
    for pos, n in stack:
        blk_rows, acc = [], 0
        while acc < n:
            blk_rows.append(rows[len(want) + len(blk_rows)])
            acc += blk_rows[-1].n
        want.extend([pos / n] * len(blk_rows))
    assert len(want) == len(rows)
    for r, w in zip(rows, want):
        assert abs(r.iso_rate - w) < 1e-5
    # mass conservation
    tot_pos = sum(round(r.frac_positive * r.n) for r in rows)
    tot_iso = sum(r.iso_rate * r.n for r in rows)
    assert abs(tot_iso - tot_pos) < 1e-2


def test_holt_winters_fold_matches_python(spark):
    """The 9-slot rotating-queue fold must reproduce a direct Python
    Holt-Winters additive implementation (classic first-cycle init) on
    the same daily series, including the rotated seasonal readout."""

    row = tc.holt_winters_seasonal_daily(spark, SF_SMOKE).collect()[0]
    daily = sorted(
        (r.day, float(r.xd))
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(27,12)")).alias("xd"))
        .collect()
    )
    xs = [v for _, v in daily]
    m, a, b, g = 7, tc._HW_ALPHA, tc._HW_BETA, tc._HW_GAMMA
    level = sum(xs[:m]) / m
    trend = 0.0
    season = [x - level for x in xs[:m]]  # seasonal of days 1..7
    for t, x in enumerate(xs[m:]):
        s_old = season[t % m]
        lnew = a * (x - s_old) + (1 - a) * (level + trend)
        trend = b * (lnew - level) + (1 - b) * trend
        season[t % m] = g * (x - lnew) + (1 - g) * s_old
        level = lnew
    n = len(xs)
    assert row.n_days == n
    assert abs(row.level - level) < 1e-5
    assert abs(row.trend - trend) < 1e-5
    # seasonal slot for day n+1 and n+7
    assert abs(row.s_next - season[(n - m) % m]) < 1e-5
    assert abs(row.forecast_1d - (level + trend + season[(n - m) % m])) < 1e-4
    assert (
        abs(row.forecast_7d - (level + 7 * trend + season[(n - m + 6) % m]))
        < 1e-4
    )


def test_mmr_rerank_diversifies_vs_plain_topk(spark):
    """MMR invariants on the fixture: 10 distinct picks; the first pick
    is the global relevance argmax; and the MMR selection's mean pairwise
    cosine must not exceed the plain top-10's (diversity is the point)."""

    rows = sorted(
        llm_data.mmr_rerank_topk_embeddings(spark, SF_SMOKE).collect(),
        key=lambda r: r.rank,
    )
    assert len(rows) == 10
    assert len({r.vec_id for r in rows}) == 10
    assert rows[0].relevance == max(r.relevance for r in rows)
    # mmr_score is a max over fewer constraints early: monotone non-incr
    for a, b in zip(rows, rows[1:]):
        assert a.mmr_score >= b.mmr_score - 1e-9

    emb = {
        r.vec_id: r.embedding
        for r in spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").collect()
    }
    qv = emb[0]

    def cos(u, v):
        du = sum(a * b for a, b in zip(u, v))
        nu = math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v))
        return du / nu

    plain = sorted(emb, key=lambda i: (-cos(emb[i], qv), i))[:10]

    def mean_pair(ids):
        sims = [
            cos(emb[a], emb[b]) for a in ids for b in ids if a < b
        ]
        return sum(sims) / len(sims)

    assert mean_pair([r.vec_id for r in rows]) <= mean_pair(plain) + 1e-9


def test_temperature_mixture_compresses_toward_uniform(spark):
    """α<1 must move every share toward uniform: languages under the
    natural mean gain share, those above lose it; shares sum to 1; the
    budget is conserved."""

    rows = llm_data.mixture_temperature_allocation(spark, SF_SMOKE).collect()
    unif = 1.0 / len(rows)
    assert abs(sum(r.raw_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.temp_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.expected_docs for r in rows) - llm_data._MIX_BUDGET) < 1.0
    for r in rows:
        if r.raw_share < unif - 1e-9:
            assert r.raw_share < r.temp_share < unif + 1e-6
        elif r.raw_share > unif + 1e-9:
            assert unif - 1e-6 < r.temp_share < r.raw_share


def test_int8_quantization_error_bound_and_sqnr(spark):
    """Absmax int8 quantization guarantees |err| ≤ scale/2 per value, so
    per-dim MSE ≤ scale²/4; SQNR must be strongly positive for a
    non-degenerate corpus; every dimension reports the same n."""

    rows = mlprep_checks.embedding_int8_quantization_report(
        spark, SF_SMOKE
    ).collect()
    assert len(rows) == 64
    ns = {r.n for r in rows}
    assert len(ns) == 1
    for r in rows:
        assert r.scale > 0
        assert 0.0 <= r.mse <= (r.scale * r.scale) / 4.0 + 1e-12
        assert r.sqnr_db > 20.0  # int8 on unit-ish floats is ~30+ dB


def test_length_bucket_padding_dominates_global(spark):
    """Bucket padding can never waste more than global-max padding, and
    both fractions live in [0, 1); token mass is conserved vs a direct
    count."""

    rows = llm_data.length_bucket_padding_report(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.bucket_pad_waste <= r.global_pad_waste < 1.0
        assert r.len_lo <= r.pad_to <= r.len_hi
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    want_tokens = sum(len(d.text.split()) for d in docs if d.text.strip())
    assert sum(r.total_tokens for r in rows) == want_tokens


def test_curriculum_schedule_is_total_monotone(spark):
    """Phases are a permutation 1..|sources|; difficulty is non-decreasing
    along the schedule; cumulative shares end at exactly 1."""

    rows = sorted(
        llm_data.curriculum_schedule_documents(spark, SF_SMOKE).collect(),
        key=lambda r: r.phase,
    )
    assert [r.phase for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert a.mean_len <= b.mean_len + 1e-9
        assert a.cum_doc_share <= b.cum_doc_share + 1e-9
    assert abs(rows[-1].cum_doc_share - 1.0) < 1e-6
    assert abs(rows[-1].cum_token_share - 1.0) < 1e-6


def test_self_similarity_grid_complete_and_bounded(spark):
    """All 780 pairs of the 40-doc sample are present (zero-overlap pairs
    included); every statistic is a valid Jaccard in [0, 1]."""

    row = llm_data.self_similarity_sample_documents(spark, SF_SMOKE).collect()[0]
    n = llm_data._SELFSIM_SAMPLE
    assert row.n_pairs == n * (n - 1) // 2
    assert 0.0 <= row.mean_jaccard <= row.max_jaccard <= 1.0
    assert 0.0 <= row.frac_overlapping <= 1.0


def test_kfold_cv_stump_matches_direct_per_fold(spark):
    """Each fold's published threshold must equal a direct Python stump
    trained on the other folds' bucket histogram, and its test accuracy
    must match direct evaluation on the held-out fold."""

    rows = {r.fold: r for r in classifier.kfold_cv_stump_documents(
        spark, SF_SMOKE).collect()}
    assert set(rows) == set(range(5))
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    data = []
    for d in docs:
        fold = int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:6], 16) % 5
        data.append((fold, (d.n_chars // 50) * 50, 1 if d.lang == "en" else 0))
    for f in range(5):
        hist: dict[int, list[int]] = {}
        for fold, b, y in data:
            if fold != f:
                hist.setdefault(b, [0, 0])
                hist[b][0] += 1
                hist[b][1] += y
        buckets = sorted(hist)
        n_tot = sum(v[0] for v in hist.values())
        pos_tot = sum(v[1] for v in hist.values())
        best = None
        n_l = pos_l = 0
        for t in buckets:
            if 0 < n_l < n_tot:
                def g(p, n):
                    q = p / n
                    return 1.0 - q * q - (1 - q) * (1 - q)
                wg = round((n_l * g(pos_l, n_l)
                            + (n_tot - n_l) * g(pos_tot - pos_l, n_tot - n_l))
                           / n_tot, 9)
                if best is None or (wg, t) < best[:2]:
                    best = (wg, t, 2 * pos_l > n_l,
                            2 * (pos_tot - pos_l) > (n_tot - n_l))
            n_l += hist[t][0]
            pos_l += hist[t][1]
        _, thr, pl, pr = best
        assert rows[f].threshold == thr
        test = [(b, y) for fold, b, y in data if fold == f]
        correct = sum(
            (y == 1) == (pl if b < thr else pr) for b, y in test
        )
        assert rows[f].n_test == len(test)
        assert abs(rows[f].test_acc - correct / len(test)) < 1e-6


def test_cross_source_matrix_surfaces_planted_mirror(spark):
    """Every planted 80%-prefix copy pairs with its original at J≈0.8, so
    each original source with a planted doc must appear against 'mirror';
    pairs are upper-triangular; means bounded by maxes."""

    rows = llm_data.cross_source_overlap_matrix(spark, SF_SMOKE).collect()
    assert rows
    mirror_pairs = [r for r in rows if r.source_b == "mirror" or r.source_a == "mirror"]
    assert mirror_pairs, "planted mirror leakage must surface"
    for r in rows:
        assert r.source_a <= r.source_b
        assert 0.3 <= r.mean_jaccard <= r.max_jaccard <= 1.0
        assert r.n_pairs >= 1
    # planted copies exist: every 20th doc_id — count them directly
    n_planted = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") % 20 == 0)
        .count()
    )
    assert sum(r.n_pairs for r in mirror_pairs) >= n_planted


def test_misra_gries_exact_vs_direct_and_guarantee(spark):
    """The published rows must equal a direct exact computation (> n/k of
    all events), proving the candidate union lost no heavy hitter; shares
    sum below 1; every share exceeds 1/k."""
    rows = relational.misra_gries_heavy_hitters_events(spark, SF_SMOKE).collect()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("user_id").collect()

    c = Counter(r.user_id for r in ev)
    n = len(ev)
    k = relational._MG_K
    want = {u: m for u, m in c.items() if m * k > n}
    got = {r.user_id: r.n_events for r in rows}
    assert got == want
    for r in rows:
        assert r.share > 1.0 / k - 1e-9
    assert sum(r.share for r in rows) <= 1.0 + 1e-9


def test_bot_cadence_report_conserves_population(spark):
    """Flag cells partition the screened population: user totals match a
    direct count of users with ≥10 events; cv means sit in the plausible
    band (metronomic cell mean < unflagged cell mean when both exist)."""
    rows = analytics_checks.bot_cadence_report_events(spark, SF_SMOKE).collect()

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("user_id").collect()
    c = Counter(r.user_id for r in ev)
    want_users = sum(1 for v in c.values() if v >= 10)
    assert sum(r.n_users for r in rows) == want_users
    assert sum(r.n_events for r in rows) == sum(v for v in c.values() if v >= 10)
    by = {(r.is_metronomic, r.is_hyperactive): r for r in rows}
    if (True, False) in by and (False, False) in by:
        assert by[(True, False)].mean_cv < by[(False, False)].mean_cv
    for r in rows:
        assert r.mean_cv > 0 and r.mean_gap_hours > 0


def test_markov_stationary_is_fixed_point(spark):
    """π must be a probability vector and (approximately, after 8 steps)
    a fixed point of the transition matrix built directly from the rows:
    ‖πP − π‖∞ small; numpy power iteration from uniform agrees."""
    rows = analytics_checks.markov_stationary_event_types(spark, SF_SMOKE).collect()
    pi = {r.event_type: r.stationary_prob for r in rows}
    assert abs(sum(pi.values()) - 1.0) < 1e-4
    ev = sorted(
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )

    trans: dict = defaultdict(lambda: defaultdict(int))
    for a, b in zip(ev, ev[1:]):
        if a.user_id == b.user_id:
            trans[a.event_type][b.event_type] += 1
    P = {
        s: {d: n / sum(ds.values()) for d, n in ds.items()}
        for s, ds in trans.items()
    }
    types = sorted(P)
    v = {t: 1.0 / len(types) for t in types}
    for _ in range(8):
        nv = {t: 0.0 for t in types}
        for s in types:
            for d, p in P[s].items():
                nv[d] += v[s] * p
        v = {t: round(x, 9) for t, x in nv.items()}
    for t in types:
        assert abs(pi[t] - v[t]) < 1e-5
    # fixed-point check: one more application moves nothing much
    nv = {t: 0.0 for t in types}
    for s in types:
        for d, p in P[s].items():
            nv[d] += v[s] * p
    assert max(abs(nv[t] - v[t]) for t in types) < 1e-3
