"""Round-11 degenerate-fixture pins (round-10 verdict ask #7): the
eb_shrunk moment-fit variance guard and the ann_pq_sample_adc dense-id
precondition must fail/NULL identically in BOTH engines, proven on
fixtures that actually hit the degenerate branch (the sf corpora never
do)."""

from __future__ import annotations

import ast
import bisect
import datetime
import datetime as dt
import hashlib
import inspect
import math
from collections import Counter, defaultdict
from decimal import Decimal
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

import data_ingestion_pipeline_spark.operators.analytics_checks as A
from data_ingestion_pipeline_spark.functions.vector import cosine
from data_ingestion_pipeline_spark.operators import analytics_checks
from data_ingestion_pipeline_spark.operators.analytics_checks import (
    anderson_darling_purchase_view,
    ansari_bradley_purchase_view,
    brunner_munzel_purchase_view,
    canonical_correlation_daily,
    cochran_armitage_trend_priority_orders,
    cochrans_q_event_types_users,
    cramer_von_mises_purchase_view,
    dunn_posthoc_event_values,
    energy_distance_purchase_view,
    friedman_test_event_type_values,
    goodman_kruskal_priority_price_orders,
    jonckheere_terpstra_priority_price,
    kendalls_w_weekday_event_types,
    local_clustering_topk_parts,
    moods_median_test_event_values,
    quade_test_event_type_values,
    seasonal_mann_kendall_daily,
    theils_u_event_type_dow,
    wasserstein_purchase_view,
    wilcoxon_signed_rank_purchase_view_daily,
)
from data_ingestion_pipeline_spark.operators.classifier import (
    N_CALIB_BINS,
    _train,
    brier_decomposition_documents,
    hosmer_lemeshow_documents,
)
from data_ingestion_pipeline_spark.operators.corpus_quality import (
    cohens_kappa_quality_flags_documents,
)
from data_ingestion_pipeline_spark.operators.inference_stats import (
    _LIFE_TABLE_W,
    bartlett_test_event_values,
    box_m_test_weekpart_daily,
    breusch_pagan_price_quantity,
    competing_risks_cif_retention,
    cronbach_alpha_event_types_users,
    fleming_harrington_test_retention_arms,
    greenwood_km_ci_retention,
    hodges_lehmann_purchase_view_daily,
    hotelling_t2_weekpart_daily,
    life_table_retention,
    mahalanobis_outliers_lineitem,
    mardia_normality_daily,
    odds_ratio_ci_priority_status_orders,
    randomization_test_ab_value,
    rmst_user_retention,
    eb_shrunk_purchase_rate_users,
    welch_anova_event_values,
    white_test_price_quantity,
)
from data_ingestion_pipeline_spark.operators.llm_data import (
    _ann_query_batch,
    ann_ivf_nprobe_sweep_embeddings,
    ann_pq_sample_adc_topk_embeddings,
    near_dup_threshold_sweep_documents,
)
from data_ingestion_pipeline_spark.operators.mlprep_checks import (
    nmi_ivf_cells_labels_embeddings,
    nn1_label_accuracy_embeddings,
)
from data_ingestion_pipeline_spark.operators.relational import (
    _AMS_J,
    _BLOOM_IDX_BITS,
    _BLOOM_IDX_K,
    _KMV_K,
    _ZONE_BUCKETS,
    ams_f2_user_activity_events,
    binned_range_join_orders_bands,
    bloom_index_probe_orders,
    kmv_distinct_users_events,
    zone_map_skip_report_orders,
)
from data_ingestion_pipeline_spark.operators.streaming_checks import (
    streaming_interval_full_outer_events,
)
from data_ingestion_pipeline_spark.operators.timeseries_checks import (
    _CROSTON_ALPHA,
    _HURST_SIZES,
    _SPEC_K,
    _VR_Q,
    _rhu,
    adf_test_daily_values,
    bartels_rank_test_daily_values,
    breusch_godfrey_daily_trend,
    ccf_purchase_view_daily,
    chow_test_daily_midpoint,
    cochrane_orcutt_daily_trend,
    cox_stuart_trend_daily,
    croston_intermittent_demand_part,
    cusum_squares_daily,
    dagostino_k2_daily_values,
    esd_outliers_daily,
    gmm2_em_daily_values,
    granger_lag1_view_to_purchase_daily,
    hurst_rs_daily_values,
    pacf_daily_values,
    permutation_entropy_daily_values,
    pettitt_changepoint_daily,
    siegel_slope_daily_trend,
    spectral_entropy_daily_events,
    theta_method_forecast_daily,
    transfer_entropy_view_purchase_daily,
    turning_points_daily,
    variance_ratio_daily,
)
from data_ingestion_pipeline_spark.similarity.brute_force import (
    topk_cosine_batch,
    topk_per_query,
)
from data_ingestion_pipeline_spark.similarity.ivf import (
    ivf_build_index,
    ivf_topk,
    select_probe_cells,
)
from tests.conftest import (
    SF_SMOKE,
    daily_pv_sums,
    daily_sums,
    daily_values,
    run_oracle,
    write_sf,
)
from tests.test_llm_data import corpus


def _pv_values(spark, sf_dir):
    """Sorted purchase and view values of the events table."""
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select("event_type", "value")
        .collect()
    )
    xs = sorted(r["value"] for r in rows if r["event_type"] == "purchase")
    ys = sorted(r["value"] for r in rows if r["event_type"] == "view")
    return xs, ys


def _avg_ranks(vals):
    """value -> average rank over the pooled list (ties averaged)."""
    s = sorted(vals)
    r = {}
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        r[s[i]] = (i + 1 + j) / 2.0
        i = j
    return r


def _retention_durations(spark, sf_dir):
    """Per user: (hours from first to last event, both hour-floored;
    churned = last event over a day before the corpus end; md5 arm A)."""
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts")
        .collect()
    )
    first, last, end = {}, {}, None
    for r in rows:
        u, t = r["user_id"], r["ts"]
        first[u] = min(first.get(u, t), t)
        last[u] = max(last.get(u, t), t)
        end = t if end is None else max(end, t)

    def hour_floor(t):
        return t.replace(minute=0, second=0, microsecond=0)

    out = []
    for u in first:
        hrs = int(
            (hour_floor(last[u]) - hour_floor(first[u])).total_seconds()
            // 3600
        )
        churn = last[u] < end - datetime.timedelta(days=1)
        arm_a = (
            int(hashlib.md5(str(u).encode()).hexdigest()[:6], 16) % 2 == 0
        )
        out.append((hrs, churn, arm_a))
    return out


# every user: exactly 1 purchase + 1 view -> raw rate 0.5 for all
_EQUAL_RATES = [
    (2 * uid + j, f"2024-01-0{uid + 1} 00:00:00", uid, et, 1.0, "{}")
    for uid in range(6)
    for j, et in enumerate(("purchase", "view"))
]


# half the users at rate 0, half at 1, single-event users
_OVERDISPERSED = [
    (i, f"2024-01-01 0{i}:00:00", i, "purchase" if i % 2 == 0 else "view", 1.0, "{}")
    for i in range(8)
]


def _assert_eb_shrinkage_nulls_in_both_engines(spark, tmp_path, rows, raw_rates):
    """The moment fit's prior is unfittable on ``rows``, so the guard must
    yield NULL shrunk rates in Spark AND in the DuckDB oracle."""
    events = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, "
        "event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    sf = write_sf(tmp_path, events=events)
    got = eb_shrunk_purchase_rate_users(spark, sf).collect()
    assert {r["user_id"]: r["raw_rate"] for r in got} == pytest.approx(raw_rates)
    assert all(r["shrunk_rate"] is None for r in got), (
        "a degenerate corpus must report 'prior unfittable' (NULL)"
    )
    oracle = run_oracle("eb_shrunk_purchase_rate_users", sf)
    assert {uid: raw for uid, _, _, raw, _ in oracle} == pytest.approx(raw_rates)
    assert all(shrunk is None for *_, shrunk in oracle)


def test_eb_shrinkage_degenerate_variance_nulls_in_both_engines(spark, tmp_path):
    """All-equal per-user rates make the moment fit's v = 0 (unguarded,
    Spark division gives NULL where DuckDB gives Infinity)."""
    _assert_eb_shrinkage_nulls_in_both_engines(
        spark, tmp_path, _EQUAL_RATES, {uid: 0.5 for uid in range(6)}
    )


def test_eb_shrinkage_overdispersed_corpus_nulls_in_both_engines(spark, tmp_path):
    """Overdispersion: v >= m(1-m) (m=0.5, v=0.25, conc_raw = 0), where an
    unguarded fit would shrink AWAY from the prior interval."""
    _assert_eb_shrinkage_nulls_in_both_engines(
        spark, tmp_path, _OVERDISPERSED, {i: 1.0 - i % 2 for i in range(8)}
    )


def _assert_sample_adc_rejects(spark, tmp_path, query, violate):
    """The oracles' stride CTEs assume dense 0-based vec_ids and >= 16
    rows (fewer than n_codes=16 vectors would make train_codebooks TILE
    the sample, which the SQL replay does not). A sample-ADC operator
    must fail loudly on embeddings ``violate`` breaks that way instead of
    silently diverging from the replay."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    sf = write_sf(tmp_path, embeddings=violate(emb))
    with pytest.raises(AssertionError, match="dense 0-based"):
        query(spark, sf)


def _sparse_ids(emb):
    return emb.withColumn("vec_id", F.col("vec_id") * 2)


def test_pq_sample_adc_rejects_sparse_ids(spark, tmp_path):
    _assert_sample_adc_rejects(spark, tmp_path, ann_pq_sample_adc_topk_embeddings, _sparse_ids)


def test_pq_sample_adc_rejects_short_corpus(spark, tmp_path):
    _assert_sample_adc_rejects(
        spark, tmp_path, ann_pq_sample_adc_topk_embeddings,
        lambda emb: emb.filter(F.col("vec_id") < 10),
    )


def test_shapley_channel_bound_survives_python_O():
    """The 2^C coalition-lattice bound is a ValueError, not an assert —
    `python -O` strips asserts, and a stripped bound would let a wide
    channel taxonomy trigger an exponential lattice enumeration."""

    src = inspect.getsource(analytics_checks.shapley_attribution_events)
    tree = ast.parse(src)
    raises = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Raise)
        and isinstance(n.exc, ast.Call)
        and getattr(n.exc.func, "id", "") == "ValueError"
    ]
    assert raises, "shapley lattice bound must raise ValueError"
    asserts = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Assert) and "n_ch" in ast.dump(n)
    ]
    assert not asserts, "lattice bound still uses a strippable assert"


def test_dunn_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    vals = [r["value"] for r in rows]
    ranks = _avg_ranks(vals)
    n = len(vals)
    groups = {}
    for r in rows:
        groups.setdefault(r["event_type"], []).append(r["value"])

    ties = Counter(vals)
    tie_term = sum(t**3 - t for t in ties.values())
    sigma2 = (n * (n + 1) - tie_term / (n - 1)) / 12.0
    got = {
        (r["type_a"], r["type_b"]): r
        for r in dunn_posthoc_event_values(spark, sf_dir).collect()
    }
    k = len(groups)
    assert len(got) == k * (k - 1) // 2
    for (a, b), row in got.items():
        ra = sum(ranks[v] for v in groups[a]) / len(groups[a])
        rb = sum(ranks[v] for v in groups[b]) / len(groups[b])
        z = (ra - rb) / (
            sigma2 * (1 / len(groups[a]) + 1 / len(groups[b]))
        ) ** 0.5
        assert abs(row["z_dunn"] - z) < 1e-4, (a, b, row["z_dunn"], z)
        assert row["n_comparisons"] == k * (k - 1) // 2


def test_moods_median_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    vals = sorted(r["value"] for r in rows)
    n = len(vals)
    # exact interpolated median, rounded at 6 (the operator contract)
    if n % 2:
        gm = vals[n // 2]
    else:
        gm = (vals[n // 2 - 1] + vals[n // 2]) / 2.0
    gm = round(gm, 6)
    groups = {}
    for r in rows:
        groups.setdefault(r["event_type"], []).append(r["value"])
    n_above = sum(1 for v in vals if v > gm)
    chi2 = 0.0
    for g, vs in groups.items():
        ng = len(vs)
        oa = sum(1 for v in vs if v > gm)
        ea = ng * n_above / n
        eb = ng * (n - n_above) / n
        chi2 += (oa - ea) ** 2 / ea + ((ng - oa) - eb) ** 2 / eb
    row = moods_median_test_event_values(spark, sf_dir).collect()[0]
    assert row["k_groups"] == len(groups) and row["n"] == n
    assert row["n_above"] == n_above
    assert abs(row["chi2"] - chi2) < 1e-4
    assert row["df"] == len(groups) - 1


def test_friedman_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_type", "value")
        .collect()
    )

    acc = defaultdict(list)
    for r in rows:
        acc[(r["user_id"], r["event_type"])].append(r["value"])
    means = {k: round(sum(v) / len(v), 9) for k, v in acc.items()}
    types = sorted({t for _, t in means})
    k = len(types)
    by_user = defaultdict(dict)
    for (u, t), m in means.items():
        by_user[u][t] = m
    blocks = {u: d for u, d in by_user.items() if len(d) == k}
    nb = len(blocks)
    r2_sum = defaultdict(int)
    a2 = 0
    for u, d in blocks.items():
        ranks = _avg_ranks(list(d.values()))
        for t, m in d.items():
            r2 = int(2 * ranks[m])
            r2_sum[t] += r2
            a2 += r2 * r2
    sr2 = sum(v * v for v in r2_sum.values())
    num = (k - 1) * (sr2 - nb * nb * k * (k + 1) ** 2)
    den = a2 - nb * k * (k + 1) ** 2
    chi2 = num / den
    row = friedman_test_event_type_values(spark, sf_dir).collect()[0]
    assert row["n_blocks"] == nb and row["k_types"] == k
    assert abs(row["chi2"] - chi2) < 1e-4
    # no-ties sanity: reduces to the classic 12/(nk(k+1)) form when a2
    # equals the no-tie constant
    if a2 == nb * sum((2 * i) ** 2 for i in range(1, k + 1)):
        rj = {t: v / 2 for t, v in r2_sum.items()}
        classic = 12.0 / (nb * k * (k + 1)) * sum(
            v * v for v in rj.values()
        ) - 3 * nb * (k + 1)
        assert abs(chi2 - classic) < 1e-6


def test_cochrans_q_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_type", "value")
        .collect()
    )

    acc = defaultdict(list)
    for r in rows:
        acc[(r["user_id"], r["event_type"])].append(r["value"])
    means = {kk: round(sum(v) / len(v), 9) for kk, v in acc.items()}
    vs = sorted(means.values())
    nv = len(vs)
    gmed = vs[nv // 2] if nv % 2 else (vs[nv // 2 - 1] + vs[nv // 2]) / 2.0
    gmed = round(gmed, 6)
    x = defaultdict(dict)
    for (u, t), m in means.items():
        x[u][t] = 1 if m > gmed else 0
    k = len({t for _, t in means})
    blocks = {u: d for u, d in x.items() if len(d) == k}
    c_j = defaultdict(int)
    sr2 = 0
    n_tot = 0
    for u, d in blocks.items():
        ru = sum(d.values())
        sr2 += ru * ru
        n_tot += ru
        for t, v in d.items():
            c_j[t] += v
    sc2 = sum(v * v for v in c_j.values())
    q = k * (k - 1) * (sc2 - n_tot * n_tot / k) / (k * n_tot - sr2)
    row = cochrans_q_event_types_users(spark, sf_dir).collect()[0]
    assert row["n_blocks"] == len(blocks) and row["k_types"] == k
    assert row["n_tot"] == n_tot
    assert abs(row["q_stat"] - q) < 1e-4


def test_pacf_matches_python_durbin_levinson(spark, sf_dir):
    series = [sum(v) / len(v) for v in daily_values(spark, sf_dir).values()]
    n = len(series)
    mu = sum(series) / n
    c0 = sum((x - mu) ** 2 for x in series)
    r = {
        k: round(
            sum(
                (series[t] - mu) * (series[t + k] - mu)
                for t in range(n - k)
            )
            / c0,
            9,
        )
        for k in range(1, 5)
    }
    phi = {(1, 1): round(r[1], 9)}
    for k in range(2, 5):
        num = r[k] - sum(phi[(k - 1, j)] * r[k - j] for j in range(1, k))
        den = 1.0 - sum(phi[(k - 1, j)] * r[j] for j in range(1, k))
        phi[(k, k)] = round(num / den, 9)
        for j in range(1, k):
            phi[(k, j)] = round(
                phi[(k - 1, j)] - phi[(k, k)] * phi[(k - 1, k - j)], 9
            )
    got = {
        row["lag"]: row for row in pacf_daily_values(spark, sf_dir).collect()
    }
    assert sorted(got) == [1, 2, 3, 4]
    for k in range(1, 5):
        assert abs(got[k]["pacf"] - phi[(k, k)]) < 1e-4, (k, got[k]["pacf"], phi[(k, k)])
        assert got[k]["n_days"] == n
    # lag-1 PACF equals the plain lag-1 autocorrelation by definition
    assert abs(got[1]["pacf"] - round(r[1], 6)) < 1e-6


def test_randomization_test_p_bounds_and_determinism(spark, sf_dir):
    a = randomization_test_ab_value(spark, sf_dir).collect()[0]
    b = randomization_test_ab_value(spark, sf_dir).collect()[0]
    assert a == b, "md5 draws must be deterministic across runs"
    assert a["n_draws"] == 200
    assert 0 < a["p_mc"] <= 1.0
    # add-one estimator: p = (extreme + 1) / (B + 1) exactly
    assert abs(a["p_mc"] - round((a["n_extreme"] + 1) / 201, 6)) < 1e-9


def test_hodges_lehmann_matches_python_mirror(spark, sf_dir):
    acc = daily_values(spark, sf_dir, by_type=True)
    means = {k: round(sum(v) / len(v), 9) for k, v in acc.items()}
    px = [m for (d, t), m in means.items() if t == "purchase"]
    vx = [m for (d, t), m in means.items() if t == "view"]
    diffs = sorted(p - v for p in px for v in vx)
    nd = len(diffs)
    hl = (
        diffs[nd // 2]
        if nd % 2
        else (diffs[nd // 2 - 1] + diffs[nd // 2]) / 2.0
    )
    row = hodges_lehmann_purchase_view_daily(spark, sf_dir).collect()[0]
    assert row["n_days_purchase"] == len(px)
    assert row["n_days_view"] == len(vx)
    assert row["n_pairs"] == nd
    assert abs(row["hl_shift"] - hl) < 1e-5


def test_transitivity_matches_triangle_census_and_python_wedges(spark, sf_dir):
    tri = analytics_checks.triangle_count_copurchase(spark, sf_dir).collect()[0]
    c = analytics_checks.transitivity_copurchase_parts(spark, sf_dir).collect()[0]
    assert c["n_triangles"] == tri["n_triangles"]
    assert c["n_nodes"] == tri["n_nodes"]
    # wedges recomputed from the collected edge list
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    ).distinct().collect()
    by_order = defaultdict(list)
    for r in li:
        by_order[r["l_orderkey"]].append(r["l_partkey"])
    pair_support = Counter()
    for parts in by_order.values():
        parts = sorted(parts)
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                pair_support[(parts[i], parts[j])] += 1
    deg = Counter()
    for (a, b), s in pair_support.items():
        if s >= 2:
            deg[a] += 1
            deg[b] += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    assert c["n_wedges"] == wedges
    if wedges:
        assert abs(
            c["transitivity"] - round(3.0 * c["n_triangles"] / wedges, 6)
        ) < 1e-9
        assert 0.0 <= c["transitivity"] <= 1.0


def test_nn1_accuracy_matches_numpy_brute_force(spark):
    rows = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .orderBy("vec_id")
        .collect()
    )
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    y = np.array([r["label"] for r in rows])
    ids = np.array([r["vec_id"] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = np.round(Xn @ Xn.T, 6)
    np.fill_diagonal(S, -np.inf)
    correct = {}
    total = {}
    for i in range(len(rows)):
        # (score desc, id asc) tie-break — the knn_graph contract
        best = max(
            range(len(rows)),
            key=lambda j: (S[i, j], -ids[j]) if j != i else (-np.inf, 0),
        )
        total[y[i]] = total.get(y[i], 0) + 1
        if y[best] == y[i]:
            correct[y[i]] = correct.get(y[i], 0) + 1
    got = {
        r["label"]: r
        for r in nn1_label_accuracy_embeddings(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(total)
    for lab in total:
        assert got[lab]["n_vecs"] == total[lab]
        assert got[lab]["n_correct"] == correct.get(lab, 0), lab


def test_nmi_bounds_and_marginal_consistency(spark, sf_dir):
    row = nmi_ivf_cells_labels_embeddings(spark, sf_dir).collect()[0]
    assert row["n_cells"] <= 16 and row["n_labels"] >= 2
    assert row["mi"] >= -1e-6
    assert row["h_cell"] > 0 and row["h_label"] > 0
    assert 0.0 <= row["nmi"] <= 1.0 + 1e-9
    # MI can never exceed either marginal entropy
    assert row["mi"] <= min(row["h_cell"], row["h_label"]) + 1e-6


def test_cohens_kappa_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars", "text")
        .collect()
    )
    nc = [r["n_chars"] for r in rows]
    nt = [len([t for t in r["text"].strip().split() if t]) for r in rows]

    def med(vs):
        vs = sorted(vs)
        n = len(vs)
        return round(
            vs[n // 2] if n % 2 else (vs[n // 2 - 1] + vs[n // 2]) / 2.0, 6
        )

    mc, mt = med(nc), med(nt)
    n11 = n10 = n01 = n00 = 0
    for c, t in zip(nc, nt):
        a, b = c > mc, t > mt
        if a and b:
            n11 += 1
        elif a:
            n10 += 1
        elif b:
            n01 += 1
        else:
            n00 += 1
    n = len(rows)
    po = (n11 + n00) / n
    pa, pb = (n11 + n10) / n, (n11 + n01) / n
    pe = pa * pb + (1 - pa) * (1 - pb)
    kappa = (po - pe) / (1 - pe)
    row = cohens_kappa_quality_flags_documents(spark, sf_dir).collect()[0]
    assert (row["n11"], row["n10"], row["n01"], row["n00"]) == (
        n11, n10, n01, n00,
    )
    assert abs(row["kappa"] - kappa) < 1e-5
    # the two length-flavored raters must agree beyond chance on this corpus
    assert row["kappa"] > 0


def test_ccf_matches_python_mirror(spark, sf_dir):
    means = {
        k: sum(v) / len(v) for k, v in daily_values(spark, sf_dir, by_type=True).items()
    }
    days = sorted({d for d, t in means} & {
        d for (d, t) in means if t == "purchase"
    } & {d for (d, t) in means if t == "view"})
    days = [
        d for d in sorted({d for d, _ in means})
        if (d, "purchase") in means and (d, "view") in means
    ]
    x = [means[(d, "purchase")] for d in days]
    y = [means[(d, "view")] for d in days]
    n = len(days)
    mx, my = sum(x) / n, sum(y) / n
    den = (
        sum((a - mx) ** 2 for a in x) * sum((b - my) ** 2 for b in y)
    ) ** 0.5
    got = {r["lag"]: r["ccf"] for r in ccf_purchase_view_daily(spark, sf_dir).collect()}
    assert sorted(got) == list(range(-3, 4))
    for k in range(-3, 4):
        num = sum(
            (x[t] - mx) * (y[t + k] - my)
            for t in range(n)
            if 0 <= t + k < n
        )
        assert abs(got[k] - num / den) < 1e-4, (k, got[k], num / den)


def test_granger_equals_restricted_vs_full_regression(spark, sf_dir):
    """The partial-correlation form must equal the textbook
    restricted-vs-full OLS F-test (numpy lstsq) on the same series."""

    means = {
        k: sum(v) / len(v) for k, v in daily_values(spark, sf_dir, by_type=True).items()
    }
    days = [
        d for d in sorted({d for d, _ in means})
        if (d, "purchase") in means and (d, "view") in means
    ]
    y = np.array([means[(d, "purchase")] for d in days])
    x = np.array([means[(d, "view")] for d in days])
    yt, yl, xl = y[1:], y[:-1], x[:-1]
    n = len(yt)
    Xf = np.column_stack([np.ones(n), yl, xl])
    Xr = np.column_stack([np.ones(n), yl])
    rf = yt - Xf @ np.linalg.lstsq(Xf, yt, rcond=None)[0]
    rr = yt - Xr @ np.linalg.lstsq(Xr, yt, rcond=None)[0]
    ssr_f, ssr_r = rf @ rf, rr @ rr
    f_ref = (ssr_r - ssr_f) / (ssr_f / (n - 3))
    row = granger_lag1_view_to_purchase_daily(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert abs(row["f_stat"] - f_ref) < max(1e-3, 1e-3 * abs(f_ref))


def test_chow_matches_numpy_segments(spark, sf_dir):
    m = np.array([sum(v) / len(v) for v in daily_values(spark, sf_dir).values()])
    n = len(m)
    xi = np.arange(1, n + 1, dtype=float)
    cut = (n + 1) // 2

    def ssr(x, y):
        X = np.column_stack([np.ones(len(x)), x])
        r = y - X @ np.linalg.lstsq(X, y, rcond=None)[0]
        return r @ r

    s1 = ssr(xi[:cut], m[:cut])
    s2 = ssr(xi[cut:], m[cut:])
    sp = ssr(xi, m)
    f_ref = ((sp - s1 - s2) / 2.0) / ((s1 + s2) / (n - 4))
    row = chow_test_daily_midpoint(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert abs(row["f_stat"] - f_ref) < max(1e-3, 1e-3 * abs(f_ref))


def test_breusch_pagan_matches_numpy(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr(
            "CAST(l_quantity AS DOUBLE) AS x",
            "CAST(l_extendedprice AS DOUBLE) AS y",
        )
        .collect()
    )
    x = np.array([r["x"] for r in rows])
    y = np.array([r["y"] for r in rows])
    n = len(x)
    b1 = round(
        (n * (x * y).sum() - x.sum() * y.sum())
        / (n * (x * x).sum() - x.sum() ** 2),
        9,
    )
    b0 = round((y.sum() - b1 * x.sum()) / n, 9)
    u = (y - np.round(b0 + b1 * x, 9)) ** 2
    r2 = np.corrcoef(x, u)[0, 1] ** 2
    row = breusch_pagan_price_quantity(spark, sf_dir).collect()[0]
    assert row["n_rows"] == n
    assert abs(row["bp_stat"] - n * r2) < max(1e-2, 1e-4 * n * r2)


def test_streaming_full_outer_has_both_null_directions(spark):
    rows = streaming_interval_full_outer_events(spark, SF_SMOKE).collect()
    n_null_view = sum(1 for r in rows if r["view_id"] is None)
    n_null_purchase = sum(1 for r in rows if r["purchase_id"] is None)
    n_matched = sum(
        1 for r in rows if r["view_id"] is not None and r["purchase_id"] is not None
    )
    # the full-outer contract: all three row classes present, and every
    # matched pair sits inside the band
    assert n_matched > 0 and n_null_view > 0 and n_null_purchase > 0
    for r in rows:
        if r["secs_before"] is not None:
            assert 0 <= r["secs_before"] <= 3600


def test_jonckheere_matches_python_mirror_and_is_deterministic(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderpriority AS g", "CAST(o_totalprice AS DOUBLE) AS v")
        .collect()
    )
    order = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    groups = defaultdict(list)
    for r in rows:
        groups[r["g"]].append(r["v"])
    # J via per-pair dominance over sorted lists (O(n log n) per pair)

    j_stat = 0.0
    for a in range(len(order)):
        for b in range(a + 1, len(order)):
            xs = sorted(groups[order[a]])
            for yv in groups[order[b]]:
                lt = bisect.bisect_left(xs, yv)
                eq = bisect.bisect_right(xs, yv) - lt
                j_stat += lt + 0.5 * eq
    n = len(rows)
    ns = [len(groups[g]) for g in order]
    e_j = (n * n - sum(m * m for m in ns)) / 4.0
    tvs = Counter(r["v"] for r in rows).values()
    var = (
        (
            n * (n - 1) * (2 * n + 5)
            - sum(m * (m - 1) * (2 * m + 5) for m in ns)
            - sum(t * (t - 1) * (2 * t + 5) for t in tvs)
        )
        / 72.0
        + sum(m * (m - 1) * (m - 2) for m in ns)
        * sum(t * (t - 1) * (t - 2) for t in tvs)
        / (36.0 * n * (n - 1) * (n - 2))
        + sum(m * (m - 1) for m in ns)
        * sum(t * (t - 1) for t in tvs)
        / (8.0 * n * (n - 1))
    )
    row = jonckheere_terpstra_priority_price(spark, sf_dir).collect()[0]
    assert row["n"] == n
    assert abs(row["jt_stat"] - j_stat) < 0.75, (row["jt_stat"], j_stat)
    assert abs(row["jt_expected"] - e_j) < 1e-6
    assert abs(row["jt_variance"] - var) < max(1e-3, 1e-9 * var)
    dev = j_stat - e_j
    z = (dev - (1 if dev > 0 else -1 if dev < 0 else 0) * 0.5) / var**0.5
    assert abs(row["z"] - z) < 1e-4
    # run-twice determinism: the stitched five-way cumulative must not
    # ride a partitioning accident (the cliffs_delta hazard, reproduced
    # live on this operator before the window-output pin)
    again = jonckheere_terpstra_priority_price(spark, sf_dir).collect()[0]
    assert row == again


def test_welch_anova_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    groups = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["value"])
    stats = {}
    for g, vs in groups.items():
        n = len(vs)
        m = round(sum(vs) / n, 9)
        v = round(
            (sum(x * x for x in vs) - sum(vs) ** 2 / n) / (n - 1), 9
        )
        if n > 1 and v > 0:
            stats[g] = (n, m, v)
    k = len(stats)
    w = {g: n / v for g, (n, m, v) in stats.items()}
    sw = sum(w.values())
    xbar = sum(w[g] * stats[g][1] for g in stats) / sw
    a = sum(w[g] * (stats[g][1] - xbar) ** 2 for g in stats)
    b = sum(
        (1 - w[g] / sw) ** 2 / (stats[g][0] - 1) for g in stats
    )
    f_ref = (a / (k - 1)) / (1 + 2 * (k - 2) / (k * k - 1) * b)
    df2_ref = (k * k - 1) / (3 * b)
    row = welch_anova_event_values(spark, sf_dir).collect()[0]
    assert row["k_groups"] == k and row["df1"] == k - 1
    assert abs(row["f_welch"] - f_ref) < max(1e-4, 1e-6 * abs(f_ref))
    assert abs(row["df2"] - df2_ref) < max(1e-3, 1e-6 * df2_ref)


def test_bartlett_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    groups = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["value"])
    vs_ = {}
    for g, vs in groups.items():
        n = len(vs)
        v = round((sum(x * x for x in vs) - sum(vs) ** 2 / n) / (n - 1), 9)
        if n > 1 and v > 0:
            vs_[g] = (n, v)
    k = len(vs_)
    nn = sum(n for n, _ in vs_.values())
    ssw = sum((n - 1) * v for n, v in vs_.values())
    sp2 = ssw / (nn - k)
    t_raw = (nn - k) * round(math.log(sp2), 9) - sum(
        (n - 1) * round(math.log(v), 9) for n, v in vs_.values()
    )
    c = 1 + (sum(1 / (n - 1) for n, _ in vs_.values()) - 1 / (nn - k)) / (
        3 * (k - 1)
    )
    row = bartlett_test_event_values(spark, sf_dir).collect()[0]
    assert row["k_groups"] == k and row["n"] == nn
    assert abs(row["bartlett_t"] - t_raw / c) < max(1e-4, 1e-5 * abs(t_raw / c))


def test_brunner_munzel_matches_scipy_formulation(spark, sf_dir):
    """Mirror of the scipy.stats.brunnermunzel construction (combined
    ranks, within-group ranks, separate rank variances, Welch-like df)
    recomputed in python on the collected values."""

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("event_type IN ('purchase', 'view')")
        .select("event_type", "value")
        .collect()
    )
    x = [r["value"] for r in rows if r["event_type"] == "purchase"]
    y = [r["value"] for r in rows if r["event_type"] == "view"]
    nx, ny = len(x), len(y)
    allv = x + y
    rc = _avg_ranks(allv)
    rcx = _avg_ranks(x)
    rcy = _avg_ranks(y)
    mx = sum(rc[v] for v in x) / nx
    my = sum(rc[v] for v in y) / ny
    sx = sum((rc[v] - rcx[v] - mx + (nx + 1) / 2) ** 2 for v in x) / (nx - 1)
    sy = sum((rc[v] - rcy[v] - my + (ny + 1) / 2) ** 2 for v in y) / (ny - 1)
    w = nx * ny * (my - mx) / ((nx + ny) * (nx * sx + ny * sy) ** 0.5)
    df = (nx * sx + ny * sy) ** 2 / (
        (nx * sx) ** 2 / (nx - 1) + (ny * sy) ** 2 / (ny - 1)
    )
    phat = (my - (ny + 1) / 2) / nx
    row = brunner_munzel_purchase_view(spark, sf_dir).collect()[0]
    assert row["n1"] == nx and row["n2"] == ny
    assert abs(row["p_hat"] - phat) < 1e-5
    assert abs(row["w_stat"] - w) < 1e-4
    assert abs(row["df"] - df) < max(1e-2, 1e-5 * df)
    # the estimand ties back to Mann-Whitney: p_hat in [0, 1]
    assert 0.0 <= row["p_hat"] <= 1.0


def test_cramer_von_mises_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter("event_type IN ('purchase', 'view')")
        .select("event_type", "value")
        .collect()
    )
    x = Counter(r["value"] for r in rows if r["event_type"] == "purchase")
    y = Counter(r["value"] for r in rows if r["event_type"] == "view")
    n1, n2 = sum(x.values()), sum(y.values())
    vals = sorted(set(x) | set(y))
    c1 = c2 = 0
    s = 0.0
    for v in vals:
        c1 += x.get(v, 0)
        c2 += y.get(v, 0)
        gap = c1 / n1 - c2 / n2
        s += (x.get(v, 0) + y.get(v, 0)) * gap * gap
    t_ref = n1 * n2 / (n1 + n2) ** 2 * s
    row = cramer_von_mises_purchase_view(spark, sf_dir).collect()[0]
    assert row["n1"] == n1 and row["n2"] == n2
    assert abs(row["cvm_t"] - t_ref) < 1e-5
    # run-twice determinism on the stitched cumulative
    assert row == cramer_von_mises_purchase_view(spark, sf_dir).collect()[0]


def test_gmm2_em_matches_python_mirror(spark, sf_dir):
    """Full python re-run of the 3-iteration EM (same init, same rounding
    ladder) plus structural checks: responsibilities-implied weight in
    (0,1), separation consistent with the published moments."""

    m = [sum(v) / len(v) for v in daily_values(spark, sf_dir).values()]
    n = len(m)

    def pct(vs, q):
        vs = sorted(vs)
        pos = (len(vs) - 1) * q
        lo = int(pos)
        frac = pos - lo
        hi = min(lo + 1, len(vs) - 1)
        return round(vs[lo] + frac * (vs[hi] - vs[lo]), 6)

    mu1, mu2 = pct(m, 0.25), pct(m, 0.75)
    v1 = v2 = _rhu((sum(x * x for x in m) - sum(m) ** 2 / n) / n, 9)
    w1 = 0.5
    for _ in range(3):
        a = _rhu((1 - w1) / w1 * math.sqrt(v1) / math.sqrt(v2), 9)
        rs = [
            _rhu(
                1.0
                / (
                    1.0
                    + a
                    * math.exp(
                        _rhu(
                            (x - mu1) ** 2 / (2 * v1)
                            - (x - mu2) ** 2 / (2 * v2),
                            9,
                        )
                    )
                ),
                9,
            )
            for x in m
        ]
        n1 = sum(rs)
        mu1 = _rhu(sum(r * x for r, x in zip(rs, m)) / n1, 9)
        mu2 = _rhu(sum((1 - r) * x for r, x in zip(rs, m)) / (n - n1), 9)
        v1 = _rhu(
            max(sum(r * x * x for r, x in zip(rs, m)) / n1 - mu1 * mu1, 1e-12),
            9,
        )
        v2 = _rhu(
            max(
                sum((1 - r) * x * x for r, x in zip(rs, m)) / (n - n1)
                - mu2 * mu2,
                1e-12,
            ),
            9,
        )
        w1 = _rhu(n1 / n, 9)
    row = gmm2_em_daily_values(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert abs(row["w1"] - w1) < 1e-5
    assert abs(row["mu1"] - mu1) < max(1e-4, 1e-6 * abs(mu1))
    assert abs(row["mu2"] - mu2) < max(1e-4, 1e-6 * abs(mu2))
    assert 0.0 < row["w1"] < 1.0
    sep = abs(row["mu1"] - row["mu2"]) / math.sqrt(
        (row["var1"] + row["var2"]) / 2.0
    )
    assert abs(row["separation"] - sep) < 1e-4


def test_pettitt_matches_python_mirror(spark, sf_dir):
    acc = daily_values(spark, sf_dir)
    days = list(acc)
    m = [round(sum(acc[d]) / len(acc[d]), 9) for d in days]
    n = len(m)
    # brute-force U_t
    best_k, best_u, best_day = -1, None, None
    u = 0
    for t in range(n):
        u += sum(
            (1 if m[t] > m[j] else -1 if m[t] < m[j] else 0)
            for j in range(n)
        )
        if abs(u) > best_k:
            best_k, best_u, best_day = abs(u), u, days[t]
    p = min(2 * math.exp(-6 * best_k**2 / (n**3 + n**2)), 1.0)
    row = pettitt_changepoint_daily(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert row["k_stat"] == best_k
    assert row["u_at_change"] == best_u
    assert row["change_day"] == best_day
    assert abs(row["p_approx"] - p) < 1e-4


def test_rmst_matches_python_km_integral(spark, sf_dir):
    """RMST recomputed from a python KM fit on the same durations, and
    structural bounds: 0 < RMST <= tau, and RMST equals tau only if no
    churn happens before tau."""

    per = defaultdict(lambda: [0, 0])
    for hrs, churn, _ in _retention_durations(spark, sf_dir):
        per[hrs][0 if churn else 1] += 1
    tot = sum(d + c for d, c in per.values())
    seen = 0
    s = 1.0
    steps = []
    for t in sorted(per):
        d, c = per[t]
        at_risk = tot - seen
        seen += d + c
        if d > 0:
            f = 1 - d / at_risk
            s = 0.0 if f <= 0 else s * f
            steps.append((t, round(s, 6) if s > 0 else 0.0))
    # integrate to tau=336 using rounded survival steps
    tau = 336.0
    rmst = 0.0
    t_prev, s_prev = 0.0, 1.0
    for t, sv in steps:
        rmst += s_prev * (min(t, tau) - min(t_prev, tau))
        t_prev, s_prev = t, sv
    rmst += s_prev * max(tau - min(t_prev, tau), 0.0)
    row = rmst_user_retention(spark, sf_dir).collect()[0]
    assert row["tau_hours"] == 336
    assert row["n_event_times"] == len(steps)
    assert abs(row["rmst_hours"] - rmst) < 1e-3
    assert 0 < row["rmst_hours"] <= 336.0
    assert abs(row["rmst_days"] - round(row["rmst_hours"] / 24.0, 6)) < 1e-9


def test_anderson_darling_matches_python_mirror(spark, sf_dir):
    """Pettitt-1976 two-sample A² recomputed brute-force over the pooled
    distinct values."""

    xs, ys = _pv_values(spark, sf_dir)
    n1, n2 = len(xs), len(ys)
    n = n1 + n2
    s = 0.0
    for v in sorted(set(xs) | set(ys)):
        c1 = sum(1 for x in xs if x == v)
        c2 = sum(1 for y in ys if y == v)
        cum1 = sum(1 for x in xs if x <= v)
        cum2 = sum(1 for y in ys if y <= v)
        if cum1 + cum2 == n:
            continue
        h = (cum1 + cum2) / n
        gap = cum1 / n1 - cum2 / n2
        s += (c1 + c2) / (h * (1 - h)) * gap * gap
    a2 = n1 * n2 / (n * n) * s
    row = anderson_darling_purchase_view(spark, sf_dir).collect()[0]
    assert row["n1"] == n1 and row["n2"] == n2
    assert abs(row["ad_a2"] - a2) < 1e-4
    assert row["significant"] == (round(a2, 6) > 2.492)


def test_wasserstein_matches_python_mirror(spark, sf_dir):
    """W1 via the quantile formulation (numpy-style) must equal the
    stitched ECDF-segment fold."""

    xs, ys = _pv_values(spark, sf_dir)
    n1, n2 = len(xs), len(ys)
    pooled = sorted(set(xs) | set(ys))
    w1 = 0.0
    for a, b in zip(pooled, pooled[1:]):
        f1 = sum(1 for x in xs if x <= a) / n1
        f2 = sum(1 for y in ys if y <= a) / n2
        w1 += abs(f1 - f2) * (b - a)
    row = wasserstein_purchase_view(spark, sf_dir).collect()[0]
    assert row["n1"] == n1 and row["n2"] == n2
    assert abs(row["w1_dollars"] - w1) < 1e-4
    assert row["w1_dollars"] >= 0.0


def test_energy_distance_matches_bruteforce_pairs(spark, sf_dir):
    """O(n²) pairwise |Δ| expectations (the definition) must equal the
    prefix-sum collapse, and the statistic must obey 0 ≤ E and
    E² = 2E|XY| − E|XX| − E|YY|."""

    xs, ys = _pv_values(spark, sf_dir)
    n1, n2 = len(xs), len(ys)
    exy = sum(abs(x - y) for x in xs for y in ys) / (n1 * n2)
    exx = sum(abs(a - b) for a in xs for b in xs) / (n1 * n1)
    eyy = sum(abs(a - b) for a in ys for b in ys) / (n2 * n2)

    e = math.sqrt(max(2 * exy - exx - eyy, 0.0))
    row = energy_distance_purchase_view(spark, sf_dir).collect()[0]
    assert row["n1"] == n1 and row["n2"] == n2
    assert abs(row["e_xy_dollars"] - exy) < 1e-4
    assert abs(row["e_xx_dollars"] - exx) < 1e-4
    assert abs(row["e_yy_dollars"] - eyy) < 1e-4
    assert abs(row["energy_distance"] - e) < 1e-4


def test_goodman_kruskal_matches_bruteforce_pairs(spark, sf_dir):
    """All four ordinal measures recomputed from O(n²) explicit pair
    classification on the raw orders."""

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS x",
            "CAST(FLOOR(o_totalprice / 25000.0) AS INT) AS y",
        )
        .collect()
    )
    pts = [(r["x"], r["y"]) for r in rows]
    n = len(pts)
    conc = disc = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = pts[j][0] - pts[i][0]
            dy = pts[j][1] - pts[i][1]
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx != 0 and dy != 0:
                if dx * dy > 0:
                    conc += 1
                else:
                    disc += 1
    t0 = n * (n - 1) / 2
    row = goodman_kruskal_priority_price_orders(spark, sf_dir).collect()[0]
    assert row["n"] == n
    assert row["concordant"] == conc
    assert row["discordant"] == disc
    assert row["ties_x"] == tx
    assert row["ties_y"] == ty
    assert abs(row["gamma"] - (conc - disc) / (conc + disc)) < 1e-6
    assert abs(row["somers_d_yx"] - (conc - disc) / (t0 - tx)) < 1e-6
    assert abs(row["somers_d_xy"] - (conc - disc) / (t0 - ty)) < 1e-6
    assert (
        abs(row["tau_b"] - (conc - disc) / math.sqrt((t0 - tx) * (t0 - ty)))
        < 1e-6
    )


def test_wilcoxon_signed_rank_matches_python_mirror(spark, sf_dir):
    """W⁺ and z recomputed with explicit average ranks over the paired
    daily cent differences."""

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type").isin("purchase", "view"))
        .selectExpr("CAST(ts AS DATE) AS day", "event_type", "value")
        .collect()
    )
    acc = defaultdict(lambda: [Decimal(0), Decimal(0)])
    for r in rows:
        q = Decimal(str(r["value"])).quantize(Decimal("0.01"))
        acc[r["day"]][0 if r["event_type"] == "purchase" else 1] += q
    ds = [int((p - v) * 100) for p, v in acc.values() if p != v]
    n = len(ds)
    by_abs = defaultdict(lambda: [0, 0])
    for d in ds:
        by_abs[abs(d)][0 if d > 0 else 1] += 1
    w_plus = 0.0
    seen = 0
    tie_term = 0
    for a in sorted(by_abs):
        tp, tn = by_abs[a]
        t = tp + tn
        avg_rank = seen + (t + 1) / 2
        w_plus += tp * avg_rank
        seen += t
        tie_term += t**3 - t
    mean = n * (n + 1) / 4
    var = n * (n + 1) * (2 * n + 1) / 24 - tie_term / 48
    z = (w_plus - mean) / math.sqrt(var)
    row = wilcoxon_signed_rank_purchase_view_daily(spark, sf_dir).collect()[0]
    assert row["n_days_nonzero"] == n
    assert abs(row["w_plus"] - w_plus) < 1e-9
    assert abs(row["z_score"] - z) < 1e-5
    assert row["significant"] == (abs(round(z, 6)) > 1.959964)


def test_cochran_armitage_matches_python_mirror(spark, sf_dir):
    """z recomputed from the 5-row (score, n, r) table, plus invariance:
    the statistic must be exactly 0 when the response is constant."""

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS s",
            "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS f",
        )
        .collect()
    )
    per = defaultdict(lambda: [0, 0])
    for r in rows:
        per[r["s"]][0] += 1
        per[r["s"]][1] += r["f"]
    n = sum(v[0] for v in per.values())
    rr = sum(v[1] for v in per.values())
    sx = sum(s * v[0] for s, v in per.items())
    sxx = sum(s * s * v[0] for s, v in per.items())
    t = sum(s * v[1] for s, v in per.items())
    p = rr / n
    z = (t - rr * sx / n) / math.sqrt(p * (1 - p) * (sxx - sx * sx / n))
    row = cochran_armitage_trend_priority_orders(spark, sf_dir).collect()[0]
    assert row["n"] == n
    assert row["fulfilled"] == rr
    assert abs(row["overall_rate"] - p) < 1e-6
    assert abs(row["z_trend"] - z) < 1e-5
    assert row["significant"] == (abs(round(z, 6)) > 1.959964)


def test_adf_matches_numpy_lstsq(spark, sf_dir):
    """ADF regression re-solved with numpy's lstsq on the same design
    matrix; τ re-derived from the (X'X)⁻¹ diagonal."""

    acc = daily_sums(spark, sf_dir)
    days, x = list(acc), list(acc.values())
    y = np.array([x[i] - x[i - 1] for i in range(2, len(x))])
    u = np.array([x[i - 1] for i in range(2, len(x))])
    v = np.array([x[i - 1] - x[i - 2] for i in range(2, len(x))])
    X = np.column_stack([np.ones_like(u), u, v])
    beta, _, _, _ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    n = len(y)
    s2 = float(resid @ resid) / (n - 3)
    cov = s2 * np.linalg.inv(X.T @ X)
    tau = beta[1] / math.sqrt(cov[1, 1])
    row = adf_test_daily_values(spark, sf_dir).collect()[0]
    assert row["n_obs"] == n
    assert abs(row["rho_coef"] - beta[1]) < 1e-6
    assert abs(row["lag_diff_coef"] - beta[2]) < 1e-6
    assert abs(row["adf_tau"] - tau) < 1e-4
    assert row["stationary"] == (row["adf_tau"] < -2.86)


def test_breusch_godfrey_matches_numpy(spark, sf_dir):
    """BG LM recomputed with numpy: trend OLS (β rounded at 9 per the
    contract), zero-filled lagged residual, auxiliary R²."""

    acc = daily_sums(spark, sf_dir)
    days, xv = list(acc), np.array(list(acc.values()))
    t = np.array([(d - days[0]).days for d in days], dtype=float)
    n = len(xv)
    b1 = (n * (t * xv).sum() - t.sum() * xv.sum()) / (
        n * (t * t).sum() - t.sum() ** 2
    )
    b1 = round(b1, 9)
    b0 = round((xv.sum() - b1 * t.sum()) / n, 9)
    e = xv - (b0 + b1 * t)
    ep = np.concatenate([[0.0], e[:-1]])
    X = np.column_stack([np.ones_like(t), t, ep])
    beta, _, _, _ = np.linalg.lstsq(X, e, rcond=None)
    fitted = X @ beta
    r2 = ((fitted - e.mean()) ** 2).sum() / ((e - e.mean()) ** 2).sum()
    lm = n * r2
    row = breusch_godfrey_daily_trend(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert abs(row["resid_lag_coef"] - beta[2]) < 1e-5
    assert abs(row["bg_lm_stat"] - lm) < 1e-2
    assert row["serial_correlation"] == (row["bg_lm_stat"] > 3.841459)


def test_white_test_matches_numpy(spark, sf_dir):
    """White LM recomputed with numpy on [1, x, x²] against the squared
    stage-1 residuals (stage-1 β rounded at 9 per the contract)."""

    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr(
            "CAST(l_quantity AS DOUBLE) AS x",
            "CAST(l_extendedprice AS DOUBLE) AS y",
        )
        .collect()
    )
    x = np.array([r["x"] for r in rows])
    y = np.array([r["y"] for r in rows])
    n = len(x)
    b1 = round(
        float(
            (n * (x * y).sum() - x.sum() * y.sum())
            / (n * (x * x).sum() - x.sum() ** 2)
        ),
        9,
    )
    b0 = round(float((y.sum() - b1 * x.sum()) / n), 9)
    w = (y - np.round(b0 + b1 * x, 9)) ** 2
    X = np.column_stack([np.ones_like(x), x, x * x])
    beta, _, _, _ = np.linalg.lstsq(X, w, rcond=None)
    fitted = X @ beta
    r2 = ((fitted - w.mean()) ** 2).sum() / ((w - w.mean()) ** 2).sum()
    lm = n * r2
    row = white_test_price_quantity(spark, sf_dir).collect()[0]
    assert row["n_rows"] == n
    assert abs(row["aux_r2"] - r2) < 1e-4
    assert abs(row["white_stat"] - lm) < max(1e-2, abs(lm) * 1e-3)
    assert row["heteroscedastic"] == (row["white_stat"] > 5.991465)


def test_kmv_matches_python_md5_replay(spark, sf_dir):
    """Bottom-k sketch and estimate recomputed from hashlib md5."""

    users = {
        r["user_id"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .collect()
    }
    hs = sorted(
        {int(hashlib.md5(str(u).encode()).hexdigest()[:12], 16) for u in users}
    )
    topk = hs[:_KMV_K]
    if len(topk) < _KMV_K:
        est = float(len(topk))
    else:
        est = (_KMV_K - 1) / (topk[-1] / 2**48)
    row = kmv_distinct_users_events(spark, sf_dir).collect()[0]
    assert row["exact_distinct"] == len(users)
    assert row["k_used"] == len(topk)
    assert abs(row["kmv_estimate"] - est) < 1e-3


def test_ams_f2_matches_python_md5_replay(spark, sf_dir):
    """Counters, group means, and the median-of-means recomputed from
    hashlib md5 sign replay."""

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .collect()
    )
    cu = Counter(r["user_id"] for r in rows)
    z = [0] * _AMS_J
    for u, c in cu.items():
        for j in range(_AMS_J):
            nib = hashlib.md5(f"{j}:{u}".encode()).hexdigest()[0]
            z[j] += c if int(nib, 16) % 2 == 0 else -c
    means = sorted(
        sum(zz * zz for zz in z[g * 8 : g * 8 + 8]) / 8.0 for g in range(8)
    )
    est = (means[3] + means[4]) / 2.0
    exact = sum(c * c for c in cu.values())
    row = ams_f2_user_activity_events(spark, sf_dir).collect()[0]
    assert row["n_users"] == len(cu)
    assert row["f2_exact"] == exact
    assert abs(row["f2_estimate"] - est) < 1e-3


def test_binned_range_join_matches_naive_interval(spark, sf_dir):
    """The bin-bucketed rewrite must agree row-for-row with a naive
    python interval scan, including empty bands."""

    prices = [
        r["o_totalprice"]
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_totalprice")
        .collect()
    ]
    per = defaultdict(lambda: [0, Decimal(0)])
    for b in range(12):
        lo, hi = b * 37500, b * 37500 + 60000
        for p in prices:
            if lo <= p < hi:
                per[b][0] += 1
                per[b][1] += Decimal(str(p)).quantize(Decimal("0.01"))
    out = {r["band_id"]: r for r in binned_range_join_orders_bands(spark, sf_dir).collect()}
    assert len(out) == 12
    for b in range(12):
        assert out[b]["lo"] == b * 37500
        assert out[b]["n_orders"] == per[b][0]
        assert abs(out[b]["revenue"] - float(per[b][1])) < 1e-6


def test_brier_decomposition_matches_python_mirror(spark, sf_dir):
    """Direct Brier and the Murphy components recomputed in python from
    the same trained weights; identity BS = REL − RES + UNC + gap."""

    hist = _train(spark, sf_dir)
    _, w0, w1, w2 = hist[-1]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    pys = []
    for r in docs:
        nw = max(len(r["text"].strip().split()), 1)
        x1 = r["n_chars"] / 1000.0
        x2 = r["n_chars"] / nw / 10.0
        p = round(1.0 / (1.0 + math.exp(-(w0 + w1 * x1 + w2 * x2))), 9)
        pys.append((p, 1.0 if r["lang"] == "en" else 0.0))
    n = len(pys)
    bs = sum((p - y) ** 2 for p, y in pys) / n
    bins = defaultdict(list)
    for p, y in pys:
        bins[min(int(p * N_CALIB_BINS), N_CALIB_BINS - 1)].append((p, y))
    obar = round(sum(y for _, y in pys) / n, 9)
    rel = res = 0.0
    for b, items in bins.items():
        nk = len(items)
        pbar = round(sum(p for p, _ in items) / nk, 9)
        ok = round(sum(y for _, y in items) / nk, 9)
        rel += nk * (pbar - ok) ** 2
        res += nk * (ok - obar) ** 2
    rel, res = rel / n, res / n
    unc = obar * (1 - obar)
    row = brier_decomposition_documents(spark, sf_dir).collect()[0]
    assert row["n"] == n
    assert abs(row["brier_score"] - bs) < 1e-5
    assert abs(row["reliability"] - rel) < 1e-5
    assert abs(row["resolution"] - res) < 1e-5
    assert abs(row["uncertainty"] - unc) < 1e-5
    assert (
        abs(
            row["brier_score"]
            - (row["reliability"] - row["resolution"] + row["uncertainty"])
            - row["decomp_gap"]
        )
        < 5e-6
    )


def test_hosmer_lemeshow_matches_python_mirror(spark, sf_dir):
    hist = _train(spark, sf_dir)
    _, w0, w1, w2 = hist[-1]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    bins = defaultdict(list)
    for r in docs:
        nw = max(len(r["text"].strip().split()), 1)
        x1 = r["n_chars"] / 1000.0
        x2 = r["n_chars"] / nw / 10.0
        p = round(1.0 / (1.0 + math.exp(-(w0 + w1 * x1 + w2 * x2))), 9)
        bins[min(int(p * N_CALIB_BINS), N_CALIB_BINS - 1)].append(
            (p, 1 if r["lang"] == "en" else 0)
        )
    hl = 0.0
    for b, items in bins.items():
        nk = len(items)
        pbar = round(sum(p for p, _ in items) / nk, 9)
        ok = sum(y for _, y in items)
        den = nk * pbar * (1 - pbar)
        if den > 0:
            hl += round((ok - nk * pbar) ** 2 / den, 9)
    row = hosmer_lemeshow_documents(spark, sf_dir).collect()[0]
    assert row["k_bins"] == len(bins)
    assert row["df"] == len(bins) - 2
    assert abs(row["hl_stat"] - hl) < 1e-4
    assert row["miscalibrated"] == (round(hl, 6) > 15.507313)


def test_fleming_harrington_matches_python_mirror(spark, sf_dir):
    """G^1 weighted logrank recomputed brute-force: pooled KM left
    limit, weighted O−E sums, weighted hypergeometric variance."""

    per = defaultdict(lambda: [0, 0, 0, 0])  # d_a, d_b, exit_a, exit_b
    for hrs, churn, arm_a in _retention_durations(spark, sf_dir):
        e = per[hrs]
        if churn and arm_a:
            e[0] += 1
        if churn and not arm_a:
            e[1] += 1
        if arm_a:
            e[2] += 1
        else:
            e[3] += 1
    tot_a = sum(e[2] for e in per.values())
    tot_b = sum(e[3] for e in per.values())
    seen_a = seen_b = 0
    s_prev = 1.0
    num = var = 0.0
    obs_a = obs_b = 0
    for t in sorted(per):
        d_a, d_b, xa, xb = per[t]
        n_a, n_b = tot_a - seen_a, tot_b - seen_b
        seen_a += xa
        seen_b += xb
        d, n = d_a + d_b, n_a + n_b
        if d == 0:
            continue
        wt = round(s_prev, 9)
        obs_a += d_a
        obs_b += d_b
        e_a = d * n_a / n
        v = (
            d * (n_a / n) * (1 - n_a / n) * (n - d) / (n - 1)
            if n > 1
            else 0.0
        )
        num += round(wt * (d_a - e_a), 12)
        var += round(wt * wt * v, 12)
        f = 1 - d / n
        s_prev = 0.0 if f <= 0 or s_prev == 0.0 else s_prev * f
    chi2 = num * num / var if var > 0 else 0.0
    row = fleming_harrington_test_retention_arms(spark, sf_dir).collect()[0]
    assert row["obs_a"] == obs_a and row["obs_b"] == obs_b
    assert abs(row["weighted_diff_a"] - num) < 1e-4
    assert abs(row["chi2_fh"] - chi2) < 1e-3
    assert row["significant"] == (round(chi2, 6) > 3.841459)


def test_life_table_matches_python_mirror(spark, sf_dir):
    per = defaultdict(lambda: [0, 0])
    for hrs, churn, _ in _retention_durations(spark, sf_dir):
        per[hrs // _LIFE_TABLE_W][0 if churn else 1] += 1
    tot = sum(d + c for d, c in per.values())
    seen = 0
    s = 1.0
    rows = life_table_retention(spark, sf_dir).collect()
    got = {r["interval"]: r for r in rows}
    assert len(got) == len(per)
    for k in sorted(per):
        d, c = per[k]
        n_enter = tot - seen
        seen += d + c
        n_eff = n_enter - c / 2.0
        q = d / n_eff if n_eff > 0 else 0.0
        s = s * (1 - q) if (1 - q) > 0 and s > 0 else 0.0
        r = got[k]
        assert r["t_start_hours"] == k * _LIFE_TABLE_W
        assert r["n_enter"] == n_enter
        assert r["d_events"] == d
        assert r["n_withdrawn"] == c
        assert abs(r["n_effective"] - n_eff) < 1e-9
        assert abs(r["cond_hazard"] - q) < 1e-5
        assert abs(r["cum_survival"] - s) < 1e-4


def test_permutation_entropy_matches_python_mirror(spark, sf_dir):
    x = list(daily_sums(spark, sf_dir).values())
    pats = Counter()
    for a, b, c in zip(x, x[1:], x[2:]):
        r0 = (b < a) + (c < a)
        r1 = (a <= b) + (c < b)
        r2 = (a <= c) + (b <= c)
        pats[r0 * 100 + r1 * 10 + r2] += 1
    n = sum(pats.values())
    h = sum(-(c / n) * math.log(c / n) for c in pats.values())
    row = permutation_entropy_daily_values(spark, sf_dir).collect()[0]
    assert row["n_triples"] == n
    assert row["n_patterns"] == len(pats)
    assert abs(row["perm_entropy"] - h) < 1e-5
    assert abs(row["perm_entropy_norm"] - h / math.log(6)) < 1e-5
    assert 0.0 <= row["perm_entropy_norm"] <= 1.0 + 1e-9


def test_bartels_rank_matches_python_mirror(spark, sf_dir):
    x = list(daily_sums(spark, sf_dir).values())
    n = len(x)
    sx = sorted(x)
    # doubled average ranks with ties
    dr = []
    for v in x:
        lo = sum(1 for u in sx if u < v)
        t = sum(1 for u in sx if u == v)
        dr.append(2 * lo + t + 1)
    num = sum((a - b) ** 2 for a, b in zip(dr, dr[1:]))
    den = sum((a - (n + 1)) ** 2 for a in dr)
    rvn = num / den
    z = (rvn - 2.0) / math.sqrt(20.0 / (5 * n + 7))
    row = bartels_rank_test_daily_values(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert abs(row["rvn_ratio"] - rvn) < 1e-5
    assert abs(row["z_score"] - z) < 1e-4
    assert row["nonrandom"] == (abs(round(z, 6)) > 1.959964)


def test_cox_stuart_matches_python_mirror(spark, sf_dir):
    x = list(daily_sums(spark, sf_dir).values())
    n = len(x)
    c = math.ceil(n / 2)
    pairs = [(x[i], x[i + c]) for i in range(n - c)]
    m = sum(1 for a, b in pairs if a != b)
    s = sum(1 for a, b in pairs if b > a)
    z = (2 * s - m) / math.sqrt(m)
    row = cox_stuart_trend_daily(spark, sf_dir).collect()[0]
    assert row["n_pairs"] == n // 2
    assert row["m_untied"] == m
    assert row["s_pos"] == s
    assert abs(row["z_score"] - z) < 1e-5


def test_theils_u_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type", "CAST(weekday(ts) + 1 AS INT) AS isodow")
        .collect()
    )
    xy = Counter((r["event_type"], r["isodow"]) for r in rows)
    xs = Counter(k[0] for k in xy.elements())
    ys = Counter(k[1] for k in xy.elements())
    n = len(rows)

    def ent(counter):
        return sum(
            (c / n) * (math.log(n) - math.log(c)) for c in counter.values()
        )

    hx, hy, hxy = ent(xs), ent(ys), ent(xy)
    i = hx + hy - hxy
    row = theils_u_event_type_dow(spark, sf_dir).collect()[0]
    assert row["n"] == n
    assert abs(row["h_type"] - hx) < 1e-5
    assert abs(row["h_dow"] - hy) < 1e-5
    assert abs(row["h_joint"] - hxy) < 1e-5
    assert abs(row["u_type_given_dow"] - i / hx) < 1e-4
    assert abs(row["u_dow_given_type"] - i / hy) < 1e-4
    assert abs(row["u_symmetric"] - 2 * i / (hx + hy)) < 1e-4
    assert 0.0 - 1e-9 <= row["u_type_given_dow"] <= 1.0 + 1e-9


def test_local_clustering_matches_python_mirror(spark, sf_dir):
    """c_v recomputed from an explicit adjacency-set graph build."""

    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    per_order = defaultdict(set)
    for r in rows:
        per_order[r["l_orderkey"]].add(r["l_partkey"])
    support = defaultdict(int)
    for parts in per_order.values():
        for a, b in combinations(sorted(parts), 2):
            support[(a, b)] += 1
    adj = defaultdict(set)
    for (a, b), s in support.items():
        if s >= 2:
            adj[a].add(b)
            adj[b].add(a)
    cc = {}
    for v, nb in adj.items():
        d = len(nb)
        if d < 2:
            continue
        t = sum(
            1 for a, b in combinations(sorted(nb), 2) if b in adj[a]
        )
        cc[v] = (d, t, round(2.0 * t / (d * (d - 1)), 6))
    avg = round(sum(c for _, _, c in cc.values()) / len(cc), 6)
    expect = sorted(cc.items(), key=lambda kv: (-kv[1][2], kv[0]))[:15]
    got = local_clustering_topk_parts(spark, sf_dir).collect()
    assert len(got) == min(15, len(cc))
    for row, (node, (d, t, c)) in zip(got, expect):
        assert row["part"] == node
        assert row["degree"] == d
        assert row["triangles"] == t
        assert abs(row["local_cc"] - c) < 1e-9
        assert abs(row["avg_local_cc"] - avg) < 1e-5


def test_hurst_rs_matches_python_mirror(spark, sf_dir):
    x = list(daily_sums(spark, sf_dir).values())
    n = len(x)
    pts = []
    for s in _HURST_SIZES:
        if s > n:
            continue
        rss = []
        for b in range(n // s):
            blk = x[b * s : (b + 1) * s]
            m = round(sum(blk) / s, 9)
            dv = [v - m for v in blk]
            z, cum = [], 0.0
            for d in dv:
                cum += d
                z.append(cum)
            r = max(z) - min(z)
            sd = math.sqrt(round(sum(d * d for d in dv) / s, 9))
            if sd > 0:
                rss.append(round(r / sd, 9))
        if rss:
            mean_rs = round(sum(rss) / len(rss), 9)
            if mean_rs > 0:
                pts.append(
                    (round(math.log(s), 9), round(math.log(mean_rs), 9))
                )
    k = len(pts)
    su = sum(u for u, _ in pts)
    sv = sum(v for _, v in pts)
    suv = sum(u * v for u, v in pts)
    suu = sum(u * u for u, _ in pts)
    h = (k * suv - su * sv) / (k * suu - su * su)
    row = hurst_rs_daily_values(spark, sf_dir).collect()[0]
    assert row["n_sizes"] == k
    assert abs(row["hurst_h"] - h) < 1e-4
    assert row["persistent"] == (round(h, 6) > 0.5)


def test_esd_outliers_matches_python_mirror(spark, sf_dir):
    """Three remove-and-retest passes replayed in python, including the
    shrinking-σ masking behavior."""

    cur = daily_sums(spark, sf_dir)
    expect = []
    for it in range(1, 4):
        n = len(cur)
        sx = sum(cur.values())
        sxx = sum(v * v for v in cur.values())
        m = round(sx / n, 9)
        sd = round(math.sqrt(round((sxx - sx * sx / n) / (n - 1), 9)), 9)
        day = min(cur, key=lambda d: (-abs(cur[d] - m), d))
        z = round(abs(cur[day] - m) / sd, 6)
        expect.append((it, day, cur[day], z))
        del cur[day]
    got = esd_outliers_daily(spark, sf_dir).collect()
    assert len(got) == 3
    for row, (it, day, x, z) in zip(got, expect):
        assert row["iteration"] == it
        assert row["day"] == day
        assert abs(row["x"] - x) < 1e-6
        assert abs(row["z"] - z) < 1e-4
        assert row["flagged"] == (z > 3.0)


def test_transfer_entropy_matches_python_mirror(spark, sf_dir):
    pv = daily_pv_sums(spark, sf_dir)
    p = [ps for ps, _ in pv.values()]
    v = [vs for _, vs in pv.values()]
    mp = round(sum(p) / len(p), 9)
    mv = round(sum(v) / len(v), 9)
    y = [1 if a > mp else 0 for a in p]
    x = [1 if a > mv else 0 for a in v]

    def te(tgt, src):
        c3 = Counter(
            (tgt[i + 1], tgt[i], src[i]) for i in range(len(tgt) - 1)
        )
        n = sum(c3.values())
        cy0 = Counter()
        c2a = Counter()
        c2b = Counter()
        for (t1, t0, s0), c in c3.items():
            cy0[t0] += c
            c2a[(t0, s0)] += c
            c2b[(t1, t0)] += c
        out = 0.0
        for (t1, t0, s0), c in c3.items():
            out += round(
                (c / n)
                * (
                    round(math.log(c), 9)
                    + round(math.log(cy0[t0]), 9)
                    - round(math.log(c2a[(t0, s0)]), 9)
                    - round(math.log(c2b[(t1, t0)]), 9)
                ),
                12,
            )
        return n, round(out, 6)

    n, fwd = te(y, x)
    _, rev = te(x, y)
    row = transfer_entropy_view_purchase_daily(spark, sf_dir).collect()[0]
    assert row["n_transitions"] == n
    assert abs(row["te_view_to_purchase"] - fwd) < 1e-6
    assert abs(row["te_purchase_to_view"] - rev) < 1e-6
    assert (
        abs(row["net_flow_view_to_purchase"] - round(fwd - rev, 6)) < 1e-6
    )


def test_croston_matches_python_mirror(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    d0 = min(r["l_shipdate"].date() for r in rows)
    acc = defaultdict(Decimal)
    for r in rows:
        if r["l_partkey"] == 0:
            acc[r["l_shipdate"].date()] += Decimal(str(r["l_quantity"]))
    pts = sorted(
        ((d - d0).days + 1, float(z)) for d, z in acc.items()
    )
    i1, z1 = pts[0]
    sz, sq, prev = z1, float(i1), i1
    a = _CROSTON_ALPHA
    for i, z in pts[1:]:
        sz = a * z + (1 - a) * sz
        sq = a * (i - prev) + (1 - a) * sq
        prev = i
    row = croston_intermittent_demand_part(spark, sf_dir).collect()[0]
    assert row["n_demand_days"] == len(pts)
    assert abs(row["ses_demand"] - sz) < 1e-5
    assert abs(row["ses_interval_days"] - sq) < 1e-5
    assert abs(row["croston_daily_rate"] - sz / sq) < 1e-5


def test_theta_method_matches_python_mirror(spark, sf_dir):
    x = list(daily_sums(spark, sf_dir).values())
    # NB: t here is the positional index; events cover every calendar
    # day in the fixtures so it equals the datediff index
    n = len(x)
    t = list(range(n))
    st, sx = sum(t), sum(x)
    stx = sum(a * b for a, b in zip(t, x))
    stt = sum(a * a for a in t)
    b1 = round((n * stx - st * sx) / (n * stt - st * st), 9)
    b0 = round((sx - ((n * stx - st * sx) / (n * stt - st * st)) * st) / n, 9)
    y2 = [2 * v - (b0 + b1 * i) for i, v in zip(t, x)]
    ses = y2[0]
    for v in y2[1:]:
        ses = 0.5 * v + 0.5 * ses
    f1 = 0.5 * (ses + (b0 + b1 * (n - 1 + 1)))
    f7 = 0.5 * (ses + (b0 + b1 * (n - 1 + 7)))
    row = theta_method_forecast_daily(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert abs(row["drift_per_day"] - b1) < 1e-6
    assert abs(row["ses_theta2"] - ses) < 1e-4
    assert abs(row["forecast_1d"] - f1) < 1e-3
    assert abs(row["forecast_7d"] - f7) < 1e-3


def test_spectral_entropy_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("CAST(ts AS DATE) AS day")
        .collect()
    )
    counts = Counter(r["day"] for r in rows)
    days = sorted(counts)
    y = [counts[d] for d in days]
    n = len(y)
    mean = sum(y) / n
    yc = [v - mean for v in y]
    powers = []
    for k in range(1, min(_SPEC_K, n // 2) + 1):
        ak = sum(
            round(math.cos(2 * math.pi * k * d / n), 9) * yc[d]
            for d in range(n)
        )
        bk = sum(
            round(math.sin(2 * math.pi * k * d / n), 9) * yc[d]
            for d in range(n)
        )
        p = round((ak * ak + bk * bk) * 2.0 / n, 9)
        if p > 0:
            powers.append(p)
    ptot = sum(powers)
    h = sum(-(p / ptot) * math.log(p / ptot) for p in powers)
    row = spectral_entropy_daily_events(spark, sf_dir).collect()[0]
    assert row["n_harmonics"] == len(powers)
    assert abs(row["spectral_entropy"] - h) < 1e-4
    assert abs(row["spectral_entropy_norm"] - h / math.log(len(powers))) < 1e-4


def test_seasonal_mann_kendall_matches_python_mirror(spark, sf_dir):
    per_g = defaultdict(list)
    for d, v in daily_sums(spark, sf_dir).items():
        per_g[d.isoweekday()].append(v)
    s_tot = pairs = n = 0
    var_tot = 0.0
    for g, xs in per_g.items():
        ng = len(xs)
        n += ng
        s = 0
        for i in range(ng):
            for j in range(i + 1, ng):
                pairs += 1
                s += (xs[j] > xs[i]) - (xs[j] < xs[i])
        s_tot += s
        ties = defaultdict(int)
        for v in xs:
            ties[v] += 1
        tt = sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
        var_tot += round((ng * (ng - 1) * (2 * ng + 5) - tt) / 18.0, 9)

    if s_tot > 0:
        z = (s_tot - 1) / math.sqrt(var_tot)
    elif s_tot < 0:
        z = (s_tot + 1) / math.sqrt(var_tot)
    else:
        z = 0.0
    row = seasonal_mann_kendall_daily(spark, sf_dir).collect()[0]
    assert row["n"] == n
    assert row["n_seasons"] == len(per_g)
    assert row["n_pairs"] == pairs
    assert row["s_total"] == s_tot
    assert abs(row["var_total"] - var_tot) < 1e-4
    assert abs(row["z"] - z) < 1e-6


def test_kendalls_w_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "CAST(weekday(ts) + 1 AS INT) AS g", "event_type", "value"
        )
        .collect()
    )
    acc = defaultdict(Decimal)
    for r in rows:
        acc[(r["g"], r["event_type"])] += Decimal(str(r["value"]))
    cells = {k: round(float(v), 9) for k, v in acc.items()}
    judges = sorted({g for g, _ in cells})
    items = sorted({e for _, e in cells})
    m, k = len(judges), len(items)
    r2 = defaultdict(int)
    tt = 0
    for g in judges:
        vals = [(cells[(g, e)], e) for e in items if (g, e) in cells]
        by_v = defaultdict(list)
        for v, e in vals:
            by_v[v].append(e)
        seen = 0
        for v in sorted(by_v):
            t = len(by_v[v])
            dr = 2 * seen + t + 1
            for e in by_v[v]:
                r2[e] += dr
            seen += t
            tt += t**3 - t
    sd2 = sum((r2[e] - m * (k + 1)) ** 2 for e in items)
    w = 3.0 * sd2 / (m * m * (k**3 - k) - m * tt)
    chi2 = round(m * (k - 1) * round(w, 6), 6)
    row = kendalls_w_weekday_event_types(spark, sf_dir).collect()[0]
    assert row["n_judges"] == m
    assert row["n_items"] == k
    assert abs(row["kendalls_w"] - w) < 1e-6
    assert abs(row["chi2"] - chi2) < 1e-6
    assert 0.0 <= row["kendalls_w"] <= 1.0 + 1e-9


def test_dagostino_k2_matches_scipy_formula(spark, sf_dir):
    """Z1/Z2/K² recomputed with the published transform chain (scipy's
    normaltest algebra) from the same rounded moments."""

    x = list(daily_sums(spark, sf_dir).values())
    n = len(x)
    mu = round(sum(x) / n, 9)
    m2 = round(sum(v * v for v in x) / n - mu * mu, 9)
    m3 = round(
        sum(v**3 for v in x) / n
        - 3 * mu * (sum(v * v for v in x) / n)
        + 2 * mu**3,
        9,
    )
    m4 = round(
        sum(v**4 for v in x) / n
        - 4 * mu * (sum(v**3 for v in x) / n)
        + 6 * mu * mu * (sum(v * v for v in x) / n)
        - 3 * mu**4,
        9,
    )
    g1 = m3 / (m2 * math.sqrt(m2))
    b2 = m4 / (m2 * m2)
    y = g1 * math.sqrt((n + 1) * (n + 3) / (6 * (n - 2)))
    beta2 = (
        3
        * (n * n + 27 * n - 70)
        * (n + 1)
        * (n + 3)
        / ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    )
    w2 = math.sqrt(2 * (beta2 - 1)) - 1
    delta = 1 / math.sqrt(math.log(math.sqrt(w2)))
    alpha = math.sqrt(2 / (w2 - 1))
    z1 = delta * math.log(y / alpha + math.sqrt((y / alpha) ** 2 + 1))
    eb2 = 3 * (n - 1) / (n + 1)
    vb2 = 24 * n * (n - 2) * (n - 3) / ((n + 1) ** 2 * (n + 3) * (n + 5))
    xk = (b2 - eb2) / math.sqrt(vb2)
    sb1 = (
        6
        * (n * n - 5 * n + 2)
        / ((n + 7) * (n + 9))
        * math.sqrt(6 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    )
    aa = 6 + 8 / sb1 * (2 / sb1 + math.sqrt(1 + 4 / sb1**2))
    inner = (1 - 2 / aa) / (1 + xk * math.sqrt(2 / (aa - 4)))
    cbrt = math.copysign(abs(inner) ** (1 / 3), inner)
    z2 = (1 - 2 / (9 * aa) - cbrt) * math.sqrt(9 * aa / 2)
    k2 = round(z1, 6) ** 2 + round(z2, 6) ** 2
    row = dagostino_k2_daily_values(spark, sf_dir).collect()[0]
    assert row["n"] == n
    assert abs(row["skewness"] - g1) < 1e-5
    assert abs(row["kurtosis"] - b2) < 1e-5
    assert abs(row["z_skew"] - z1) < 1e-4
    assert abs(row["z_kurt"] - z2) < 1e-4
    assert abs(row["k2_stat"] - k2) < 1e-3
    assert row["non_normal"] == (row["k2_stat"] > 5.991465)


def test_zone_map_skip_matches_python_mirror(spark, sf_dir):
    """Both layouts' zone maps and the 12-window probe replayed in
    python; date_range must dominate hash_scatter."""

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_orderkey", "CAST(o_orderdate AS DATE) AS d")
        .collect()
    )
    dmin = min(r["d"] for r in rows)
    dmax = max(r["d"] for r in rows)
    width = (dmax - dmin).days // _ZONE_BUCKETS + 1
    zones = defaultdict(lambda: [None, None])
    for r in rows:
        for layout, b in (
            ("hash_scatter", r["o_orderkey"] % _ZONE_BUCKETS),
            ("date_range", (r["d"] - dmin).days // width),
        ):
            z = zones[(layout, b)]
            z[0] = r["d"] if z[0] is None else min(z[0], r["d"])
            z[1] = r["d"] if z[1] is None else max(z[1], r["d"])

    def add_months(d, k):
        y, m = d.year, d.month - 1 + k
        return d.replace(year=y + m // 12, month=m % 12 + 1, day=1)

    windows = [
        (add_months(dmin, 24 + i), add_months(dmin, 25 + i))
        for i in range(12)
    ]
    per = defaultdict(lambda: [0, 0])
    for (layout, b), (zmin, zmax) in zones.items():
        for qs, qe in windows:
            per[layout][1] += 1
            if zmax < qs or zmin >= qe:
                per[layout][0] += 1
    got = {r["layout"]: r for r in zone_map_skip_report_orders(spark, sf_dir).collect()}
    for layout in ("hash_scatter", "date_range"):
        skip, tot = per[layout]
        assert got[layout]["skippable_pairs"] == skip
        assert abs(got[layout]["skip_fraction"] - skip / tot) < 1e-6
    assert (
        got["date_range"]["skip_fraction"]
        >= got["hash_scatter"]["skip_fraction"]
    )


def test_ansari_bradley_matches_python_mirror(spark, sf_dir):
    """AB scores recomputed naively (per-position min(rank, N+1-rank)
    with tie averaging) and the conditional moments from the observed
    score vector."""

    xs, ys = _pv_values(spark, sf_dir)
    pooled = sorted([(v, 1) for v in xs] + [(v, 2) for v in ys])
    n = len(pooled)
    base = [min(p, n + 1 - p) for p in range(1, n + 1)]
    by_v = defaultdict(list)
    for pos, (v, grp) in enumerate(pooled):
        by_v[v].append((pos, grp))
    scores = {}
    for v, members in by_v.items():
        avg = sum(base[pos] for pos, _ in members) / len(members)
        scores[v] = avg
    w = sum(scores[v] for v in xs)
    all_scores = [scores[v] for v, _ in pooled]
    s_tot = sum(all_scores)
    ss_tot = sum(s * s for s in all_scores)
    n1, n2 = len(xs), len(ys)
    sbar = s_tot / n
    ew = n1 * sbar
    var = n1 * n2 * (ss_tot - n * sbar * sbar) / (n * (n - 1))
    z = (w - ew) / math.sqrt(var)
    row = ansari_bradley_purchase_view(spark, sf_dir).collect()[0]
    assert row["n1"] == n1 and row["n2"] == n2
    assert abs(row["ab_w"] - w) < 1e-3
    assert abs(row["expected_w"] - ew) < 1e-3
    assert abs(row["z_score"] - z) < 1e-4


def test_competing_risks_cif_matches_python_mirror(spark, sf_dir):
    """Aalen–Johansen CIFs recomputed in python, plus the identity
    CIF1 + CIF2 = 1 − KM at every published time."""

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "ts", "event_type")
        .collect()
    )

    per = {}
    end = None
    for r in rows:
        u = r["user_id"]
        cur = per.get(u)
        if cur is None:
            per[u] = [r["ts"], r["ts"], r["event_type"]]
        else:
            if r["ts"] < cur[0]:
                cur[0] = r["ts"]
            if (r["ts"], r["event_type"]) > (cur[1], cur[2]):
                if r["ts"] > cur[1]:
                    cur[1], cur[2] = r["ts"], r["event_type"]
                elif r["ts"] == cur[1] and r["event_type"] > cur[2]:
                    cur[2] = r["event_type"]
        end = r["ts"] if end is None else max(end, r["ts"])

    def hour_floor(t):
        return t.replace(minute=0, second=0, microsecond=0)

    grain = defaultdict(lambda: [0, 0, 0])
    for u, (f, l, lt) in per.items():
        t = int((hour_floor(l) - hour_floor(f)).total_seconds() // 3600)
        churn = l < end - datetime.timedelta(days=1)
        if churn and lt == "purchase":
            grain[t][0] += 1
        elif churn:
            grain[t][1] += 1
        else:
            grain[t][2] += 1
    tot = sum(sum(v) for v in grain.values())
    seen = 0
    s = 1.0
    cif1 = cif2 = 0.0
    expect = {}
    for t in sorted(grain):
        d1, d2, c = grain[t]
        n_risk = tot - seen
        seen += d1 + d2 + c
        sp = round(s, 9)
        if d1 + d2 > 0:
            cif1 += round(sp * d1 / n_risk, 12)
            cif2 += round(sp * d2 / n_risk, 12)
            f = 1 - (d1 + d2) / n_risk
            s = 0.0 if f <= 0 or s == 0.0 else s * f
            expect[t] = (n_risk, d1, d2, round(cif1, 6), round(cif2, 6), round(s, 6))
        else:
            f = 1 - (d1 + d2) / n_risk
            s = 0.0 if f <= 0 or s == 0.0 else s * f
    got = {r["t_hours"]: r for r in competing_risks_cif_retention(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for t, (n_risk, d1, d2, c1, c2, km) in expect.items():
        r = got[t]
        assert r["n_at_risk"] == n_risk
        assert r["d_purchase_exit"] == d1
        assert r["d_other_exit"] == d2
        assert abs(r["cif_purchase"] - c1) < 1e-5
        assert abs(r["cif_other"] - c2) < 1e-5
        assert abs(r["km_overall"] - km) < 1e-5
        assert (
            abs(
                (r["cif_purchase"] + r["cif_other"]) - (1.0 - r["km_overall"])
            )
            < 1e-4
        )


def test_bloom_index_probe_matches_python_mirror(spark, sf_dir):
    """Bitset replayed with hashlib; bloom_pass must superset
    true_buckets (no false negatives) for every probe."""

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr("o_custkey", "CAST(o_orderdate AS DATE) AS d")
        .collect()
    )
    dmin = min(r["d"] for r in rows)
    dmax = max(r["d"] for r in rows)
    width = (dmax - dmin).days // _ZONE_BUCKETS + 1

    def h(k, key):
        return (
            int(hashlib.md5(f"{k}:{key}".encode()).hexdigest()[:8], 16)
            % _BLOOM_IDX_BITS
        )

    bits = defaultdict(set)
    truth = defaultdict(set)
    for r in rows:
        b = (r["d"] - dmin).days // width
        for k in range(_BLOOM_IDX_K):
            bits[b].add(h(k, r["o_custkey"]))
        if r["o_custkey"] < 10:
            truth[r["o_custkey"]].add(b)
    got = {r["probe_custkey"]: r for r in bloom_index_probe_orders(spark, sf_dir).collect()}
    assert len(got) == 10
    for ck in range(10):
        pos = {h(k, ck) for k in range(_BLOOM_IDX_K)}
        passed = sum(1 for b, s in bits.items() if pos <= s)
        r = got[ck]
        assert r["bloom_pass"] == passed
        assert r["true_buckets"] == len(truth.get(ck, set()))
        assert r["false_positive_buckets"] == passed - len(truth.get(ck, set()))
        assert r["bloom_pass"] >= r["true_buckets"]  # no false negatives


def test_near_dup_threshold_sweep_matches_python_mirror(spark, sf_dir):
    """Pairs and keep-first drops recomputed with brute-force python
    shingle sets; the curve must be monotone nonincreasing in τ."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    corpus = {}
    for r in docs:
        toks = r["text"].strip().split()
        corpus[r["doc_id"]] = toks
        if r["doc_id"] % 20 == 0:
            keep = max(-(-len(toks) * 4 // 5), 1)
            corpus[r["doc_id"] + 1000000] = toks[:keep]
    sets = {
        d: {
            " ".join(t[i : i + 3])
            for i in range(max(len(t) - 2, 1))
        }
        for d, t in corpus.items()
    }
    ids = sorted(sets)
    pairs = []
    inv = defaultdict(set)
    for d, ss in sets.items():
        for sh in ss:
            inv[sh].add(d)
    cand = set()
    for ds in inv.values():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                cand.add((ds[i], ds[j]))
    for a, b in cand:
        inter = len(sets[a] & sets[b])
        jac = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
        if jac >= 0.3:
            pairs.append((a, b, jac))
    got = near_dup_threshold_sweep_documents(spark, sf_dir).collect()
    assert len(got) == 7
    prev_pairs = None
    for row in got:
        tau = row["threshold"]
        keep = [(a, b) for a, b, j in pairs if j >= tau]
        dropped = {b for _, b in keep}
        assert row["n_pairs"] == len(keep)
        assert row["docs_dropped"] == len(dropped)
        assert row["n_docs"] == len(corpus)
        assert abs(row["drop_fraction"] - len(dropped) / len(corpus)) < 1e-6
        if prev_pairs is not None:
            assert row["n_pairs"] <= prev_pairs
        prev_pairs = row["n_pairs"]


def test_ann_ivf_nprobe_sweep_structure_and_full_probe_exactness(
    spark, sf_dir
):
    """All gates must hold, and independently: probing all 16 cells must
    reproduce the exhaustive top-10 row set exactly."""

    got = ann_ivf_nprobe_sweep_embeddings(spark, sf_dir).collect()
    assert [r["nprobe"] for r in got] == [1, 2, 4, 8, 16]
    for r in got:
        assert r["recall_ok"] is True
        assert r["sweep_sound"] is True
        assert abs(r["cell_fraction"] - r["nprobe"] / 16.0) < 1e-9
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = _ann_query_batch(emb)
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(emb, q, k=10, n_centroids=16, nprobe=16).select(
            "query_id", "vec_id"
        ).collect()
    }
    brute = {
        (r["query_id"], r["vec_id"])
        for r in topk_cosine_batch(emb, q, k=10)
        .select("query_id", "vec_id")
        .collect()
    }
    assert full == brute


def test_ann_ivf_sweep_prefix_filter_matches_per_depth_ivf_topk(spark, sf_dir):
    """The sweep scores ONCE at full probe with a per-query
    probe-rank column and derives each depth as the prefix filter
    rank < nprobe. Pin its load-bearing contracts: (a) select_probe_cells
    at depth d is exactly the first d entries of the full-probe order, and
    (b) the prefix-filtered top-k is row-identical to an independent
    ivf_topk(nprobe=d) call for every swept depth."""

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = _ann_query_batch(emb)
    index = ivf_build_index(emb, q, n_centroids=16)
    centroids, assigned, qrows = index
    cents = np.array(centroids)
    pairs = []
    for r in qrows:
        qv = np.asarray(r["_qv"], dtype="float64")
        full = select_probe_cells(cents, qv, len(centroids))
        for d in (1, 2, 4, 8, 16):
            assert select_probe_cells(cents, qv, d) == full[:d]
        pairs.extend(
            (li, int(r["query_id"]), [float(x) for x in qv], rank)
            for rank, li in enumerate(full)
        )
    probes = spark.createDataFrame(
        pairs, "list_id int, query_id long, _qv array<double>, prank int"
    )
    scored = assigned.join(F.broadcast(probes), ["list_id"]).select(
        "query_id",
        "vec_id",
        cosine(F.col("_v"), F.col("_qv")).alias("score"),
        "prank",
    )
    for nprobe in (1, 2, 4, 8, 16):
        direct = sorted(
            map(
                tuple,
                ivf_topk(
                    emb, q, k=10, n_centroids=16, nprobe=nprobe, index=index
                ).collect(),
            )
        )
        prefix = sorted(
            map(
                tuple,
                topk_per_query(
                    scored.filter(F.col("prank") < nprobe).drop("prank"),
                    10,
                    "vec_id",
                ).collect(),
            )
        )
        assert direct == prefix


def test_hotelling_t2_matches_numpy(spark, sf_dir):
    wk = {0: [], 1: []}
    for d, pv in daily_pv_sums(spark, sf_dir).items():
        wk[1 if d.isoweekday() >= 6 else 0].append(pv)
    a = np.array(wk[0])
    b = np.array(wk[1])
    n1, n2 = len(a), len(b)
    d = a.mean(axis=0) - b.mean(axis=0)
    sp = (
        (a - a.mean(axis=0)).T @ (a - a.mean(axis=0))
        + (b - b.mean(axis=0)).T @ (b - b.mean(axis=0))
    ) / (n1 + n2 - 2)
    t2 = n1 * n2 / (n1 + n2) * float(d @ np.linalg.inv(sp) @ d)
    f = (n1 + n2 - 3) / (2 * (n1 + n2 - 2)) * t2
    row = hotelling_t2_weekpart_daily(spark, sf_dir).collect()[0]
    assert row["n_weekday"] == n1 and row["n_weekend"] == n2
    assert abs(row["t2_stat"] - t2) < max(1e-3, abs(t2) * 1e-4)
    assert abs(row["f_stat"] - f) < max(1e-3, abs(f) * 1e-4)
    assert row["df1"] == 2 and row["df2"] == n1 + n2 - 3


def test_mahalanobis_outliers_matches_numpy(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr(
            "l_orderkey",
            "l_linenumber",
            "CAST(l_quantity AS DOUBLE) AS x",
            "CAST(l_extendedprice AS DOUBLE) AS y",
        )
        .collect()
    )
    m = np.array([[r["x"], r["y"]] for r in rows])
    mu = m.mean(axis=0)
    cov = np.cov(m.T, ddof=1)
    inv = np.linalg.inv(cov)
    d2 = [
        (float((v - mu) @ inv @ (v - mu)), r["l_orderkey"], r["l_linenumber"])
        for v, r in zip(m, rows)
    ]
    d2.sort(key=lambda t: (-t[0], t[1], t[2]))
    got = mahalanobis_outliers_lineitem(spark, sf_dir).collect()
    assert len(got) == 10
    for row, (dd, ok, ln) in zip(got, d2[:10]):
        assert row["l_orderkey"] == ok and row["l_linenumber"] == ln
        assert abs(row["mahalanobis_d2"] - dd) < max(1e-3, dd * 1e-4)
        assert row["outlier_999"] == (row["mahalanobis_d2"] > 13.815511)


def test_cronbach_alpha_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id", "event_type", "value")
        .collect()
    )
    acc = defaultdict(lambda: defaultdict(Decimal))
    types = set()
    for r in rows:
        acc[r["user_id"]][r["event_type"]] += Decimal(str(r["value"]))
        types.add(r["event_type"])
    types = sorted(types)
    mat = {
        u: [float(acc[u].get(t, Decimal(0))) for t in types] for u in acc
    }
    n = len(mat)
    k = len(types)

    def var(vals):
        s = sum(vals)
        ss = sum(v * v for v in vals)
        return (ss - s * s / n) / (n - 1)

    item_vars = [var([mat[u][i] for u in mat]) for i in range(k)]
    totals = [sum(mat[u]) for u in mat]
    vt = var(totals)
    alpha = k / (k - 1) * (1 - sum(item_vars) / vt)
    got = {r["item"]: r for r in cronbach_alpha_event_types_users(spark, sf_dir).collect()}
    assert set(got) == set(types)
    for i, t in enumerate(types):
        r = got[t]
        assert r["n"] == n and r["k_items"] == k
        assert abs(r["alpha"] - alpha) < 1e-4
        dropped = [
            [mat[u][j] for j in range(k) if j != i] for u in mat
        ]
        dt = [sum(row) for row in dropped]
        vd = var(dt)
        sv = sum(item_vars[j] for j in range(k) if j != i)
        a_drop = (k - 1) / (k - 2) * (1 - sv / vd)
        assert abs(r["alpha_if_dropped"] - a_drop) < 1e-3


def test_odds_ratio_ci_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .selectExpr(
            "SUBSTRING(o_orderpriority, 1, 1) <= '2' AS hi",
            "o_orderstatus = 'F' AS f",
        )
        .collect()
    )
    a = sum(1 for r in rows if r["hi"] and r["f"])
    b = sum(1 for r in rows if r["hi"] and not r["f"])
    c = sum(1 for r in rows if not r["hi"] and r["f"])
    d = sum(1 for r in rows if not r["hi"] and not r["f"])
    corr = 0.5 if 0 in (a, b, c, d) else 0.0
    ad, bd, cd, dd = a + corr, b + corr, c + corr, d + corr
    lor = math.log(ad * dd / (bd * cd))
    se = math.sqrt(1 / ad + 1 / bd + 1 / cd + 1 / dd)
    row = odds_ratio_ci_priority_status_orders(spark, sf_dir).collect()[0]
    assert (row["a"], row["b"], row["c"], row["d"]) == (a, b, c, d)
    assert abs(row["odds_ratio"] - math.exp(lor)) < 1e-5
    assert abs(row["ci_low"] - math.exp(lor - 1.959964 * se)) < 1e-5
    assert abs(row["ci_high"] - math.exp(lor + 1.959964 * se)) < 1e-5
    assert row["ci_low"] <= row["odds_ratio"] <= row["ci_high"]


def test_canonical_correlation_matches_numpy(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("CAST(ts AS DATE) AS day", "event_type", "value")
        .collect()
    )
    acc = defaultdict(lambda: [Decimal(0), Decimal(0), 0, 0])
    for r in rows:
        e = acc[r["day"]]
        if r["event_type"] == "purchase":
            e[0] += Decimal(str(r["value"]))
        elif r["event_type"] == "view":
            e[1] += Decimal(str(r["value"]))
        elif r["event_type"] == "click":
            e[2] += 1
        elif r["event_type"] == "error":
            e[3] += 1
    m = np.array(
        [[float(a), float(b), c, d] for a, b, c, d in acc.values()]
    )
    n = len(m)
    mc = m - m.mean(axis=0)
    S = mc.T @ mc
    A, B, C = S[:2, :2], S[2:, 2:], S[:2, 2:]
    M = np.linalg.inv(A) @ C @ np.linalg.inv(B) @ C.T
    lams = sorted(np.linalg.eigvals(M).real, reverse=True)
    row = canonical_correlation_daily(spark, sf_dir).collect()[0]
    assert row["n_days"] == n

    assert abs(row["rho1"] - math.sqrt(max(lams[0], 0))) < 1e-4
    assert abs(row["rho2"] - math.sqrt(max(lams[1], 0))) < 1e-4
    wilks = (1 - lams[0]) * (1 - lams[1])
    assert abs(row["wilks_lambda"] - wilks) < 1e-4
    chi2 = -(n - 1 - 2.5) * math.log(wilks)
    assert abs(row["bartlett_chi2"] - chi2) < 1e-2
    assert 0 <= row["rho2"] <= row["rho1"] <= 1.0 + 1e-9


def test_quade_matches_python_mirror(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr(
            "CAST(weekday(ts) + 1 AS INT) AS g", "event_type", "value"
        )
        .collect()
    )
    acc = defaultdict(lambda: [Decimal(0), 0])
    for r in rows:
        e = acc[(r["g"], r["event_type"])]
        e[0] += Decimal(str(r["value"]))
        e[1] += 1
    cells = {k: round(float(v[0]) / v[1], 9) for k, v in acc.items()}
    blocks = sorted({g for g, _ in cells})
    items = sorted({t for _, t in cells})
    n, k = len(blocks), len(items)

    def dranks(vals):
        """value -> doubled average rank."""
        cnt = Counter(vals)
        out = {}
        seen = 0
        for v in sorted(cnt):
            t = cnt[v]
            out[v] = 2 * seen + t + 1
            seen += t
        return out

    rngs = {}
    dr = {}
    for g in blocks:
        vals = [cells[(g, t)] for t in items]
        rk = dranks(vals)
        for t in items:
            dr[(g, t)] = rk[cells[(g, t)]]
        rngs[g] = max(vals) - min(vals)
    dq = dranks(list(rngs.values()))
    s4 = {
        (g, t): dq[rngs[g]] * (dr[(g, t)] - (k + 1))
        for g in blocks
        for t in items
    }
    sa = sum(v * v for v in s4.values())
    sb = sum(
        sum(s4[(g, t)] for g in blocks) ** 2 for t in items
    )
    a_minus_b = sa - sb / n
    f = (n - 1) * (sb / n) / a_minus_b if a_minus_b > 0 else None
    row = quade_test_event_type_values(spark, sf_dir).collect()[0]
    assert row["n_blocks"] == n and row["k_treatments"] == k
    assert row["df1"] == k - 1 and row["df2"] == (n - 1) * (k - 1)
    if f is None:
        assert row["f_stat"] is None and row["significant"] is True
    else:
        assert abs(row["f_stat"] - f) < 1e-4
        assert row["significant"] == (round(f, 6) > 2.776289)


def test_box_m_matches_numpy(spark, sf_dir):
    mat = daily_pv_sums(spark, sf_dir)
    g = {0: [], 1: []}
    for d, xy in mat.items():
        g[1 if d.isoweekday() >= 6 else 0].append(xy)
    a, b = np.array(g[0]), np.array(g[1])
    n1, n2 = len(a), len(b)
    s1 = np.cov(a.T, ddof=1)
    s2 = np.cov(b.T, ddof=1)
    sp = ((n1 - 1) * s1 + (n2 - 1) * s2) / (n1 + n2 - 2)
    m = (
        (n1 + n2 - 2) * math.log(np.linalg.det(sp))
        - (n1 - 1) * math.log(np.linalg.det(s1))
        - (n2 - 1) * math.log(np.linalg.det(s2))
    )
    c = (13.0 / 18.0) * (
        1 / (n1 - 1) + 1 / (n2 - 1) - 1 / (n1 + n2 - 2)
    )
    chi2 = m * (1 - c)
    row = box_m_test_weekpart_daily(spark, sf_dir).collect()[0]
    assert row["n_weekday"] == n1 and row["n_weekend"] == n2
    assert abs(row["box_m"] - m) < max(1e-3, abs(m) * 1e-3)
    assert abs(row["chi2"] - chi2) < max(1e-3, abs(chi2) * 1e-3)
    assert row["df"] == 3


def test_mardia_matches_numpy(spark, sf_dir):
    mat = np.array(list(daily_pv_sums(spark, sf_dir).values()))
    n = len(mat)
    mu = mat.mean(axis=0)
    c = (mat - mu).T @ (mat - mu) / n
    inv = np.linalg.inv(c)
    z = mat - mu
    d = z @ inv @ z.T
    b1 = float((d**3).sum()) / (n * n)
    b2 = float((np.diag(d) ** 2).sum()) / n
    skew_a = n * b1 / 6
    kurt_z = (b2 - 8.0) / math.sqrt(64.0 / n)
    row = mardia_normality_daily(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert abs(row["mardia_b1"] - b1) < max(1e-3, abs(b1) * 1e-3)
    assert abs(row["mardia_b2"] - b2) < max(1e-3, abs(b2) * 1e-3)
    assert abs(row["skew_chi2"] - skew_a) < max(1e-2, abs(skew_a) * 1e-3)
    assert abs(row["kurt_z"] - kurt_z) < max(1e-3, abs(kurt_z) * 1e-3)


def test_greenwood_km_ci_matches_python_mirror(spark, sf_dir):
    """Greenwood SE and cloglog bands recomputed from the KM replay;
    bands must bracket the estimate."""

    per = defaultdict(lambda: [0, 0])
    for hrs, churn, _ in _retention_durations(spark, sf_dir):
        per[hrs][0 if churn else 1] += 1
    tot = sum(d + c for d, c in per.values())
    seen = 0
    s = 1.0
    gw = 0.0
    expect = {}
    for t in sorted(per):
        d, c = per[t]
        n = tot - seen
        seen += d + c
        f = 1 - d / n
        s = 0.0 if f <= 0 or s == 0.0 else s * f
        if n > d:
            gw += round(d / (n * (n - d)), 12)
        if d > 0:
            sr = round(s, 9)
            row = [n, d, round(sr, 6), None, None, None]
            if 0.0 < sr < 1.0:
                se_t = math.sqrt(gw) / abs(math.log(sr))
                row[3] = round(sr * math.sqrt(gw), 6)
                row[4] = round(
                    math.exp(math.log(sr) * math.exp(1.959964 * se_t)), 6
                )
                row[5] = round(
                    math.exp(math.log(sr) * math.exp(-1.959964 * se_t)), 6
                )
            expect[t] = row
    got = {r["t_hours"]: r for r in greenwood_km_ci_retention(spark, sf_dir).collect()}
    assert set(got) == set(expect)
    for t, (n, d, sv, se, lo, hi) in expect.items():
        r = got[t]
        assert r["n_at_risk"] == n and r["d_events"] == d
        assert abs(r["survival"] - sv) < 1e-6
        if se is None:
            assert r["greenwood_se"] is None
        else:
            assert abs(r["greenwood_se"] - se) < 1e-5
            assert abs(r["ci_low"] - lo) < 1e-4
            assert abs(r["ci_high"] - hi) < 1e-4
            assert r["ci_low"] <= r["survival"] <= r["ci_high"]


def test_siegel_slope_matches_python_mirror(spark, sf_dir):
    """Median-of-per-point-medians replayed with the explicit
    position-selection convention; plus the 50% breakdown sanity that
    Siegel lies within the range of per-point medians."""

    x = list(daily_sums(spark, sf_dir).values())
    n = len(x)
    t = list(range(n))

    def med(vals):
        vs = sorted(vals)
        m = len(vs)
        lo, hi = (m + 1) // 2, (m + 2) // 2
        picked = vs[lo - 1 : hi]
        return sum(picked) / len(picked)

    mis = []
    for i in range(n):
        mis.append(
            med(
                [
                    (x[j] - x[i]) / (t[j] - t[i])
                    for j in range(n)
                    if j != i
                ]
            )
        )
    slope = med(mis)
    icept = med([x[i] - slope * t[i] for i in range(n)])
    row = siegel_slope_daily_trend(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert abs(row["siegel_slope"] - slope) < 1e-5
    assert abs(row["siegel_intercept"] - icept) < 1e-4
    assert min(mis) - 1e-9 <= row["siegel_slope"] <= max(mis) + 1e-9


def test_cochrane_orcutt_matches_python_mirror(spark, sf_dir):
    x = list(daily_sums(spark, sf_dir).values())
    n = len(x)
    t = list(range(n))

    def ols(tt, xx):
        m = len(tt)
        st, sx = sum(tt), sum(xx)
        stx = sum(a * b for a, b in zip(tt, xx))
        stt = sum(a * a for a in tt)
        b1 = round((m * stx - st * sx) / (m * stt - st * st), 9)
        b0 = round((sx - ((m * stx - st * sx) / (m * stt - st * st)) * st) / m, 9)
        return b0, b1

    b0, b1 = ols(t, x)
    e = [x[i] - (b0 + b1 * t[i]) for i in range(n)]
    rho = round(
        sum(e[i] * e[i - 1] for i in range(1, n))
        / sum(e[i - 1] ** 2 for i in range(1, n)),
        9,
    )
    ts = [t[i] - rho * t[i - 1] for i in range(1, n)]
    xs = [x[i] - rho * x[i - 1] for i in range(1, n)]
    _, b1_co = ols(ts, xs)
    row = cochrane_orcutt_daily_trend(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert abs(row["rho_hat"] - rho) < 1e-8
    assert abs(row["slope_ols"] - b1) < 1e-6
    assert abs(row["slope_co"] - b1_co) < 1e-5
    assert abs(row["rel_shift"] - (b1_co - b1) / abs(b1)) < 1e-4


def test_cusum_squares_matches_python_mirror(spark, sf_dir):
    acc = daily_sums(spark, sf_dir)
    days, x = list(acc), list(acc.values())
    rs = [
        (days[i], round((x[i] - x[i - 1]) ** 2, 9))
        for i in range(1, len(x))
    ]
    m = len(rs)
    tot = sum(v for _, v in rs)
    best = (-1.0, None)
    cum = 0.0
    for k, (d, v) in enumerate(rs, start=1):
        cum += v
        dev = abs(cum / tot - k / m)
        if dev > best[0] + 1e-15:
            best = (dev, d)
    row = cusum_squares_daily(spark, sf_dir).collect()[0]
    assert row["n_diffs"] == m
    assert row["break_day"] == best[1]
    assert abs(row["cusum_sq_stat"] - best[0]) < 1e-5
    assert abs(row["crit_05"] - 1.358 / math.sqrt(m)) < 1e-6


def test_variance_ratio_matches_python_mirror(spark, sf_dir):
    x = list(daily_sums(spark, sf_dir).values())
    nn = len(x)
    n = nn - 1  # returns
    mu = round((x[-1] - x[0]) / n, 9)
    s1 = sum(round((x[i] - x[i - 1] - mu) ** 2, 9) for i in range(1, nn))
    q = _VR_Q
    sq = sum(
        round((x[i] - x[i - q] - q * mu) ** 2, 9) for i in range(q, nn)
    )
    var1 = s1 / (n - 1)
    varq = sq / (q * (n - q + 1) * (1 - q / n))
    vr = varq / (q * var1)
    z = (vr - 1) / math.sqrt(2 * (2 * q - 1) * (q - 1) / (3 * q * n))
    row = variance_ratio_daily(spark, sf_dir).collect()[0]
    assert row["n_returns"] == n and row["q"] == q
    assert abs(row["variance_ratio"] - vr) < 1e-5
    assert abs(row["z_score"] - z) < 1e-4


def test_turning_points_matches_python_mirror(spark, sf_dir):
    x = list(daily_sums(spark, sf_dir).values())
    n = len(x)
    t = sum(
        1
        for a, b, c in zip(x, x[1:], x[2:])
        if (b > a and b > c) or (b < a and b < c)
    )
    e = 2 * (n - 2) / 3
    z = (t - e) / math.sqrt((16 * n - 29) / 90)
    row = turning_points_daily(spark, sf_dir).collect()[0]
    assert row["n_days"] == n
    assert row["turning_points"] == t
    assert abs(row["expected"] - e) < 1e-6
    assert abs(row["z_score"] - z) < 1e-5
