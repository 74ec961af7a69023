"""Round-10 operator pins: the IVF-PQ sample-model composition replay and
the round's other additions. The hash gate is the DuckDB oracle
(tools/check_oracle.py / the driver); these tests pin structure the value
hash cannot see — self-query identity, rank contiguity, plan shape."""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from decimal import Decimal
from itertools import permutations

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators.analytics_checks import (
    bowker_symmetry_event_transitions,
    cliffs_delta_purchase_view,
    degree_assortativity_copurchase_parts,
    hhi_brand_concentration_by_category,
    kruskal_wallis_event_values,
    label_propagation_communities_parts,
    markov_entropy_rate_event_types,
    markov_removal_attribution_events,
    shapley_attribution_events,
)
from data_ingestion_pipeline_spark.operators.inference_stats import (
    cmh_test_arm_purchase_by_cohort,
    cox_ph_retention_arms,
    fisher_exact_region_priority_orders,
    huber_regression_price_quantity,
    lad_regression_price_quantity,
    mcnemar_weekday_weekend_purchase,
    nelson_aalen_hazard_retention,
    partial_corr_purchase_view_daily,
    poisson_dispersion_daily,
    poisson_glm_daily_trend,
    qini_uplift_curve_users,
    theil_atkinson_customer_spend,
    tost_equivalence_ab_value,
)
from data_ingestion_pipeline_spark.operators.llm_data import (
    ann_ivfpq_sample_adc_topk_embeddings,
    leakage_safe_split_documents,
)
from data_ingestion_pipeline_spark.operators.mlprep_checks import (
    als_rank1_part_factors,
    chao1_trigram_richness_documents,
    jl_projection_distortion_embeddings,
)
from data_ingestion_pipeline_spark.operators.timeseries_checks import (
    binseg_changepoint_daily,
    jarque_bera_daily_values,
    ljung_box_daily_values,
    newey_west_daily_trend,
    periodogram_daily_events,
    runs_test_daily_values,
)
from tests.conftest import SF_ORACLE, SF_SMOKE, daily_values
from tests.test_round11_ops import (
    _assert_sample_adc_rejects,
    _pv_values,
    _retention_durations,
    _sparse_ids,
)


def _price_quantity_by_flag(spark):
    """(l_quantity, l_extendedprice) points per l_returnflag."""
    by_flag = {}
    for r in (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .collect()
    ):
        by_flag.setdefault(r["l_returnflag"], []).append(
            (float(r["l_quantity"]), float(r["l_extendedprice"]))
        )
    return by_flag


def _ols_fit(pts):
    """Closed-form OLS (b0, b1), each rounded at 9 like the operators."""
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    b1 = round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9)
    return round((sy - b1 * sx) / n, 9), b1


def _irls_step(pts, b0, b1, weight):
    """One weighted least-squares refit with weights ``weight(residual)``."""
    sw = swx = swxx = swy = swxy = 0.0
    for x, y in pts:
        w = weight(y - round(b0 + b1 * x, 9))
        sw += w
        swx += w * x
        swxx += w * x * x
        swy += w * y
        swxy += w * x * y
    det = sw * swxx - swx * swx
    b1n = round((sw * swxy - swx * swy) / det, 9)
    return round((swy - b1n * swx) / sw, 9), b1n


def test_ivfpq_sample_adc_self_query_and_rank_shape(spark):
    rows = (
        ann_ivfpq_sample_adc_topk_embeddings(spark, SF_SMOKE)
        .orderBy("rank")
        .collect()
    )
    assert len(rows) == 10
    assert [r["rank"] for r in rows] == list(range(1, 11))
    # the query vector (vec 0) is its own nearest neighbor at cosine 1.0 —
    # it sits in a probed cell by construction (its own cell has the
    # maximal q-dot) and survives the shortlist
    assert rows[0]["vec_id"] == 0 and rows[0]["score"] == pytest.approx(1.0)
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(r["query_id"] == 0 for r in rows)


def test_ivfpq_sample_adc_rejects_sparse_ids(spark, tmp_path):
    _assert_sample_adc_rejects(
        spark, tmp_path, ann_ivfpq_sample_adc_topk_embeddings, _sparse_ids
    )


def test_kruskal_wallis_matches_direct_computation(spark):
    """H and the tie-corrected H recomputed from the collected values with
    plain midranks."""

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_g = {}
    allv = []
    for r in rows:
        by_g.setdefault(r["event_type"], []).append(r["value"])
        allv.append(r["value"])
    n = len(allv)
    # midrank per distinct value
    cnt = Counter(allv)
    pos = 1
    rank = {}
    for v in sorted(cnt):
        t = cnt[v]
        rank[v] = pos + (t - 1) / 2.0
        pos += t
    s = sum(
        (sum(rank[v] for v in vs)) ** 2 / len(vs) for vs in by_g.values()
    )
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    tie = sum(t**3 - t for t in cnt.values())
    hc = h / (1.0 - tie / (n**3 - n))
    row = kruskal_wallis_event_values(spark, SF_SMOKE).collect()[0]
    assert row["k_groups"] == len(by_g)
    assert row["n"] == n
    assert row["df"] == len(by_g) - 1
    assert abs(row["h"] - h) < 1e-4
    assert abs(row["h_tie_corrected"] - hc) < 1e-4


def test_cliffs_delta_matches_direct_and_is_deterministic(spark):
    """Dominance counts against a brute-force O(n1*n2) recount, plus the
    run-twice pin for the hazard this operator caught live: a stitched
    cumulative whose grain carries extra measures loses range-exchange
    reuse and re-samples chunk boundaries inconsistently (nondeterministic
    output). Structural regression here = flaky inequality below."""

    xs, ys = _pv_values(spark, SF_SMOKE)
    gt = sum(1 for x in xs for y in ys if x > y)
    lt = sum(1 for x in xs for y in ys if x < y)
    r1 = cliffs_delta_purchase_view(spark, SF_SMOKE).collect()[0]
    r2 = cliffs_delta_purchase_view(spark, SF_SMOKE).collect()[0]
    assert (r1["n_greater"], r1["n_less"]) == (r2["n_greater"], r2["n_less"])
    assert r1["n_greater"] == gt and r1["n_less"] == lt
    assert r1["n1"] == len(xs) and r1["n2"] == len(ys)
    expected = (gt - lt) / (len(xs) * len(ys))
    assert abs(r1["cliffs_delta"] - expected) < 1e-6


def test_mcnemar_matches_direct_computation(spark):
    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "event_type", F.weekday("ts").alias("wd"))
        .collect()
    )
    users = {}
    for r in rows:
        flags = users.setdefault(r["user_id"], [0, 0])
        if r["event_type"] == "purchase":
            flags[1 if r["wd"] >= 5 else 0] = 1
    b = sum(1 for wd, we in users.values() if wd and not we)
    c = sum(1 for wd, we in users.values() if we and not wd)
    chi2 = max(abs(b - c) - 1.0, 0.0) ** 2 / (b + c) if b + c else None
    row = mcnemar_weekday_weekend_purchase(spark, SF_SMOKE).collect()[0]
    assert row["n_users"] == len(users)
    assert row["wd_only"] == b and row["we_only"] == c
    if chi2 is None:
        assert row["chi2_cc"] is None
    else:
        assert abs(row["chi2_cc"] - chi2) < 1e-6


def test_leakage_safe_split_never_straddles_clusters(spark):
    """THE property: every planted near-dup pair (doc, doc+1000000) lands
    in one split; the split distribution stays roughly 80/10/10; the
    whole augmented corpus is covered."""

    rows = leakage_safe_split_documents(spark, SF_SMOKE).collect()
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    n_planted = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .filter(F.col("doc_id") % 20 == 0)
        .count()
    )
    assert len(rows) == n_docs + n_planted  # full coverage incl. copies
    split_of = {r["doc_id"]: r["split"] for r in rows}
    root_of = {r["doc_id"]: r["cluster_root"] for r in rows}
    # planted copies share their source's cluster and therefore its split
    for r in rows:
        if r["doc_id"] >= 1000000:
            src = r["doc_id"] - 1000000
            assert root_of[src] == r["cluster_root"], (src, r)
            assert split_of[src] == r["split"]
    # same-cluster -> same-split globally (the leakage-safety invariant)
    by_root = {}
    for r in rows:
        by_root.setdefault(r["cluster_root"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_root.values())

    dist = Counter(r["split"] for r in rows)
    assert dist["train"] > dist["val"] and dist["train"] > dist["test"]


def test_markov_removal_attribution_matches_python(spark):
    """Removal effects recomputed with a plain-python chain mirror; shares
    sum to 1; removing a channel can only lower reach."""

    ev = sorted(
        (
            (r["user_id"], r["ts"], r["event_id"], r["event_type"])
            for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet").collect()
        ),
    )
    by_user = defaultdict(list)
    for u, ts, eid, et in sorted(ev, key=lambda r: (r[0], r[1], r[2])):
        by_user[u].append(et)
    counts = defaultdict(lambda: defaultdict(int))
    firsts = defaultdict(int)
    for u, seq in by_user.items():
        firsts[seq[0]] += 1
        for a, b in zip(seq, seq[1:]):
            counts[a][b] += 1
    p = {
        a: {b: c / sum(nxt.values()) for b, c in nxt.items()}
        for a, nxt in counts.items()
    }
    transient = sorted(t for t in p if t != "purchase")

    def reach(removed, horizon=6):
        t = {y: 0.0 for y in transient}
        for _ in range(horizon):
            nt = {}
            for x in transient:
                if x == removed:
                    nt[x] = 0.0
                    continue
                ap = p.get(x, {}).get("purchase", 0.0)
                s = sum(
                    p.get(x, {}).get(y, 0.0) * t[y]
                    for y in transient
                    if y != "purchase"
                )
                nt[x] = round(ap + s, 9)
            t = nt
        n = sum(firsts.values())
        total = 0.0
        for x, c in firsts.items():
            r = 1.0 if x == "purchase" else t.get(x, 0.0)
            total += (c / n) * r
        return total

    p_full = reach(None)
    rows = {
        r["channel"]: r
        for r in markov_removal_attribution_events(spark, SF_SMOKE).collect()
    }
    assert set(rows) == set(transient)
    res = {c: 1.0 - reach(c) / p_full for c in transient}
    tot_re = sum(res.values())
    for c, r in rows.items():
        assert abs(r["reach_full"] - p_full) < 1e-5
        assert abs(r["reach_removed"] - reach(c)) < 1e-5
        assert abs(r["removal_effect"] - res[c]) < 1e-5
        assert r["removal_effect"] >= -1e-9  # removal can only lower reach
        assert abs(r["attribution_share"] - res[c] / tot_re) < 1e-5
    assert abs(sum(r["attribution_share"] for r in rows.values()) - 1.0) < 1e-4


def test_poisson_glm_matches_python_irls(spark):
    """IRLS recomputed in plain python; the fitted rate ratio multiplies
    out the fixture's daily counts."""

    days = Counter(
        r["d"]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select(F.to_date("ts").alias("d"))
        .collect()
    )
    ys = [c for _, c in sorted(days.items())]
    n = len(ys)
    xs = [i - (n - 1) / 2.0 for i in range(n)]
    b0, b1 = round(math.log(sum(ys) / n), 9), 0.0
    for _ in range(6):
        sums = dict.fromkeys(["w", "wx", "wxx", "wz", "wxz"], 0.0)
        for x, y in zip(xs, ys):
            eta = round(b0 + b1 * x, 9)
            mu = round(math.exp(eta), 9)
            z = eta + (y - mu) / max(mu, 1e-12)
            sums["w"] += mu
            sums["wx"] += mu * x
            sums["wxx"] += mu * x * x
            sums["wz"] += mu * z
            sums["wxz"] += mu * x * z
        det = sums["w"] * sums["wxx"] - sums["wx"] ** 2
        b0 = round((sums["wxx"] * sums["wz"] - sums["wx"] * sums["wxz"]) / det, 9)
        b1 = round((sums["w"] * sums["wxz"] - sums["wx"] * sums["wz"]) / det, 9)
    row = poisson_glm_daily_trend(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert abs(row["beta0"] - b0) < 1e-5
    assert abs(row["beta1"] - b1) < 1e-5
    assert abs(row["daily_rate_ratio"] - math.exp(b1)) < 1e-5
    # the fitted mean at the center day should sit near the data's scale
    assert 0.2 * (sum(ys) / n) < math.exp(b0) < 5.0 * (sum(ys) / n)


def test_als_rank1_matches_python_and_descends(spark):
    """Factors against a plain-python ALS mirror, and the rank-1 fit's SSE
    must be non-increasing across iterations (the ALS guarantee)."""

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    rows = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("r"))
        .collect()
    )
    ratings = [(r["o_custkey"], r["l_partkey"], float(r["r"])) for r in rows]
    u = {c: 1.0 for c, _, _ in ratings}
    v = {}

    def sse(u, v):
        return sum(
            (r - u.get(c, 0.0) * v.get(p, 0.0)) ** 2 for c, p, r in ratings
        )

    errs = []
    for _ in range(4):
        num, den = defaultdict(float), defaultdict(float)
        for c, p, r in ratings:
            num[p] += r * u[c]
            den[p] += u[c] * u[c]
        v = {p: round(num[p] / den[p], 9) for p in num}
        num, den = defaultdict(float), defaultdict(float)
        for c, p, r in ratings:
            num[c] += r * v[p]
            den[c] += v[p] * v[p]
        u = {c: round(num[c] / den[c], 9) for c in num}
        errs.append(sse(u, v))
    assert all(b <= a + 1e-6 for a, b in zip(errs, errs[1:])), errs
    got = {
        r["p_partkey"]: (r["n_raters"], r["v_factor"])
        for r in als_rank1_part_factors(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(v)
    raters = defaultdict(int)
    for c, p, _ in ratings:
        raters[p] += 1
    for p, (n, vf) in got.items():
        assert n == raters[p]
        assert abs(vf - v[p]) < 1e-5, (p, vf, v[p])


def test_cox_ph_matches_python_newton(spark):
    """Newton on the Breslow partial likelihood recomputed in plain
    python from the parquet fixtures (same lifetime/censoring/arm-hash
    definitions as the KM/log-rank tier), with the identical round-at-9
    iterative contract. The smoke fixture pins exact step-by-step replay
    (its handful of churn events is near-separated, so convergence is
    NOT asserted there — both engines take the same four steps); the
    sf0.01 fixture additionally pins convergence: a fifth Newton step
    from the published β must be a no-op at 6dp."""

    def mirror(sf_dir):
        grain = defaultdict(lambda: [0, 0, 0, 0])  # d_a, d_b, exit_a, exit_b
        for t, churned, is_a in _retention_durations(spark, sf_dir):
            g = grain[t]
            if churned and is_a:
                g[0] += 1
            if churned and not is_a:
                g[1] += 1
            g[2 if is_a else 3] += 1
        tot_a = sum(g[2] for g in grain.values())
        tot_b = sum(g[3] for g in grain.values())
        risk, ca, cb = [], 0, 0
        for t in sorted(grain):
            d_a, d_b, e_a, e_b = grain[t]
            if d_a + d_b > 0:
                risk.append((d_a, d_b, tot_a - ca, tot_b - cb))
            ca += e_a
            cb += e_b

        def fold(b):
            e = round(math.exp(b), 9)
            su = si = 0.0
            for d_a, d_b, n_a, n_b in risk:
                mu = n_b * e / (n_a + n_b * e)
                d = float(d_a + d_b)
                su += d_b - d * mu
                si += d * mu * (1.0 - mu)
            return su, si

        b = 0.0
        for _ in range(4):
            su, si = fold(b)
            assert si > 0.0
            b = round(b + su / si, 9)
        _, si = fold(b)
        n_events = sum(d_a + d_b for d_a, d_b, _, _ in risk)
        return b, si, n_events, fold

    for sf_dir, check_converged in [(SF_SMOKE, False), (SF_ORACLE, True)]:
        b, si, n_events, fold = mirror(sf_dir)
        row = cox_ph_retention_arms(spark, sf_dir).collect()[0]
        assert row["n_events"] == n_events
        assert abs(row["log_hazard_ratio"] - b) < 1e-5
        assert abs(row["hazard_ratio"] - math.exp(b)) < 1e-5
        assert abs(row["se"] - 1.0 / math.sqrt(si)) < 1e-5
        assert abs(row["z"] - b * math.sqrt(si)) < 1e-5
        if check_converged:
            su2, si2 = fold(b)
            assert abs(su2 / si2) < 1e-6


def test_shapley_attribution_matches_permutation_mirror(spark):
    """Exact Shapley values recomputed by brute-force permutation
    averaging (the definition) from per-user channel sets rebuilt in
    plain python; efficiency Σφ = v(full) − v(∅) must hold."""

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "event_id", "event_type", "ts")
        .collect()
    )
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    journeys = []  # (frozenset channels, converted)
    for u, evs in by_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        chans, converted = set(), False
        for r in evs:
            if r["event_type"] == "purchase":
                converted = True
                break
            chans.add(r["event_type"])
        if not converted:  # non-converters: whole journey (no purchase seen)
            chans = {r["event_type"] for r in evs if r["event_type"] != "purchase"}
        journeys.append((frozenset(chans), converted))
    channels = sorted({c for s, _ in journeys for c in s} | {
        r["event_type"] for r in rows if r["event_type"] != "purchase"
    })

    def v(coal):
        return sum(1 for s, conv in journeys if conv and s <= coal)

    phi = dict.fromkeys(channels, 0.0)
    perms = list(permutations(channels))
    for perm in perms:
        seen = set()
        for c in perm:
            phi[c] += v(seen | {c}) - v(seen)
            seen.add(c)
    phi = {c: val / len(perms) for c, val in phi.items()}
    out = {r["channel"]: r for r in shapley_attribution_events(spark, SF_SMOKE).collect()}
    assert set(out) == set(channels)
    full = v(set(channels))
    empty = v(set())
    assert abs(sum(phi.values()) - (full - empty)) < 1e-9  # efficiency
    for c in channels:
        assert abs(out[c]["shapley_conversions"] - phi[c]) < 1e-5, c
        assert out[c]["reachable_conversions"] == full
        if full - empty > 0:
            assert abs(out[c]["attribution_share"] - phi[c] / (full - empty)) < 1e-5


def test_label_propagation_stabilizes_and_partitions_nodes(spark):
    """Round-5 labeling must equal round-4 (the docstring's convergence
    pin on the fixture); communities partition the node set; every
    community is connected within the support->=2 edge set (label = some
    member id)."""

    r4 = {
        r["p_partkey"]: r["community"]
        for r in label_propagation_communities_parts(spark, SF_SMOKE).collect()
    }
    r5 = {
        r["p_partkey"]: r["community"]
        for r in label_propagation_communities_parts(
            spark, SF_SMOKE, rounds=5
        ).collect()
    }
    assert r4 == r5, "LPA has not stabilized by round 4 on the fixture"
    assert len(r4) > 0
    # each label is itself a node id of the graph (self-vote keeps labels
    # inside the node universe)
    assert set(r4.values()) <= set(r4.keys())
    # sizes column agrees with the labeling

    sizes = Counter(r4.values())
    for r in label_propagation_communities_parts(spark, SF_SMOKE).collect():
        assert r["community_size"] == sizes[r["community"]]


@pytest.mark.parametrize("sf_dir", [SF_SMOKE, SF_ORACLE])
def test_cmh_matches_python_mirror(spark, sf_dir):
    """CMH continuity-corrected chi2 and the MH pooled OR recomputed in
    plain python from user-grain tuples; the degenerate smoke fixture
    (all users convert) pins the NULL guards, sf0.01 pins the live
    statistic."""

    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.weekofyear(F.min("ts")).alias("wk"),
            F.max((F.col("event_type") == "purchase").cast("long")).alias("conv"),
        )
        .collect()
    )
    cells = {}
    for r in rows:
        is_a = int(hashlib.md5(str(r["user_id"]).encode()).hexdigest()[:6], 16) % 2 == 0
        k = r["wk"]
        c = cells.setdefault(k, [0, 0, 0, 0])  # a b c d
        if is_a and r["conv"]:
            c[0] += 1
        elif is_a:
            c[1] += 1
        elif r["conv"]:
            c[2] += 1
        else:
            c[3] += 1
    obs = sum(c[0] for c in cells.values())
    exp = sum((c[0] + c[1]) * (c[0] + c[2]) / sum(c) for c in cells.values())
    var = sum(
        (c[0] + c[1]) * (c[2] + c[3]) * (c[0] + c[2]) * (c[1] + c[3])
        / (sum(c) ** 2 * (sum(c) - 1))
        for c in cells.values()
        if sum(c) > 1
    )
    or_num = sum(c[0] * c[3] / sum(c) for c in cells.values())
    or_den = sum(c[1] * c[2] / sum(c) for c in cells.values())
    row = cmh_test_arm_purchase_by_cohort(spark, sf_dir).collect()[0]
    assert row["n_strata"] == len(cells)
    assert row["obs_a"] == obs
    assert abs(row["exp_a"] - exp) < 1e-4
    if var > 0.0:
        chi2 = max(abs(obs - exp) - 0.5, 0.0) ** 2 / var
        assert abs(row["chi2_cmh"] - chi2) < 1e-4
    else:
        # the smoke fixture is degenerate (every user converts): zero
        # hypergeometric variance must surface as NULL, not a 0-division
        assert row["chi2_cmh"] is None
    if or_den > 0.0:
        assert abs(row["odds_ratio_mh"] - or_num / or_den) < 1e-4
    else:
        assert row["odds_ratio_mh"] is None


def test_qini_curve_shape_and_terminal_identities(spark):
    """Structural pins the value hash can't see: exactly 10 contiguous
    deciles; cumulatives are monotone; the TERMINAL row's Qini equals
    total-treated-conversions minus scaled control conversions, and the
    terminal cumulative uplift equals the unconditioned ATE difference
    of conversion rates."""

    rows = sorted(
        qini_uplift_curve_users(spark, SF_SMOKE).collect(),
        key=lambda r: r["decile"],
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert b["cum_conv_treated"] >= a["cum_conv_treated"]
        assert b["cum_conv_control"] >= a["cum_conv_control"]
    last = rows[-1]
    nt = sum(r["n_t"] for r in rows)
    nc = sum(r["n_c"] for r in rows)
    ct, cc = last["cum_conv_treated"], last["cum_conv_control"]
    if nc > 0:
        assert abs(last["qini"] - (ct - cc * nt / nc)) < 1e-6
    if nt > 0 and nc > 0:
        assert abs(last["cum_uplift"] - (ct / nt - cc / nc)) < 1e-6


def test_huber_irls_matches_python_mirror(spark):
    """Huber IRLS recomputed in plain python (same round-at-9 contract,
    same exact-percentile scale), and a 4th step from the published fit
    must move the slope by <1e-4 (practical convergence on the fixture)."""

    by_flag = _price_quantity_by_flag(spark)

    def pct_interp(vals, q=0.5):
        v = sorted(vals)
        h = (len(v) - 1) * q
        lo = int(math.floor(h))
        hi = min(lo + 1, len(v) - 1)
        return v[lo] + (h - lo) * (v[hi] - v[lo])

    out = {
        r["l_returnflag"]: r
        for r in huber_regression_price_quantity(spark, SF_SMOKE).collect()
    }
    assert set(out) == set(by_flag)
    # the extendedprice tail must get downweighted SOMEWHERE in the corpus
    assert any(r["pct_downweighted"] > 0.0 for r in out.values())
    for flag, pts in by_flag.items():
        n = len(pts)
        b0, b1 = _ols_fit(pts)
        rs = [y - round(b0 + b1 * x, 9) for x, y in pts]
        med = round(pct_interp(rs), 6)
        mad = round(pct_interp([abs(r - med) for r in rs]), 6)
        delta = round(1.345 * 1.4826 * mad, 6)

        def step(b0, b1):
            return _irls_step(
                pts, b0, b1, lambda r: 1.0 if abs(r) <= delta else delta / abs(r)
            )

        for _ in range(3):
            b0, b1 = step(b0, b1)
        r = out[flag]
        assert r["n"] == n
        assert abs(r["huber_slope"] - b1) < 1e-5
        assert abs(r["huber_intercept"] - b0) < 2e-3  # intercept scale ~1e4
        assert abs(r["delta"] - delta) < 1e-5
        b0n, b1n = step(b0, b1)
        assert abs(b1n - b1) < 1e-4  # a 4th step barely moves the slope
        assert 0.0 <= r["pct_downweighted"] < 1.0


def test_binseg_changepoint_matches_bruteforce(spark):
    """The split must equal a brute-force argmax over all interior
    splits recomputed in python, and the one-break model must never
    lose to the no-break model (gain >= 0)."""

    days = Counter(
        r["d"]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select(F.to_date("ts").alias("d"))
        .collect()
    )
    ys = [c for _, c in sorted(days.items())]
    dd = len(ys)
    sd = sum(ys)
    best = None
    run = 0
    for k in range(1, dd):
        run += ys[k - 1]
        g = run**2 / k + (sd - run) ** 2 / (dd - k) - sd**2 / dd
        if best is None or g > best[1] + 1e-12:
            best = (k, g)
    row = binseg_changepoint_daily(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == dd
    assert row["split_pos"] == best[0]
    assert abs(row["gain"] - best[1]) < 1e-4
    assert row["gain"] >= 0.0
    assert row["split_day"] == sorted(days)[best[0] - 1]
    left = ys[: best[0]]
    right = ys[best[0] :]
    assert abs(row["left_mean"] - sum(left) / len(left)) < 1e-6
    assert abs(row["right_mean"] - sum(right) / len(right)) < 1e-6


def test_jl_projection_distortion_report(spark):
    """JL lemma sanity at m=16: the mean distance-ratio of the
    deterministic +/-1 projection must sit near 1 (unbiasedness), most
    chain pairs inside the 50% band, and the report recomputed in numpy
    from the same md5 sign matrix must agree."""

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    m = 16
    signs = np.zeros((64, m))
    for i in range(64):
        for j in range(m):
            h = int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:6], 16)
            signs[i, j] = 1.0 if h % 2 == 0 else -1.0
    ratios = []
    for a in sorted(vecs):
        if a + 1 not in vecs:
            continue
        dx = vecs[a + 1] - vecs[a]
        dx2 = round(float((dx * dx).sum()), 9)
        ya = np.round(vecs[a] @ signs / np.sqrt(m), 9)
        yb = np.round(vecs[a + 1] @ signs / np.sqrt(m), 9)
        dy2 = round(float(((yb - ya) ** 2).sum()), 9)
        if dx2 > 0:
            ratios.append(round(dy2 / dx2, 9))
    row = jl_projection_distortion_embeddings(spark, SF_SMOKE).collect()[0]
    assert row["n_pairs"] == len(ratios)
    assert abs(row["mean_ratio"] - sum(ratios) / len(ratios)) < 1e-4
    assert abs(row["min_ratio"] - min(ratios)) < 1e-4
    assert abs(row["max_ratio"] - max(ratios)) < 1e-4
    assert 0.5 < row["mean_ratio"] < 1.5  # unbiased estimator, m=16 noise
    assert row["share_within_50pct"] >= 0.6


def test_fisher_exact_matches_python_mirror(spark):
    """The two-sided Fisher p recomputed in python with the SAME
    rounded-ln decimal prefix fold (Decimal at scale 12 mirrors the
    engines' DECIMAL(27,12)), plus an lgamma-based sanity cross-check
    of the hypergeometric tail."""

    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_custkey", "o_orderpriority"
    )
    cu = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    na = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    re_ = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    j = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(na, cu.c_nationkey == na.n_nationkey)
        .join(re_, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", "o_orderpriority")
        .collect()
    )
    a = sum(1 for r in j if r["r_name"] == "EUROPE" and r["o_orderpriority"] == "1-URGENT")
    b = sum(1 for r in j if r["r_name"] == "EUROPE" and r["o_orderpriority"] != "1-URGENT")
    c = sum(1 for r in j if r["r_name"] != "EUROPE" and r["o_orderpriority"] == "1-URGENT")
    d = len(j) - a - b - c
    n, r1, c1 = a + b + c + d, a + b, a + c
    lf = [Decimal(0)] * (n + 1)
    acc = Decimal(0)
    for i in range(2, n + 1):
        acc += Decimal(str(round(math.log(i), 9)))
        lf[i] = acc
    lff = [float(v) for v in lf]

    def lnp(k):
        return round(
            lff[r1] - lff[k] - lff[r1 - k]
            + lff[n - r1] - lff[c1 - k] - lff[n - r1 - c1 + k]
            + lff[c1] + lff[n - c1] - lff[n],
            9,
        )

    k_lo, k_hi = max(0, r1 + c1 - n), min(r1, c1)
    obs = lnp(a)
    p = float(
        sum(
            Decimal(str(math.exp(lnp(k)))).quantize(Decimal("1e-15"))
            for k in range(k_lo, k_hi + 1)
            if lnp(k) <= obs
        )
    )
    # lgamma sanity: the rounded-ln fold must agree with the textbook tail
    def lgp(k):
        def lc(nn, kk):
            return (
                math.lgamma(nn + 1) - math.lgamma(kk + 1) - math.lgamma(nn - kk + 1)
            )
        return lc(r1, k) + lc(n - r1, c1 - k) - lc(n, c1)

    p_ref = sum(
        math.exp(lgp(k))
        for k in range(k_lo, k_hi + 1)
        if lgp(k) <= lgp(a) + 1e-9
    )
    row = fisher_exact_region_priority_orders(spark, SF_SMOKE).collect()[0]
    assert (row["a"], row["b"], row["c"], row["d"]) == (a, b, c, d)
    assert abs(row["p_two_sided"] - round(p, 9)) < 1e-6
    assert abs(row["p_two_sided"] - p_ref) < 1e-3
    if b > 0 and c > 0:
        assert abs(row["odds_ratio"] - round(a * d / (b * c), 6)) < 1e-6


def test_poisson_dispersion_matches_direct(spark):
    days = Counter(
        r["d"]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select(F.to_date("ts").alias("d"))
        .collect()
    )
    ys = list(days.values())
    n, sy, syy = len(ys), sum(ys), sum(y * y for y in ys)
    mean = sy / n
    d_stat = (syy - sy * sy / n) / mean
    row = poisson_dispersion_daily(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert abs(row["mean_daily"] - mean) < 1e-6
    assert abs(row["dispersion_d"] - d_stat) < 1e-4
    assert abs(row["dispersion_ratio"] - d_stat / (n - 1)) < 1e-6

    assert abs(row["z"] - (math.sqrt(2 * d_stat) - math.sqrt(2 * (n - 1) - 1))) < 1e-4


def test_chao1_identities(spark):
    """Chao1 >= observed richness; coverage in (0,1]; f1/f2 recounted
    from a python trigram mirror."""

    texts = [
        r["text"]
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet").collect()
    ]
    grams = Counter()
    for t in texts:
        toks = re.split(r"\s+", t.strip())
        for i in range(max(len(toks) - 2, 1)):
            g = " ".join(toks[i : i + 3])
            if g:
                grams[g] += 1
    f1 = sum(1 for v in grams.values() if v == 1)
    f2 = sum(1 for v in grams.values() if v == 2)
    row = chao1_trigram_richness_documents(spark, SF_SMOKE).collect()[0]
    assert row["v_obs"] == len(grams)
    assert row["n_grams"] == sum(grams.values())
    assert row["f1"] == f1 and row["f2"] == f2
    assert row["chao1_estimate"] >= row["v_obs"]
    expected = len(grams) + f1 * (f1 - 1) / (2 * (f2 + 1))
    assert abs(row["chao1_estimate"] - expected) < 1e-4
    assert 0.0 < row["good_coverage"] <= 1.0


def test_degree_assortativity_matches_networkx_style_mirror(spark):
    """r recomputed from the edge list in python (both orientations);
    must land in [-1, 1]."""

    rows = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order = {}
    for r in rows:
        by_order.setdefault(r["l_orderkey"], []).append(r["l_partkey"])
    pair_count = Counter()
    for parts in by_order.values():
        ps = sorted(set(parts))
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_count[(ps[i], ps[j])] += 1
    edges = [p for p, c in pair_count.items() if c >= 2]
    deg = Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in edges:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    m2 = len(xs)
    mu = sum(xs) / m2
    num = sum(x * y for x, y in zip(xs, ys)) / m2 - mu * mu
    den = sum(x * x for x in xs) / m2 - mu * mu

    row = degree_assortativity_copurchase_parts(spark, SF_SMOKE).collect()[0]
    assert row["n_edges"] == len(edges)
    if den > 0:
        assert abs(row["assortativity"] - num / den) < 1e-4
        assert -1.0 - 1e-9 <= row["assortativity"] <= 1.0 + 1e-9
    else:
        assert row["assortativity"] is None


def test_nelson_aalen_identities(spark):
    """Nelson-Aalen vs the KM/log-rank grain rebuilt in python: cumulative
    hazard is the running sum of d/n, variance of d/n^2, and exp(-H) at
    each event time must dominate the KM product-limit estimate (the
    standard Fleming-Harrington >= Kaplan-Meier inequality)."""

    grain = defaultdict(lambda: [0, 0])  # t -> d, exits
    for t, churned, _ in _retention_durations(spark, SF_SMOKE):
        grain[t][0] += churned
        grain[t][1] += 1
    n_tot = sum(g[1] for g in grain.values())
    out = {
        r["t"]: r for r in nelson_aalen_hazard_retention(spark, SF_SMOKE).collect()
    }
    h = v = 0.0
    km = 1.0
    at_risk = n_tot
    seen = 0
    for t in sorted(grain):
        d, exits = grain[t]
        if d > 0:
            h += d / at_risk
            v += d / at_risk**2
            km *= 1.0 - d / at_risk
            r = out[t]
            assert r["d"] == d and r["n"] == at_risk
            assert abs(r["cum_hazard"] - h) < 1e-5
            assert abs(r["hazard_var"] - v) < 1e-5
            assert math.exp(-r["cum_hazard"]) >= km - 1e-9
            seen += 1
        at_risk -= exits
    assert seen == len(out) and seen > 0


def test_markov_entropy_rate_bounds(spark):
    """H(rate) <= H(iid) (conditioning reduces entropy), both positive on
    the fixture, and H(iid) matches a direct recount."""

    types = Counter(
        r["event_type"]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_type")
        .collect()
    )
    tot = sum(types.values())
    h_iid = -sum(c / tot * round(math.log(c / tot), 9) for c in types.values())
    row = markov_entropy_rate_event_types(spark, SF_SMOKE).collect()[0]
    assert abs(row["iid_entropy_nats"] - h_iid) < 1e-5
    assert 0.0 < row["entropy_rate_nats"] <= row["iid_entropy_nats"] + 1e-9
    assert abs(
        row["predictability_gain_nats"]
        - (row["iid_entropy_nats"] - row["entropy_rate_nats"])
    ) < 2e-6


def test_lad_regression_matches_python_and_beats_ols_on_l1(spark):
    """LAD IRLS recomputed in plain python (same eps smoothing and
    round-at-9 contract), and the LAD fit's mean |residual| must not
    exceed the OLS fit's (the L1 objective it minimizes)."""

    by_flag = _price_quantity_by_flag(spark)
    out = {
        r["l_returnflag"]: r
        for r in lad_regression_price_quantity(spark, SF_SMOKE).collect()
    }
    assert set(out) == set(by_flag)
    for flag, pts in by_flag.items():
        n = len(pts)
        ob0, ob1 = _ols_fit(pts)
        b0, b1 = ob0, ob1
        for _ in range(3):
            b0, b1 = _irls_step(pts, b0, b1, lambda r: 1.0 / max(abs(r), 1e-6))
        r = out[flag]
        assert r["n"] == n
        # the mirror folds in python floats, the engines in exact decimal:
        # tolerances are structural (the hash gate is the DuckDB oracle)
        assert abs(r["lad_slope"] - b1) < 5e-3
        assert abs(r["lad_intercept"] - b0) < 1.0  # intercept scale ~1e4
        lad_l1 = sum(abs(y - round(b0 + b1 * x, 9)) for x, y in pts) / n
        ols_l1 = sum(abs(y - round(ob0 + ob1 * x, 9)) for x, y in pts) / n
        assert abs(r["mean_abs_residual"] - lad_l1) < 1e-2
        assert lad_l1 <= ols_l1 + 1e-6


def test_periodogram_parseval_and_weekly_peak(spark):
    """Spectral identities: power non-negative, shares sum to <= 1
    (Parseval partitions variance over ALL harmonics; we publish 14),
    and a numpy-FFT mirror agrees on every published harmonic."""

    days = Counter(
        r["d"]
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select(F.to_date("ts").alias("d"))
        .collect()
    )
    ys = np.array([c for _, c in sorted(days.items())], dtype=np.float64)
    n = len(ys)
    yc = ys - ys.mean()
    rows = {r["k"]: r for r in periodogram_daily_events(spark, SF_SMOKE).collect()}
    assert set(rows) == set(range(1, min(14, n // 2) + 1))
    ss = float((yc * yc).sum())
    share_sum = 0.0
    for k, r in rows.items():
        ang = 2.0 * np.pi * k * np.arange(n) / n
        a = float((yc * np.round(np.cos(ang), 9)).sum())
        b = float((yc * np.round(np.sin(ang), 9)).sum())
        p = (a * a + b * b) * 2.0 / n
        assert r["power"] >= 0.0
        assert abs(r["power"] - p) < 1e-3
        assert abs(r["period_days"] - n / k) < 1e-6
        assert abs(r["power_share"] - p / (2.0 * ss)) < 1e-6
        share_sum += r["power_share"]
    assert share_sum <= 1.0 + 1e-9


def test_theil_atkinson_bounds_and_mirror(spark):
    """0 <= A1 < 1 and 0 <= T <= ln n; python mirror with the same
    rounded-ln fold."""

    spend = [
        float(r["x"])
        for r in spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("x"))
        .collect()
    ]
    n = len(spend)
    mu = sum(spend) / n
    theil = sum(x * round(math.log(x), 9) for x in spend) / (n * mu) - round(
        math.log(mu), 9
    )
    atk = 1.0 - math.exp(sum(round(math.log(x), 9) for x in spend) / n) / mu
    row = theil_atkinson_customer_spend(spark, SF_SMOKE).collect()[0]
    assert row["n_customers"] == n
    assert abs(row["theil_t"] - theil) < 1e-4
    assert abs(row["atkinson_1"] - atk) < 1e-4
    assert 0.0 <= row["theil_t"] <= math.log(n)
    assert 0.0 <= row["atkinson_1"] < 1.0


def test_partial_corr_matches_direct(spark):
    cells = defaultdict(lambda: [0, 0, 0])
    for r in (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select(F.to_date("ts").alias("d"), "event_type")
        .collect()
    ):
        c = cells[r["d"]]
        if r["event_type"] == "purchase":
            c[0] += 1
        if r["event_type"] == "view":
            c[1] += 1
        c[2] += 1

    xs = [c[0] for c in cells.values()]
    ys = [c[1] for c in cells.values()]
    zs = [c[2] for c in cells.values()]
    n = len(xs)

    def corr(a, b):
        num = n * sum(x * y for x, y in zip(a, b)) - sum(a) * sum(b)
        da = n * sum(x * x for x in a) - sum(a) ** 2
        db = n * sum(y * y for y in b) - sum(b) ** 2
        return num / math.sqrt(da * db)

    rxy, rxz, ryz = corr(xs, ys), corr(xs, zs), corr(ys, zs)
    part = (rxy - rxz * ryz) / math.sqrt((1 - rxz**2) * (1 - ryz**2))
    row = partial_corr_purchase_view_daily(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert abs(row["r_purchase_view"] - rxy) < 1e-5
    assert abs(row["r_purchase_volume"] - rxz) < 1e-5
    assert abs(row["r_view_volume"] - ryz) < 1e-5
    assert abs(row["partial_r_given_volume"] - part) < 1e-5
    assert -1.0 - 1e-9 <= row["partial_r_given_volume"] <= 1.0 + 1e-9


def test_tost_equivalence_mirror(spark):
    """TOST z's recomputed from user-grain means in python; the
    equivalence verdict must match the two-one-sided rule."""

    per_user = defaultdict(lambda: [0.0, 0])
    for r in (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "value")
        .collect()
    ):
        u = per_user[r["user_id"]]
        u[0] += r["value"]
        u[1] += 1
    arms = {"A": [], "B": []}
    for uid, (s, c) in per_user.items():
        arm = "A" if int(hashlib.md5(str(uid).encode()).hexdigest()[:6], 16) % 2 == 0 else "B"
        arms[arm].append(s / c)
    ma = sum(arms["A"]) / len(arms["A"])
    mb = sum(arms["B"]) / len(arms["B"])
    va = sum((x - ma) ** 2 for x in arms["A"]) / (len(arms["A"]) - 1)
    vb = sum((x - mb) ** 2 for x in arms["B"]) / (len(arms["B"]) - 1)
    se = math.sqrt(va / len(arms["A"]) + vb / len(arms["B"]))
    delta = mb - ma
    pooled = (sum(arms["A"]) + sum(arms["B"])) / (len(arms["A"]) + len(arms["B"]))
    margin = 0.05 * pooled
    row = tost_equivalence_ab_value(spark, SF_SMOKE).collect()[0]
    assert row["na"] == len(arms["A"]) and row["nb"] == len(arms["B"])
    assert abs(row["delta"] - delta) < 1e-4
    assert abs(row["margin"] - margin) < 1e-4
    assert abs(row["z_lower"] - (delta + margin) / se) < 1e-3
    assert abs(row["z_upper"] - (margin - delta) / se) < 1e-3
    assert row["equivalent"] == (
        (delta + margin) / se > 1.644854 and (margin - delta) / se > 1.644854
    )


def test_jarque_bera_and_ljung_box_mirror(spark):
    """JB moments and the LB Q recomputed from the daily means."""

    ys = [sum(v) / len(v) for v in daily_values(spark, SF_SMOKE).values()]
    n = len(ys)
    mu = sum(ys) / n
    m2 = sum((y - mu) ** 2 for y in ys) / n
    m3 = sum((y - mu) ** 3 for y in ys) / n
    m4 = sum((y - mu) ** 4 for y in ys) / n
    skew = m3 / m2**1.5
    kurt = m4 / m2**2 - 3.0
    jb = n / 6.0 * (skew**2 + kurt**2 / 4.0)
    row = jarque_bera_daily_values(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert abs(row["skewness"] - skew) < 1e-4
    assert abs(row["excess_kurtosis"] - kurt) < 1e-4
    assert abs(row["jarque_bera"] - jb) < 1e-3
    denom = sum((y - mu) ** 2 for y in ys)
    st = 0.0
    for k in range(1, 8):
        ck = sum((ys[i] - mu) * (ys[i + k] - mu) for i in range(n - k))
        rk = round(ck / denom, 9)
        st += rk * rk / (n - k)
    q = n * (n + 2.0) * st
    row = ljung_box_daily_values(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert abs(row["ljung_box_q"] - q) < 1e-3
    assert row["autocorrelated"] == (q > 14.067140)


def test_runs_test_mirror(spark):
    """Run count, up/down split, and z recomputed from the daily means."""

    ys = [sum(v) / len(v) for v in daily_values(spark, SF_SMOKE).values()]
    signs = [1 if b > a else -1 for a, b in zip(ys, ys[1:]) if b != a]
    n, n_up = len(signs), sum(1 for s in signs if s > 0)
    n_down = n - n_up
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    er = 2.0 * n_up * n_down / n + 1.0
    vr = (er - 1.0) * (er - 2.0) / (n - 1.0)
    row = runs_test_daily_values(spark, SF_SMOKE).collect()[0]
    assert (row["n_changes"], row["n_up"], row["n_down"], row["n_runs"]) == (
        n, n_up, n_down, runs,
    )
    assert abs(row["expected_runs"] - er) < 1e-6
    if vr > 0 and n_up and n_down:
        assert abs(row["z"] - (runs - er) / math.sqrt(vr)) < 1e-5


def test_newey_west_reduces_to_ols_shape(spark):
    """HAC slope equals the closed-form OLS slope; the HAC se recomputed
    in python; t = slope/se identity holds."""

    ys = [sum(v) / len(v) for v in daily_values(spark, SF_SMOKE).values()]
    n = len(ys)
    xs = list(range(1, n + 1))
    sx, sy2 = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    b1 = round((n * sxy - sx * sy2) / (n * sxx - sx * sx), 9)
    b0 = round((sy2 - b1 * sx) / n, 9)
    xbar = sx / n
    gs = [(x - xbar) * round(y - (b0 + b1 * x), 9) for x, y in zip(xs, ys)]
    c0 = sum(g * g for g in gs)
    ctail = 0.0
    for k in range(1, 8):
        ck = sum(gs[i] * gs[i + k] for i in range(n - k))
        ctail += 2.0 * (1.0 - k / 8.0) * ck
    s_lr = (c0 + ctail) / n
    sxx_c = sxx - sx * sx / n
    se = math.sqrt(n * s_lr) / sxx_c
    row = newey_west_daily_trend(spark, SF_SMOKE).collect()[0]
    assert row["n_days"] == n
    assert abs(row["slope_per_day"] - b1) < 1e-5
    assert abs(row["hac_se"] - se) < 1e-4
    assert abs(row["t_hac"] - b1 / se) < 1e-3


def test_hhi_identities(spark):
    """Per-category shares sum to 100, HHI in (10000/n_brands, 10000],
    and a direct recount agrees."""

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    pt = spark.read.parquet(f"{SF_SMOKE}/part.parquet").select(
        "p_partkey", "p_brand", F.split("p_type", " ").getItem(0).alias("cat")
    )
    rows = li.join(pt, li.l_partkey == pt.p_partkey).collect()
    rev = defaultdict(float)
    for r in rows:
        rev[(r["cat"], r["p_brand"])] += float(r["l_extendedprice"]) * (
            1.0 - float(r["l_discount"])
        )
    cats = defaultdict(dict)
    for (c, b), v in rev.items():
        cats[c][b] = v
    out = {r["category"]: r for r in hhi_brand_concentration_by_category(spark, SF_SMOKE).collect()}
    assert set(out) == set(cats)
    for c, brands in cats.items():
        tot = sum(brands.values())
        hhi = sum((v / tot * 100.0) ** 2 for v in brands.values())
        r = out[c]
        assert r["n_brands"] == len(brands)
        assert abs(r["hhi"] - hhi) < 0.1
        assert 10000.0 / len(brands) - 1e-6 <= r["hhi"] <= 10000.0 + 1e-6
        assert r["doj_band"] in ("unconcentrated", "moderate", "high")


def test_bowker_symmetry_mirror(spark):
    rows = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "event_id", "event_type", "ts")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    trans = defaultdict(int)
    for evs in by_user.values():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        for a, b in zip(evs, evs[1:]):
            trans[(a["event_type"], b["event_type"])] += 1
    pairs = {}
    for (i, j), n in trans.items():
        if i < j:
            pairs.setdefault((i, j), [0, 0])[0] = n
        elif i > j:
            pairs.setdefault((j, i), [0, 0])[1] = n
    chi2 = sum(
        (nij - nji) ** 2 / (nij + nji) for nij, nji in pairs.values() if nij + nji
    )
    df = sum(1 for nij, nji in pairs.values() if nij + nji)
    row = bowker_symmetry_event_transitions(spark, SF_SMOKE).collect()[0]
    assert row["df"] == df
    assert abs(row["chi2"] - chi2) < 1e-4
    worst_gap = max(abs(nij - nji) for nij, nji in pairs.values())
    assert row["worst_pair_gap"] == worst_gap
