"""Semantic checks for the analytics tier (operators/analytics_checks.py).

Each test verifies the STATISTICS against an independent implementation
(numpy / hand-rolled DP), not against the DuckDB oracle — the oracle sweep
covers engine parity; these cover "is the math right".
"""

from __future__ import annotations

import hashlib
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators import analytics_checks, lakehouse_checks
from tests.conftest import SF_SMOKE


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _daily_pv(spark):
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    ev = ev[ev.event_type.isin(["purchase", "view"])]
    ev["day"] = ev["ts"].dt.floor("D")
    piv = ev.pivot_table(
        index="day", columns="event_type", values="value", aggfunc="sum"
    ).dropna()
    return piv["purchase"].to_numpy(), piv["view"].to_numpy()


def test_regression_matches_numpy_polyfit(spark):
    got = {
        r.l_returnflag: r
        for r in analytics_checks.regression_price_quantity_by_flag(
            spark, SF_SMOKE
        ).collect()
    }
    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .toPandas()
    )
    for flag, grp in li.groupby("l_returnflag"):
        x = grp["l_quantity"].to_numpy(dtype=float)
        y = grp["l_extendedprice"].to_numpy(dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        row = got[flag]
        assert row.n == len(grp)
        assert abs(row.slope - slope) < 1e-3 * max(1.0, abs(slope))
        assert abs(row.intercept - intercept) < 1e-3 * max(1.0, abs(intercept))
        assert abs(row.pearson_r - r) < 1e-6
        assert abs(row.r2 - r * r) < 1e-6


def test_welch_ttest_matches_numpy(spark):
    got = {
        r.day: r
        for r in analytics_checks.welch_ttest_purchase_view_daily(
            spark, SF_SMOKE
        ).collect()
    }
    assert got, "no qualifying days at smoke SF"
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(F.to_date("ts").alias("day"), "event_type", "value")
        .toPandas()
    )
    for day, row in got.items():
        sub = ev[ev["day"] == day]
        a = sub[sub["event_type"] == "purchase"]["value"].to_numpy(dtype=float)
        b = sub[sub["event_type"] == "view"]["value"].to_numpy(dtype=float)
        assert row.n_purchase == len(a) and row.n_view == len(b)
        v1, v2 = a.var(ddof=1), b.var(ddof=1)
        se2 = v1 / len(a) + v2 / len(b)
        t = (a.mean() - b.mean()) / np.sqrt(se2)
        df = se2**2 / (
            (v1 / len(a)) ** 2 / (len(a) - 1) + (v2 / len(b)) ** 2 / (len(b) - 1)
        )
        assert abs(row.t_stat - t) < 1e-4, day
        assert abs(row.welch_df - df) < 1e-3, day
        # Welch df is bracketed by [min(n)-1, n1+n2-2]
        assert min(len(a), len(b)) - 1 - 1e-6 <= row.welch_df <= len(a) + len(b) - 2


def test_markov_transitions_match_pandas_bigrams(spark):
    rows = analytics_checks.markov_event_transitions(spark, SF_SMOKE).collect()
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "ts", "event_id", "event_type")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    ev["next_type"] = ev.groupby("user_id")["event_type"].shift(-1)
    expected = (
        ev.dropna(subset=["next_type"])
        .groupby(["event_type", "next_type"])
        .size()
        .to_dict()
    )
    got = {(r.event_type, r.next_type): r.n_transitions for r in rows}
    assert got == expected
    # each row of the transition matrix sums to 1 (up to rounding)
    sums = pd.Series({k[0]: 0.0 for k in got})
    for r in rows:
        sums[r.event_type] += r.prob
    assert ((sums - 1.0).abs() < 1e-4).all()


def test_interpolation_brackets_and_grid_shape(spark):
    df = analytics_checks.interpolated_daily_user_value(spark, SF_SMOKE)
    pdf = df.toPandas()
    assert pdf["value_interp"].notna().all()
    # per-user grid is dense over the user's own span, endpoints observed
    for uid, grp in pdf.groupby("user_id"):
        days = grp["day"].sort_values().to_numpy()
        assert (np.diff(days).astype("timedelta64[D]") == np.timedelta64(1, "D")).all()
        grp = grp.sort_values("day").reset_index(drop=True)
        assert bool(grp.loc[0, "is_observed"]) and bool(
            grp.loc[len(grp) - 1, "is_observed"]
        )
        # every gap value lies within its bracketing observed values
        obs_idx = grp.index[grp["is_observed"]].to_numpy()
        vals = grp["value_interp"].to_numpy()
        for lo, hi in zip(obs_idx[:-1], obs_idx[1:]):
            lo_v, hi_v = vals[lo], vals[hi]
            seg = vals[lo : hi + 1]
            assert (seg >= min(lo_v, hi_v) - 1e-9).all()
            assert (seg <= max(lo_v, hi_v) + 1e-9).all()


def test_fuzzy_pairs_distances_and_completeness(spark):
    rows = analytics_checks.fuzzy_part_name_pairs(spark, SF_SMOKE).collect()
    assert rows, "no fuzzy pairs at smoke SF"
    part = (
        spark.read.parquet(f"{SF_SMOKE}/part.parquet")
        .select("p_partkey", "p_name", "p_size")
        .toPandas()
    )
    names = dict(zip(part["p_partkey"], part["p_name"]))
    for r in rows:
        assert r.a_partkey < r.b_partkey
        assert r.edit_distance == _levenshtein(names[r.a_partkey], names[r.b_partkey])
        assert r.edit_distance <= 3
    # completeness within one block: recompute the densest block by hand
    got_pairs = {(r.a_partkey, r.b_partkey) for r in rows}
    block_size = part.groupby("p_size").size().idxmax()
    block = part[part["p_size"] == block_size].sort_values("p_partkey")
    recs = block.to_dict("records")
    for i, a in enumerate(recs):
        for b in recs[i + 1 :]:
            expected_in = _levenshtein(a["p_name"], b["p_name"]) <= 3
            assert (
                (a["p_partkey"], b["p_partkey"]) in got_pairs
            ) == expected_in, (a, b)


def test_pagerank_mass_conservation_and_determinism(spark):
    df = analytics_checks.pagerank_copurchase_parts(spark, SF_SMOKE)
    pdf = df.toPandas()
    assert (pdf["rank_scaled"] > 0).all()
    # symmetric co-occurrence graph has no dangling nodes, so total mass
    # is conserved: sum(pr) == 1  ⇔  mean(rank_scaled) == 1
    assert abs(pdf["rank_scaled"].mean() - 1.0) < 1e-6
    # decimal per-iteration sums ⇒ bit-reproducible across runs
    pdf2 = analytics_checks.pagerank_copurchase_parts(spark, SF_SMOKE).toPandas()
    merged = pdf.merge(pdf2, on="p_partkey", suffixes=("_a", "_b"))
    assert (merged["rank_scaled_a"] == merged["rank_scaled_b"]).all()
    # a node sharing orders with many parts outranks the median node
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").toPandas()
    deg = (
        li.merge(li, on="l_orderkey")
        .query("l_partkey_x != l_partkey_y")
        .groupby("l_partkey_x")["l_partkey_y"]
        .nunique()
    )
    top_deg_node = int(deg.idxmax())
    ranks = dict(zip(pdf["p_partkey"], pdf["rank_scaled"]))
    assert ranks[top_deg_node] > pdf["rank_scaled"].median()


def test_chi_square_matches_numpy_contingency(spark):
    rows = analytics_checks.chi_square_event_dow(spark, SF_SMOKE).collect()
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_type", (F.weekday("ts") + F.lit(1)).alias("isodow"))
        .toPandas()
    )
    tab = pd.crosstab(ev["event_type"], ev["isodow"]).astype(float)
    exp = np.outer(tab.sum(axis=1), tab.sum(axis=0)) / tab.to_numpy().sum()
    comp = (((tab.to_numpy() - exp) ** 2) / exp).sum(axis=1)
    expected = dict(zip(tab.index, comp))
    for r in rows:
        assert abs(r.chi2_component - expected[r.event_type]) < 1e-4, r


def test_robust_outliers_match_numpy(spark):
    rows = analytics_checks.robust_outliers_mad(spark, SF_SMOKE).collect()
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("event_type", "value")
        .toPandas()
    )
    for r in rows:
        vals = ev[ev["event_type"] == r.event_type]["value"].to_numpy(dtype=float)
        med = round(float(np.median(vals)), 6)
        mad = round(float(np.median(np.abs(vals - med))), 6)
        assert abs(r.median_value - med) < 1e-9
        assert abs(r.mad_value - mad) < 1e-9
        n_out = int((np.round(np.abs(vals - med) / (1.4826 * mad), 6) > 3.0).sum())
        assert r.n_outliers == n_out
        assert r.n_total == len(vals)


def test_twap_matches_pandas_single_day(spark):
    df = analytics_checks.twap_user_day(spark, SF_SMOKE)
    rows = df.collect()
    assert rows
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
    )
    ev["day"] = ev["ts"].dt.normalize()
    got = {(r.user_id, pd.Timestamp(r.day)): r for r in rows}
    checked = 0
    for (uid, day), grp in ev.groupby(["user_id", "day"]):
        grp = grp.sort_values(["ts", "event_id"])
        if len(grp) < 2:
            assert (uid, day) not in got
            continue
        us = grp["ts"].astype("int64").to_numpy() // 1000  # ns → µs
        gaps = np.diff(us).astype(float)
        vals = grp["value"].to_numpy(dtype=float)[:-1]
        twap = float((vals * gaps).sum() / gaps.sum())
        r = got[(uid, day)]
        assert r.n_segments == len(gaps)
        assert abs(r.twap_value - twap) < 1e-4
        checked += 1
        if checked >= 50:
            break
    assert checked


def test_ewma_matches_pandas_ewm(spark):
    rows = analytics_checks.ewma_user_value(spark, SF_SMOKE).collect()
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    expected = {
        uid: grp["value"].ewm(alpha=0.3, adjust=False).mean().iloc[-1]
        for uid, grp in ev.groupby("user_id")
    }
    for r in rows:
        assert abs(r.ewma_value - expected[r.user_id]) < 1e-6, r.user_id
        assert r.n_events == (ev["user_id"] == r.user_id).sum()


def test_copurchase_lift_matches_pandas(spark):
    rows = analytics_checks.copurchase_lift_parts(spark, SF_SMOKE).collect()
    assert rows
    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    n_orders = li["l_orderkey"].nunique()
    cnt = li.groupby("l_partkey").size().to_dict()
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs["l_partkey_x"] < pairs["l_partkey_y"]]
    support = pairs.groupby(["l_partkey_x", "l_partkey_y"]).size()
    expected = support[support >= 2].to_dict()
    got = {(r.a, r.b): r for r in rows}
    assert set(got) == set(expected)
    for (a, b), s in expected.items():
        r = got[(a, b)]
        assert r.support == s
        lift = s * n_orders / (cnt[a] * cnt[b])
        assert abs(r.lift - lift) < 1e-5
        assert abs(r.pmi - np.log2(lift)) < 1e-5


def test_triangle_count_matches_bruteforce(spark):
    """triangle_count_copurchase against triangles, edges and nodes
    counted on the collected co-purchase graph (edges: part pairs sharing
    >= 2 orders)."""
    row = analytics_checks.triangle_count_copurchase(spark, SF_SMOKE).collect()[0]
    li = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs["l_partkey_x"] < pairs["l_partkey_y"]]
    support = pairs.groupby(["l_partkey_x", "l_partkey_y"]).size()
    edges = set(support[support >= 2].index)
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = 0
    for a, b in edges:
        tri += len(adj[a] & adj[b])
    tri //= 3  # each triangle counted once per edge
    assert row.n_triangles == tri
    assert row.n_edges == len(edges)
    assert row.n_nodes == len(adj)


def test_linear_attribution_credit_totals(spark):
    rows = analytics_checks.linear_attribution_daily(spark, SF_SMOKE).collect()
    assert rows
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id", "event_id", "event_type", "ts")
        .toPandas()
    )
    purch = ev[ev["event_type"] == "purchase"]
    touch = ev[ev["event_type"].isin(["view", "click"])]
    j = purch.merge(touch, on="user_id", suffixes=("_p", "_t"))
    j = j[
        (j["ts_t"] >= j["ts_p"] - pd.Timedelta(hours=6)) & (j["ts_t"] < j["ts_p"])
    ]
    # total attributed credit equals the number of purchases with >=1 touch
    n_attributed = j["event_id_p"].nunique()
    assert abs(sum(r.attributed_purchases for r in rows) - n_attributed) < 1e-3
    assert sum(r.n_touches for r in rows) == len(j)


def test_profile_columns_matches_pandas(spark):
    rows = {r.column: r for r in analytics_checks.profile_columns_orders(spark, SF_SMOKE).collect()}
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    assert set(rows) == set(orders.columns)
    for c, r in rows.items():
        assert r.n_rows == len(orders)
        assert r.n_nulls == orders[c].isna().sum()
        assert r.n_distinct == orders[c].nunique()
        if r.kind == "numeric":
            col = orders[c]
            if str(col.dtype).startswith("datetime"):
                mn = col.min().value / 1000  # ns → µs
                mx = col.max().value / 1000
            else:
                mn, mx = float(col.min()), float(col.max())
            assert r.min_num == mn and r.max_num == mx
        else:
            assert r.min_str == orders[c].min()
            assert r.max_str == orders[c].max()
            assert abs(r.avg_len - orders[c].str.len().mean()) < 1e-6


def test_canonical_entities_consistent_with_fuzzy_pairs(spark):
    ents = analytics_checks.canonical_entities_parts(spark, SF_SMOKE).collect()
    label = {r.p_partkey: r.entity_id for r in ents}
    sizes: dict[int, int] = {}
    for r in ents:
        sizes[r.entity_id] = sizes.get(r.entity_id, 0) + 1
    for r in ents:
        assert r.entity_size == sizes[r.entity_id]
        assert r.is_canonical == (r.p_partkey == r.entity_id)
        assert label[r.entity_id] == r.entity_id  # canonical is its own entity
    # every fuzzy pair's endpoints share an entity
    pairs = analytics_checks.fuzzy_part_name_pairs(spark, SF_SMOKE).collect()
    for p in pairs:
        assert label[p.a_partkey] == label[p.b_partkey]


def test_ab_test_matches_numpy_welch(spark):
    row = analytics_checks.ab_test_session_value(spark, SF_SMOKE).first()
    ev = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    sessions = []
    for uid, grp in ev.groupby("user_id"):
        cur = None
        prev = None
        for _, r in grp.iterrows():
            if prev is None or (r["ts"] - prev).total_seconds() >= 300:
                if cur is not None:
                    sessions.append((uid, cur))
                cur = 0.0
            cur += r["value"]
            prev = r["ts"]
        sessions.append((uid, cur))
    a, b = [], []
    for uid, sv in sessions:
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:6], 16)
        (a if h % 2 == 0 else b).append(round(sv, 2))
    a, b = np.array(a), np.array(b)
    assert row.n_a == len(a) and row.n_b == len(b)
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / len(a) + vb / len(b)
    t = (a.mean() - b.mean()) / np.sqrt(se2)
    assert abs(row.mean_a - a.mean()) < 1e-4
    assert abs(row.t_stat - t) < 1e-4


def test_key_skew_gini_matches_direct(spark):
    row = analytics_checks.key_skew_report_events(spark, SF_SMOKE).first()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    counts = np.sort(ev.groupby("user_id").size().to_numpy())
    n, tot = len(counts), counts.sum()
    i = np.arange(1, n + 1)
    gini = (2.0 * (i * counts).sum() - (n + 1) * tot) / (n * tot)
    assert row.n_keys == n and row.n_rows == tot
    assert abs(row.gini - gini) < 1e-6
    assert 0.0 <= row.gini < 1.0
    assert abs(row.top_key_share - counts.max() / tot) < 1e-6


def test_time_to_convert_matches_numpy(spark):
    row = analytics_checks.time_to_convert_quantiles(spark, SF_SMOKE).first()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    fv = ev[ev.event_type == "view"].groupby("user_id")["ts"].min()
    fp = ev[ev.event_type == "purchase"].groupby("user_id")["ts"].min()
    j = pd.concat([fv.rename("v"), fp.rename("p")], axis=1).dropna()
    d = (j["p"] - j["v"]).dt.total_seconds()
    d = d[d >= 0].to_numpy()
    assert row.n_users == len(d)
    for name, q in [("p25", 0.25), ("p50", 0.5), ("p75", 0.75), ("p90", 0.9)]:
        assert abs(getattr(row, name) - np.quantile(d, q)) < 1e-2


def test_scd2_asof_straddles_the_cut(spark):
    got = lakehouse_checks.scd2_asof_lookup(spark, SF_SMOKE).toPandas()
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    assert len(got) == len(orders)  # every order resolves exactly one version
    cust7 = got[got.o_custkey % 7 == 0]
    pre = cust7[cust7.o_orderdate < pd.Timestamp("1998-01-01")]
    post = cust7[cust7.o_orderdate >= pd.Timestamp("1998-01-01")]
    assert (~pre.mktsegment_asof.str.startswith("SEG_")).all()
    assert post.mktsegment_asof.str.startswith("SEG_").all()
    assert len(pre) > 0 and len(post) > 0  # the fixture straddles the cut


def test_table_diff_classes_match_rules(spark):
    got = {
        r.change_type: r
        for r in lakehouse_checks.table_diff_snapshots(spark, SF_SMOKE).collect()
    }
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").toPandas()
    k = o["o_orderkey"]
    assert got["removed"].n_rows == int((k % 11 == 0).sum())
    assert got["added"].n_rows == int((k % 13 == 0).sum())
    assert got["changed"].n_rows == int(((k % 11 != 0) & (k % 7 == 0)).sum())
    assert got["unchanged"].n_rows == int(((k % 11 != 0) & (k % 7 != 0)).sum())
    assert got["unchanged"].net_price_delta == 0.0
    assert got["changed"].net_price_delta > 0


def test_kaplan_meier_matches_direct_estimator(spark):
    rows = sorted(
        analytics_checks.kaplan_meier_conversion_events(spark, SF_SMOKE).collect(),
        key=lambda r: r.duration_days,
    )
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    ev["day"] = ev["ts"].dt.floor("D")
    fv = ev[ev.event_type == "view"].groupby("user_id")["day"].min()
    fp = ev[ev.event_type == "purchase"].groupby("user_id")["day"].min()
    max_day = ev["day"].max()
    obs = []
    for uid, start in fv.items():
        p = fp.get(uid)
        if p is not None and not pd.isna(p) and p >= start:
            obs.append(((p - start).days, True))
        else:
            obs.append(((max_day - start).days, False))

    d = Counter(t for t, e in obs if e)
    n_all = Counter(t for t, _ in obs)
    surv, expect = 1.0, {}
    for t in sorted(d):
        n_t = sum(c for u, c in n_all.items() if u >= t)
        surv *= (n_t - d[t]) / n_t
        expect[t] = (n_t, d[t], surv)
    assert [r.duration_days for r in rows] == sorted(expect)
    for r in rows:
        n_t, d_t, s = expect[r.duration_days]
        assert r.n_at_risk == n_t and r.n_events == d_t
        assert abs(r.survival - s) < 1e-6
    assert all(a.survival >= b.survival for a, b in zip(rows, rows[1:]))


def test_mann_whitney_matches_direct_ranks(spark):
    row = analytics_checks.mann_whitney_purchase_view_values(spark, SF_SMOKE).first()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    ev = ev[ev.event_type.isin(["purchase", "view"])]
    vals = ev["value"].to_numpy()
    ranks = pd.Series(vals).rank(method="average").to_numpy()
    is_p = (ev.event_type == "purchase").to_numpy()
    n1, n2 = int(is_p.sum()), int((~is_p).sum())
    r1 = float(ranks[is_p].sum())
    u1 = r1 - n1 * (n1 + 1) / 2.0
    _, t_counts = np.unique(vals, return_counts=True)
    tie = float((t_counts**3 - t_counts).sum())
    n = n1 + n2
    var_u = n1 * n2 / 12.0 * ((n + 1) - tie / (n * (n - 1)))
    z = (u1 - n1 * n2 / 2.0) / np.sqrt(var_u)
    assert row.n1 == n1 and row.n2 == n2
    assert abs(row.u_stat - u1) < 1e-3
    assert abs(row.z_score - z) < 1e-5


def test_spearman_and_kendall_match_pandas(spark):
    x, y = _daily_pv(spark)
    rho = analytics_checks.spearman_daily_purchase_view(spark, SF_SMOKE).first()
    rx = pd.Series(x).rank(method="average").to_numpy()
    ry = pd.Series(y).rank(method="average").to_numpy()
    expect_rho = np.corrcoef(rx, ry)[0, 1]
    assert rho.n == len(x)
    assert abs(rho.spearman_rho - expect_rho) < 1e-6
    tau = analytics_checks.kendall_tau_daily_purchase_view(spark, SF_SMOKE).first()
    c = d = tx = ty = 0
    for i in range(len(x)):
        for j in range(i + 1, len(x)):
            sx, sy = x[j] - x[i], y[j] - y[i]
            if sx == 0 and sy != 0:
                tx += 1
            elif sy == 0 and sx != 0:
                ty += 1
            elif sx * sy > 0:
                c += 1
            elif sx * sy < 0:
                d += 1
    expect_tau = (c - d) / np.sqrt((c + d + tx) * (c + d + ty))
    assert tau.n_pairs == len(x) * (len(x) - 1) // 2
    assert tau.concordant == c and tau.discordant == d
    assert abs(tau.kendall_tau_b - expect_tau) < 1e-6


def test_theil_sen_matches_direct_median(spark):
    row = analytics_checks.theil_sen_daily_trend(spark, SF_SMOKE).first()
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    ev["day"] = ev["ts"].dt.floor("D")
    daily = ev.groupby("day")["value"].sum()
    days = (daily.index - daily.index.min()).days.to_numpy(dtype=float)
    vals = daily.to_numpy(dtype=float)
    slopes = [
        (vals[j] - vals[i]) / (days[j] - days[i])
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
    ]
    assert row.n_pairs == len(slopes)
    assert abs(row.theil_sen_slope - float(np.median(slopes))) < 1e-4
