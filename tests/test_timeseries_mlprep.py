"""Semantic checks for the time-series + ML-prep tiers
(operators/timeseries_checks.py, operators/mlprep_checks.py).

Same division of labor as test_analytics.py: tools/check_oracle.py proves
cross-engine parity; these prove the math against independent numpy/pandas
implementations on sf0.001.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict, deque

import numpy as np
import pandas as pd

from data_ingestion_pipeline_spark.operators import mlprep_checks, timeseries_checks
from tests.conftest import SF_SMOKE


def _daily_pd(spark, by_type: bool) -> pd.DataFrame:
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    ev["day"] = ev["ts"].dt.floor("D")
    keys = (["event_type"] if by_type else []) + ["day"]
    return ev.groupby(keys, as_index=False)["value"].sum()


def test_autocorr_matches_numpy(spark):
    got = {
        r.lag: r for r in timeseries_checks.autocorr_daily_value(spark, SF_SMOKE).collect()
    }
    daily = _daily_pd(spark, by_type=False).sort_values("day").reset_index(drop=True)
    x = daily["value"].to_numpy(dtype=float)
    # fixture days are contiguous, so positional lag == calendar lag
    assert (daily["day"].diff().dropna() == pd.Timedelta(days=1)).all()
    for lag in range(1, 8):
        r = np.corrcoef(x[:-lag], x[lag:])[0, 1]
        assert got[lag].n == len(x) - lag
        assert abs(got[lag].acf - r) < 1e-6


def test_rolling_zscore_matches_pandas(spark):
    got = timeseries_checks.rolling_zscore_anomaly_daily(spark, SF_SMOKE).collect()
    daily = _daily_pd(spark, by_type=True)
    by_key = {}
    for et, grp in daily.groupby("event_type"):
        g = grp.sort_values("day").reset_index(drop=True)
        x = g["value"].to_numpy(dtype=float)
        for i in range(len(x)):
            frame = x[max(0, i - 7) : i]
            if len(frame) >= 5 and frame.std() > 0:
                z = (x[i] - frame.mean()) / frame.std()  # population sd
                by_key[(et, g["day"][i].date())] = z
    assert len(got) == len(by_key)
    for r in got:
        z = by_key[(r.event_type, r.day)]
        assert abs(r.zscore - z) < 1e-6
        assert r.is_anomaly == (abs(z) > 2)


def test_seasonal_naive_mape_matches_pandas(spark):
    got = {
        r.event_type: r
        for r in timeseries_checks.seasonal_naive_mape_events(spark, SF_SMOKE).collect()
    }
    daily = _daily_pd(spark, by_type=True)
    for et, grp in daily.groupby("event_type"):
        g = grp.set_index("day")["value"]
        apes = []
        for day, x in g.items():
            prev = g.get(day - pd.Timedelta(days=7))
            if prev is not None and not pd.isna(prev):
                apes.append(abs(x - prev) / x)
        assert got[et].n_days == len(apes)
        assert abs(got[et].mape_pct - float(np.mean(apes)) * 100.0) < 1e-4


def test_cusum_matches_direct_fold(spark):
    got = {
        r.event_type: r
        for r in timeseries_checks.cusum_changepoint_daily(spark, SF_SMOKE).collect()
    }
    daily = _daily_pd(spark, by_type=True)
    for et, grp in daily.groupby("event_type"):
        g = grp.sort_values("day").reset_index(drop=True)
        x = g["value"].to_numpy(dtype=float)
        dev = x - x.mean()
        s, peak, peak_i = 0.0, -1.0, -1
        for i, d in enumerate(dev):
            s = max(0.0, s + d)
            if s > peak:
                peak, peak_i = s, i
        assert got[et].n_days == len(x)
        assert abs(got[et].peak_cusum - peak) < 1e-4
        assert got[et].peak_day == g["day"][peak_i].date()


def test_kmeans_assignment_matches_numpy(spark):
    got = {
        r.cluster_id: r
        for r in mlprep_checks.kmeans_assign_embeddings(spark, SF_SMOKE).collect()
    }
    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    cents = vecs[:8]
    cids = emb["vec_id"].to_numpy()[:8]
    d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = cids[np.argmin(d2, axis=1)]
    mind = d2.min(axis=1)
    for cid in np.unique(assign):
        mask = assign == cid
        assert got[cid].n_vectors == int(mask.sum())
        assert abs(got[cid].avg_dist2 - float(mind[mask].mean())) < 1e-5
    assert sum(r.n_vectors for r in got.values()) == len(vecs)


def test_bigram_lm_scores_match_pandas_model(spark):
    got = {
        r.doc_id: r for r in mlprep_checks.bigram_lm_doc_scores(spark, SF_SMOKE).collect()
    }
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    bigrams: dict[int, list[tuple[str, str]]] = {}

    c2: Counter = Counter()
    c1: Counter = Counter()
    for _, row in docs.iterrows():
        toks = [t for t in row["text"].split() if t]
        bs = list(zip(toks, toks[1:]))
        bigrams[row["doc_id"]] = bs
        for b in bs:
            c2[b] += 1
            c1[b[0]] += 1
    for doc_id, bs in bigrams.items():
        if not bs:
            assert doc_id not in got
            continue
        score = float(np.mean([c2[b] / c1[b[0]] for b in bs]))
        assert got[doc_id].n_bigrams == len(bs)
        assert abs(got[doc_id].avg_condprob - score) < 1e-6


def test_split_is_complete_and_stable(spark):
    rows = mlprep_checks.train_val_test_split_documents(spark, SF_SMOKE).collect()
    n_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count()
    by_split = {r.split: r.n_docs for r in rows}
    assert sum(by_split.values()) == n_docs
    assert set(by_split) <= {"train", "val", "test"}
    assert by_split["train"] > by_split.get("val", 0)
    again = {
        r.split: r.n_docs
        for r in mlprep_checks.train_val_test_split_documents(spark, SF_SMOKE).collect()
    }
    assert again == by_split


def test_scrub_redacts_every_digit_run(spark):
    rows = mlprep_checks.scrub_numeric_tokens_events(spark, SF_SMOKE).collect()

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").toPandas()
    props = dict(zip(ev["event_id"], ev["props"]))
    assert len(rows) == len(props)
    for r in rows[:200]:
        raw = props[r.event_id]
        assert "0" not in r.scrubbed_props.replace("<NUM>", "")
        assert r.scrubbed_props == re.sub(r"[0-9]+", "<NUM>", raw)
        assert r.n_redacted == len(re.findall(r"[0-9]+", raw))


def test_weighted_sample_matches_direct_keys(spark):
    rows = mlprep_checks.weighted_sample_documents(spark, SF_SMOKE).collect()
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    keys = []
    for _, row in docs.iterrows():
        h = int(hashlib.md5(str(row["doc_id"]).encode()).hexdigest()[:13], 16)
        u = (h + 1.0) / (float(16**13) + 2.0)
        keys.append((math.log(u) / row["n_chars"], row["doc_id"], row["n_chars"]))
    keys.sort(key=lambda t: (-t[0], t[1]))
    expect = keys[:50]
    assert len(rows) == 50
    for r, (_, doc_id, n_chars) in zip(sorted(rows, key=lambda r: r.sample_rank), expect):
        assert r.doc_id == doc_id and r.n_chars == n_chars


def test_corr_matrix_matches_numpy(spark):
    got = {
        (r.col_x, r.col_y): r
        for r in mlprep_checks.corr_matrix_lineitem(spark, SF_SMOKE).collect()
    }
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").toPandas()
    assert len(got) == 6
    for (a, b), r in got.items():
        expect = np.corrcoef(li[a].astype(float), li[b].astype(float))[0, 1]
        assert r.n == len(li)
        assert abs(r.pearson_r - expect) < 1e-6


def test_equidepth_buckets_are_balanced_and_ordered(spark):
    rows = sorted(
        mlprep_checks.equidepth_histogram_orders(spark, SF_SMOKE).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(1, 11))
    sizes = [r.n_orders for r in rows]
    assert max(sizes) - min(sizes) <= 1
    assert sizes[: sizes.count(max(sizes))] == [max(sizes)] * sizes.count(max(sizes))
    for prev, nxt in zip(rows, rows[1:]):
        assert prev.max_price <= nxt.min_price
        assert prev.min_price <= prev.avg_price <= prev.max_price


def test_khop_matches_python_bfs(spark):
    got = {r.part_id: r.min_hop for r in mlprep_checks.khop_reach_copurchase(spark, SF_SMOKE).collect()}
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").toPandas()
    po = li[["l_orderkey", "l_partkey"]].drop_duplicates()

    cnt: Counter = Counter()
    for _, grp in po.groupby("l_orderkey"):
        parts = sorted(grp["l_partkey"])
        for i, s in enumerate(parts):
            for t in parts[i + 1 :]:
                cnt[(s, t)] += 1
    adj = defaultdict(set)
    for (s, t), c in cnt.items():
        if c >= 2:
            adj[s].add(t)
            adj[t].add(s)
    if not adj:
        assert list(got.values()) == [0]
        return
    seed = min(adj)
    dist = {seed: 0}
    q = deque([seed])
    while q:
        n = q.popleft()
        if dist[n] >= 3:
            continue
        for m in adj[n]:
            if m not in dist:
                dist[m] = dist[n] + 1
                q.append(m)
    assert got == dist


def test_rake_matches_hand_rolled(spark):
    got = sorted(
        mlprep_checks.rake_keywords_documents(spark, SF_SMOKE).collect(),
        key=lambda r: r.rk,
    )
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").toPandas()
    stop = set(mlprep_checks.RAKE_STOPWORDS)
    freq: Counter = Counter()
    degree: Counter = Counter()
    phrase_occurrences = defaultdict(int)
    all_phrases = []
    for _, row in docs.iterrows():
        toks = [t for t in row["text"].split() if t]
        phrase = []
        for t in toks + ["<END_STOP>"]:
            if t in stop or t == "<END_STOP>":
                if phrase:
                    all_phrases.append(tuple(phrase))
                    phrase_occurrences[" ".join(phrase)] += 1
                phrase = []
            else:
                phrase.append(t)
    for p in all_phrases:
        for w in p:
            freq[w] += 1
            degree[w] += len(p)
    scores = {}
    for p in all_phrases:
        text = " ".join(p)
        scores[text] = (len(p), sum(degree[w] / freq[w] for w in p))
    ranked = sorted(
        ((round(s, 6), t) for t, (_, s) in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )[:15]
    assert len(got) == 15
    for r, (score, text) in zip(got, ranked):
        assert r.phrase == text
        assert abs(r.score - score) < 1e-5
        assert r.n_words == scores[text][0]
        assert r.n_occurrences == phrase_occurrences[text]


def test_arrow_norms_match_numpy(spark):
    got = {
        r.vec_id: r.l2_norm
        for r in mlprep_checks.arrow_vector_norms_embeddings(spark, SF_SMOKE).collect()
    }
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").toPandas()
    assert len(got) == len(emb)
    for _, row in emb.iterrows():
        v = np.asarray(row["embedding"], dtype=np.float64)
        assert abs(got[row["vec_id"]] - np.linalg.norm(v)) < 1e-6


def test_kmeans_lloyd_matches_numpy_iterations(spark):
    got = {
        r.cluster_id: r
        for r in mlprep_checks.kmeans_lloyd_embeddings(spark, SF_SMOKE).collect()
    }
    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    cids = emb["vec_id"].to_numpy()[:8]
    cents = vecs[:8].copy()
    for _ in range(3):
        d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        for j in range(8):
            members = vecs[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    mind = d2[np.arange(len(vecs)), assign]
    for j in np.unique(assign):
        mask = assign == j
        assert got[cids[j]].n_vectors == int(mask.sum())
        assert abs(got[cids[j]].inertia - float(mind[mask].mean())) < 1e-4
    assert sum(r.n_vectors for r in got.values()) == len(vecs)
