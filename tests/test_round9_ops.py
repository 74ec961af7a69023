"""Round-9 fixes: flock-based commit lock (TOCTOU-free stale breaking),
equality_delete lock-failure cleanup, persist-pin release.

Advisor findings driving these (ADVICE.md round 8): the O_EXCL+unlink
stale-lock breaker let two waiters both judge a lock stale — the second's
delayed unlink removed the first's FRESH lock, violating mutual exclusion;
and equality_delete left a renamed sidecar attached when the final lock
acquisition timed out (half-applied delete visible to readers).
"""

from __future__ import annotations

import fcntl
import gc
import hashlib
import itertools
import math
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager
from unittest import mock

import numpy as np
import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators import tpch_queries as t
from data_ingestion_pipeline_spark.operators.analytics_checks import (
    absorbing_expected_steps_to_purchase,
    fellegi_sunter_part_linkage,
    hits_authorities_parts,
    kcore_peel_copurchase_parts,
    mann_kendall_daily_trend,
    mutual_information_event_dow,
)
from data_ingestion_pipeline_spark.operators.corpus_quality import (
    bigram_perplexity_documents,
)
from data_ingestion_pipeline_spark.operators.inference_stats import (
    eb_shrunk_purchase_rate_users,
    jackknife_ratio_metric_ab,
)
from data_ingestion_pipeline_spark.operators.llm_data import (
    ann_pq_sample_adc_topk_embeddings,
    minhash_md5_replay_near_dup_documents,
    simhash_md5_replay_near_dup_documents,
)
from data_ingestion_pipeline_spark.operators.mlprep_checks import (
    textrank_terms_documents,
)
from data_ingestion_pipeline_spark.plans import commit
from data_ingestion_pipeline_spark.plans.table import ManagedTable
from data_ingestion_pipeline_spark.similarity.pq import train_codebooks
from tests.conftest import write_sf
from tests.test_analytics import _levenshtein
from tests.test_plans import QUERIES


def _mk(spark, tmp_path, name="t"):
    t = ManagedTable(spark, str(tmp_path / name))
    t.overwrite(spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("n")))
    return t


def test_ptr_lock_mutual_exclusion_and_crash_release(spark, tmp_path):
    """The flock lock (a) excludes a second acquirer while held, (b) admits
    it immediately after release, and (c) treats a crashed writer's leftover
    lockFILE (present but not flocked — the fd died with the process) as
    free, with no mtime-staleness window at all. The file is never
    unlinked: one inode serves every acquisition."""
    t = _mk(spark, tmp_path)
    got: list[float] = []
    inodes: list[int] = []

    def contender():
        with commit.lock(t.root) as fd2:  # must block until the holder releases
            got.append(time.monotonic())
            inodes.append(os.fstat(fd2).st_ino)

    with commit.lock(t.root) as fd:
        inodes.append(os.fstat(fd).st_ino)
        th = threading.Thread(target=contender)
        th.start()
        time.sleep(0.3)
        assert not got, "second acquirer entered the critical section while held"
        released = time.monotonic()
    th.join(timeout=10)
    assert got and got[0] >= released

    # (c) crashed writer: a bare lockfile nobody flocks — acquirable at once
    # (under the old design this required a 60 s mtime backdate)
    lock = os.path.join(t.root, ".ptr_lock")
    with open(lock, "w"):
        pass
    start = time.monotonic()
    with commit.lock(t.root) as fd3:
        assert time.monotonic() - start < 5.0
        inodes.append(os.fstat(fd3).st_ino)
    assert set(inodes) == {os.stat(lock).st_ino}


def test_ptr_lock_inode_check_bounces_orphaned_acquisition(spark, tmp_path):
    """A flock held on an orphaned lock inode (one whose path was
    unlinked and re-created behind it) must not exclude or admit anyone:
    the lock always flocks the inode its PATH names. Simulated directly:
    flock an orphan fd whose path was re-created, then assert the lock
    excludes against the PATH's current inode."""
    t = _mk(spark, tmp_path)
    lock = os.path.join(t.root, ".ptr_lock")

    # orphan: open + unlink, so this fd's inode is unreachable via the path
    orphan = os.open(lock, os.O_CREAT | os.O_WRONLY)
    os.unlink(lock)

    # a real acquisition must succeed despite the orphan holding a flock on
    # the dead inode (fresh path -> fresh inode -> no contention)

    fcntl.flock(orphan, fcntl.LOCK_EX | fcntl.LOCK_NB)
    with commit.lock(t.root) as fd:
        assert os.fstat(fd).st_ino == os.stat(lock).st_ino
        assert os.fstat(fd).st_ino != os.fstat(orphan).st_ino
    os.close(orphan)


@pytest.mark.parametrize(
    "qname",
    [
        "good_turing_unseen_mass_documents",
        "canonical_entities_parts",
        "heaps_law_fit_documents",
        "rfm_segments_customers_approx",
        "tpch_q15_top_supplier",
    ],
)
def test_pinned_operators_leave_no_catalog_cache(spark, qname, sf_dir):
    """The operators that pin a shared subtree must not leave CacheManager
    entries behind — a long-lived library session calling them repeatedly
    previously accumulated cached partitions until someone called
    clearCache(). The pins are lazy localCheckpoints: RDD-level blocks,
    reclaimed by the ContextCleaner when the result DataFrame is
    garbage-collected. Leftovers are attributed by RDD id: no RDD created
    after the query started may keep stored blocks, whatever an earlier
    test's blocks are still draining."""
    sc = spark.sparkContext
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_mgr.clearCache()
    first_id = sc.parallelize([0]).id()  # RDD ids only grow

    def leftovers():
        # RDDInfo snapshots, not the RDDs: a py4j proxy of an RDD (or of the
        # getPersistentRDDs map) keeps it strongly reachable until py4j's
        # finalizer thread releases it up to a second later, so polling
        # through such proxies would itself keep the pins alive.
        return {
            info.id(): info.callSite()
            for info in sc._jsc.sc().getRDDStorageInfo()
            if info.id() > first_id
        }

    df = QUERIES[qname](spark, sf_dir)
    assert df.count() >= 0  # materialize through the pinned subtree
    assert cache_mgr.isEmpty(), f"{qname} left a CacheManager entry behind"
    assert leftovers(), f"{qname} no longer pins a subtree"

    # Dropping the result lets the ContextCleaner unpersist the blocks
    # (async — poll). Spark also retains RECENT executions (and through
    # them the checkpoint RDDs) until later queries displace them, and a
    # single displacing query is not always enough (observed: one
    # displacement + 60 s of System.gc() polling still left all 6 of
    # canonical_entities' pins; displacing every few poll iterations
    # drained them within 2-16 s). So the no-op displacement runs INSIDE
    # the loop.
    del df
    deadline = time.monotonic() + 60.0
    it = 0
    while leftovers() and time.monotonic() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        if it % 5 == 0:
            spark.range(1).count()
        it += 1
        time.sleep(0.5)
    left = leftovers()
    assert not left, (
        f"{qname}'s checkpoint blocks were not GC-reclaimed; RDDs with stored "
        f"blocks (id: callSite) left: {left}"
    )


def test_equality_delete_rolls_back_sidecar_on_lock_timeout(spark, tmp_path):
    """If the commit lock cannot be acquired, the delete publishes
    nothing: a read made while the deleter waits for the lock, and any
    read after the error, still shows every row."""
    t = _mk(spark, tmp_path)
    v = t.current_version()
    assert commit.sidecars(t.root, v) == []
    seen = []

    @contextmanager
    def read_then_time_out(root):
        seen.append(t.read().count())
        raise RuntimeError("pointer lock held past 30s — live contention?")
        yield

    with mock.patch.object(commit, "lock", read_then_time_out), pytest.raises(RuntimeError):
        t.equality_delete(spark.range(2).withColumnRenamed("id", "k"), ["k"])
    assert seen == [5], "a read saw a delete that never committed"
    assert commit.sidecars(t.root, v) == [], "half-applied delete left attached"
    assert t.read().count() == 5
    assert not [d for d in os.listdir(t.root) if d.startswith("._stage_")]


def test_bigram_perplexity_hand_computed(spark, tmp_path):
    """Two-document planted corpus with a hand-derivable add-one bigram
    model: doc 10 = "a b a b", doc 11 = "a b c". Model: c(a,b)=3, c(b,a)=1,
    c(b,c)=1; contexts c(a,.)=3, c(b,.)=2; V=3. NLLs follow the exact
    ln-term rounding policy the operator declares."""

    docs = spark.createDataFrame(
        [(10, "a b a b", "s"), (11, "a b c", "s")],
        "doc_id long, text string, source string",
    )
    sf = write_sf(tmp_path, documents=docs)
    got = {r.doc_id: r for r in bigram_perplexity_documents(spark, sf).collect()}

    def r9ln(x):
        return round(math.log(x), 9)

    nll_ab = r9ln(3 + 3) - r9ln(3 + 1)  # -ln P(b|a) = ln((cu+V)/(cb+1))
    nll_ba = r9ln(2 + 3) - r9ln(1 + 1)
    nll_bc = r9ln(2 + 3) - r9ln(1 + 1)
    d10 = round((2 * nll_ab + nll_ba) / 3, 6)
    d11 = round((nll_ab + nll_bc) / 2, 6)
    assert got[10].n_bigrams == 3 and got[11].n_bigrams == 2
    assert got[10].avg_nll == d10
    assert got[11].avg_nll == d11
    assert got[10].ppl == round(math.exp(d10), 4)
    assert got[11].ppl == round(math.exp(d11), 4)
    # the repeated-transition doc is more fluent under the corpus model
    assert got[10].ppl < got[11].ppl


def test_hits_one_iteration_is_normalized_indegree(spark, sf_dir):
    """With h0 = 1, the first authority vector is the L2-normalized
    in-degree of each part in the distinct (customer, part) edge set —
    computable directly, so the iterative machinery is pinned against a
    closed form (the same style of gate pagerank's oracle unrolling gets
    from its r1 = 0.15/n + 0.85·indeg/outdeg closed form)."""

    got = {
        r["p_partkey"]: r["authority"]
        for r in hits_authorities_parts(spark, sf_dir, iters=1).collect()
    }

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    deg = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .count()
        .collect()
    )
    indeg = {r["l_partkey"]: r["count"] for r in deg}
    nrm = math.sqrt(sum(v * v for v in indeg.values()))
    assert set(got) == set(indeg)
    for k, v in indeg.items():
        assert got[k] == round(v / nrm, 9), k

    # full-depth output is still a unit vector (up to round-9 rounding)
    full = hits_authorities_parts(spark, sf_dir, iters=3).collect()
    s = sum(r["authority"] ** 2 for r in full)
    assert abs(s - 1.0) < 1e-6
    assert all(r["authority"] > 0 for r in full)


def test_pq_sample_codebooks_are_the_strided_sample(spark, sf_dir):
    """train_codebooks(n_iters=0) must return the strided sample's
    subvectors verbatim (first-K init, zero Lloyd steps) — the property
    the ann_pq_sample_adc oracle's cent CTE replays; and the ADC query's
    top hit for the vec_id=0 query is vec 0 itself on these fixtures."""

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = train_codebooks(emb, n_subspaces=8, n_codes=16, sample_size=16, n_iters=0)
    n = emb.count()
    stride = max(n // 16, 1)
    rows = (
        emb.filter((emb.vec_id % stride == 0) & (emb.vec_id < stride * 16))
        .orderBy("vec_id")
        .collect()
    )
    sample = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    assert sample.shape[0] == 16
    for s in range(8):
        assert np.array_equal(books[s], sample[:, s * 8 : (s + 1) * 8])

    top = ann_pq_sample_adc_topk_embeddings(spark, sf_dir).collect()
    assert len(top) == 20
    assert top[0]["vec_id"] == 0  # ADC self-match leads on these fixtures


def test_kcore_round6_is_the_fixpoint(spark, sf_dir):
    """The docstring's exactness claim: at rounds=6 the peel has stabilized
    on the fixtures, so round 7 returns the identical relation (the output
    IS the k-core, not a truncation), every survivor's degree is >= k, and
    k matches the max(E//N, 2) policy computed independently."""

    r6 = {
        (r["p_partkey"], r["core_degree"])
        for r in kcore_peel_copurchase_parts(spark, sf_dir, rounds=6).collect()
    }
    r7 = {
        (r["p_partkey"], r["core_degree"])
        for r in kcore_peel_copurchase_parts(spark, sf_dir, rounds=7).collect()
    }
    assert r6 == r7 and r6

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    po = li.select("l_orderkey", "l_partkey").distinct()
    pa = po.select("l_orderkey", F.col("l_partkey").alias("a"))
    pb = po.select("l_orderkey", F.col("l_partkey").alias("b"))
    und = (
        pa.join(pb, "l_orderkey")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .count()
        .filter(F.col("count") >= 2)
    )
    m = und.count()
    n = (
        und.select(F.col("a").alias("x"))
        .union(und.select("b"))
        .distinct()
        .count()
    )
    k = max(m // max(n, 1), 2)
    assert min(d for _, d in r6) >= k


def test_md5_replay_dedup_siblings_structural(spark, sf_dir):
    """Structural gates for the two md5-replay dedup siblings (their value
    correctness is hash-checked by the DuckDB oracles; this pins the
    planted-duplicate semantics): the minhash replay at B=8/R=4 recovers
    EVERY planted 80%-prefix pair at sf0.001 (J≈0.8 >> the (1/B)^(1/R)
    ≈0.59 crossover), all its jaccards clear the 0.5 verify cut, and the
    simhash replay returns only pairs within the pigeonhole's hamming<=3
    contract (planted pairs mostly exceed hamming 3 under 20% token churn
    -- a property of SimHash, so only SOME planted pairs appear)."""

    mh = minhash_md5_replay_near_dup_documents(spark, sf_dir).collect()
    planted = {(r["id_a"], r["id_b"]) for r in mh if r["id_b"] == r["id_a"] + 1000000}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "doc_id % 20 = 0"
    ).count()
    assert len(planted) == n_docs  # 25/25 at sf0.001, measured on landing
    assert all(r["jaccard"] >= 0.5 for r in mh)

    sh = simhash_md5_replay_near_dup_documents(spark, sf_dir).collect()
    assert sh and all(0 <= r["hamming"] <= 3 for r in sh)
    assert any(r["id_b"] == r["id_a"] + 1000000 for r in sh)


def test_textrank_one_iteration_closed_form(spark, sf_dir):
    """With WS0 = 1, the first TextRank iterate is the closed form
    0.15 + 0.85 * sum_u w_uv / S(u) — computed directly here from the
    same adjacency counts, pinning the weighted-propagation machinery
    (the HITS normalized-indegree gate's analog for the weighted loop)."""

    got = {
        r["term"]: r["textrank"]
        for r in textrank_terms_documents(spark, sf_dir, iters=1).collect()
    }

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(t)
    prs = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    rows = (
        docs.select(F.explode(prs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter(F.col("w1") != F.col("w2"))
        .collect()
    )

    w = Counter()
    for r in rows:
        a, b = sorted((r["w1"], r["w2"]))
        w[(a, b)] += 1
    adj = {}
    for (a, b), c in w.items():
        adj.setdefault(a, {})[b] = c
        adj.setdefault(b, {})[a] = c
    strength = {u: sum(vs.values()) for u, vs in adj.items()}
    assert set(got) == set(strength)
    for v in strength:
        expect = 0.15 + 0.85 * sum(
            w[tuple(sorted((u, v)))] / strength[u] for u in adj[v]
        )
        assert abs(got[v] - expect) < 1e-6, v
    assert all(s >= 0.15 for s in got.values())


def test_mutual_information_matches_direct_computation(spark, sf_dir):
    """MI components recomputed directly from the contingency table with
    python floats under the same integer-ln-rounded policy; the total MI
    (sum of per-type components) must be non-negative (it is an exact MI,
    only the ln terms are rounded at 1e-9)."""

    got = {
        r["event_type"]: r["mi_component"]
        for r in mutual_information_event_dow(spark, sf_dir).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_type", (F.weekday("ts") + F.lit(1)).alias("dow"))
        .collect()
    )
    cells = Counter((r["event_type"], r["dow"]) for r in rows)
    nx = Counter()
    ny = Counter()
    for (x, y), c in cells.items():
        nx[x] += c
        ny[y] += c
    n = sum(cells.values())

    def ln9(v):
        return round(math.log(v), 9)

    expect = {}
    for (x, y), c in cells.items():
        t = (c / n) * (ln9(n) + ln9(c) - ln9(nx[x]) - ln9(ny[y]))
        expect[x] = expect.get(x, 0.0) + t
    assert set(got) == set(expect)
    for x in expect:
        assert abs(got[x] - expect[x]) < 1e-6, x
    assert sum(got.values()) >= -1e-9


def test_absorbing_expected_steps_numpy_parity(spark, sf_dir):
    """Truncated-Neumann expected steps recomputed with numpy from the
    same bigram stream; also pins the truncation semantics: every value
    lies in [1, horizon] and the horizon-6 iterate dominates horizon-5
    (the recursion is monotone toward the true expectation)."""

    got = {
        r["event_type"]: r["expected_steps_h6"]
        for r in absorbing_expected_steps_to_purchase(spark, sf_dir).collect()
    }
    h5 = {
        r["event_type"]: r["expected_steps_h6"]
        for r in absorbing_expected_steps_to_purchase(
            spark, sf_dir, horizon=5
        ).collect()
    }

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    rows = (
        ev.select("event_type", F.lead("event_type").over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .groupBy("event_type", "nxt")
        .count()
        .collect()
    )

    c = {(r["event_type"], r["nxt"]): r["count"] for r in rows}
    tot = Counter()
    for (x, _), n in c.items():
        tot[x] += n
    trans = sorted({x for x, _ in c} - {"purchase"})
    idx = {x: i for i, x in enumerate(trans)}
    Q = np.zeros((len(trans), len(trans)))
    for (x, y), n in c.items():
        if x in idx and y in idx:
            Q[idx[x], idx[y]] = n / tot[x]
    t = np.zeros(len(trans))
    for _ in range(6):
        t = np.round(1.0 + Q @ t, 9)
    assert set(got) == set(trans)
    for x in trans:
        assert abs(got[x] - t[idx[x]]) < 1e-6, x
        assert 1.0 <= got[x] <= 6.0
        assert got[x] >= h5[x] - 1e-9


def test_fellegi_sunter_equals_brute_force_enumeration(spark, sf_dir):
    """The candidate-union + closed-form-u design must return EXACTLY the
    positive-weight pairs of the naive full blocked enumeration (a pair
    disagreeing on every field has strictly negative weight, so the union
    of per-field agreement joins loses nothing) — asserted pairwise
    including n_agree and the rounded weight."""

    got = {
        (r["a_partkey"], r["b_partkey"]): (r["n_agree"], r["weight"])
        for r in fellegi_sunter_part_linkage(spark, sf_dir).collect()
    }

    part = spark.read.parquet(f"{sf_dir}/part.parquet").collect()
    rows = [(r["p_partkey"], r["p_name"], r["p_brand"], r["p_type"], r["p_size"]) for r in part]

    pairs = [
        (a, b)
        for a, b in itertools.combinations(sorted(rows), 2)
        if a[4] == b[4]
    ]
    flags = [
        (a[0], b[0], int(_levenshtein(a[1], b[1]) <= 1), int(a[2] == b[2]), int(a[3] == b[3]))
        for a, b in pairs
    ]
    n = len(flags)
    c = [sum(f[2] for f in flags), sum(f[3] for f in flags), sum(f[4] for f in flags)]

    def ln9(v):
        return round(math.log(v), 9)

    lm, l1m = math.log(0.9), math.log(0.1)
    expect = {}
    for ak, bk, *ag in flags:
        wsum = 0.0
        for i, a_i in enumerate(ag):
            if a_i:
                wsum += lm + ln9(n) - ln9(c[i])
            else:
                wsum += l1m + ln9(n) - ln9(n - c[i])
        w = round(wsum, 6)
        if w > 0:
            expect[(ak, bk)] = (sum(ag), w)
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0]
        assert abs(got[k][1] - expect[k][1]) < 1e-6


def test_jackknife_ratio_matches_direct_replicates(spark, sf_dir):
    """SE recomputed from explicitly materialized leave-one-user-out
    replicates in python (the definitional centered form, not the
    computational one the operator uses) — pins both the replicate
    algebra and that the guard/cancellation shortcuts cost nothing at
    fixture scale."""

    got = {
        r["arm"]: (r["n_users"], r["ratio_metric"], r["jackknife_se"])
        for r in jackknife_ratio_metric_ab(spark, sf_dir).collect()
    }

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "value").collect()
    totals = {}
    for r in ev:
        u = r["user_id"]
        t = totals.setdefault(u, [0.0, 0])
        t[0] += r["value"]
        t[1] += 1
    arms = {"A": [], "B": []}
    for u, (x, y) in totals.items():
        a = "A" if int(hashlib.md5(str(u).encode()).hexdigest()[:6], 16) % 2 == 0 else "B"
        arms[a].append((x, y))
    for a, rows in arms.items():
        n = len(rows)
        sx = sum(x for x, _ in rows)
        sy = sum(y for _, y in rows)
        reps = [(sx - x) / (sy - y) for x, y in rows]
        m = sum(reps) / n
        se = math.sqrt((n - 1) / n * sum((r - m) ** 2 for r in reps))
        assert got[a][0] == n
        assert abs(got[a][1] - sx / sy) < 1e-4
        assert abs(got[a][2] - se) < 1e-6, (a, got[a][2], se)


def test_eb_shrinkage_pulls_toward_prior_mean(spark, sf_dir):
    """Structural contract of beta-binomial shrinkage: every shrunken rate
    lies strictly between its raw rate and the fitted prior mean (or
    equals both when they coincide), users with MORE events shrink LESS
    (monotone weights n/(n+c0)), and the moment fit itself is re-derived
    in python."""

    rows = eb_shrunk_purchase_rate_users(spark, sf_dir).collect()
    ps = [r["n_purchases"] / r["n_events"] for r in rows]
    c = len(ps)
    m = sum(ps) / c
    v = sum(p * p for p in ps) / c - m * m
    c0 = m * (1 - m) / v - 1
    assert c0 > 0
    for r in rows:
        raw, sh = r["raw_rate"], r["shrunk_rate"]
        lo, hi = min(raw, m), max(raw, m)
        assert lo - 1e-6 <= sh <= hi + 1e-6, (raw, sh, m)
        expect = (r["n_purchases"] + m * c0) / (r["n_events"] + c0)
        assert abs(sh - expect) < 1e-5
    # shrink factor |shrunk - raw| scaled by |raw - m| decreases with n
    pairs = sorted(
        (r["n_events"], abs(r["shrunk_rate"] - r["raw_rate"]) / max(abs(r["raw_rate"] - m), 1e-9))
        for r in rows if abs(r["raw_rate"] - m) > 1e-3
    )
    third = max(len(pairs) // 3, 1)
    low_n = sum(f for _, f in pairs[:third]) / third
    high_n = sum(f for _, f in pairs[-third:]) / third
    assert high_n <= low_n + 1e-6


def test_mann_kendall_matches_direct_computation(spark, sf_dir):
    """S, n_pairs, tie-corrected Var(S), and the continuity-corrected Z
    recomputed directly from the collected daily series."""

    row = mann_kendall_daily_trend(spark, sf_dir).collect()[0]
    daily = sorted(
        (r["day"], r["v"])
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.round(F.sum(F.col("value").cast("decimal(27,12)")), 12).cast("double").alias("v"))
        .collect()
    )
    vs = [v for _, v in daily]
    n = len(vs)
    s = sum(
        (vs[j] > vs[i]) - (vs[j] < vs[i])
        for i in range(n)
        for j in range(i + 1, n)
    )
    tie_term = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(vs).values()
    )
    var = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
    z = 0.0 if s == 0 else (s - (1 if s > 0 else -1)) / math.sqrt(var)
    assert row["n"] == n
    assert row["n_pairs"] == n * (n - 1) // 2
    assert row["s"] == s
    assert abs(row["var_s"] - var) < 1e-6
    assert abs(row["z"] - z) < 1e-6
