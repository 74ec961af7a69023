"""Round-4 operators: multi-table LSH ANN, self-grading recall gates, and
the oracle-checkable sketch constructions (exact-verified heavy hitters,
HLL within-bound gate)."""

from __future__ import annotations

import glob
import json
import math
import os

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.dedup.clustering import (
    connected_components,
    connected_components_star,
)
from data_ingestion_pipeline_spark.functions.bloom import (
    bloom_build,
    bloom_params,
    bloom_probe_udf,
)
from data_ingestion_pipeline_spark.operators import llm_data, relational
from data_ingestion_pipeline_spark.operators.lakehouse_checks import (
    time_travel_orders_versions,
)
from data_ingestion_pipeline_spark.operators.scratch import build_once, source_stamp
from data_ingestion_pipeline_spark.operators.sql_surface import (
    session_variable_brand_report,
)
from data_ingestion_pipeline_spark.plans.zorder import zorder_frame
from data_ingestion_pipeline_spark.similarity.brute_force import topk_cosine_batch
from data_ingestion_pipeline_spark.similarity.lsh import ann_topk_multitable
from data_ingestion_pipeline_spark.sources.catalog import load_table
from data_ingestion_pipeline_spark.sources.python_datasource import JsonlSinkDataSource
from tests.conftest import SF_SMOKE


def test_multitable_lsh_recall_and_score_exactness(spark):
    """OR-amplified LSH (16×4) recovers most of the exact top-10 and the
    scores of returned candidates are exact cosines (same expression as
    brute force — bucketing only selects, never rescores)."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    ann = ann_topk_multitable(emb, q, k=10, n_tables=16, planes_per_table=4)
    brute = topk_cosine_batch(emb, q, k=10)
    brute_sets: dict[int, set] = {}
    brute_scores = {}
    for r in brute.collect():
        brute_sets.setdefault(r.query_id, set()).add(r.vec_id)
        brute_scores[(r.query_id, r.vec_id)] = r.score
    ann_sets: dict[int, set] = {}
    for r in ann.collect():
        ann_sets.setdefault(r.query_id, set()).add(r.vec_id)
        if (r.query_id, r.vec_id) in brute_scores:
            assert abs(brute_scores[(r.query_id, r.vec_id)] - r.score) < 1e-9
        if r.rank == 1:
            # the query collides with itself in every table
            assert r.vec_id == r.query_id
    for qid, bset in brute_sets.items():
        assert len(ann_sets[qid] & bset) >= 5, (qid, ann_sets[qid], bset)


def test_ann_recall_gates_pass_on_fixture(spark):
    """The three driver-facing recall gates must emit recall_ok=TRUE for
    every query point — this is the same predicate the DuckDB oracle pins
    to literal TRUE."""
    for fn, n_rows in (
        (llm_data.ann_lsh_recall_embeddings, 3),
        (llm_data.ann_ivf_recall_embeddings, 3),
        (llm_data.ann_pq_recall_embeddings, 1),
    ):
        rows = fn(spark, SF_SMOKE).collect()
        assert len(rows) == n_rows, fn.__name__
        assert all(r.recall_ok for r in rows), (fn.__name__, rows)


def test_frequent_users_sketch_is_exact_heavy_hitter_set(spark):
    """The sketch-candidates → exact-verify construction must equal the
    plain GROUP BY/HAVING heavy-hitter set (no false positives from the
    sketch's over-reporting, no false negatives by the KPS guarantee)."""
    got = {
        (r.frequent_user_id, r.n_events)
        for r in relational.frequent_users_sketch(spark, SF_SMOKE).collect()
    }

    events = load_table(spark, SF_SMOKE, "events")
    skewed = events.withColumn(
        "user_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(0)).otherwise(F.col("user_id")),
    )
    total = skewed.count()
    exact = {
        (r.user_id, r.n)
        for r in skewed.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n"))
        .filter(F.col("n") > 0.05 * total)
        .collect()
    }
    assert got == exact and (0 in {u for u, _ in got})


def test_dup_span_profile_short_documents(spark):
    """Documents shorter than the 8-token window emit one partial window
    instead of throwing INVALID_ARRAY_INDEX under ANSI mode; identical
    short docs mark the later one as a duplicate span."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_spans, r.n_dup_spans) for r in
           llm_data.dup_span_profile(docs).collect()}
    assert out[1] == (1, 0)
    assert out[2] == (1, 1)  # same partial window, later occurrence
    assert out[3] == (1, 0)


def test_source_stamp_subsecond_regeneration(tmp_path):
    """A same-size rewrite within the same second must change the stamp
    (st_mtime_ns granularity)."""

    p = tmp_path / "f.parquet"
    p.write_bytes(b"x" * 64)
    s1 = source_stamp(str(p))
    os.utime(p, ns=(os.stat(p).st_atime_ns, os.stat(p).st_mtime_ns + 1))
    assert source_stamp(str(p)) != s1


def test_build_once_rebuilds_only_when_source_stamp_moves(tmp_path):
    """build_once builds into an empty dir, skips while the source stamp
    holds, and rebuilds from scratch once the source's mtime moves."""

    src = tmp_path / "src.parquet"
    src.write_bytes(b"x" * 64)
    out = str(tmp_path / "out")
    builds = []

    def build():
        assert os.listdir(out) == []  # stale output never survives a rebuild
        builds.append(1)
        (tmp_path / "out" / "data").write_text(str(len(builds)))

    assert build_once(out, [str(src)], build) == out
    assert build_once(out, [str(src)], build) == out
    assert len(builds) == 1
    st = os.stat(src)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    build_once(out, [str(src)], build)
    assert len(builds) == 2
    assert (tmp_path / "out" / "data").read_text() == "2"


def test_star_contraction_closes_long_chain_in_log_rounds(spark):
    """A 1024-node chain has diameter 1023: label propagation cannot close
    it in 15 rounds, star contraction must (O(log n) alternations)."""

    n = 1024
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).repartition(8)
    got = connected_components_star(chain, max_iter=15).collect()
    assert len(got) == n
    assert all(r.cluster_id == 0 for r in got)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=15)


def test_star_contraction_matches_label_propagation(spark):
    """On a mixed graph (cliques + a chain + isolated pairs) both
    algorithms must produce identical labels."""

    edges = (
        [(i, j) for i in range(5) for j in range(i + 1, 5)]        # clique 0-4
        + [(10 + i, 11 + i) for i in range(20)]                     # chain 10-30
        + [(100, 101), (200, 201)]                                  # pairs
        + [(41, 40), (42, 41), (40, 43)]                            # shuffled ids
    )
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {(r.node, r.cluster_id) for r in connected_components(df).collect()}
    b = {(r.node, r.cluster_id) for r in connected_components_star(df).collect()}
    assert a == b


def test_zorder_quantile_ranks_on_lognormal_skew(spark, tmp_path):
    """On a log-normal column the uniform min/max grid degenerates (most
    rows land in the lowest buckets, so a selective mid-mass band overlaps
    nearly every file); quantile edges keep buckets equal-mass and footer
    pruning selective on BOTH dimensions."""

    # planted log-normal value + uniform second key, deterministic
    df = spark.range(40000).select(
        F.col("id"),
        (F.col("id") % 1000).alias("k"),
        F.exp(
            (F.xxhash64("id") % 1000) / 1000.0 * 6.0
        ).alias("v"),  # e^[0,6): median ~e^3, max e^6 — heavy right tail
    )

    def n_overlapping(path, v_lo, v_hi):
        n_total, n_hit = 0, 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            vmin = vmax = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema != "v" or col.statistics is None:
                        continue
                    st = col.statistics
                    vmin = st.min if vmin is None else min(vmin, st.min)
                    vmax = st.max if vmax is None else max(vmax, st.max)
            n_total += 1
            if vmin is None or (vmax >= v_lo and vmin < v_hi):
                n_hit += 1
        return n_hit, n_total

    uni_dir, q_dir = str(tmp_path / "uni"), str(tmp_path / "q")
    zorder_frame(df, ["k", "v"], 16, quantile_skew=False).write.mode(
        "overwrite"
    ).parquet(uni_dir)
    zorder_frame(df, ["k", "v"], 16).write.mode("overwrite").parquet(q_dir)

    # a ~10%-mass band at the 25th-35th percentile (off-center so it sits
    # inside one coarse v-strip of the interleave)
    lo, hi = math.exp(1.5), math.exp(2.1)
    hit_u, tot_u = n_overlapping(uni_dir, lo, hi)
    hit_q, tot_q = n_overlapping(q_dir, lo, hi)
    assert tot_u == tot_q == 16
    # uniform grid degenerates: the band + half the corpus share the lowest
    # buckets, so almost every file covers it; quantile grid keeps the band
    # to a few equal-mass buckets (measured 5 vs 15 of 16)
    assert hit_u >= 12, hit_u
    assert hit_q <= 8, hit_q


def test_bloom_filter_no_false_negatives_and_bounded_fpr(spark):
    """Every inserted key must probe TRUE (no false negatives — the
    property decontamination correctness rides on); non-members probe TRUE
    at ≈ the configured FPR."""

    rng = np.random.default_rng(7)
    members = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    others = rng.integers(-(2**62), 2**62, size=20000, dtype=np.int64)
    others = np.setdiff1d(others, members)
    m_bits, k = bloom_params(len(members), fpp=0.01)
    bits = bloom_build(members, m_bits, k)
    probe = bloom_probe_udf(bits, m_bits, k)
    df = spark.createDataFrame(
        [(int(v), True) for v in members] + [(int(v), False) for v in others],
        "key long, is_member boolean",
    ).repartition(8)
    got = df.select("is_member", probe(F.col("key")).alias("hit")).collect()
    fp = sum(1 for r in got if r.hit and not r.is_member)
    fn = sum(1 for r in got if r.is_member and not r.hit)
    assert fn == 0
    assert fp / len(others) < 0.03, fp


def test_jsonl_sink_manifest_is_the_commit_boundary(spark, tmp_path):
    """commit() must manifest exactly the files the committed tasks wrote;
    a stray file in the directory (e.g. a retried task's orphan) must not
    be counted or read."""

    spark.dataSource.register(JsonlSinkDataSource)
    out = str(tmp_path / "sink")
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    df.repartition(4).write.format("jsonl_sink").mode("overwrite").option(
        "path", out
    ).save()
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["rows"] == 100
    listed = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert set(manifest["files"]) == listed
    # plant an orphan: the manifest (the commit boundary) must not grow
    with open(os.path.join(out, "part-orphan.jsonl"), "w") as f:
        f.write('{"id": 999, "v": 0}\n')
    manifest2 = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert "part-orphan.jsonl" not in manifest2["files"]


def test_time_travel_reads_both_versions(spark):
    row = time_travel_orders_versions(spark, SF_SMOKE).first()
    n_orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert row.n_rows == n_orders
    assert row.n_versions_retained == 2
    assert row.n_changed > 0
    assert abs(row.net_delta - 100.0 * row.n_changed) < 1.0


def test_session_variable_routes_agree(spark):
    rows = {r.route: r for r in session_variable_brand_report(spark, SF_SMOKE).collect()}
    assert set(rows) == {"variable", "immediate"}
    assert rows["variable"].n_lines == rows["immediate"].n_lines
    assert rows["variable"].total_revenue == rows["immediate"].total_revenue
