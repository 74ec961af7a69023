"""Round-6 operator tests: the mapInArrow covariance kernel and the
approx RFM boundary-broadcast twin (round-5 verdict items 3 and 4)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators.mlprep_checks import _cov_partials
from data_ingestion_pipeline_spark.operators.relational import (
    _rfm_per_cust,
    rfm_segments_customers_approx,
)
from data_ingestion_pipeline_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def test_cov_kernel_matches_driver_side_replication(spark):
    """The mapInArrow X^T·X partial kernel must produce, after the
    DECIMAL(38,0) merge, exactly the integer total a driver-side numpy
    replication computes with the same centering and the same
    half-away-from-zero rounding — regardless of batch/partition split
    (integer partials merge associatively)."""

    emb = load_table(spark, SF_SMOKE, "embeddings")
    mu = [0.01 * k for k in range(64)]  # arbitrary but fixed centering
    merged = (
        _cov_partials(emb, mu)
        .groupBy("i", "j")
        .agg(F.sum(F.col("ps").cast("decimal(38,0)")).alias("total"))
        .collect()
    )
    got = {(r.i, r.j): int(r.total) for r in merged}

    x = np.array(
        [r.embedding for r in emb.select("embedding").collect()],
        dtype=np.float64,
    ) - np.asarray(mu)
    iu_i, iu_j = np.triu_indices(64)
    t = (x[:, :, None] * x[:, None, :])[:, iu_i, iu_j] * 1e13
    want_vec = np.trunc(t + np.copysign(0.5, t)).astype(np.int64).sum(axis=0)
    want = {
        (int(i), int(j)): int(v) for i, j, v in zip(iu_i, iu_j, want_vec)
    }
    assert got == want


def test_cov_kernel_invariant_to_repartitioning(spark):
    """Same totals from a different partition split — the exactness claim
    is that integer partials make the merge order-independent."""

    emb = load_table(spark, SF_SMOKE, "embeddings")
    mu = [0.0] * 64

    def totals(df):
        rows = (
            _cov_partials(df, mu)
            .groupBy("i", "j")
            .agg(F.sum(F.col("ps").cast("decimal(38,0)")).alias("total"))
            .collect()
        )
        return {(r.i, r.j): int(r.total) for r in rows}

    assert totals(emb) == totals(emb.repartition(7))


def test_rfm_approx_gate_all_true(spark):
    """Every published check row must be TRUE at fixture scale (mirrors
    the TRUE-pinned oracle): 12 tie-aware rank-guarantee checks, 3
    monotonicity checks, 1 conservation row."""

    rows = rfm_segments_customers_approx(spark, SF_SMOKE).collect()
    assert len(rows) == 16
    assert all(r.within_band for r in rows)
    names = {r.check_name for r in rows}
    assert "segment_population_conservation" in names
    for dim in ("r", "f", "m"):
        assert f"{dim}_boundaries_monotone" in names


def test_rfm_approx_agrees_with_exact_on_untied_dimensions(spark):
    """On the monetary dimension — continuous, effectively tie-free — the
    approx boundary scoring must agree with the exact ntile quintiles for
    nearly every customer when n < the GK compression threshold (the
    sketch is exact there); small disagreement is only the boundary-rank
    off-by-a-few the gate's ±2% band already allows."""

    per_cust = _rfm_per_cust(spark, SF_SMOKE).select(
        "o_custkey", F.col("monetary").cast("double").alias("m_v")
    )
    n = per_cust.count()
    assert n < 10_000, "fixture grew past the GK-exact regime"
    bounds = per_cust.agg(
        F.approx_percentile(
            "m_v", F.array(*[F.lit(q) for q in (0.2, 0.4, 0.6, 0.8)]), F.lit(10_000)
        ).alias("bs")
    )
    approx_score = (
        F.lit(5)
        - F.size(F.filter("bs", lambda b: F.col("m_v") <= b))
    ).cast("int")
    exact_score = (
        F.lit(6)
        - F.ntile(5).over(Window.orderBy(F.col("m_v").desc(), F.col("o_custkey")))
    ).cast("int")
    scored = (
        per_cust.join(F.broadcast(bounds))
        .select("o_custkey", "m_v", approx_score.alias("a"))
        .withColumn("e", exact_score)
    )
    disagree = scored.filter(F.col("a") != F.col("e")).count()
    assert disagree <= max(4, int(0.02 * n)), (
        f"{disagree}/{n} customers scored differently on the tie-free dim"
    )
