"""Round-12 optimization contracts: the basket-pair build, the whitening
sample kernel, and the per-stream state partition defaults."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.pairs import basket_pairs
from data_ingestion_pipeline_spark.operators.mlprep_checks import (
    _pca_state,
    _whiten_sample_kernel,
)
from data_ingestion_pipeline_spark.operators.streaming_checks import (
    _stream_state_partitions,
)
from data_ingestion_pipeline_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def test_basket_pairs_matches_self_join(spark):
    """basket_pairs (one groupBy + array expansion) must produce the exact
    pair MULTISET of the old distinct + self-join build — support counts,
    and therefore every graph query's edge set, depend on it."""

    li = load_table(spark, SF_SMOKE, "lineitem")
    new = sorted(map(tuple, basket_pairs(li, "l_orderkey", "l_partkey").collect()))
    po = li.select("l_orderkey", "l_partkey").distinct()
    a = po.select("l_orderkey", F.col("l_partkey").alias("a"))
    b = po.select("l_orderkey", F.col("l_partkey").alias("b"))
    old = sorted(
        map(
            tuple,
            a.join(b, "l_orderkey")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .collect(),
        )
    )
    assert new == old and len(new) > 0


def test_basket_pairs_single_exchange(spark):
    """The build's plan contract: one hash exchange (on the basket key),
    no join, no second exchange for the aggregate."""

    df = basket_pairs(load_table(spark, SF_SMOKE, "lineitem"), "l_orderkey", "l_partkey")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Exchange") <= 2, plan  # 1 node (+1 ref in details)
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert join not in plan


def test_whiten_sample_kernel_matches_spark_path(spark):
    """The mapInArrow whitening kernel must replicate the old Spark-side
    centered/dot/projection chain bitwise: x = v − mu, dw =
    cast(sum(cast(x·w as decimal(38,20))) as double), xp = x − dw·w."""

    _n, centered, _u, w, _nrm, mu_vals, wv = _pca_state(spark, SF_SMOKE)
    got = sorted(
        map(
            tuple,
            _whiten_sample_kernel(
                load_table(spark, SF_SMOKE, "embeddings").filter(
                    F.col("vec_id") % 37 == 0
                ),
                mu_vals,
                wv,
            ).collect(),
        )
    )
    sample = centered.filter(F.col("vec_id") % 37 == 0)
    sw = sample.join(F.broadcast(w.select(F.col("j").alias("d"), "w")), "d")
    dots = sw.groupBy("vec_id").agg(
        F.sum((F.col("x") * F.col("w")).cast("decimal(38,20)"))
        .cast("double")
        .alias("dw")
    )
    want = sorted(
        map(
            tuple,
            sw.join(dots, "vec_id")
            .select(
                "vec_id",
                "d",
                "x",
                (F.col("x") - F.col("dw") * F.col("w")).alias("xp"),
            )
            .collect(),
        )
    )
    assert len(got) == len(want) > 0
    assert got == want  # bitwise: tuples of Python floats compare exact


def test_stream_state_partitions_per_stream_default(spark):
    """Commit-bound streams take 4 state partitions, Python-stateful
    streams pass their own default (8); the session value comes back."""

    old = spark.conf.get("spark.sql.shuffle.partitions")
    with _stream_state_partitions(spark):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    with _stream_state_partitions(spark, default="8"):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert spark.conf.get("spark.sql.shuffle.partitions") == old
