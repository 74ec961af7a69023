"""Property-based tests (hypothesis): invariants that hold for ALL inputs,
not just the fixtures — merge idempotence/last-wins against a Python model,
and normalization round-trips."""

from __future__ import annotations

import datetime
import hashlib
import random

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.normalize import camel_to_snake
from data_ingestion_pipeline_spark.operators.lakehouse_checks import (
    table_checksum_orders,
)
from data_ingestion_pipeline_spark.operators.mlprep_checks import (
    RAKE_STOPWORDS,
    rake_keywords_documents,
)
from data_ingestion_pipeline_spark.plans.merge import dedupe_last_wins
from data_ingestion_pipeline_spark.plans.scd import scd2_apply
from tests.conftest import write_sf

# --- camel_to_snake: pure function, no Spark needed --------------------------


@given(st.text(alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")), max_size=30))
def test_camel_to_snake_idempotent_and_lower(s):
    once = camel_to_snake(s)
    assert camel_to_snake(once) == once        # idempotent
    assert once == once.lower()                # never leaves uppercase


# --- dedupe_last_wins vs a Python model --------------------------------------

_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),      # key
        st.integers(min_value=0, max_value=10),     # order column (ties likely)
        st.integers(min_value=-100, max_value=100), # payload
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rows)
def test_dedupe_last_wins_matches_model(spark, rows):
    df = spark.createDataFrame(rows, "k long, ord long, payload long")
    got = {
        r.k: (r.ord, r.payload)
        for r in dedupe_last_wins(df, ["k"], "ord").collect()
    }
    # model: per key, max ord; ties broken by max payload (the struct
    # tiebreak over non-key columns, descending)
    model: dict[int, tuple[int, int]] = {}
    for k, o, p in rows:
        if k not in model or (o, p) > model[k]:
            model[k] = (o, p)
    assert got == model
    # exactly one survivor per key, and running twice changes nothing
    again = dedupe_last_wins(dedupe_last_wins(df, ["k"], "ord"), ["k"], "ord")
    assert sorted(map(tuple, again.collect())) == sorted(
        (k, o, p) for k, (o, p) in model.items()
    )


# --- scd2_apply vs a Python model --------------------------------------------

_scd_batches = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),   # key
            st.integers(min_value=0, max_value=3),   # attribute value
        ),
        min_size=0,
        max_size=6,
        unique_by=lambda t: t[0],                    # one image per key per batch
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=_scd_batches)
def test_scd2_apply_matches_model(spark, batches):
    """Folding arbitrary change batches through scd2_apply equals a Python
    SCD2 model: per key, the version chain is the deduplicated sequence of
    attribute values, stamped with the batch timestamps where each run
    started/ended; exactly one open (is_current) version per key."""
    t0 = "2023-01-01"
    stamps = [f"2023-02-0{i+1}" for i in range(len(batches))]

    dim = spark.createDataFrame([(0, 99)], "k long, attr long").select(
        "k",
        "attr",
        F.lit(t0).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    # python model: key -> list of [attr, from, to] chains, last open
    model = {0: [[99, t0, None]]}
    for ts, batch in zip(stamps, batches):
        bdf = spark.createDataFrame(batch, "k long, attr long") if batch else (
            spark.createDataFrame([], "k long, attr long")
        )
        dim = scd2_apply(dim, bdf, "k", ["attr"], ts)
        for k, attr in batch:
            chain = model.setdefault(k, [])
            if chain and chain[-1][2] is None and chain[-1][0] == attr:
                continue  # unchanged image: no-op
            if chain and chain[-1][2] is None:
                chain[-1][2] = ts  # close current
            chain.append([attr, ts, None])

    got = sorted(
        (
            r.k,
            r.attr,
            r.valid_from.strftime("%Y-%m-%d"),
            r.valid_to.strftime("%Y-%m-%d") if r.valid_to else None,
            r.is_current,
        )
        for r in dim.collect()
    )
    want = sorted(
        (k, attr, vf, vt, vt is None)
        for k, chain in model.items()
        for attr, vf, vt in chain
    )
    assert got == want


# ---------------------------------------------------------------------------
# CUSUM prefix-min identity (timeseries_checks) — the rewrite that turns the
# nonlinear recurrence into two window aggregates must equal the direct fold
# for EVERY series, not just the fixture's
# ---------------------------------------------------------------------------


@given(
    xs=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=200
    )
)
def test_cusum_prefix_min_identity(xs):
    mean = sum(xs) / len(xs)
    dev = [x - mean for x in xs]
    # direct fold
    s, peaks_direct = 0.0, []
    for d in dev:
        s = max(0.0, s + d)
        peaks_direct.append(s)
    # prefix-min identity: s_t = prefix_t - min(0, min_{j<=t} prefix_j)
    prefix, run_min, peaks_identity = 0.0, 0.0, []
    for d in dev:
        prefix += d
        run_min = min(run_min, prefix)
        peaks_identity.append(prefix - min(run_min, 0.0))
    for a, b in zip(peaks_direct, peaks_identity):
        assert abs(a - b) <= 1e-6 * max(1.0, abs(a))


# ---------------------------------------------------------------------------
# Gini rank formula (analytics_checks.key_skew_report_events) vs the
# mean-absolute-difference definition
# ---------------------------------------------------------------------------


@given(
    counts=st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=120)
)
def test_gini_rank_formula_matches_definition(counts):
    xs = sorted(counts)
    n, tot = len(xs), sum(xs)
    iw = sum((i + 1) * x for i, x in enumerate(xs))
    gini_rank = (2.0 * iw - (n + 1) * tot) / (n * tot)
    mad = sum(abs(a - b) for a in xs for b in xs) / (n * n)
    gini_def = mad / (2.0 * (tot / n))
    assert abs(gini_rank - gini_def) < 1e-9
    assert -1e-12 <= gini_rank < 1.0


# ---------------------------------------------------------------------------
# RAKE islands on adversarial corpora (empty phrases, stopword-only docs,
# trailing stopwords) — the Spark islands grouping must match a direct split
# ---------------------------------------------------------------------------


def test_rake_handles_stopword_edge_cases(spark, tmp_path):
    stop = RAKE_STOPWORDS[0]  # "the"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                f"{stop} {stop} {stop}",          # stopwords only → no phrases
                f"alpha beta {stop}",              # trailing stopword
                f"{stop} gamma",                   # leading stopword
                "solo",                            # single-token phrase
            ],
        }
    )
    sf = write_sf(tmp_path, documents=spark.createDataFrame(docs))
    rows = rake_keywords_documents(spark, sf).collect()
    phrases = {r.phrase for r in rows}
    assert "alpha beta" in phrases
    assert "gamma" in phrases
    assert "solo" in phrases
    assert stop not in " ".join(phrases).split()  # no stopword leaks into a phrase


# ---------------------------------------------------------------------------
# Content checksum: permutation/partitioning invariance (anti-entropy claim)
# ---------------------------------------------------------------------------

@given(
    perm_seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_parts=st.integers(min_value=1, max_value=8),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_table_checksum_is_order_and_partition_invariant(spark, tmp_path, perm_seed, n_parts):
    """The checksum must be identical under any row order and any
    partitioning — that's the whole replica-verification contract. Model:
    hash rows on the driver with the same md5-prefix construction and
    compare the sum."""
    ts = datetime.datetime(1995, 3, 14, 12, 0, 0)
    rows = [
        (i, i * 7 % 13, "S" if i % 2 else "F", float(i) + 0.25, ts, f"P{i % 3}")
        for i in range(1, 40)
    ]
    random.Random(perm_seed).shuffle(rows)
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    ).repartition(n_parts)
    sf = write_sf(tmp_path, orders=df)
    got = table_checksum_orders(spark, sf).collect()[0]
    expected = 0
    for k, ck, st_, p, t, pr in rows:
        s = f"{k}|{ck}|{st_}|{p:.2f}|{t:%Y-%m-%d %H:%M:%S}|{pr}"
        expected += int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
    assert got.n_rows == len(rows)
    assert int(got.content_checksum) == expected


# ---------------------------------------------------------------------------
# Incremental MV refresh: merge-of-partials == full recompute on any split
# ---------------------------------------------------------------------------

@given(split_mod=st.integers(min_value=2, max_value=9))
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_mv_partial_merge_equals_recompute(spark, split_mod):
    """The monoid-merge identity behind incremental_mv_refresh_orders,
    pinned for arbitrary stored/delta splits (not just %5)."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")

    def agg(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("r"),
        )

    stored = agg(orders.filter(F.col("o_orderkey") % split_mod != 0))
    delta = agg(orders.filter(F.col("o_orderkey") % split_mod == 0))
    merged = (
        stored.select("o_orderpriority", F.col("n").alias("n_a"), F.col("r").alias("r_a"))
        .join(
            delta.select("o_orderpriority", F.col("n").alias("n_b"), F.col("r").alias("r_b")),
            "o_orderpriority",
            "full_outer",
        )
        .select(
            "o_orderpriority",
            (F.coalesce("n_a", F.lit(0)) + F.coalesce("n_b", F.lit(0))).alias("n"),
            (
                F.coalesce(F.col("r_a"), F.lit(0).cast("decimal(18,6)"))
                + F.coalesce(F.col("r_b"), F.lit(0).cast("decimal(18,6)"))
            ).alias("r"),
        )
    )
    full = agg(orders)
    m = {r.o_orderpriority: (r.n, r.r) for r in merged.collect()}
    f = {r.o_orderpriority: (r.n, r.r) for r in full.collect()}
    assert m == f
