"""IVF (inverted-file) approximate nearest neighbors — the partition-pruned
scale path for ANN, complementing the hyperplane LSH in similarity/lsh.py.

Classic IVF-Flat: pick C coarse centroids, assign every corpus vector to
its nearest centroid ("inverted list"), and at query time score only the
``nprobe`` lists whose centroids are closest to the query. Candidate count
drops from N to ~N·nprobe/C with recall controlled by nprobe.

Design for 100 TB:
- Centroids are a deterministic strided sample of the corpus (ids 0,
  stride, 2·stride, …) — no RNG, no iterative training, reproducible on
  every executor and every run. A k-means refinement is a drop-in upgrade
  (recompute centroids offline, same assignment expression) but the index
  structure and query path don't change.
- The centroid set is tiny (C ≈ √N rows of dim doubles) → collected to the
  driver and shipped in the task closure; assignment is one numpy
  matmul+argmax per Arrow batch — a narrow map with no shuffle.
- In production the assigned corpus is written partitioned by ``list_id``
  so a query's nprobe lists map to nprobe partition reads — partition
  pruning does candidate selection before any compute (same pattern as the
  LSH bucket column, but with data-adaptive cells instead of fixed planes).
- Query fan-out is an explode of nprobe (query, list_id) pairs + an
  equi-join on list_id — never a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.functions.partitioning import fan_out
from data_ingestion_pipeline_spark.functions.vector import as_double_array, cosine

__all__ = [
    "strided_sample_rows",
    "sample_centroids",
    "select_probe_cells",
    "ivf_assign",
    "ivf_topk",
]


def strided_sample_rows(
    corpus: DataFrame,
    size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int | None = None,
):
    """Deterministic ≤size-row sample as (rows, corpus_count): the strided
    id filter (ids 0, stride, 2·stride, …). The stride arithmetic assumes
    a roughly dense 0-based id space; offset or gapped spaces yield FEWER
    rows (benign — C ≈ √N is a heuristic, and callers size against
    ``len(rows)``), but an id space that misses every stride multiple
    (e.g. all-odd ids with an even stride) would yield NONE and crash the
    codebook Lloyd — only that empty case falls back, to the smallest
    min(size, n) ids. Pass ``n`` to reuse an already-computed corpus count
    (train_ivfpq samples twice and should not pay two count scans)."""
    if n is None:
        n = corpus.count()
    if n == 0:
        raise ValueError("strided_sample_rows: empty corpus")
    sel = corpus.select(F.col(id_col), as_double_array(F.col(vec_col)).alias("v"))
    stride = max(n // size, 1)
    rows = (
        sel.filter((F.col(id_col) % stride == 0) & (F.col(id_col) < stride * size))
        .orderBy(id_col)
        .collect()
    )
    if not rows:
        rows = sel.orderBy(id_col).limit(min(size, n)).collect()
    return rows, n


def sample_centroids(
    corpus: DataFrame, n_centroids: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[float]]:
    """Deterministic strided sample as coarse centroids.

    Stride is computed from the corpus count so the sample spans the id
    range regardless of scale factor (an id space with NO stride hits
    falls back to the smallest ids — see strided_sample_rows). Returns
    plain lists (the "model" is just C·dim doubles — plan-literal sized).
    """
    rows, _ = strided_sample_rows(corpus, n_centroids, id_col, vec_col)
    return [list(r["v"]) for r in rows]


def _assign_batched(corpus_d: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """corpus (with ``_v`` array<double>) + ``list_id`` via one numpy
    matmul + argmax per Arrow batch (np.argmax is first-wins like
    array_position). Same batched-kernel policy as dedup/embedding.py's
    cosine_pairs_blas: vectorized math in Python beats interpreted
    higher-order expressions AND unrolled codegen once C·dim terms grow."""
    import numpy as np

    cents = np.array(centroids)

    def assign(batches):
        for pdf in batches:
            mat = np.stack(pdf["_v"].to_numpy())
            pdf["list_id"] = (mat @ cents.T).argmax(axis=1).astype("int32")
            yield pdf

    # fresh StructType: df.schema returns the frame's CACHED schema object,
    # and StructType.add mutates in place — corrupting the input frame's
    # column list
    from pyspark.sql import types as T

    schema = T.StructType(
        list(corpus_d.schema.fields) + [T.StructField("list_id", T.IntegerType())]
    )
    return corpus_d.mapInPandas(assign, schema)


def ivf_assign(
    corpus: DataFrame, centroids: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Corpus → corpus + ``list_id``: the inverted-file assignment. Persist
    this partitioned by list_id to make probes partition-pruned reads."""
    return _assign_batched(
        corpus.withColumn("_v", as_double_array(F.col(vec_col))), centroids
    ).drop("_v")


def select_probe_cells(cents, qv, nprobe: int) -> list[int]:
    """The nprobe highest-dot cells for one query: descending q·centroid,
    larger list_id first on ties — the same order
    reverse(array_sort(struct(s, list_id))) produced. Shared by ivf_topk
    and ivfpq_topk so the probe policy cannot diverge."""
    s = cents @ qv
    return [
        int(i)
        for i in sorted(range(len(cents)), key=lambda i: (-s[i], -i))[:nprobe]
    ]


def ivf_topk(
    corpus: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    index: tuple[list[list[float]], DataFrame, list] | None = None,
) -> DataFrame:
    """Approximate top-k per query, scoring only the nprobe nearest lists.

    query_df: (query_id, qvec). The query side expands to nprobe rows per
    query (explode of its closest centroid ids) and equi-joins the assigned
    corpus on list_id — broadcast, since queries are few.

    ``index``: optional (centroids, assigned, qrows) from
    ``ivf_build_index`` so a CALLER SWEEPING nprobe shares ONE centroid
    sample, ONE assignment pass and ONE query collect across calls (the
    nprobe sweep paid 5× each before r11); identical math either way.
    """
    if index is None:
        # single-shot path: identical to pre-r11 — no pin (a checkpoint of
        # the full assigned corpus only pays off when several probe passes
        # share it; see ivf_build_index)
        centroids = sample_centroids(corpus, n_centroids, id_col=id_col)
        corpus_d = fan_out(corpus).select(
            F.col(id_col), as_double_array(F.col("embedding")).alias("_v")
        )
        assigned = _assign_batched(corpus_d, centroids)
        qrows = query_df.select(
            "query_id", as_double_array(F.col("qvec")).alias("_qv")
        ).collect()
    else:
        centroids, assigned, qrows = index

    # Probe selection runs on the DRIVER: queries are few by contract
    # (broadcast side), so C·nq dot products in numpy beat compiling a
    # C-literal-array expression tree into the plan — the former per-query
    # expression form cost more in plan compile than the whole probe math.
    # (Batch the queries through _assign_batched instead if nq ever grows.)
    import numpy as np

    cents = np.array(centroids)
    spark = corpus.sparkSession
    pairs = []
    for r in qrows:
        qv = np.asarray(r["_qv"], dtype="float64")
        pairs.extend(
            (li, int(r["query_id"]), [float(x) for x in qv])
            for li in select_probe_cells(cents, qv, nprobe)
        )
    probes = spark.createDataFrame(
        pairs, "list_id int, query_id long, _qv array<double>"
    )

    scored = assigned.join(F.broadcast(probes), ["list_id"]).select(
        "query_id",
        F.col(id_col),
        cosine(F.col("_v"), F.col("_qv")).alias("score"),
    )
    from data_ingestion_pipeline_spark.similarity.brute_force import topk_per_query

    return topk_per_query(scored, k, id_col)


def ivf_build_index(
    corpus: DataFrame,
    query_df: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
) -> tuple[list[list[float]], DataFrame, list]:
    """The shareable, query-independent part of ``ivf_topk``: centroid
    sample, assigned corpus (PINNED — every probe pass reads the one
    materialized assignment instead of re-running the mapInPandas kernel),
    and the collected query rows. Returns exactly what ``ivf_topk``
    computed inline before r11, so passing it through ``index=`` cannot
    change any result."""
    centroids = sample_centroids(corpus, n_centroids, id_col=id_col)
    corpus_d = fan_out(corpus).select(
        F.col(id_col), as_double_array(F.col("embedding")).alias("_v")
    )
    assigned = _assign_batched(corpus_d, centroids).localCheckpoint(eager=False)
    qrows = query_df.select(
        "query_id", as_double_array(F.col("qvec")).alias("_qv")
    ).collect()
    return centroids, assigned, qrows
