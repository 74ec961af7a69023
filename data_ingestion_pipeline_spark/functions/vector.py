"""Vector math over ``array<float|double>`` columns — pure SQL expressions.

Embedding similarity at 100 TB must stay JVM-side: no Python serde, and
bit-reproducible results (sequential left-fold accumulation matches
DuckDB's list functions, verified bitwise in the oracle suite). Two forms:

- **Unrolled** (``dim`` given): a flat ``0.0 + a[0]·b[0] + a[1]·b[1] + …``
  expression. Spark's higher-order functions (``aggregate``/``zip_with``/
  ``transform``) are CodegenFallback — evaluated interpreted, one closure
  call per element, plus an intermediate array allocation per row — while
  the unrolled form compiles to straight-line multiply-adds.
  Left-association keeps the accumulation order identical to the fold, so
  results are bitwise-unchanged. The catch: a dim-term expression tree adds
  *seconds of plan/codegen compile time per query*, so unroll ONLY where
  per-row volume dominates — per-PAIR scoring inside a large join (measured
  ~3× there: 68 s → 21 s on 2.4M pairs). IMPORTANT: the arrays indexed must
  be bound columns (projected beforehand), never cast/literal expressions —
  ``getItem`` re-evaluates its child per term, turning O(dim) into O(dim²).
- **Fold** (``dim=None``, default): the ``aggregate`` fold — compact plan,
  instant compile, interpreted eval. Right for once-per-ROW work (bucket
  assignment, norms over a corpus) and anything bench-latency-sensitive.

A pandas-UDF matrix path would beat both for many-queries-×-many-vectors
batch scoring but loses cross-engine bit-determinism; noted as the
escalation path in similarity/brute_force.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["dot", "l2_norm", "cosine", "as_double_array"]


def as_double_array(col: Column) -> Column:
    """Float32 embeddings are widened to double *before* arithmetic so both
    precision and fold order are pinned down (float accumulation would
    diverge from every external engine)."""
    return col.cast("array<double>")


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    if dim is not None:
        return reduce(
            lambda acc, i: acc + a[i] * b[i], range(dim), F.lit(0.0)
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column, dim: int | None = None) -> Column:
    if dim is not None:
        return F.sqrt(
            reduce(lambda acc, i: acc + a[i] * a[i], range(dim), F.lit(0.0))
        )
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity; NULL (not a DIVIDE_BY_ZERO abort) when either
    vector has zero norm — under Spark 4's default ANSI mode an unguarded
    division would let a single all-zero embedding (padding row, failed
    upstream encode) kill the whole similarity job.

    The guard must NOT be ``dot / nullif(denom, 0)``: Catalyst rewrites
    ``nullif(e1, e2)`` to ``if(e1 = e2, null, e1)``, duplicating the
    denominator — and the two interpreted norm folds behind it — per row
    (measured +40% on the LSH pair-scoring step, the round-7 bench
    regression in this family). Binding num/denom through single-element
    arrays evaluates each exactly once; the division itself is untouched,
    so results stay bitwise-identical to DuckDB's."""
    num = dot(a, b, dim)
    denom = l2_norm(a, dim) * l2_norm(b, dim)
    return F.element_at(
        F.zip_with(
            F.array(num),
            F.array(denom),
            lambda x, y: F.when(y != F.lit(0.0), x / y),
        ),
        1,
    )
