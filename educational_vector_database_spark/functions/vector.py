"""Vector math as Catalyst Column expressions — the core of the engine.

Re-expresses the reference's NumPy kernels (reference src/vectordb/index.py:4-46)
as Spark higher-order functions (``zip_with`` / ``aggregate`` / ``transform``).
No UDFs: every expression stays JVM-side inside whole-stage codegen, so a scan +
score + top-k plan is a single codegen'd stage over the columnar parquet read.

Numerical contract: the reference stores float64 (storage.py:18) and computes in
float64 BLAS. Testdata stores ``array<float>``; callers must cast to
``array<double>`` (``as_double``) before arithmetic so results are bit-identical
to a float64 oracle. ``aggregate`` folds the array left-to-right, which matches
DuckDB's ``list_dot_product`` / ``list_distance`` bit-for-bit (verified
empirically at sf0.01 — 0 mismatches in 500 rows for dot, distance, and the
explicit-formula cosine).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Division-by-zero guard used by the reference's normalizer (index.py:7).
EPSILON = 1e-12

#: Metrics accepted by the reference's dispatcher (index.py:37-46, api.py:31).
SUPPORTED_METRICS = ("cosine", "euclidean", "dot")


def _col(v: Column | str) -> Column:
    return F.col(v) if isinstance(v, str) else v


def as_double(v: Column | str) -> Column:
    """Cast a vector column to float64 (reference storage.py:18 casts on insert)."""
    return _col(v).cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ via a left-to-right fold (reference index.py:19-22, ``matrix @ q``)."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column | str) -> Column:
    """‖v‖₂ = sqrt(Σ vᵢ²) (reference index.py:7 ``np.linalg.norm``)."""
    v = _col(v)
    return F.sqrt(dot_product(v, v))


def l2_normalize(v: Column | str, eps: float = EPSILON) -> Column:
    """v / (‖v‖ + eps), element-wise (reference index.py:4-8 ``_normalize``).

    With ``eps=0.0`` the division is guarded: a zero vector maps to the zero
    vector (so any downstream dot product scores 0.0, matching the reference's
    ``+1e-12`` guard semantics) instead of raising DIVIDE_BY_ZERO under
    Spark 4's default ANSI mode. Non-zero vectors are untouched by the guard —
    the CASE branch evaluates only when the norm is 0 — so scores stay
    bit-identical to the unguarded SQL-oracle formula.
    """
    v = _col(v)
    n = l2_norm(v) + F.lit(eps)
    scaled = F.transform(v, lambda x: x / n)
    if eps:
        return scaled
    return F.when(n != 0.0, scaled).otherwise(v)


def cosine_similarity(a: Column | str, b: Column | str, eps: float = 0.0) -> Column:
    """dot(a,b) / (‖a‖·‖b‖) (reference index.py:11-16).

    The reference normalizes each side with a ``+1e-12`` denominator guard;
    pass ``eps=EPSILON`` to reproduce that exactly (needed only when zero
    vectors are possible). The default ``eps=0.0`` is the textbook formula and
    is bit-identical to the float64 SQL oracle
    ``dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b)))``.
    """
    a, b = _col(a), _col(b)
    denom = (l2_norm(a) + F.lit(eps)) * (l2_norm(b) + F.lit(eps))
    # zero-vector guard: the reference normalizes with +1e-12 so a zero
    # vector scores 0.0 (index.py:4-16); with eps=0 the raw division would be
    # 0/0 — which Spark's ANSI mode (default since 4.0) raises on. The CASE
    # branch is only evaluated when denom != 0, so non-degenerate scores are
    # bit-identical to the plain formula (and to the SQL oracle).
    return F.when(denom != 0.0, dot_product(a, b) / denom).otherwise(F.lit(0.0))


def euclidean_distance(a: Column | str, b: Column | str) -> Column:
    """sqrt(Σ (aᵢ-bᵢ)²) (reference index.py:25-29)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(_col(a), _col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def euclidean_similarity(a: Column | str, b: Column | str) -> Column:
    """1 / (1 + euclidean_distance) — distance→similarity so that higher is
    better under every metric (reference index.py:43-44)."""
    return F.lit(1.0) / (F.lit(1.0) + euclidean_distance(a, b))


def similarity(metric: str, a: Column | str, b: Column | str) -> Column:
    """Metric dispatch, case-insensitive; unknown metric raises ``ValueError``
    (reference index.py:32-46 ``similarity_scores``)."""
    m = metric.lower()
    if m == "cosine":
        return cosine_similarity(a, b)
    if m == "dot":
        return dot_product(a, b)
    if m == "euclidean":
        return euclidean_similarity(a, b)
    raise ValueError(f"Unknown metric: {metric!r}. Supported: {SUPPORTED_METRICS}")


def vector_literal(values) -> Column:
    """A constant ``array<double>`` Column from a Python sequence (the query
    vector of a single kNN lookup, reference api.py:105).

    Built as ONE server-side SQL parse instead of ``F.array(*[F.lit(x)...])``:
    the per-element form costs ~2 py4j round trips per component, and the
    expression-heavy operators (PQ encode tables, IVF assignment, probe
    rankings) build hundreds of these per query — measured round 11 at
     12+ s of pure driver-side socket chatter on the worst row (30,403
    py4j calls for one query construction). ``repr(float)`` is Python's
    shortest round-trip form and Spark's double-literal parse is
    correctly rounded, so the parsed array is bit-identical to the
    ``F.lit`` path (verified bitwise; the oracle gate re-verifies every
    consumer)."""
    vals = [float(x) for x in values]
    if vals and all(math.isfinite(v) for v in vals):
        return F.expr(sql_array_double(vals))
    return F.array(*[F.lit(v) for v in vals])


def query_frame(spark: SparkSession, query_vector) -> DataFrame:
    """A single query vector as a one-row, one-partition ``(query_id,
    query_vec)`` frame of literals (query_id 0): no Python-side rows for a
    worker to deserialize, as a ``createDataFrame`` row frame would have."""
    return spark.range(0, 1, 1, 1).select(
        F.lit(0).cast("long").alias("query_id"),
        vector_literal(query_vector).alias("query_vec"),
    )


# --- SQL-fragment builders (single-parse expression construction) -----------
#
# The Column-returning builders above are the general API; these emit the
# IDENTICAL arithmetic as SQL text so that operators which assemble large
# expression trees in Python loops (PQ encode: 8 subspaces x 16 codes, IVF
# assignment: one distance per cell, ADC tables: n_sub x k_codes literals)
# can hand Catalyst ONE string to parse instead of paying thousands of py4j
# round trips. `aggregate`/`zip_with` parse to the same Catalyst nodes the
# F.aggregate/F.zip_with lambdas build, and the fold order — the
# bit-exactness contract with the DuckDB oracles — is unchanged.

def sql_double(x: float) -> str:
    """A Spark SQL double literal that parses to EXACTLY this float64."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"non-finite literal not supported in SQL form: {x}")
    r = repr(x)
    return f"{r}D" if ("." in r or "e" in r or "E" in r) else f"{r}.0D"


def sql_array_double(values) -> str:
    """``array(<d>, ...)`` literal — the SQL form of :func:`vector_literal`."""
    return "array(" + ", ".join(sql_double(x) for x in values) + ")"


def as_double_sql(vec_sql: str) -> str:
    """SQL form of :func:`as_double`."""
    return f"CAST({vec_sql} AS ARRAY<DOUBLE>)"


def dot_product_sql(a_sql: str, b_sql: str) -> str:
    """SQL form of :func:`dot_product` — same left-to-right fold."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), 0.0D, "
        f"(acc, x) -> acc + x)"
    )


def euclidean_distance_sql(a_sql: str, b_sql: str) -> str:
    """SQL form of :func:`euclidean_distance` — same fold, same sqrt."""
    return (
        f"sqrt(aggregate(zip_with({a_sql}, {b_sql}, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))"
    )


def argmin_struct_sql(pairs, field_vals, d_alias: str = "d",
                      c_alias: str = "c") -> str:
    """``array_min(array(named_struct(...)))['c']`` — the lexicographic
    (distance, id) argmin every assignment/probe expression uses: minimum
    distance, ties to the lowest id. ``pairs`` is an iterable of distance
    SQL fragments aligned with the integer ``field_vals``."""
    items = ", ".join(
        f"named_struct('{d_alias}', {d_sql}, '{c_alias}', CAST({cid} AS INT))"
        for d_sql, cid in zip(pairs, field_vals)
    )
    return f"array_min(array({items}))['{c_alias}']"


# --- random projection (Johnson–Lindenstrauss, Rademacher signs) ------------

def rademacher_signs(out_dim: int, in_dim: int, salt: str = "rp") -> list[list[int]]:
    """Deterministic ±1 projection matrix, derived from md5 so ANY engine
    (or a SQL oracle) can regenerate it: sign[k][i] = +1 iff the low bit of
    the 60-bit md5 integer of "{salt}_{k}_{i}" is 0. Rademacher entries
    satisfy the JL lemma the same as Gaussians (Achlioptas 2001) and keep
    the arithmetic EXACT: ±1 times scaled-int components needs no float
    product at all."""
    import hashlib

    def bit(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) & 1

    return [
        [1 if bit(f"{salt}_{k}_{i}") == 0 else -1 for i in range(in_dim)]
        for k in range(out_dim)
    ]


def project_micro(vector_col: Column | str, signs: list[list[int]]) -> Column:
    """``array<long>`` of JL projections in micro units:
    ``y[k] = Σ_i sign[k][i] * round(x[i] * 1e6)``.

    All-integer: round-to-micros once, then ±1 sums — associative and
    commutative EXACTLY, so any execution order (Spark codegen, DuckDB
    list_sum, a GPU) produces the identical int64s. One Project over the
    scan; no shuffle, no UDF — at 100 TB this runs inside whole-stage
    codegen at scan speed. Dimensionality reduction is the standard
    pre-step that makes downstream ANN/clustering cheaper (shorter
    vectors, same neighborhoods w.h.p.)."""
    xm = F.transform(
        as_double(vector_col), lambda x: F.round(x * 1_000_000).cast("long")
    )
    def y(krow: list[int]) -> Column:
        return F.aggregate(
            F.zip_with(
                xm,
                F.array(*[F.lit(s) for s in krow]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    return F.array(*[y(krow) for krow in signs])
