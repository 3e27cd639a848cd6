"""Product quantization: the compression leg of the ANN toolbox.

IVF (operators/ann.py IVFIndex) prunes WHICH rows a probe scans; the graph
(knn_graph) prunes which rows a walk visits; PQ shrinks WHAT each row costs:
a ``dim``-dim float64 vector (dim*8 bytes) becomes ``n_sub`` 4-bit codes
packed into one BIGINT (dim=64 -> 512 B -> 4 B, 128x). Queries score codes
with an asymmetric distance computation (ADC): a per-query distance table
``dt[j][c] = ||query_sub_j - codebook[j][c]||²`` is computed driver-side
(n_sub × k_codes doubles — literal-small), and each row's approximate
squared distance is ``Σ_j dt[j][code_j]`` — a pure Column expression over
the packed code, no vector column touched at query time. The standard
serving shape is shortlist-then-rerank: ADC top-``shortlist`` (reads ONLY
the 8-byte code column), exact re-score of the shortlist (reads the vector
column for ~shortlist rows), final top-k.

This mirrors the role PQ plays in FAISS-style IVF-PQ deployments
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) re-expressed as DataFrame ops; the reference itself
serves uncompressed float32 via hnswlib (reference src/vectordb/
ann.py:21-102) — PQ is the piece a 100 TB corpus adds.

Codebooks are either FIXTURE (subvectors of the first ``k_codes`` corpus
rows — deterministic and SQL-replicable, the _ivf_centroids discipline, so
encode/ADC/recall all hash-check against DuckDB) or TRAINED
(:func:`train_pq_codebooks`, per-subspace MLlib KMeans — the quality path,
pytest-covered).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vector as V
from .ann import PersistedIndex, train_ivf_centroids

N_SUB = 8  #: subspaces (dim must divide evenly)
K_CODES = 16  #: centroids per subspace -> 4 bits per code


def subvector(vector_col: Column | str, j: int, sub_dim: int) -> Column:
    """Subspace slice j (1-based slice start — Spark's F.slice contract)."""
    col = F.col(vector_col) if isinstance(vector_col, str) else vector_col
    return F.slice(col, j * sub_dim + 1, sub_dim)


def pq_codebooks_from_rows(
    rows: Sequence[Sequence[float]], n_sub: int = N_SUB, k_codes: int = K_CODES
) -> list[list[list[float]]]:
    """Fixture codebooks: ``codebooks[j][c]`` = subvector j of row c. Rows
    must have length >= k_codes; dim must divide by n_sub."""
    dim = len(rows[0])
    sub = dim // n_sub
    if sub * n_sub != dim:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    if len(rows) < k_codes:
        raise ValueError(f"need {k_codes} rows, got {len(rows)}")
    return [
        [[float(x) for x in rows[c][j * sub : (j + 1) * sub]] for c in range(k_codes)]
        for j in range(n_sub)
    ]


def train_pq_codebooks(
    df: DataFrame,
    vector_col: str = "embedding",
    n_sub: int = N_SUB,
    k_codes: int = K_CODES,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Quality codebooks: one MLlib KMeans per subspace (n_sub small fits
    over sub_dim-wide projections — each fit scans the corpus once with a
    narrow column; at scale train on a sample). Not SQL-replicable (MLlib
    internals), so the gated queries use the fixture codebooks; this is the
    library path."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(df.select(vector_col).head()[0])
    sub = dim // n_sub
    out = []
    for j in range(n_sub):
        feat = df.select(
            array_to_vector(V.as_double(subvector(vector_col, j, sub))).alias(
                "features"
            )
        )
        model = KMeans(k=k_codes, seed=seed + j, maxIter=20).fit(feat)
        out.append([[float(x) for x in c] for c in model.clusterCenters()])
    return out


def code_bits(codebooks: Sequence[Sequence[Sequence[float]]]) -> int:
    """Bits per sub-code: ceil(log2(k_codes)). The packed BIGINT must fit
    n_sub * bits <= 63."""
    k = len(codebooks[0])
    bits = max(1, (k - 1).bit_length())
    if len(codebooks) * bits > 63:
        raise ValueError(
            f"{len(codebooks)} subspaces x {bits} bits exceeds one BIGINT"
        )
    return bits


def pq_encode_sql(vec_sql: str, codebooks: Sequence[Sequence[Sequence[float]]]) -> str:
    """SQL form of :func:`pq_encode_expr` over an ARRAY<DOUBLE>-typed SQL
    fragment — one server-side parse instead of ~n_sub x k_codes Column
    builder round trips (round-11 driver-latency fix; same arithmetic,
    same lexicographic tie-breaks)."""
    sub_dim = len(codebooks[0][0])
    bits = code_bits(codebooks)
    total = "CAST(0 AS BIGINT)"
    for j, cb in enumerate(codebooks):
        sv = f"slice({vec_sql}, {j * sub_dim + 1}, {sub_dim})"
        code = V.argmin_struct_sql(
            (V.euclidean_distance_sql(sv, V.sql_array_double(c)) for c in cb),
            range(len(cb)),
        )
        total = (
            f"({total} + (CAST({code} AS BIGINT) * "
            f"CAST({1 << (bits * j)} AS BIGINT)))"
        )
    return total


def pq_encode_expr(
    vector_col: Column | str, codebooks: Sequence[Sequence[Sequence[float]]]
) -> Column:
    """Packed PQ code as ONE BIGINT: field j = argmin_c ||sub_j - cb[j][c]||
    (euclidean, ties -> lowest c — array_min's lexicographic struct order,
    the ivf_assign discipline), packed as Σ_j code_j << (bits·j) where
    bits = ceil(log2(k_codes)). A pure scan-side Column expression —
    encoding a 100 TB corpus is one codegen'd projection, no shuffle, no
    Python. String column names take the single-parse SQL path
    (:func:`pq_encode_sql`); Column inputs keep the builder loop."""
    if isinstance(vector_col, str):
        return F.expr(
            pq_encode_sql(V.as_double_sql(f"`{vector_col}`"), codebooks)
        )
    v = V.as_double(vector_col)
    sub_dim = len(codebooks[0][0])
    bits = code_bits(codebooks)
    total = F.lit(0).cast("bigint")
    for j, cb in enumerate(codebooks):
        sv = subvector(v, j, sub_dim)
        code = F.array_min(
            F.array(
                *[
                    F.struct(
                        V.euclidean_distance(sv, V.vector_literal(c)).alias("d"),
                        F.lit(ci).cast("int").alias("c"),
                    )
                    for ci, c in enumerate(cb)
                ]
            )
        )["c"]
        total = total + (
            code.cast("bigint") * F.lit(1 << (bits * j)).cast("bigint")
        )
    return total


def adc_table(
    query_vector: Sequence[float], codebooks: Sequence[Sequence[Sequence[float]]]
) -> list[list[float]]:
    """Driver-side ADC distance table: dt[j][c] = SQUARED euclidean between
    the query's subvector j and codebook entry c (left-to-right fold — the
    shared IEEE discipline; the values become literals in both engines, so
    cross-engine equality is by construction)."""
    sub_dim = len(codebooks[0][0])
    dt = []
    for j, cb in enumerate(codebooks):
        qs = [float(x) for x in query_vector[j * sub_dim : (j + 1) * sub_dim]]
        row = []
        for c in cb:
            s = 0.0
            for a, b in zip(qs, c):
                d = a - b
                s = s + d * d
            row.append(s)
        dt.append(row)
    return dt


def pq_adc_dist_sql(code_sql: str, dt: Sequence[Sequence[float]]) -> str:
    """SQL form of :func:`pq_adc_dist_expr` — same left-associated sum."""
    bits = max(1, (len(dt[0]) - 1).bit_length())
    total = None
    for j, row in enumerate(dt):
        nib = (
            f"CAST(pmod(CAST(shiftright({code_sql}, {bits * j}) AS BIGINT), "
            f"{1 << bits}) AS INT)"
        )
        term = f"element_at({V.sql_array_double(row)}, {nib} + 1)"
        total = term if total is None else f"({total} + {term})"
    return total


def pq_adc_dist_expr(code_col: Column | str, dt: Sequence[Sequence[float]]) -> Column:
    """Approximate squared distance from the PACKED code: Σ_j dt[j][code_j]
    — element_at over an n_sub×k_codes literal table, left-associated sum
    (the SQL oracle parenthesizes identically). Codegen end to end; the
    vector column is never read. Field width follows the table's k_codes
    (must match the codebooks the codes were packed with). String column
    names take the single-parse SQL path (round-11 driver-latency fix)."""
    if isinstance(code_col, str):
        return F.expr(pq_adc_dist_sql(f"`{code_col}`", dt))
    code = code_col
    bits = max(1, (len(dt[0]) - 1).bit_length())
    total = None
    for j, row in enumerate(dt):
        nib = F.pmod(
            F.shiftright(code, bits * j).cast("bigint"), F.lit(1 << bits)
        ).cast("int")
        term = F.element_at(
            F.array(*[F.lit(float(x)) for x in row]), nib + F.lit(1)
        )
        total = term if total is None else total + term
    return total


def knn_pq(
    df: DataFrame,
    query_vector: Sequence[float],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    code_col: str | None = None,
    id_col: str = "vec_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: smallest approximate distance first (asc dist, asc id).
    With ``code_col`` set, only the 8-byte code column is scanned — the
    compressed-serving path; otherwise codes are computed on the fly."""
    code = (
        F.col(code_col)
        if code_col
        else pq_encode_expr(vector_col, codebooks)
    )
    dt = adc_table(query_vector, codebooks)
    return (
        df.select(F.col(id_col), pq_adc_dist_expr(code, dt).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def knn_pq_rerank(
    df: DataFrame,
    query_vector: Sequence[float],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    shortlist: int = 50,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    codes: DataFrame | None = None,
    code_col: str = "pq_code",
) -> DataFrame:
    """The production PQ serving shape: ADC shortlist (code column only) ->
    exact re-score of the shortlist rows -> top-k. Recall is set by
    ``shortlist``, cost by how little of the corpus the exact pass touches;
    the re-score join is a left-semi on the id — at scale it reads
    ~shortlist rows of the vector column instead of the corpus. Pass a
    pre-encoded ``codes`` frame (id + packed code) to skip re-deriving the
    encode expression per query — the big-k encode expression costs
    seconds of codegen, paid once at index time, not per search."""
    short = knn_pq(
        codes if codes is not None else df,
        query_vector, codebooks, k=shortlist,
        code_col=code_col if codes is not None else None,
        id_col=id_col, vector_col=vector_col,
    ).select(id_col)
    from . import knn as K

    return K.knn(
        df.join(short, id_col, "left_semi"), query_vector, k=k,
        metric=metric, vector_col=vector_col, id_col=id_col,
    )


# --- IVF-PQ: the composed FAISS serving architecture -----------------------
#
# IVF prunes WHICH cells a probe reads (partition pruning when the index is
# written partitionBy(centroid_id)); PQ shrinks WHAT each probed row costs
# (the 8-byte code column instead of the vector column). Codes quantize the
# RESIDUAL v - centroid[cell] (Jégou et al. §IV.A): residuals concentrate
# around 0 across cells, so one shared codebook set serves every cell, and
# the query side compensates with a PER-CELL ADC table on the query's
# residual against each probed centroid. Bytes read per query at scale:
# ~(nprobe/n_cells) × rows × 8 B for the shortlist + shortlist × row bytes
# for the exact rerank — both factors are independent knobs.


def assign_cells_sql(
    vec_sql: str, centroids: Sequence[Sequence[float]]
) -> str:
    """SQL form of :func:`assign_cells_expr` (``vec_sql`` must be an
    ARRAY<DOUBLE>-typed fragment)."""
    return V.argmin_struct_sql(
        (
            V.euclidean_distance_sql(vec_sql, V.sql_array_double(c))
            for c in centroids
        ),
        range(len(centroids)),
        c_alias="cid",
    )


def assign_cells_expr(
    vector_col: Column | str, centroids: Sequence[Sequence[float]]
) -> Column:
    """argmin_i euclidean(v, centroids[i]) as a pure Column expression, ties
    -> lowest cell id (array_min's lexicographic struct order — the
    ann.ivf_assign discipline). Cell ids are the list positions 0..n-1.
    String column names take the single-parse SQL path (round-11
    driver-latency fix)."""
    if isinstance(vector_col, str):
        return F.expr(
            assign_cells_sql(V.as_double_sql(f"`{vector_col}`"), centroids)
        )
    v = V.as_double(vector_col)
    return F.array_min(
        F.array(
            *[
                F.struct(
                    V.euclidean_distance(v, V.vector_literal(c)).alias("d"),
                    F.lit(i).cast("int").alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )["cid"]


def residual_sql(
    vec_sql: str, centroids: Sequence[Sequence[float]], cell_sql: str
) -> str:
    """SQL form of :func:`residual_expr` (``vec_sql`` ARRAY<DOUBLE>-typed)."""
    cents = "array(" + ", ".join(
        V.sql_array_double(c) for c in centroids
    ) + ")"
    return (
        f"zip_with({vec_sql}, element_at({cents}, ({cell_sql}) + 1), "
        f"(a, b) -> a - b)"
    )


def residual_expr(
    vector_col: Column | str,
    centroids: Sequence[Sequence[float]],
    cell_col: Column | str,
) -> Column:
    """v - centroids[cell], element-wise: the per-row residual against the
    assigned centroid. The centroid table is inlined (O(cells) literals,
    the ivf_assign small-table contract) and indexed by the cell id, so
    this stays a scan-side projection — no join, no shuffle. String
    column names take the single-parse SQL path."""
    if isinstance(vector_col, str) and isinstance(cell_col, str):
        return F.expr(
            residual_sql(
                V.as_double_sql(f"`{vector_col}`"), centroids, f"`{cell_col}`"
            )
        )
    cell = F.col(cell_col) if isinstance(cell_col, str) else cell_col
    cents = F.array(*[V.vector_literal(c) for c in centroids])
    return F.zip_with(
        V.as_double(vector_col),
        F.element_at(cents, cell + F.lit(1)),
        lambda a, b: a - b,
    )


def ivfpq_encode(
    df: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "centroid_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Index-build projection: (id, cell, packed residual code) in one
    codegen'd scan — encoding a 100 TB corpus is a single pass with no
    shuffle. Write the result ``partitionBy(cell_col)`` and the probe's
    cell predicate becomes partition pruning over an 8-byte-per-row
    table."""
    # staged through named columns so every stage takes the single-parse
    # SQL path (round-11 driver-latency fix): inlining the residual
    # fragment into all n_sub x k_codes distance terms would both blow up
    # the parse text and lose the shared-subtree structure. Values are
    # identical; the optimizer collapses the projections.
    assigned = df.withColumn(cell_col, assign_cells_expr(vector_col, centroids))
    staged = assigned.withColumn(
        "_res", residual_expr(vector_col, centroids, cell_col)
    )
    return staged.select(
        F.col(id_col),
        F.col(cell_col),
        pq_encode_expr("_res", codebooks).alias(code_col),
    )


def _sq_euclid(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side squared euclid with the shared left-to-right IEEE fold
    (functions/vector.py euclidean_distance's aggregate order), so probe
    selection here and in the SQL oracle rank cells identically."""
    s = 0.0
    for x, y in zip(a, b):
        d = x - y
        s = s + d * d
    return s


def probe_cells(
    query_vector: Sequence[float],
    centroids: Sequence[Sequence[float]],
    nprobe: int,
) -> list[int]:
    """The nprobe nearest cell ids to the query (dist ASC, cid ASC — sqrt is
    monotonic so squared distance ranks identically)."""
    ranked = sorted(
        (_sq_euclid(query_vector, c), i) for i, c in enumerate(centroids)
    )
    return [cid for _, cid in ranked[:nprobe]]


def knn_ivfpq(
    df: DataFrame,
    query_vector: Sequence[float],
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 10,
    nprobe: int = 2,
    shortlist: int = 50,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    codes: DataFrame | None = None,
    cell_col: str = "centroid_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """IVF-PQ serving: probe the ``nprobe`` nearest cells, ADC over residual
    codes with a per-cell distance table (a CASE over the probed cells —
    nprobe literal tables), shortlist by approximate distance (adc ASC, id
    ASC), exact re-score of the shortlist rows, top-k. Pass a pre-encoded
    ``codes`` frame (:func:`ivfpq_encode`'s output, ideally read back from
    a ``partitionBy(cell_col)`` parquet layout) to make the probe a
    partition-pruned scan of the code column only."""
    probes = probe_cells(query_vector, centroids, nprobe)
    if codes is None:
        codes = ivfpq_encode(
            df, centroids, codebooks,
            vector_col=vector_col, id_col=id_col,
            cell_col=cell_col, code_col=code_col,
        )
    adc = None
    for cid in probes:
        qres = [
            float(a) - float(b)
            for a, b in zip(query_vector, centroids[cid])
        ]
        term = pq_adc_dist_expr(code_col, adc_table(qres, codebooks))
        cond = F.col(cell_col) == cid
        adc = F.when(cond, term) if adc is None else adc.when(cond, term)
    short = (
        codes.filter(F.col(cell_col).isin(probes))
        .select(F.col(id_col), adc.alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    from . import knn as K

    return K.knn(
        df.join(short, id_col, "left_semi"), query_vector, k=k,
        metric=metric, vector_col=vector_col, id_col=id_col,
    )


# --- Batch PQ: distributed ADC, no per-query literals ----------------------


def adc_table_expr(
    query_vec_col: Column | str,
    codebooks: Sequence[Sequence[Sequence[float]]],
) -> Column:
    """Per-ROW ADC distance table as one ``array<double>`` of
    n_sub*k_codes entries (layout ``j*k_codes + c``): the distributed
    counterpart of driver-side :func:`adc_table`, computed scan-side for
    each query row — a batch kNN join needs no per-query literal tables,
    so the query side can be arbitrarily large. Same squared-euclid
    left-fold as adc_table (zip_with (x-y)² then aggregate), so values
    are bit-identical to the literal path and to the SQL oracle's
    list_dot_product(diff, diff)."""
    if isinstance(query_vec_col, str):
        return F.expr(
            adc_table_sql(V.as_double_sql(f"`{query_vec_col}`"), codebooks)
        )
    qv = V.as_double(query_vec_col)
    sub_dim = len(codebooks[0][0])
    entries = []
    for j, cb in enumerate(codebooks):
        qs = F.slice(qv, j * sub_dim + 1, sub_dim)
        for c in cb:
            entries.append(
                F.aggregate(
                    F.zip_with(
                        qs, V.vector_literal(c), lambda x, y: (x - y) * (x - y)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
    return F.array(*entries)


def adc_table_sql(
    vec_sql: str, codebooks: Sequence[Sequence[Sequence[float]]]
) -> str:
    """SQL form of :func:`adc_table_expr` — same squared-euclid left fold
    per entry (``aggregate(zip_with(...))``), ``vec_sql`` ARRAY<DOUBLE>."""
    sub_dim = len(codebooks[0][0])
    entries = []
    for j, cb in enumerate(codebooks):
        qs = f"slice({vec_sql}, {j * sub_dim + 1}, {sub_dim})"
        for c in cb:
            entries.append(
                f"aggregate(zip_with({qs}, {V.sql_array_double(c)}, "
                f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
            )
    return "array(" + ", ".join(entries) + ")"


def pq_adc_dist_from_table_col(
    code_col: Column | str, dt_col: Column | str, n_sub: int = N_SUB,
    k_codes: int = K_CODES,
) -> Column:
    """ADC distance from a packed code and a TABLE COLUMN (adc_table_expr's
    array): Σ_j dt[j*k_codes + code_j], left-associated over j — the same
    sum order as pq_adc_dist_expr and the oracle's 8-join chain."""
    bits = max(1, (k_codes - 1).bit_length())
    if isinstance(code_col, str) and isinstance(dt_col, str):
        total_s = None
        for j in range(n_sub):
            nib = (
                f"CAST(pmod(CAST(shiftright(`{code_col}`, {bits * j}) AS "
                f"BIGINT), {1 << bits}) AS INT)"
            )
            term = f"element_at(`{dt_col}`, {nib} + {j * k_codes + 1})"
            total_s = term if total_s is None else f"({total_s} + {term})"
        return F.expr(total_s)
    code = F.col(code_col) if isinstance(code_col, str) else code_col
    dt = F.col(dt_col) if isinstance(dt_col, str) else dt_col
    total = None
    for j in range(n_sub):
        nib = F.pmod(
            F.shiftright(code, bits * j).cast("bigint"), F.lit(1 << bits)
        ).cast("int")
        term = F.element_at(dt, nib + F.lit(j * k_codes + 1))
        total = term if total is None else total + term
    return total


def knn_join_pq(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 5,
    shortlist: int = 50,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    codes: DataFrame | None = None,
    code_col: str = "pq_code",
) -> DataFrame:
    """Batch PQ kNN join (the knn_join_topk shape with compressed-domain
    scoring): every query row carries its ADC table as an array column,
    the corpus side carries only packed codes, and the pair score is a
    pure expression over (code, table) — so the join moves 8-byte codes
    and one 128-double array per query, never vectors. Per-query ADC
    shortlist (adc ASC, id ASC), exact re-score of shortlist rows, top-k
    as (query_id, rank, vec_id, score). Queries are broadcast (the small
    side); at scale the shortlist pass scans codes once for ALL queries."""
    from pyspark.sql import Window

    n_sub, k_codes = len(codebooks), len(codebooks[0])
    qd = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        adc_table_expr(query_vec_col, codebooks).alias("_dt"),
    )
    if codes is None:
        codes = corpus.select(
            F.col(id_col), pq_encode_expr(vector_col, codebooks).alias(code_col)
        )
    pairs = codes.join(F.broadcast(qd)).select(
        query_id_col, query_vec_col, id_col,
        pq_adc_dist_from_table_col(code_col, "_dt", n_sub, k_codes).alias(
            "adc_dist"
        ),
    )
    ws = Window.partitionBy(query_id_col).orderBy(
        F.asc("adc_dist"), F.asc(id_col)
    )
    short = (
        pairs.withColumn("_srn", F.row_number().over(ws))
        .filter(F.col("_srn") <= shortlist)
        .select(query_id_col, query_vec_col, id_col)
    )
    rescored = short.join(
        corpus.select(id_col, vector_col), id_col
    ).select(
        query_id_col,
        F.col(id_col),
        V.similarity(
            metric, V.as_double(vector_col), V.as_double(query_vec_col)
        ).alias("score"),
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        rescored.withColumn("rank", F.row_number().over(wk).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score")
    )


# --- IVFPQIndex: the compressed index lifecycle ----------------------------


class IVFPQIndex(PersistedIndex):
    """Disk-first IVF-PQ index on the :class:`~.ann.PersistedIndex`
    lifecycle (reference api.py:42-62 ``_maybe_init_ann`` staleness
    protocol, applied to the compressed index): the frame is the (id,
    cell, packed code) table, 8 B of payload per row, saved
    ``partitionBy(centroid_id)`` so a probe is partition pruning;
    centroids and codebooks are driver-side literals stored in the JSON
    sidecar (floats roundtrip exactly through repr). A PURE APPEND folds in
    one-sided: the delta is encoded with the frozen centroids/codebooks
    (one scan-side projection over only the new rows — exact, codes are a
    deterministic function of the row) and unioned. The append test
    compares the kept rows against the build-time fingerprint, so in-place
    vector updates combined with appends cannot keep stale codes serving
    queries — codes that no longer match the vectors used for exact
    rerank.

    Training: MLlib KMeans centroids (ann.train_ivf_centroids) +
    per-subspace KMeans codebooks trained on RESIDUALS
    (:func:`train_pq_codebooks` over a residual projection — Jégou et al.
    §IV.A); pass explicit ``centroids``/``codebooks`` to ``build`` for the
    deterministic fixture path the oracle gate uses."""

    SIDECAR = "_ivfpq_index.json"
    PARAMS = ("n_cells", "n_sub", "k_codes", "metric", "id_col",
              "vector_col", "seed")
    PARTITION = "centroid_id"

    def __init__(
        self,
        n_cells: int = 4,
        n_sub: int = N_SUB,
        k_codes: int = K_CODES,
        metric: str = "cosine",
        id_col: str = "vec_id",
        vector_col: str = "embedding",
        seed: int = 42,
    ):
        super().__init__()
        self.n_cells = n_cells
        self.n_sub = n_sub
        self.k_codes = k_codes
        self.metric = metric
        self.id_col = id_col
        self.vector_col = vector_col
        self.seed = seed
        self._centroids: list[list[float]] | None = None
        self._codebooks: list[list[list[float]]] | None = None

    def build(
        self,
        df: DataFrame,
        centroids: Sequence[Sequence[float]] | None = None,
        codebooks: Sequence[Sequence[Sequence[float]]] | None = None,
    ) -> "IVFPQIndex":
        if centroids is None:
            centroids = [
                [float(x) for x in r.centroid]
                for r in train_ivf_centroids(
                    df, self.n_cells, vector_col=self.vector_col,
                    seed=self.seed,
                ).orderBy("centroid_id").collect()
            ]
        self._centroids = [list(map(float, c)) for c in centroids]
        if codebooks is None:
            res = df.withColumn(
                "_cell", assign_cells_expr(self.vector_col, self._centroids)
            ).select(
                residual_expr(
                    self.vector_col, self._centroids, "_cell"
                ).alias("_res")
            )
            codebooks = train_pq_codebooks(
                res, vector_col="_res", n_sub=self.n_sub,
                k_codes=self.k_codes, seed=self.seed,
            )
        self._codebooks = codebooks
        return self._install(self._encode(df).persist(), df)

    def _encode(self, df: DataFrame) -> DataFrame:
        return ivfpq_encode(
            df, self._centroids, self._codebooks,
            vector_col=self.vector_col, id_col=self.id_col,
        )

    def _fold_in(self, kept: DataFrame, delta: DataFrame) -> DataFrame:
        return self._frame.unionByName(self._encode(delta))

    def query(
        self,
        df: DataFrame,
        query_vector: Sequence[float],
        k: int = 10,
        nprobe: int = 2,
        shortlist: int = 50,
        assume_fresh: bool = False,
    ) -> DataFrame:
        if not assume_fresh or self._frame is None:
            self.ensure(df)
        return knn_ivfpq(
            df, query_vector, self._centroids, self._codebooks,
            k=k, nprobe=nprobe, shortlist=shortlist, metric=self.metric,
            id_col=self.id_col, vector_col=self.vector_col,
            codes=self._frame,
        )

    def _meta(self) -> dict:
        return {"centroids": self._centroids, "codebooks": self._codebooks}

    def _read_meta(self, meta: dict) -> None:
        self._centroids = [[float(x) for x in c] for c in meta["centroids"]]
        self._codebooks = [
            [[float(x) for x in c] for c in cb] for cb in meta["codebooks"]
        ]


def probe_cells_expr(
    vector_col: Column | str,
    centroids: Sequence[Sequence[float]],
    nprobe: int,
) -> Column:
    """Array of the ``nprobe`` nearest cell ids for a vector, scan-side:
    sort (distance, cid) structs lexicographically — (dist ASC, cid ASC),
    the same total order as :func:`probe_cells` and the oracle's
    row_number. O(n_cells) per row, no join. String column names take the
    single-parse SQL path."""
    if isinstance(vector_col, str):
        v_sql = V.as_double_sql(f"`{vector_col}`")
        items = ", ".join(
            f"named_struct('d', "
            f"{V.euclidean_distance_sql(v_sql, V.sql_array_double(c))}, "
            f"'cid', CAST({i} AS INT))"
            for i, c in enumerate(centroids)
        )
        return F.expr(
            f"transform(slice(sort_array(array({items})), 1, {int(nprobe)}), "
            f"x -> x['cid'])"
        )
    v = V.as_double(vector_col)
    ranked = F.sort_array(
        F.array(
            *[
                F.struct(
                    V.euclidean_distance(v, V.vector_literal(c)).alias("d"),
                    F.lit(i).cast("int").alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )
    return F.transform(F.slice(ranked, 1, nprobe), lambda x: x["cid"])


def knn_join_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 50,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    codes: DataFrame | None = None,
    cell_col: str = "centroid_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Batch residual IVF-PQ join — the full production serving shape for
    MANY queries at once: each query row explodes into its ``nprobe``
    probed cells and carries a PER-(query, cell) ADC table computed
    scan-side on the query's residual against that cell's centroid; the
    candidate join is an EQUI-join of codes on the probed cell (never a
    cross product; a vector lives in exactly one cell, so distinct probes
    cannot duplicate candidates); shortlist per query runs as a
    WindowGroupLimit; exact rerank of shortlist rows only. Candidates ~
    queries × nprobe/n_cells of the corpus, moved as 8-byte codes."""
    from pyspark.sql import Window

    n_sub, k_codes = len(codebooks), len(codebooks[0])
    qd = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        F.explode(
            probe_cells_expr(query_vec_col, centroids, nprobe)
        ).alias("_pcell"),
    )
    qd = qd.withColumn(
        "_qres", residual_expr(query_vec_col, centroids, "_pcell")
    ).withColumn("_dt", adc_table_expr("_qres", codebooks)).drop("_qres")
    if codes is None:
        codes = ivfpq_encode(
            corpus, centroids, codebooks,
            vector_col=vector_col, id_col=id_col,
            cell_col=cell_col, code_col=code_col,
        )
    pairs = codes.join(
        F.broadcast(qd), codes[cell_col] == qd["_pcell"]
    ).select(
        query_id_col, query_vec_col, id_col,
        pq_adc_dist_from_table_col(code_col, "_dt", n_sub, k_codes).alias(
            "adc_dist"
        ),
    )
    ws = Window.partitionBy(query_id_col).orderBy(
        F.asc("adc_dist"), F.asc(id_col)
    )
    short = (
        pairs.withColumn("_srn", F.row_number().over(ws))
        .filter(F.col("_srn") <= shortlist)
        .select(query_id_col, query_vec_col, id_col)
    )
    rescored = short.join(corpus.select(id_col, vector_col), id_col).select(
        query_id_col,
        F.col(id_col),
        V.similarity(
            metric, V.as_double(vector_col), V.as_double(query_vec_col)
        ).alias("score"),
    )
    wk = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        rescored.withColumn("rank", F.row_number().over(wk).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score")
    )
