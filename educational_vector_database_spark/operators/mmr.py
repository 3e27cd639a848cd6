"""Maximal marginal relevance: diversity-aware reranking of a shortlist.

MMR (Carbonell & Goldstein, SIGIR 1998) picks results one at a time,
trading relevance against redundancy with what is already picked:

    pick_t = argmax_{c not yet picked}  lam * rel(c) - (1 - lam) * max_{s in picked} sim(c, s)

The reference returns raw similarity order (reference src/vectordb/
rag.py:74-97 assembles top-k context verbatim); MMR is the piece a
retrieval pipeline adds when near-duplicate passages crowd the context
window — directly useful to the dedup-heavy corpora this engine targets.

Spark-first shape: the greedy recurrence is sequential in t, but t <= k
and k is a PLAN-BUILD constant, and the penalty is a running max,
``pen_t(c) = greatest(pen_{t-1}(c), sim(c, pick_{t-1}))``. So one
``groupBy(query).agg(collect_list(...))`` gives each query one row
holding its CANDIDATE POOL (at most ``pool`` rows: MMR always runs over
a shortlist, never a corpus), and the k steps fold over that row as k
projections of Catalyst higher-order functions — the plan and the job
count stay flat in k. The driver never collects; every float op (cosine
via functions/vector.py, the lam linear combination, max-of-doubles,
which is exact) keeps the shared IEEE discipline, so results hash-check
against the greedy SQL oracle that re-joins every step.

At 100 TB the pool stage is whatever candidate generator feeds it (brute
top-N, IVF probe, Hamming shortlist); the fold itself touches queries x
pool rows regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V


def _ranks_before(x: Column, b: Column) -> Column:
    """Whether scored candidate ``x`` ranks before ``b`` in the window order
    of a per-query argmax: score DESC NULLS LAST (Spark's comparison counts
    NaN as the largest double), then id ASC NULLS FIRST."""
    xs, bs, xi, bi = x["s"], b["s"], x["id"], b["id"]
    s_gt = xs.isNotNull() & (bs.isNull() | (xs > bs))
    i_lt = (xi.isNull() & bi.isNotNull()) | (xi < bi)
    return s_gt | (xs.eqNullSafe(bs) & i_lt)


def _argmax(live: Column, score) -> Column:
    """The best of ``live`` pool entries as ``struct(id, v, s)`` with
    ``s = score(entry)``; null when ``live`` is empty."""
    scored = F.transform(live, lambda x: F.struct(
        x["id"].alias("id"), x["v"].alias("v"), score(x).alias("s")))
    return F.aggregate(
        scored, F.try_element_at(scored, F.lit(1)),
        lambda b, x: F.when(_ranks_before(x, b), x).otherwise(b),
    )


def mmr_rerank_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    lam: float = 0.5,
    pool: int = 20,
    metric: str = "cosine",
    id_col: str = "vec_id",
    vector_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Batch MMR: per query, greedily select ``k`` of the top-``pool``
    relevance candidates, each step penalized by the max similarity to the
    rows already selected (step 1's penalty is 0.0, so every step shares
    the formula ``lam*rel - (1-lam)*pen``). Ties break (score DESC, id
    ASC) — a total order, so selection is deterministic.

    Pass ``candidates`` (query_id, id, vector, rel) to rerank an existing
    shortlist (e.g. a Hamming or IVF shortlist) instead of the brute
    top-``pool``. Each step drops the previous pick's id from the pool; a
    null id never matches, so a null-id row stays a candidate. A step with
    no candidate left gives no row.

    Returns (query_id, rank, id, mmr_score): rank t = the t-th pick.
    """
    lam_c, mu_c = F.lit(float(lam)), F.lit(1.0 - float(lam))
    if candidates is None:
        rel = V.similarity(
            metric, V.as_double(vector_col), V.as_double(query_vec_col)
        )
        pairs = corpus.select(id_col, vector_col).join(F.broadcast(queries)).select(
            F.col(query_id_col), F.col(id_col), F.col(vector_col),
            rel.alias("rel"),
        )
        wp = Window.partitionBy(query_id_col).orderBy(
            F.desc("rel"), F.asc(id_col)
        )
        candidates = (
            pairs.withColumn("_rn", F.row_number().over(wp))
            .filter(F.col("_rn") <= pool)
            .drop("_rn")
        )

    # one row per query: its pool, each entry carrying its running penalty
    # (null until the first pick; greatest() skips nulls like max() does)
    state = candidates.groupBy(query_id_col).agg(F.collect_list(F.struct(
        F.col(id_col).alias("id"), F.col("rel"), F.col(vector_col).alias("v"),
        F.lit(None).cast("double").alias("pen"),
    )).alias("_c"))
    # step 1: empty selected set -> penalty 0.0 (mu*0.0 == 0.0 exactly)
    state = state.withColumn("_p1", _argmax(
        F.col("_c"), lambda x: lam_c * x["rel"] - mu_c * F.lit(0.0)))
    for t in range(2, k + 1):
        prev = F.col(f"_p{t - 1}")
        unpicked = F.filter(
            "_c", lambda x: ~F.coalesce(x["id"] == prev["id"], F.lit(False)))
        state = state.withColumn("_c", F.transform(unpicked, lambda x: F.struct(
            x["id"].alias("id"), x["rel"].alias("rel"), x["v"].alias("v"),
            F.greatest(x["pen"], V.similarity(
                metric, V.as_double(x["v"]), V.as_double(prev["v"]))).alias("pen"),
        ))).withColumn(f"_p{t}", _argmax(
            F.col("_c"), lambda x: lam_c * x["rel"] - mu_c * x["pen"]))
    # a step without candidates picks null, and so does every later step
    picks = F.filter(
        F.array(*[F.col(f"_p{t}") for t in range(1, k + 1)]),
        lambda p: p.isNotNull(),
    )
    return state.select(query_id_col, F.posexplode(picks).alias("_t", "_p")).select(
        query_id_col, (F.col("_t") + 1).alias("rank"),
        F.col("_p.id").alias(id_col), F.col("_p.s").alias("mmr_score"),
    )
