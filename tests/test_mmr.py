"""MMR diversity-rerank tests (operators/mmr.py)."""

import numpy as np
from pyspark.sql import functions as F

from educational_vector_database_spark.operators import mmr as M
from educational_vector_database_spark.session import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _rows(spark, sf_dir):
    rows = _emb(spark, sf_dir).orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([[float(x) for x in r.embedding] for r in rows])
    return ids, mat


def _cos(a, b):
    # same left-to-right fold as functions/vector.py (element order)
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    import math

    return dot / (math.sqrt(na) * math.sqrt(nb))


def _np_mmr(ids, mat, qv, k, lam, pool):
    """Greedy reference replica: ties (score desc, id asc)."""
    rel = {int(i): _cos(mat[j], qv) for j, i in enumerate(ids)}
    cand = sorted(ids, key=lambda i: (-rel[int(i)], int(i)))[:pool]
    by_id = {int(i): mat[j] for j, i in enumerate(ids)}
    picked, out = [], []
    for t in range(1, k + 1):
        best = None
        for c in cand:
            c = int(c)
            if c in picked:
                continue
            pen = max((_cos(by_id[c], by_id[s]) for s in picked), default=0.0)
            score = lam * rel[c] - (1.0 - lam) * pen
            if best is None or (-score, c) < best[0]:
                best = ((-score, c), score)
        picked.append(best[0][1])
        out.append((t, best[0][1], best[1]))
    return out


def test_mmr_matches_numpy_greedy(spark, sf_dir):
    """The unrolled declarative selection equals the sequential greedy
    replica bit-for-bit (scores included) for several queries."""
    ids, mat = _rows(spark, sf_dir)
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    qids = [0, 9, 33]
    queries = e.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {}
    for r in M.mmr_rerank_join(e, queries, k=4, lam=0.5, pool=15).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.mmr_score))
    for qid in qids:
        want = _np_mmr(ids, mat, mat[list(ids).index(qid)], 4, 0.5, 15)
        assert sorted(got[qid]) == want, qid


def test_mmr_first_pick_is_top_relevance(spark, sf_dir):
    """Step 1 has an empty penalty set, so rank 1 is the plain relevance
    argmax — for a corpus-row query, the row itself."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") == 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = M.mmr_rerank_join(e, queries, k=2, pool=10).collect()
    first = [r for r in rows if r.rank == 1]
    assert len(first) == 1 and first[0].vec_id == 5


def test_mmr_diversifies_duplicates(spark, sf_dir):
    """A cloned near-duplicate of the top hit must NOT take rank 2 at
    lam=0.5 (its redundancy penalty ~1 dominates), even though it is the
    second-most relevant candidate — the defining MMR behavior."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    top = e.filter(F.col("vec_id") == 5)
    clone = top.select(
        F.lit(100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.0000001)).alias("embedding"),
    )
    corpus = e.unionByName(clone)
    queries = top.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    plain = {
        r.rank: r.vec_id
        for r in M.mmr_rerank_join(corpus, queries, k=3, lam=1.0, pool=10).collect()
    }
    diverse = {
        r.rank: r.vec_id
        for r in M.mmr_rerank_join(corpus, queries, k=3, lam=0.5, pool=10).collect()
    }
    # lam=1.0 degenerates to pure relevance: the clone rides at rank 2
    assert plain[1] == 5 and plain[2] == 100000
    # lam=0.5: the clone's ~1.0 penalty knocks it out of the selection
    assert diverse[1] == 5 and 100000 not in diverse.values()


def test_mmr_candidates_passthrough(spark, sf_dir):
    """A caller-supplied shortlist (e.g. from a Hamming or IVF pass) is
    reranked as-is: ids outside it can never appear."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    from educational_vector_database_spark.functions import vector as V

    shortlist = (
        e.filter(F.col("vec_id").isin([7, 11, 13, 17, 19]))
        .join(F.broadcast(queries))
        .select(
            "query_id", "vec_id", "embedding",
            V.similarity(
                "cosine", V.as_double("embedding"), V.as_double("query_vec")
            ).alias("rel"),
        )
    )
    rows = M.mmr_rerank_join(e, queries, k=3, candidates=shortlist).collect()
    assert {r.vec_id for r in rows} <= {7, 11, 13, 17, 19}
    assert len(rows) == 3


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    start = dag.nextJobId()
    fn()
    return dag.nextJobId() - start


def test_mmr_jobs_flat_in_k(spark, sf_dir):
    """The k greedy steps fold over one pooled row per query, so the job
    count does not grow with k: k=3 launches at most 4 jobs (the unrolled
    selection launched 28 here), and k=6 as many as k=3. The cache is cleared first: a plan-equal candidate frame cached
    elsewhere would lower the count."""
    spark.catalog.clearCache()
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def run(k):
        return _jobs(
            spark, lambda: M.mmr_rerank_join(e, queries, k=k, pool=20).collect())

    k3 = run(3)
    assert k3 <= 4
    assert run(6) == k3
