"""Serving-certificate tests (VERDICT r10 #4): VectorDB.certify turns the
auto router's recommendation into a MEASURED operating point — recall@k of
the resolved strategy against exact brute on a bounded, deterministic query
sample. The gated rows (knn_auto_certified, knn_ivf_certified) pin the
brute facade path and the ivf operator path against the SQL oracle; these
tests pin the approx facade routes, batch/single parity, and the
certificate arithmetic itself."""

import pytest
from pyspark.sql import functions as F

from educational_vector_database_spark.api import VectorDB
from educational_vector_database_spark.operators import ann as A
from educational_vector_database_spark.session import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


def test_certify_brute_route_is_exact(spark, sf_dir):
    db = VectorDB(
        spark, dim=64, df=_emb(spark, sf_dir),
        use_approx=True, index_type="auto",
    )
    row = db.certify(k=5, n_queries=16).collect()[0]
    assert row.index_type == "brute"
    assert row.n_queries > 0 and row.k == 5
    assert row.n_hits == row.n_queries * row.k  # brute IS exact


def test_certify_ivf_route_bounded_and_monotone(spark, sf_dir):
    """More probes can only find more of the exact top-k; probing every
    cell IS the exact search."""
    db = VectorDB(
        spark, dim=64, df=_emb(spark, sf_dir),
        use_approx=True, index_type="ivf", n_cells=8,
    )
    r1 = db.certify(k=5, n_queries=16, nprobe=1).collect()[0]
    r4 = db.certify(k=5, n_queries=16, nprobe=4).collect()[0]
    r8 = db.certify(k=5, n_queries=16, nprobe=8).collect()[0]
    assert r1.index_type == "ivf" and r1.n_queries == r4.n_queries
    full = r1.n_queries * r1.k
    assert 0 < r1.n_hits <= r4.n_hits <= r8.n_hits <= full
    assert r8.n_hits == full  # nprobe = n_cells scans everything -> exact


def test_certify_sample_rate_pins_query_set(spark, sf_dir):
    """sample_rate overrides the footer-estimated corpus sizing: the query
    set becomes a pure function of the data (what the SQL replicas need),
    so the certificate is bit-reproducible across calls."""
    db = VectorDB(
        spark, dim=64, df=_emb(spark, sf_dir),
        use_approx=True, index_type="auto",
    )
    a = db.certify(k=5, sample_rate=25).collect()[0]
    b = db.certify(k=5, sample_rate=25).collect()[0]
    assert a == b
    n = _emb(spark, sf_dir).filter(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15),
                16, 10,
            ).cast("long"),
            F.lit(25),
        )
        == 0
    ).count()
    assert a.n_queries == n


def test_certify_graph_and_two_level_routes(spark, sf_dir):
    for itype in ("graph", "two_level"):
        db = VectorDB(
            spark, dim=64, df=_emb(spark, sf_dir),
            use_approx=True, index_type=itype,
        )
        row = db.certify(k=5, n_queries=8).collect()[0]
        assert row.index_type == itype
        assert 0 < row.n_hits <= row.n_queries * row.k


def test_certify_rejects_ivfpq(spark, sf_dir):
    db = VectorDB(
        spark, dim=64, df=_emb(spark, sf_dir),
        use_approx=True, index_type="ivfpq",
    )
    with pytest.raises(ValueError, match="certify"):
        db.certify(k=5)


def test_ivf_search_batch_matches_single_query(spark, sf_dir):
    """Batch multi-probe == the single-query probe per query (same probe
    ranking, same scoring, same tie-breaks) — the knn_join-vs-knn parity
    contract applied to IVF."""
    df = _emb(spark, sf_dir)
    idx = A.IVFIndex(n_cells=8).build(df)
    queries = df.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch = idx.query_batch(df, queries, k=5, nprobe=2, assume_fresh=True)
    got = {}
    for r in batch.collect():
        got.setdefault(int(r.query_id), []).append(
            (int(r.rank), int(r.vec_id), float(r.score))
        )
    for q in queries.collect():
        single = idx.query(
            df, list(q.query_vec), k=5, nprobe=2, assume_fresh=True
        ).collect()
        want = [
            (i + 1, int(r.vec_id), float(r.score))
            for i, r in enumerate(single)
        ]
        assert sorted(got[int(q.query_id)]) == want


def test_graph_index_query_batch_matches_single(spark, sf_dir, monkeypatch):
    """The fused batch walk matches single-query SQL walks (guard off)."""
    df = _emb(spark, sf_dir).limit(300)
    idx = A.GraphIndex(m=6, n_planes=3).build(df)
    queries = df.filter(F.col("vec_id") % 60 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    batch = idx.query_batch(df, queries, k=5, assume_fresh=True)
    got = {}
    for r in batch.collect():
        got.setdefault(int(r.query_id), set()).add(
            (int(r.vec_id), round(float(r.score), 9))
        )
    monkeypatch.setattr(A, "_walk_fits", lambda *a, **kw: False)
    for q in queries.collect():
        single = {
            (int(r.vec_id), round(float(r.score), 9))
            for r in idx.query(
                df, list(q.query_vec), k=5, assume_fresh=True
            ).collect()
        }
        assert got[int(q.query_id)] == single


def test_recall_certificate_arithmetic(spark):
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 12)], "query_id long, vec_id long"
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 99), (2, 10), (2, 12)], "query_id long, vec_id long"
    )
    row = A.recall_certificate(exact, approx, "ivf", 2).collect()[0]
    assert (row.index_type, row.n_queries, row.k, row.n_hits) == ("ivf", 2, 2, 3)
