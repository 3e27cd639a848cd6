"""The fused graph walk (operators/ann.py ``_walk``): bit-exact parity with
the SQL walk, its job budget, and the two-level index's degenerate-layer
rule."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from educational_vector_database_spark.operators import ann as A


def _sql_only(mp):
    mp.setattr(A, "_walk_fits", lambda *a, **kw: False)


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def _jobs(spark, fn):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    start = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - start


coords = st.sampled_from([-1.0, 0.0, 0.0, 0.5, 1.0, 2.0])
ids = st.sampled_from([3, 4, 7, 10, 11, 15, 21, 30])  # some never in df


@given(
    vecs=st.dictionaries(ids, st.lists(coords, min_size=3, max_size=3),
                         min_size=1, max_size=7),
    queries=st.lists(st.lists(coords, min_size=3, max_size=3),
                     min_size=1, max_size=3),
    lower=st.lists(st.tuples(ids, ids), max_size=24),
    upper=st.lists(st.tuples(ids, ids), max_size=8),
    entries=st.lists(ids, max_size=3),
    metric=st.sampled_from(["cosine", "dot", "euclidean"]),
    two_level=st.booleans(),
    beam=st.integers(1, 3),
    hops=st.integers(0, 3),
    k=st.integers(1, 6),
)
# both layers edge-less with no upper entries: every row scored, zero vectors
@example(vecs={3: [0.0, 0.0, 0.0], 4: [1.0, 0.0, 0.0], 7: [1.0, 0.0, 0.0]},
         queries=[[1.0, 0.0, 0.0], [0.0, 0.0, 0.0]], lower=[], upper=[],
         entries=[], metric="cosine", two_level=True, beam=1, hops=2, k=2)
# duplicate edges, an edge through an absent id, hops=0 above and below
@example(vecs={3: [1.0, 0.0, 0.0], 4: [1.0, 0.0, 0.0], 7: [0.5, 0.5, 0.0]},
         queries=[[1.0, 1.0, 0.0]], lower=[(3, 4), (3, 4), (4, 30), (30, 7)],
         upper=[(3, 4), (4, 3)], entries=[3, 21], metric="dot",
         two_level=True, beam=1, hops=0, k=3)
@settings(max_examples=12, deadline=None)
def test_fused_walk_matches_sql_walk(spark, vecs, queries, lower, upper,
                                     entries, metric, two_level, beam, hops,
                                     k):
    """Tied scores, zero vectors, duplicate edges, edges to ids absent from
    df, hops=0 and empty hub lists: the fused kernel returns the SQL walk's
    rows, floats equal under ``==``."""
    df = spark.createDataFrame(sorted(vecs.items()),
                               "vec_id long, embedding array<double>")
    qs = spark.createDataFrame(list(enumerate(queries)),
                               "query_id long, query_vec array<double>")
    lg = spark.createDataFrame(lower, "src long, dst long")
    ug = spark.createDataFrame(upper, "src long, dst long")
    if two_level:
        def run():
            return A.graph_two_level_search_batch(
                ug, lg, df, qs, entries, beam_up=beam, hops_up=hops,
                n_descend=2, beam=beam, hops=hops, k=k, metric=metric)
    else:
        def run():
            return A.graph_beam_search_batch(
                lg, df, qs, entries, beam=beam, hops=hops, k=k,
                metric=metric)
    fused = run()
    assert "MapInPandas" in _plan(fused)
    with pytest.MonkeyPatch.context() as mp:
        _sql_only(mp)
        sql = run()
        assert "MapInPandas" not in _plan(sql)
        want = sorted(map(tuple, sql.collect()))
    assert sorted(map(tuple, fused.collect())) == want


def test_fused_hubs_match_graph_hub_entries(spark):
    """The numpy hub derivation is graph_hub_entries: in-degree DESC, then
    id ASC — on tied in-degrees and on edges into ids absent from df."""
    df = spark.createDataFrame([(i, [1.0, float(i)]) for i in range(6)],
                               "vec_id long, embedding array<double>")
    edges = [(0, 1), (2, 1), (0, 3), (4, 3), (5, 2), (1, 2), (3, 9), (4, 9),
             (1, 0), (1, 4), (1, 1)]
    g = spark.createDataFrame(edges, "src long, dst long")
    walk = A._FusedWalk.collect(df, "vec_id", "embedding")
    for n in range(8):
        assert walk.hubs(g, n) == A.graph_hub_entries(g, n), n


@pytest.fixture(scope="module")
def index_1k(spark, tmp_path_factory):
    rng = np.random.default_rng(7)
    centres = rng.normal(size=(8, 16))
    x = centres[rng.integers(0, 8, 1000)] + 0.3 * rng.normal(size=(1000, 16))
    path = str(tmp_path_factory.mktemp("walk") / "corpus.parquet")
    spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    idx = A.TwoLevelGraphIndex().build(df)
    queries = df.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    yield df, idx, queries, x[5].tolist()  # the point query
    idx.invalidate()


def test_two_level_index_walk_job_budget(spark, index_1k):
    """On the index path the guard costs no job and hubs come from the
    collected edges: node collect, two edge collects, the result — at most
    4 jobs for a batch and for a point query. With the guard off the SQL
    walk is still reachable."""
    df, idx, queries, qv = index_1k
    rows, n = _jobs(spark, lambda: idx.query_batch(
        df, queries, k=5, assume_fresh=True).collect())
    assert len(rows) == 50 and n <= 4, n
    rows, n = _jobs(spark, lambda: idx.query(
        df, qv, k=5, assume_fresh=True).collect())
    assert len(rows) == 5 and n <= 4, n
    with pytest.MonkeyPatch.context() as mp:
        _sql_only(mp)
        plan = _plan(idx.query_batch(df, queries, k=5, assume_fresh=True))
    assert "MapInPandas" not in plan


def test_two_level_degenerate_upper_query_matches_batch(spark):
    """When the upper sample has no edges, query and a one-row query_batch
    both walk the lower layer from its top-``n_entries`` hubs with the full
    lower hop budget (here 4 hops over 100 rows, not half of it)."""
    rng = np.random.default_rng(3)
    x = rng.normal(size=(100, 8))
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(x)],
                               "vec_id long, embedding array<double>")
    idx = A.TwoLevelGraphIndex(level_mult=100_000, m_lower=4, m_upper=4,
                               n_plane_sets=2, n_planes=3)
    idx.build(df)
    assert A.graph_params_for(100)["hops"] == 4
    qs = spark.createDataFrame([(0, x[17].tolist())],
                               "query_id long, query_vec array<double>")
    kw = dict(k=5, beam=2, n_entries=1, assume_fresh=True)
    single = [(r.vec_id, r.score) for r in idx.query(df, x[17].tolist(), **kw)
              .collect()]
    batch = sorted(((r.vec_id, r.score) for r in idx.query_batch(df, qs, **kw)
                    .collect()), key=lambda t: (-t[1], t[0]))
    assert single == batch
    idx.invalidate()
