"""index_type="auto" — the round-9 decision table as a serving default.

The reference exposes ONE index switch (use_ann, reference src/vectordb/
api.py:26-35) and hnswlib makes the regime choice for the user; our batch
engine measures the regime instead (BASELINE.md round-9 forensics: which
index wins is a property of the DATA) and picks ivf / brute / two_level
from a bounded clusterability probe. These tests pin:

- the nn1 statistic's separation on seeded corpora (isotropic under the
  analytic null + margin, Zipf-GMM far above it — including the probe-K
  failure case of many true clusters),
- the decision table itself (pure function),
- the facade resolution end-to-end: auto == exact brute on a small
  isotropic corpus (bit-identical rows), auto -> ivf on a clustered one,
  memoization honoring the corpus-doubling re-probe contract.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from educational_vector_database_spark.api import VectorDB
from educational_vector_database_spark.operators import knn as K
from educational_vector_database_spark.operators.ann import (
    AUTO_BRUTE_MAX_ROWS,
    NN1_CLUSTERED_MARGIN,
    IVFIndex,
    corpus_clusterability,
    recommend_index,
)

DIM = 64


def _iso_df(spark, n, seed=11):
    rng = np.random.RandomState(seed)
    x = rng.standard_normal((n, DIM))
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )


def _gmm_df(spark, n, n_clusters, sigma=0.5, seed=7):
    """The STRUCTURED_RECALL_2M.json recipe at test scale: standard-normal
    centers (norm ~ sqrt(dim)), Zipf(0.5)-skewed populations, sigma*noise."""
    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((n_clusters, DIM))
    w = 1.0 / np.sqrt(np.arange(1, n_clusters + 1))
    w /= w.sum()
    cids = rng.choice(n_clusters, n, p=w)
    x = centers[cids] + sigma * rng.standard_normal((n, DIM))
    return spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )


# -- the statistic ---------------------------------------------------------


def test_nn1_isotropic_below_threshold(spark):
    stats = corpus_clusterability(_iso_df(spark, 1500))
    assert stats["sample_rows"] == 1500  # under the cap: no subsampling
    assert stats["dim"] == DIM
    # isotropic sits under the analytic null; verdict must be NOT clustered
    assert stats["nn1"] < stats["nn1_null"] + NN1_CLUSTERED_MARGIN
    assert stats["clustered"] is False


def test_nn1_clustered_few_clusters(spark):
    stats = corpus_clusterability(_gmm_df(spark, 1500, n_clusters=20))
    assert stats["clustered"] is True
    assert stats["nn1"] > 0.7  # in-cluster cosine regime (~0.8)


def test_nn1_clustered_many_clusters(spark):
    # many true clusters relative to corpus — the case a fixed-K k-means
    # probe misreads; nn1 must still call it clustered
    stats = corpus_clusterability(_gmm_df(spark, 1500, n_clusters=200))
    assert stats["clustered"] is True


def test_nn1_subsamples_large_corpora(spark):
    stats = corpus_clusterability(_iso_df(spark, 3000), sample_cap=500)
    assert stats["sample_rows"] <= 1000  # ~n/rate, bounded by 2x cap
    assert stats["n_rows"] == 3000
    assert stats["clustered"] is False


def test_nn1_degenerate_tiny(spark):
    df = _iso_df(spark, 1)
    stats = corpus_clusterability(df)
    assert stats["clustered"] is False
    assert stats["nn1"] == 0.0


# -- the decision table ----------------------------------------------------


def test_recommend_clustered_is_ivf_multiprobe():
    rec = recommend_index(2_000_000, clustered=True)
    assert rec["index_type"] == "ivf"
    assert rec["params"]["nprobe"] == 4  # the 0.986-recall operating point
    assert rec["params"]["n_cells"] == 1414  # K ~ sqrt(n)
    # past ~4M the table buys recall margin with nprobe=8: the measured
    # dip 0.986 (2M) -> 0.950 (5M) at nprobe=4, STRUCTURED_RECALL_5M.json
    rec5 = recommend_index(5_000_000, clustered=True)
    assert rec5["params"]["nprobe"] == 8
    assert rec5["params"]["n_cells"] == 2236


def test_recommend_small_isotropic_is_brute():
    rec = recommend_index(200_000, clustered=False)
    assert rec["index_type"] == "brute"
    assert rec["params"] == {}


def test_recommend_large_isotropic_is_two_level():
    rec = recommend_index(AUTO_BRUTE_MAX_ROWS, clustered=False)
    assert rec["index_type"] == "two_level"
    # scale-indexed walk knobs come from graph_params_for
    assert rec["params"]["m"] >= 16 and rec["params"]["beam"] == 2 * rec["params"]["m"]


# -- the facade ------------------------------------------------------------


def test_auto_small_isotropic_equals_exact_brute(spark):
    df = _iso_df(spark, 400, seed=3)
    db = VectorDB(spark, dim=DIM, df=df, use_approx=True, index_type="auto")
    qv = df.filter(F.col("vec_id") == 7).head().embedding
    got = db.search_vector(qv, k=5).collect()
    assert db._auto["index_type"] == "brute"
    want = K.knn(df, qv, k=5, metric="cosine").collect()
    assert [(r.vec_id, r.score) for r in got] == [
        (r.vec_id, r.score) for r in want
    ]


def test_auto_clustered_resolves_ivf_and_serves(spark):
    df = _gmm_df(spark, 600, n_clusters=12, seed=5)
    db = VectorDB(spark, dim=DIM, df=df, use_approx=True, index_type="auto")
    qv = df.filter(F.col("vec_id") == 42).head().embedding
    rows = db.search_vector(qv, k=5).collect()
    assert db._auto["index_type"] == "ivf"
    assert db._n_cells == max(16, int(600 ** 0.5))
    assert len(rows) == 5
    # the query row itself is its own nearest neighbor under cosine
    assert rows[0].vec_id == 42


def test_auto_memoizes_until_corpus_doubles(spark):
    df = _iso_df(spark, 300, seed=9)
    db = VectorDB(spark, dim=DIM, df=df, use_approx=True, index_type="auto")
    qv = df.head().embedding
    db.search_vector(qv, k=3).collect()
    first = db._auto
    db.search_vector(qv, k=3).collect()
    assert db._auto is first  # not re-probed within 2x
    # explicit index_type bypasses the probe entirely
    db2 = VectorDB(spark, dim=DIM, df=df, use_approx=True, index_type="ivf")
    assert db2._effective_index_type() == "ivf"
    assert db2._auto is None


def test_auto_rejects_unknown_type(spark):
    with pytest.raises(ValueError):
        VectorDB(spark, dim=DIM, index_type="hnsw")


# -- round-10 fixes (VERDICT r9 What's-wrong #4 + ADVICE) --------------------


def test_auto_hot_path_runs_no_count_job(spark, monkeypatch):
    """A memoized verdict with no appends since it was minted must serve
    with ZERO sizing jobs — the probe-once contract (ADVICE r9 medium:
    _effective_index_type ran df.count() on EVERY search)."""
    from pyspark.sql import DataFrame

    df = _iso_df(spark, 300, seed=21)
    db = VectorDB(spark, dim=DIM, df=df, use_approx=True, index_type="auto")
    qv = df.head().embedding
    db.search_vector(qv, k=3).collect()  # probe + verdict minted here
    assert db._auto is not None and db._auto_rows_dirty is False

    def _boom(self):
        raise AssertionError("count() job on the memoized auto hot path")

    monkeypatch.setattr(DataFrame, "count", _boom)
    # resolution itself — the exact code path the advice flagged — must not
    # touch count(); brute serving then runs fine without it
    assert db._effective_index_type() == "brute"
    rows = db.search_vector(qv, k=3).collect()
    assert len(rows) == 3


def test_auto_append_invalidates_rows_memo(spark):
    df = _iso_df(spark, 300, seed=22)
    db = VectorDB(spark, dim=DIM, df=df, use_approx=True, index_type="auto")
    db.search_vector(df.head().embedding, k=3).collect()
    assert db._auto_rows_dirty is False
    db.add_vectors(_iso_df(spark, 10, seed=23))
    assert db._auto_rows_dirty is True  # next search re-sizes (lazily)


def test_auto_reprobes_on_halving(spark):
    """Symmetric 2x band (ADVICE r9): mass deletes below half the memoized
    size must re-probe — a big-corpus verdict cannot persist forever on a
    now-small corpus where brute is exact AND faster."""
    df = _iso_df(spark, 400, seed=24)
    db = VectorDB(spark, dim=DIM, df=df, use_approx=True, index_type="auto")
    db.search_vector(df.head().embedding, k=3).collect()
    first = db._auto
    assert first["stats"]["n_rows"] == 400
    # shrink the corpus far below half the memoized size
    db._df = df.filter(F.col("vec_id") < 100)
    db._auto_rows_dirty = True
    db.search_vector(df.head().embedding, k=3).collect()
    assert db._auto is not first  # re-probed
    assert db._auto["stats"]["n_rows"] == 100


def test_auto_reprobe_drops_stale_ivf_on_resize(spark):
    """ADVICE r9: a re-probe that changes n_cells must DROP the old index —
    ensure() folds appends in with frozen centroids, so the new K ~ sqrt(n)
    would otherwise silently never apply."""
    df = _gmm_df(spark, 600, n_clusters=12, seed=25)
    db = VectorDB(spark, dim=DIM, df=df, use_approx=True, index_type="auto")
    qv = df.filter(F.col("vec_id") == 1).head().embedding
    db.search_vector(qv, k=3).collect()
    assert db._auto["index_type"] == "ivf"
    stale = db._index
    assert stale is not None
    # grow the corpus past the 2x band with the same cluster structure
    grown = _gmm_df(spark, 2000, n_clusters=12, seed=26).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    db.add_vectors(grown.select("vec_id", "embedding"))
    db.search_vector(qv, k=3).collect()
    assert db._auto["index_type"] == "ivf"
    assert db._n_cells == max(16, int(2600 ** 0.5))
    assert type(db._index) is IVFIndex
    assert db._index is not stale  # rebuilt at the new K
    assert db._index.n_cells == db._n_cells


def test_nn1_sample_stays_bounded_in_cap_2cap_window(spark):
    """ADVICE r9: for cap < n < 2*cap the floor-rate bypassed the hash
    filter entirely (a biased partition-prefix of up to 2*cap rows). The
    ceil rate keeps the sample hash-uniform and under the cap."""
    stats = corpus_clusterability(_iso_df(spark, 700, seed=27), sample_cap=500)
    assert stats["n_rows"] == 700
    # rate = ceil(700/500) = 2 -> a real hash subsample, ~350 rows
    assert 2 <= stats["sample_rows"] <= 500
    assert stats["clustered"] is False
