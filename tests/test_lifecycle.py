"""The one index lifecycle (operators/ann.py PersistedIndex) and the one
directory swap (sources/store.py swap_dir): saving back over the path an
index or a store was loaded from, rebalance's release order, and sidecars
written before the shared base existed."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from educational_vector_database_spark.api import INDEXES, VectorDB
from educational_vector_database_spark.operators import ann as A
from educational_vector_database_spark.operators import pq as PQ

SCHEMA = "vec_id: long, embedding: array<double>, text: string"
N_BASE, N_NEW, DIM = 120, 6, 8

# the sidecar key sets as written before the shared base, verbatim
LEGACY_KEYS = {
    "_ivf_index.json": [
        "n_cells", "metric", "vector_col", "id_col", "seed", "indexed_rows",
        "centroids",
    ],
    "_graph_index.json": [
        "n_plane_sets", "n_planes", "m", "metric", "id_col", "vector_col",
        "seed", "blocks_per_bucket", "row_cap", "refine_rounds",
        "refine_expand", "sym_m_rev", "indexed_rows", "dim", "corpus_fp",
    ],
    "_ivfpq_index.json": [
        "n_cells", "n_sub", "k_codes", "metric", "id_col", "vector_col",
        "seed", "centroids", "codebooks", "indexed_rows", "corpus_fp",
    ],
    "_two_level_meta.json": ["level_mult", "salt"],
    "_evdb_config.json": [
        "dim", "metric", "use_approx", "embeddings_class", "id_col",
        "vector_col", "version", "index_type",
    ],
}

MAKERS = {
    "ivf": lambda: A.IVFIndex(n_cells=4),
    "graph": lambda: A.GraphIndex(),
    "ivfpq": lambda: PQ.IVFPQIndex(n_cells=4),
    "two_level": lambda: A.TwoLevelGraphIndex(level_mult=4),
}


def _rows(n, start=0, seed=3):
    rng = np.random.RandomState(seed)
    return [(start + i, [float(x) for x in rng.randn(DIM)], None)
            for i in range(n)]


def _frames(spark):
    base = spark.createDataFrame(_rows(N_BASE), SCHEMA)
    new = spark.createDataFrame(_rows(N_NEW, start=10_000, seed=4), SCHEMA)
    return base, new, base.unionByName(new)


def _build(idx, base):
    if isinstance(idx, PQ.IVFPQIndex):  # fixture codebooks: no KMeans runs
        vecs = [r[1] for r in _rows(PQ.K_CODES)]
        return idx.build(base, centroids=vecs[:4],
                         codebooks=PQ.pq_codebooks_from_rows(vecs))
    return idx.build(base)


@pytest.fixture(scope="module")
def saved_db(spark, tmp_path_factory):
    """itype -> a saved store with a built index, made once per module;
    tests work on copies."""
    made = {}

    def get(itype, dest):
        if itype not in made:
            made[itype] = str(tmp_path_factory.mktemp("db") / itype)
            db = VectorDB(spark, dim=DIM, use_approx=True, index_type=itype,
                          n_cells=4)
            db.add_vectors(_frames(spark)[0])
            db.search_vector(_rows(1)[0][1], k=3).collect()  # build it
            db.save(made[itype])
        shutil.copytree(made[itype], dest)
        return dest

    return get


def _folded(idx) -> bool:
    """True when the last ensure() took the append fold-in, not a rebuild."""
    return (idx.lower if isinstance(idx, A.TwoLevelGraphIndex) else idx)._mutated


# the indexes that fold a pure append in; a graph layer rebuilds
FOLDS = {"ivf", "ivfpq"}


@pytest.mark.parametrize("kind", sorted(MAKERS))
def test_index_save_over_its_source(spark, tmp_path, kind):
    """load(p) -> save(p) keeps every row, unmutated and after a pure
    append (folded in, or rebuilt for a graph), and the reloaded index
    serves the appended rows."""
    base, _, grown = _frames(spark)
    cls = type(MAKERS[kind]())
    path = str(tmp_path / kind)
    _build(MAKERS[kind](), base).save(path).invalidate()

    loaded = cls.load(spark, path)
    loaded.save(path)  # unmutated: the files already are the saved form
    assert not cls.load(spark, path).is_stale(base)

    loaded.ensure(grown)
    assert _folded(loaded) == (kind in FOLDS)
    loaded.save(path)
    assert not os.path.exists(path + ".stage")
    assert not os.path.exists(path + ".old")
    back = cls.load(spark, path)
    assert not back.is_stale(grown)
    qv = _rows(N_NEW, start=10_000, seed=4)[2][1]
    got = back.query(grown, qv, k=3, assume_fresh=True).collect()
    assert 10_002 in {r.vec_id for r in got}


def test_two_level_save_over_its_source_after_a_lower_only_append(
        spark, tmp_path):
    """An append whose rows all miss the upper sample rebuilds the lower
    layer only; save(p) over the loaded source must still write it, though
    the upper layer still reads p."""
    base = _frames(spark)[0]
    path = str(tmp_path / "two_level")
    A.TwoLevelGraphIndex(level_mult=4).build(base).save(path).invalidate()
    cand = _rows(16, start=20_000, seed=5)
    upper = {r.vec_id for r in A.upper_layer(
        spark.createDataFrame(cand, SCHEMA), 4).select("vec_id").collect()}
    new = [r for r in cand if r[0] not in upper]
    assert new
    grown = base.unionByName(spark.createDataFrame(new, SCHEMA))

    loaded = A.TwoLevelGraphIndex.load(spark, path)
    loaded.ensure(grown)
    assert loaded.upper._reads(os.path.join(path, "_upper"))  # not rebuilt
    loaded.save(path)
    back = A.TwoLevelGraphIndex.load(spark, path)
    assert not back.is_stale(grown)
    got = back.query(grown, new[0][1], k=1, assume_fresh=True).collect()
    assert [r.vec_id for r in got] == [new[0][0]]


@pytest.mark.parametrize("itype", sorted(INDEXES))
def test_vectordb_save_over_loaded_store(spark, tmp_path, saved_db, itype):
    """The reference server's flow: load the DB once, add, save it back
    over the same path, load again — every row is there and searchable."""
    new = _frames(spark)[1]
    path = saved_db(itype, str(tmp_path / "db"))
    db2 = VectorDB.load(spark, path)
    db2.add_vectors(new)
    db2.save(path)

    db3 = VectorDB.load(spark, path)
    ids = {r.vec_id for r in db3.df.select("vec_id").collect()}
    assert ids == set(range(N_BASE)) | set(range(10_000, 10_000 + N_NEW))
    assert type(db3._index) is INDEXES[itype][0]
    qv = _rows(N_NEW, start=10_000, seed=4)[2][1]
    assert 10_002 in {r.vec_id for r in db3.search_vector(qv, k=3).collect()}


@pytest.mark.parametrize("itype", sorted(INDEXES))
def test_legacy_sidecars_load_and_fold_in(spark, tmp_path, saved_db, itype):
    """Sidecars carrying exactly the key sets written before the shared
    base (the IVF one has no corpus_fp) still load, and a pure append
    still folds in (IVF, IVF-PQ) or rebuilds (graph layers) rather than
    crashing."""
    new = _frames(spark)[1]
    path = saved_db(itype, str(tmp_path / "db"))
    rewritten = set()
    for root, _, files in os.walk(path):
        for name in files:
            if name in LEGACY_KEYS:
                p = os.path.join(root, name)
                with open(p, encoding="utf-8") as f:
                    meta = json.load(f)
                assert set(LEGACY_KEYS[name]) <= set(meta)  # names unchanged
                with open(p, "w", encoding="utf-8") as f:
                    json.dump({k: meta[k] for k in LEGACY_KEYS[name]}, f)
                rewritten.add(name)
    sidecar = {"ivf": "_ivf_index.json", "graph": "_graph_index.json",
               "ivfpq": "_ivfpq_index.json",
               "two_level": "_two_level_meta.json"}[itype]
    assert {"_evdb_config.json", sidecar} <= rewritten

    db2 = VectorDB.load(spark, path)
    assert type(db2._index) is INDEXES[itype][0]
    db2.add_vectors(new)
    qv = _rows(N_NEW, start=10_000, seed=4)[2][1]
    assert 10_002 in {r.vec_id for r in db2.search_vector(qv, k=3).collect()}
    assert _folded(db2._index) == (itype in FOLDS)


def test_graph_append_costs_a_count_per_layer_plus_a_build(spark):
    """A pure append to a two-level graph index launches no more jobs than
    a fresh build of the grown corpus plus one count per layer: no census
    of kept and delta rows, no re-pack of the kept corpus."""
    spark.catalog.clearCache()  # no other test's cached frames serve this one
    base, _, grown = _frames(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(fn):
        start = dag.nextJobId()
        fn()
        return dag.nextJobId() - start

    # A build of a corpus whose edge frames are cached reads them and
    # launches fewer jobs. So the cache starts empty, and the fresh build
    # runs first and is released.
    def make():
        return A.TwoLevelGraphIndex(level_mult=4)

    fresh = make()
    n_build = jobs(lambda: fresh.build(grown))
    fresh.invalidate()
    idx = make().build(base)
    n_upper = idx.upper._indexed_rows
    n_append = jobs(lambda: idx.ensure(grown))
    assert idx.upper._indexed_rows > n_upper  # both layers drifted
    assert n_append <= n_build + 2, (n_append, n_build)
    idx.invalidate()


def test_rebalance_does_not_rescan_source(spark):
    """rebalance() swaps the split assignment in only after the census has
    materialized it, so the released old assignment is never recomputed
    from its source: a UDF on the rows folded in by add_items (the path
    that makes cells hot) runs no more once they are indexed."""
    rng = np.random.RandomState(7)
    centres = rng.randn(3, DIM) * 4
    rows = [(i, [float(x) for x in centres[i % 3] + rng.randn(DIM) * 0.3],
             None) for i in range(240)]
    scans = spark.sparkContext.accumulator(0)

    @F.udf("array<double>")
    def tap(v):
        scans.add(1)
        return v

    src = spark.createDataFrame(rows, SCHEMA)
    idx = A.IVFIndex(n_cells=2).build(src.filter("vec_id % 2 = 0"))
    idx.add_items(src.filter("vec_id % 2 = 1").withColumn(
        "embedding", tap("embedding")))
    indexed = scans.value
    assert indexed > 0
    idx.rebalance(max_cell_size=60)
    assert max(idx.cell_sizes().values()) <= 60
    assert scans.value == indexed
