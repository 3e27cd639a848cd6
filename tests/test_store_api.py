"""Persistence + VectorDB facade tests (reference tests/test_v2_features.py:11-48,
tests/test_v3_features.py:7-26, tests/test_basic.py)."""

import pytest
from pyspark.sql import functions as F

from educational_vector_database_spark.api import VectorDB
from educational_vector_database_spark.embeddings import DummyEmbeddings
from educational_vector_database_spark.operators.ann import (
    GraphIndex,
    IVFIndex,
    TwoLevelGraphIndex,
)
from educational_vector_database_spark.operators.pq import IVFPQIndex
from educational_vector_database_spark.sources import store


def test_save_load_roundtrip(spark, tmp_path):
    # reference test_v2_features.py:11-48: unit vectors, dim/metric preserved
    path = str(tmp_path / "store")
    db = VectorDB(spark, dim=2, metric="euclidean")
    db.add_vectors(spark.createDataFrame(
        [(1, [1.0, 0.0], "x"), (2, [0.0, 1.0], "y")],
        "vec_id: long, embedding: array<double>, text: string",
    ))
    db.save(path)
    db2 = VectorDB.load(spark, path)
    assert db2.dim == 2 and db2.metric == "euclidean"
    assert db2.count() == 2
    top = db2.search_vector([1.0, 0.0], k=1).head()
    assert top.vec_id == 1 and top.text == "x"


def test_append_mode_accumulates(spark, tmp_path):
    path = str(tmp_path / "store")
    cfg = store.StoreConfig(dim=2)
    df1 = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id: long, embedding: array<double>")
    df2 = spark.createDataFrame([(2, [0.0, 1.0])], "vec_id: long, embedding: array<double>")
    store.save(df1, path, cfg)
    store.save(df2, path, cfg, mode="append")  # ≙ per-request append, S7->I1
    got, cfg2 = store.load(spark, path)
    assert got.count() == 2 and cfg2.dim == 2


def test_load_or_init_empty(spark, tmp_path):
    df, cfg = store.load_or_init(spark, str(tmp_path / "nope"), store.StoreConfig(dim=4))
    assert df.count() == 0 and cfg.dim == 4


def test_dim_validation_raises(spark, tmp_path):
    # reference storage.py:15-16 — the guard is folded into the plan (zero
    # jobs at append); the materializing action carries the violation and the
    # facade re-raises it as the reference's ValueError.
    db = VectorDB(spark, dim=3)
    bad = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id: long, embedding: array<double>")
    db.add_vectors(bad)
    with pytest.raises(ValueError, match="dimension"):
        db.save(str(tmp_path / "bad_store"))


def test_ingest_is_one_job(spark, tmp_path):
    # VERDICT r3 #6: append + save must be a single Spark job — the dim
    # check rides the write action instead of running its own count().
    db = VectorDB(spark, dim=2)
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id: long, embedding: array<double>")
    sc = spark.sparkContext
    sc.setJobGroup("ingest-one-job", "ingest job-count probe")
    try:
        db.add_vectors(batch)          # must schedule NO job
        db.save(str(tmp_path / "s"))   # exactly one (the parquet write)
    finally:
        sc.setJobGroup(None, None)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("ingest-one-job")
    assert len(jobs) == 1, f"ingest ran {len(jobs)} jobs: {jobs}"


def test_load_without_sidecar_defaults(spark, tmp_path):
    # reference api.py:191-205: legacy stores (no sidecar) load with
    # defaulted metric/use_ann and dim inferred from the data.
    path = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0], "a")],
        "vec_id: long, embedding: array<double>, text: string",
    ).write.parquet(path)  # bare parquet — no _evdb_config.json
    df, cfg = store.load(spark, path)
    assert df.count() == 1
    assert cfg.dim == 3 and cfg.metric == "cosine" and cfg.use_approx is False
    db = VectorDB.load(spark, path)
    assert db.dim == 3 and db.metric == "cosine"
    assert db.search_vector([1.0, 0.0, 0.0], k=1).head().vec_id == 1


def test_unknown_metric_raises(spark):
    with pytest.raises(ValueError):
        VectorDB(spark, dim=2, metric="manhattan")


def test_add_and_search_text(spark):
    # reference tests/test_basic.py:6-35
    db = VectorDB(spark, dim=8, embeddings=DummyEmbeddings(8))
    texts = spark.createDataFrame(
        [(1, "hello world", "greeting"), (2, "goodbye moon", "farewell")],
        "vec_id: long, text: string, kind: string",
    )
    db.add_texts(texts)
    res = db.search_text("hello world!", k=1).collect()
    assert len(res) == 1
    assert set(res[0].asDict()) == {"vec_id", "text", "kind", "score"}


def test_search_without_embeddings_raises(spark):
    db = VectorDB(spark, dim=4)
    with pytest.raises(RuntimeError):
        db.search_text("q")
    with pytest.raises(RuntimeError):
        db.add_texts(spark.createDataFrame([("t",)], "text: string"))


def test_rag_index_and_answer_through_facade(spark):
    # reference test_v3_features.py:49-65 via the facade
    db = VectorDB(spark, dim=8, embeddings=DummyEmbeddings(8))
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta " * 3),
         (1, "one two three four five six seven eight nine ten " * 2)],
        "doc_id: long, text: string",
    )
    db.index_documents(docs, chunk_size=50)
    assert db.count() >= 2
    ans = db.answer("alpha beta", k=2)
    assert set(ans) == {"query", "chunks", "combined_context", "answer"}
    assert len(ans["chunks"]) == 2
    it = db.items()
    assert "embedding" not in it.columns and it.count() == db.count()


def test_add_vectors_lineage_bounded(spark):
    """Micro-appends must not grow the logical plan without bound: after
    _CHECKPOINT_EVERY appends the facade truncates lineage via (lazy)
    localCheckpoint, so 3x that many appends stays analyzable and correct."""
    db = VectorDB(spark, dim=2)
    n = db._CHECKPOINT_EVERY * 3 + 5
    for i in range(n):
        db.add_vectors(spark.createDataFrame(
            [(i, [float(i), 0.0], None)],
            "vec_id: long, embedding: array<double>, text: string"))
    assert db.count() == n
    # plan depth is bounded by the checkpoint interval, not by n
    assert len(db.df._jdf.queryExecution().logical().toString().splitlines()) < 200


def test_upsert_replaces_and_appends(spark):
    from educational_vector_database_spark.sources import store as S

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
    )
    updates = spark.createDataFrame(
        [(2, "B2"), (9, "new")], "doc_id long, text string"
    )
    got = {(r.doc_id, r.text) for r in S.upsert(base, updates).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (9, "new")}


def test_upsert_duplicate_update_keys_both_land(spark):
    """upsert replaces whole rows by key; if the updates frame itself has
    duplicate keys, both rows land (same as SQL UNION ALL semantics) — the
    caller owns update-side dedup."""
    from educational_vector_database_spark.sources import store as S

    base = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    updates = spark.createDataFrame(
        [(1, "x"), (1, "y")], "doc_id long, text string"
    )
    assert S.upsert(base, updates).count() == 2


def test_save_load_carries_built_ivf_index(spark, tmp_path):
    """save() persists a BUILT index under <store>/_ivf_index; load() reopens
    it (no first-search rebuild) and the store itself stays readable as a
    plain parquet table despite the extra subdir."""
    import numpy as np

    from educational_vector_database_spark.api import VectorDB

    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.randn(8)], None) for i in range(80)]
    db = VectorDB(spark, dim=8, use_approx=True, n_cells=4)
    db.add_vectors(spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, text: string"))
    q = rows[9][1]
    want = [(r.vec_id, r.score) for r in db.search_vector(q, k=3).collect()]

    path = str(tmp_path / "store_with_idx")
    db.save(path)
    db2 = VectorDB.load(spark, path)
    assert type(db2._index) is IVFIndex and db2._index.built
    got_df = db2.search_vector(q, k=3)
    assert [(r.vec_id, r.score) for r in got_df.collect()] == want
    # disk probe: the loaded index's scan partition-prunes on centroid_id
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # plain-table readability: the _ivf_index subdir is invisible to a
    # normal parquet read of the store
    assert spark.read.parquet(path).count() == 80

    # appends after load still flip staleness -> lazy rebuild sees them
    db2.add_vectors(spark.createDataFrame(
        [(999, q, None)], "vec_id: long, embedding: array<double>, text: string"))
    assert 999 in {r.vec_id for r in db2.search_vector(q, k=3).collect()}


def test_vectordb_graph_index_search_and_roundtrip(spark, tmp_path):
    """index_type="graph": searches route through the GraphIndex beam walk
    (lazy-built on first search, rebuilt when the corpus grows), and
    save/load persists the edge list under <store>/_graph_index so the
    reloaded DB serves walks without a rebuild."""
    import numpy as np

    from educational_vector_database_spark.api import VectorDB

    rng = np.random.RandomState(23)
    rows = [(i, [float(x) for x in rng.randn(8)], None) for i in range(120)]
    db = VectorDB(spark, dim=8, use_approx=True, index_type="graph")
    db.add_vectors(spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, text: string"))
    q = rows[11][1]
    got = db.search_vector(q, k=3).collect()
    assert len(got) == 3
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)
    assert type(db._index) is GraphIndex

    path = str(tmp_path / "store_graph_idx")
    db.save(path)
    db2 = VectorDB.load(spark, path)
    assert db2.index_type == "graph"
    assert type(db2._index) is GraphIndex and db2._index._indexed_rows == 120
    got2 = db2.search_vector(q, k=3).collect()
    assert [(r.vec_id, r.score) for r in got2] == [(r.vec_id, r.score) for r in got]
    # the store itself stays a readable plain table
    assert spark.read.parquet(path).count() == 120
    db._index.invalidate()
    db2._index.invalidate()


def test_vectordb_unknown_index_type_raises(spark):
    import pytest as _pytest

    from educational_vector_database_spark.api import VectorDB

    with _pytest.raises(ValueError, match="index_type"):
        VectorDB(spark, dim=4, index_type="hnsw")


def test_vectordb_ivfpq_index_search_and_roundtrip(spark, tmp_path):
    """index_type="ivfpq": searches route through the compressed
    IVFPQIndex (trained lazily on first search, one-sided fold-in on pure
    appends), and save/load persists the partitionBy(cell) code table +
    sidecar under <store>/_ivfpq_index so the reloaded DB serves probes
    without a rebuild."""
    import numpy as np

    from educational_vector_database_spark.api import VectorDB

    rng = np.random.RandomState(29)
    rows = [(i, [float(x) for x in rng.randn(8)], None) for i in range(120)]
    db = VectorDB(spark, dim=8, use_approx=True, index_type="ivfpq", n_cells=4)
    db.add_vectors(spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, text: string"))
    q = rows[7][1]
    got = db.search_vector(q, k=3).collect()
    assert len(got) == 3
    # the query vector itself is in the store: nearest cell is always
    # probed and the exact rerank puts the identical vector first
    assert got[0].vec_id == 7
    scores = [r.score for r in got]
    assert scores == sorted(scores, reverse=True)
    assert type(db._index) is IVFPQIndex

    path = str(tmp_path / "store_ivfpq_idx")
    db.save(path)
    db2 = VectorDB.load(spark, path)
    assert db2.index_type == "ivfpq"
    assert type(db2._index) is IVFPQIndex and db2._index._indexed_rows == 120
    got2 = db2.search_vector(q, k=3).collect()
    assert [(r.vec_id, r.score) for r in got2] == [
        (r.vec_id, r.score) for r in got
    ]
    # the store itself stays a readable plain table
    assert spark.read.parquet(path).count() == 120
    # pure append after load: one-sided fold-in, new row findable
    db2.add_vectors(spark.createDataFrame(
        [(999, q, None)], "vec_id: long, embedding: array<double>, text: string"))
    assert 999 in {r.vec_id for r in db2.search_vector(q, k=3).collect()}


def test_reap_scratch_age_gated(tmp_path, monkeypatch):
    """Stale same-prefix siblings are deleted, fresh ones and other
    prefixes survive, and the returned path is a new uuid-suffixed name."""
    import os
    import time

    import __spark_entry__ as entry

    monkeypatch.setenv("TMPDIR", str(tmp_path))
    import tempfile
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    stale = tmp_path / "evdb_x_old1"
    fresh = tmp_path / "evdb_x_new1"
    other = tmp_path / "evdb_y_old1"
    for d in (stale, fresh, other):
        d.mkdir()
    old = time.time() - 3600
    os.utime(stale, (old, old))
    os.utime(other, (old, old))

    p = entry._reap_scratch("evdb_x_", max_age_s=1800)
    assert p.startswith(str(tmp_path / "evdb_x_"))
    assert not stale.exists()          # stale same-prefix: reaped
    assert fresh.exists()              # fresh same-prefix: untouched
    assert other.exists()              # other prefix: untouched
    assert not os.path.exists(p)       # allocation returns a name only


def test_index_type_survives_save_load(spark, tmp_path):
    """ADVICE r6 (low): index_type is part of the persisted config — a DB
    constructed with index_type='graph' but saved BEFORE any search must
    reload as 'graph', and a stray index dir from another family must not
    override the configured type."""
    db = VectorDB(spark, dim=2, use_approx=True, index_type="graph")
    db.add_vectors(
        spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7])],
            "vec_id long, embedding array<double>",
        )
    )
    path = str(tmp_path / "typed_store")
    db.save(path)  # no search ran: no index dir exists yet
    loaded = VectorDB.load(spark, path)
    assert loaded.index_type == "graph"

    # legacy sidecar (no index_type field): dir-based inference still applies
    import json
    import os

    cfg_file = os.path.join(path, "_evdb_config.json")
    with open(cfg_file, encoding="utf-8") as f:
        raw = json.load(f)
    raw.pop("index_type")
    with open(cfg_file, "w", encoding="utf-8") as f:
        json.dump(raw, f)
    legacy = VectorDB.load(spark, path)
    assert legacy.index_type == "ivf"  # no index dirs -> historical default


def test_vectordb_two_level_index_serving_and_roundtrip(spark, tmp_path):
    """index_type="two_level": searches serve through the coarse-to-fine
    hierarchy (both layers lazily built on first search, a layer whose
    size drifted rebuilt), save() persists the two-layer index under
    _two_level_index, and load() reattaches it with identical results."""
    from educational_vector_database_spark.api import VectorDB

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    db = VectorDB(
        spark, dim=64, metric="cosine", df=emb.select("vec_id", "embedding"),
        use_approx=True, index_type="two_level",
    )
    qv = emb.filter("vec_id = 7").head().embedding
    got = db.search_vector(qv, k=5).collect()
    assert got[0].vec_id == 7 and abs(got[0].score - 1.0) < 1e-9
    assert type(db._index) is TwoLevelGraphIndex  # the hierarchy, not brute
    path = str(tmp_path / "db_tl")
    db.save(path)
    import os as _os

    assert _os.path.isdir(_os.path.join(path, "_two_level_index"))
    db2 = VectorDB.load(spark, path)
    assert db2.index_type == "two_level"
    assert type(db2._index) is TwoLevelGraphIndex  # reattached, no rebuild
    got2 = db2.search_vector(qv, k=5).collect()
    assert [(r.vec_id, round(r.score, 9)) for r in got] == [
        (r.vec_id, round(r.score, 9)) for r in got2
    ]
