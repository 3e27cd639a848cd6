"""ANN operator tests: LSH bucketing, IVF assignment, MLlib LSH join."""

import os

import pytest
from pyspark.sql import functions as F

from educational_vector_database_spark.operators import ann as A
from educational_vector_database_spark.operators import knn as K
from educational_vector_database_spark.session import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _qv(spark, sf_dir, vid=0):
    return [float(x) for x in
            _emb(spark, sf_dir).filter(F.col("vec_id") == vid).head().embedding]


def test_hyperplanes_deterministic():
    assert A.hyperplanes(8, 3) == A.hyperplanes(8, 3)
    assert A.hyperplanes(8, 3, seed=1) != A.hyperplanes(8, 3, seed=2)


def test_bucket_expr_matches_driver_side(spark, sf_dir):
    planes = A.hyperplanes(64, 4)
    rows = _emb(spark, sf_dir).select(
        "vec_id", "embedding", A.bucket_expr("embedding", planes).alias("b")
    ).collect()
    for r in rows[:50]:
        assert A.bucket_of([float(x) for x in r.embedding], planes) == r.b


def test_bucket_distribution_covers_space(spark, sf_dir):
    planes = A.hyperplanes(64, 4)
    n_buckets = (
        _emb(spark, sf_dir)
        .select(A.bucket_expr("embedding", planes).alias("b"))
        .distinct()
        .count()
    )
    assert n_buckets >= 8  # 16 possible; Gaussian planes should hit most


def test_knn_in_bucket_subset_of_exact_and_self_found(spark, sf_dir):
    planes = A.hyperplanes(64, 4)
    qv = _qv(spark, sf_dir, 3)
    approx = K.knn(_emb(spark, sf_dir), qv, k=500)  # exact scores for all
    exact_scores = {r.vec_id: r.score for r in approx.collect()}
    got = A.knn_in_bucket(_emb(spark, sf_dir), qv, planes, k=5).collect()
    assert got[0].vec_id == 3  # the query vector itself shares its own bucket
    for r in got:
        assert abs(exact_scores[r.vec_id] - r.score) < 1e-12


def test_multi_probe_recall_improves(spark, sf_dir):
    planes = A.hyperplanes(64, 4)
    qv = _qv(spark, sf_dir, 9)
    exact = [r.vec_id for r in K.knn(_emb(spark, sf_dir), qv, k=10).collect()]
    r1 = {r.vec_id for r in A.knn_in_bucket(_emb(spark, sf_dir), qv, planes, k=10).collect()}
    r4 = {r.vec_id for r in A.knn_in_bucket(
        _emb(spark, sf_dir), qv, planes, k=10, n_probe_buckets=4).collect()}
    rec1 = len(r1 & set(exact)) / 10
    rec4 = len(r4 & set(exact)) / 10
    assert rec4 >= rec1


def test_ivf_assign_nearest_centroid(spark):
    df = spark.createDataFrame(
        [(1, [0.9, 0.0]), (2, [0.0, 1.1]), (3, [1.2, 0.1])],
        "vec_id: long, embedding: array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id: int, centroid: array<double>"
    )
    got = {r.vec_id: r.centroid_id for r in A.ivf_assign(df, cents).collect()}
    assert got == {1: 0, 2: 1, 3: 0}


def test_train_ivf_and_assign_roundtrip(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(200)
    cents = A.train_ivf_centroids(emb, n_cells=4)
    assert cents.count() == 4
    assigned = A.ivf_assign(emb, cents)
    assert assigned.count() == 200
    assert assigned.select("centroid_id").distinct().count() >= 2


def test_brp_lsh_join_finds_close_pairs(spark):
    data = [(i, [float(i), 0.0]) for i in range(10)] + [(100, [0.05, 0.0])]
    df = spark.createDataFrame(data, "vec_id: long, embedding: array<double>")
    pairs = {(r.id_a, r.id_b) for r in A.brp_lsh_join(df, threshold=0.2).collect()}
    assert (0, 100) in pairs
    assert all(abs(a - b) < 20 for a, b in pairs if b != 100)


def test_projection_threshold_join_equals_exact(spark, sf_dir):
    """The native BRP replacement's contract: output EQUALS the exact
    euclidean threshold self-join — recall 1.0 by the ±1-bucket cover
    proof, precision 1.0 by the in-kernel distance verify. Checked
    against a brute-force reference on real fixture vectors."""
    import itertools
    import math

    emb = _emb(spark, sf_dir).limit(300)
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    thr = 1.12
    expect = {}
    for (ia, va), (ib, vb) in itertools.combinations(rows, 2):
        d = math.sqrt(sum((x - y) ** 2 for x, y in zip(va, vb)))
        if d < thr:
            expect[(min(ia, ib), max(ia, ib))] = d
    got = {
        (r.id_a, r.id_b): r.dist
        for r in A.projection_threshold_join(emb, thr).collect()
    }
    assert set(got) == set(expect)
    for k, d in got.items():
        assert abs(d - expect[k]) < 1e-9
    assert all(a < b for a, b in got)


def test_projection_threshold_join_rejects_uncovered_threshold(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id: long, embedding: array<double>"
    )
    with pytest.raises(ValueError, match="cover"):
        A.projection_threshold_join(df, threshold=3.0, bucket_length=2.0)


def test_ivf_assign_shuffle_free_and_keeps_duplicates(spark):
    """ivf_assign is a pure scan-side expression: no Exchange in the physical
    plan, and exact-duplicate input rows each keep their own assignment (the
    old window formulation silently collapsed them)."""
    df = spark.createDataFrame(
        [(1, [0.9, 0.0]), (1, [0.9, 0.0]), (2, [0.0, 1.1])],  # dup row
        "vec_id: long, embedding: array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id: int, centroid: array<double>"
    )
    assigned = A.ivf_assign(df, cents)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = assigned.collect()
    assert len(rows) == 3  # duplicates preserved
    got = sorted((r.vec_id, r.centroid_id) for r in rows)
    assert got == [(1, 0), (1, 0), (2, 1)]


def test_ivf_assign_tie_breaks_to_lowest_centroid(spark):
    df = spark.createDataFrame([(7, [0.5, 0.5])], "vec_id: long, embedding: array<double>")
    cents = spark.createDataFrame(
        [(1, [0.0, 1.0]), (0, [1.0, 0.0])], "centroid_id: int, centroid: array<double>"
    )
    assert A.ivf_assign(df, cents).head().centroid_id == 0


def test_ivf_index_lazy_rebuild_and_invalidate(spark, sf_dir):
    """I2 lifecycle: build caches the assignment; appends make it stale; the
    NEXT query rebuilds (lazy, read-path — ref api.py:42-62); invalidate()
    is the explicit cache-drop."""
    emb = _emb(spark, sf_dir).limit(100)
    idx = A.IVFIndex(n_cells=4)
    idx.build(emb)
    assert not idx.is_stale(emb)
    got = idx.query(emb, _qv(spark, sf_dir, 3), k=5).collect()
    assert len(got) == 5

    grown = emb.unionByName(
        emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label")
    )
    assert idx.is_stale(grown)          # size moved -> stale
    got2 = idx.query(grown, _qv(spark, sf_dir, 3), k=5).collect()  # lazy rebuild
    assert not idx.is_stale(grown)
    assert len(got2) == 5

    idx.invalidate()
    assert idx.is_stale(grown)


def test_ivf_index_query_subset_of_exact_with_equal_scores(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(200)
    qv = _qv(spark, sf_dir, 7)
    idx = A.IVFIndex(n_cells=4).build(emb)
    exact = {r.vec_id: r.score for r in K.knn(emb, qv, k=200).collect()}
    for r in idx.query(emb, qv, k=5, nprobe=2).collect():
        assert abs(exact[r.vec_id] - r.score) < 1e-12


def test_vectordb_use_approx_lifecycle(spark):
    import numpy as np

    from educational_vector_database_spark.api import VectorDB

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)], None) for i in range(60)]
    db = VectorDB(spark, dim=8, use_approx=True, n_cells=2)
    db.add_vectors(spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, text: string"))
    q = rows[5][1]
    got = db.search_vector(q, k=3).collect()
    assert got[0].vec_id == 5  # query vector's own row lands in its own cell
    # append -> stale -> next search lazily rebuilds and can see new rows
    db.add_vectors(spark.createDataFrame(
        [(999, q, None)], "vec_id: long, embedding: array<double>, text: string"))
    ids = {r.vec_id for r in db.search_vector(q, k=3).collect()}
    assert 999 in ids


def test_ivf_nprobe_recall_monotone_and_superset(spark, sf_dir):
    # VERDICT r3 #3: the multi-probe batch join must be a candidate SUPERSET
    # of the nprobe=1 join, and its recall eval must be >= the nprobe=1 eval.
    import __spark_entry__ as E

    qs = E.queries()
    r1 = qs["knn_ivf_recall"](spark, sf_dir).head()
    rn = qs["knn_ivf_recall_nprobe"](spark, sf_dir).head()
    assert rn.n_hits >= r1.n_hits
    # at nprobe = half the cells, recall should be strictly useful, not 0
    assert rn.n_hits > 0
    # same top-5 cutoff, wider candidate set: each (query, rank) slot in the
    # multi-probe result holds a score >= the single-probe one (a candidate
    # is only ever displaced by a strictly better one), and both emit
    # exactly 8 queries x top-5 rows.
    s1 = {(r.query_id, r.rank): r.score
          for r in qs["knn_join_ivf"](spark, sf_dir).collect()}
    sn = {(r.query_id, r.rank): r.score
          for r in qs["knn_join_ivf_nprobe"](spark, sf_dir).collect()}
    assert len(s1) == len(sn) == 40
    for key, v in s1.items():
        assert sn[key] >= v


def test_ivf_add_items_incremental_no_retrain(spark, sf_dir):
    # I3: add_items assigns ONLY the new batch to frozen centroids; base
    # assignments and centroids are untouched, and new vectors are
    # immediately searchable without a rebuild.
    from educational_vector_database_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter("vec_id % 7 != 5")
    newb = e.filter("vec_id % 7 == 5")
    idx = A.IVFIndex(n_cells=4).build(base)
    cents_before = [tuple(c) for _, c in idx._centroids]
    rows_before = idx._indexed_rows

    idx.add_items(newb)
    # centroids frozen (no retrain), size grew by exactly the batch
    assert [tuple(c) for _, c in idx._centroids] == cents_before
    assert idx._indexed_rows == rows_before + newb.count()
    # a new vector is searchable and tops its own query (score 1.0)
    target = newb.select("vec_id", "embedding").head()
    got = idx.query(
        base.unionByName(newb), [float(x) for x in target.embedding], k=3
    ).collect()
    assert got[0].vec_id == target.vec_id
    idx.invalidate()


def test_ann_distance_to_similarity_dispatch(spark):
    # F7 (reference api.py:81-91): cosine -> 1 - d, euclidean -> 1/(1+d)
    df = spark.createDataFrame([(0.0,), (1.0,), (3.0,)], "d double")
    cos = [r.s for r in df.select(
        A.ann_distance_to_similarity(F.col("d"), "cosine").alias("s")).collect()]
    euc = [r.s for r in df.select(
        A.ann_distance_to_similarity(F.col("d"), "euclidean").alias("s")).collect()]
    assert cos == [1.0, 0.0, -2.0]
    assert euc == [1.0, 0.5, 0.25]


def test_ensure_folds_pure_appends_incrementally(spark, sf_dir):
    # reference api.py:63-79: with a live index, inserts go through
    # add_items; ensure() must detect the pure-append case and keep the
    # centroids frozen, and fall back to a full rebuild on any other drift
    from educational_vector_database_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter("vec_id < 150")
    idx = A.IVFIndex(n_cells=4).build(base)
    cents = [tuple(c) for _, c in idx._centroids]

    grown = e.filter("vec_id < 180")  # pure append of 30 rows
    idx.ensure(grown)
    assert [tuple(c) for _, c in idx._centroids] == cents  # no retrain
    assert idx._indexed_rows == grown.count()

    shrunk = e.filter("vec_id < 100")  # deletes -> counts can't reconcile
    idx.ensure(shrunk)
    assert idx._indexed_rows == shrunk.count()  # full rebuild happened
    idx.invalidate()


def test_ensure_update_plus_append_forces_rebuild(spark, sf_dir):
    # the id-presence + row-count reconciliation alone would classify
    # "existing vectors rewritten in place AND new ids appended" as a pure
    # append and serve stale assignments; the overlap content fingerprint
    # must force the full rebuild instead
    from educational_vector_database_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter("vec_id < 150")
    idx = A.IVFIndex(n_cells=4).build(base)
    cents = [tuple(c) for _, c in idx._centroids]

    mutated = e.filter("vec_id < 180").withColumn(
        "embedding",
        F.transform("embedding", lambda x: (x * F.lit(-1.0)).cast("float")),
    )
    idx.ensure(mutated)  # same 150 overlapping ids, 30 appended, content moved
    assert idx._indexed_rows == mutated.count()
    assert [tuple(c) for _, c in idx._centroids] != cents  # retrained
    # and the cached assignment now reflects the mutated vectors
    got = {
        (r.vec_id, round(float(r.embedding[0]), 5))
        for r in idx._frame.select("vec_id", "embedding")
        .filter("vec_id < 3").collect()
    }
    want = {
        (r.vec_id, round(float(r.embedding[0]), 5))
        for r in mutated.select("vec_id", "embedding")
        .filter("vec_id < 3").collect()
    }
    assert got == want
    idx.invalidate()


def test_rebalance_bounds_cells_and_preserves_results(spark, sf_dir):
    # the batch analog of HNSW resize_index (reference ann.py:78-91):
    # after add_items freezes centroids, splitting hot cells in place must
    # (a) bound every cell, (b) keep the index content identical — an
    # exhaustive probe equals exact brute force both before and after
    import math

    from educational_vector_database_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    idx = A.IVFIndex(n_cells=2).build(e.filter("vec_id % 2 = 0"))
    idx.add_items(e.filter("vec_id % 2 = 1"))
    bound = math.ceil(n / 6)
    n_cells_before = len(idx._centroids)
    idx.rebalance(bound)
    sizes = idx.cell_sizes()
    assert max(sizes.values()) <= bound
    assert len(idx._centroids) > n_cells_before
    assert sum(sizes.values()) == n  # no row lost or duplicated
    qv = [float(i % 7 - 3) for i in range(64)]
    got = [(r.vec_id, r.score) for r in
           idx.query(e, qv, k=10, nprobe=len(idx._centroids)).collect()]
    exact = [(r.vec_id, r.score) for r in K.knn(e, qv, k=10).collect()]
    assert got == exact
    # idempotent under the same bound: nothing oversized -> no-op
    cells_after = len(idx._centroids)
    idx.rebalance(bound)
    assert len(idx._centroids) == cells_after
    idx.invalidate()


def test_rebalance_requires_built_index():
    with pytest.raises(ValueError):
        A.IVFIndex(n_cells=2).rebalance(10)


def test_ivf_train_converged_inertia_monotone(spark, sf_dir):
    # Lloyd's guarantee: total within-cluster inertia is non-increasing
    # round over round (and strictly decreasing away from the fixed point)
    import __spark_entry__ as E

    rows = E._ivf_train_converged(spark, sf_dir).collect()
    by_round = {}
    for r in rows:
        by_round[r["round"]] = by_round.get(r["round"], 0) + r.inertia_micro
    rounds = sorted(by_round)
    assert rounds == list(range(E.IVF_TRAIN_ROUNDS))
    totals = [by_round[r] for r in rounds]
    assert all(a >= b for a, b in zip(totals, totals[1:]))
    assert totals[0] > totals[-1]  # it actually moved


def test_ivf_index_save_load_partition_pruned(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    qv = _qv(spark, sf_dir, 7)
    idx = A.IVFIndex(n_cells=4).build(emb)
    want = [(r.vec_id, r.score) for r in idx.query(emb, qv, k=5, nprobe=2).collect()]
    path = str(tmp_path / "ivf_idx")
    idx.save(path)
    idx.invalidate()

    loaded = A.IVFIndex.load(spark, path)
    assert loaded.n_cells == 4 and loaded._indexed_rows == emb.count()
    plan_df = loaded.query(emb, qv, k=5, nprobe=2, assume_fresh=True)
    got = [(r.vec_id, r.score) for r in plan_df.collect()]
    assert got == want

    # the probe must reach the scan as PartitionFilters on the partition
    # column, not a post-scan Filter over all cells
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan.split(
        "PartitionFilters", 1)[1][:200]

    # staleness contract survives the roundtrip: a grown corpus rebuilds
    grown = emb.unionByName(emb.limit(3).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10_000_000)))
    assert loaded.is_stale(grown)


def test_ivf_index_save_in_place_after_mutation(spark, sf_dir, tmp_path):
    """Saving a LOADED index back to its own path: no-op when unmutated
    (the bytes already are the saved form); after add_items, a staging
    rename-aside swap — a plain overwrite would delete the files the
    plan reads. The swapped table must contain the inserted rows."""
    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 5 != 0)
    extra = emb.filter(F.col("vec_id") % 5 == 0)
    path = str(tmp_path / "ivf_inplace")
    A.IVFIndex(n_cells=4).build(base).save(path).invalidate()

    loaded = A.IVFIndex.load(spark, path)
    before = os.stat(path).st_mtime_ns
    loaded.save(path)  # unmutated -> no-op, directory untouched
    assert os.stat(path).st_mtime_ns == before

    loaded.add_items(extra)
    loaded.save(path)  # mutated -> staging swap
    assert not os.path.exists(path + ".stage") and not os.path.exists(
        path + ".old")
    reloaded = A.IVFIndex.load(spark, path)
    assert reloaded._indexed_rows == emb.count()
    got = {r.vec_id for r in spark.read.parquet(path).select("vec_id").collect()}
    assert got == {r.vec_id for r in emb.select("vec_id").collect()}


def test_knn_graph_bounded_and_bucket_local(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(300)
    planes = A.hyperplanes(64, 4)
    g = A.knn_graph(emb, planes, m=3)
    rows = g.collect()
    # out-degree bound
    from collections import Counter
    deg = Counter(r.src for r in rows)
    assert max(deg.values()) <= 3
    # edges stay within a bucket (the declared candidate scope)
    bkt = {r.vec_id: A.bucket_of([float(x) for x in r.embedding], planes)
           for r in emb.collect()}
    assert all(bkt[r.src] == bkt[r.dst] for r in rows)
    # no self loops, deterministic rebuild
    assert all(r.src != r.dst for r in rows)
    again = {(r.src, r.dst) for r in A.knn_graph(emb, planes, m=3).collect()}
    assert again == {(r.src, r.dst) for r in rows}


def test_graph_beam_search_walks_toward_query(spark, sf_dir):
    emb = _emb(spark, sf_dir).limit(300)
    planes = A.hyperplanes(64, 4)
    g = A.knn_graph(emb, planes, m=4).persist()
    qv = _qv(spark, sf_dir, 7)
    res = A.graph_beam_search(g, emb, qv, entry_ids=[0, 1], beam=6, hops=3, k=5)
    rows = res.collect()
    assert len(rows) == 5
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    # hops=0 degenerates to the entries themselves
    base = A.graph_beam_search(g, emb, qv, entry_ids=[0, 1], beam=6, hops=0, k=5)
    assert {r.vec_id for r in base.collect()} == {0, 1}
    # more hops can only widen the visited set -> best score is monotone
    r1 = A.graph_beam_search(g, emb, qv, [0, 1], beam=6, hops=1, k=1).head().score
    r3 = rows[0].score
    assert r3 >= r1
    g.unpersist()


def _np_graph_reference(rows, plane_sets, m):
    """Numpy replica of knn_graph's declared semantics: candidates = union of
    same-bucket pairs across plane sets, score = dot of unit vectors, per-node
    top-m (score DESC, dst ASC). Neighbor ORDER is compared exactly; scores
    within 1e-9 (the reference uses BLAS fold order, the kernel per-dim)."""
    import numpy as np

    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([[float(x) for x in r.embedding] for r in rows])
    unit = mat / np.sqrt((mat * mat).sum(axis=1))[:, None]
    S = unit @ unit.T
    n = len(ids)
    cand = np.zeros((n, n), dtype=bool)
    for ps in plane_sets:
        H = np.array(ps, dtype=np.float64)
        bkt = ((mat @ H.T > 0).astype(np.int64) << np.arange(len(ps))).sum(axis=1)
        cand |= bkt[:, None] == bkt[None, :]
    np.fill_diagonal(cand, False)
    out = {}
    for i in range(n):
        js = np.nonzero(cand[i])[0]
        o = js[np.lexsort((ids[js], -S[i, js]))][:m]
        out[int(ids[i])] = [(int(ids[j]), float(S[i, j])) for j in o]
    return out


def test_knn_graph_multiset_matches_reference(spark, sf_dir):
    """Round-6 multi-plane-set graph: per-node top-m over the UNION of R
    collision sets, verified against a brute-force numpy replica."""
    emb = _emb(spark, sf_dir).limit(200)
    plane_sets = [A.hyperplanes(64, 4, seed=A.LSH_SEED + r) for r in range(3)]
    g = A.knn_graph(emb, plane_sets, m=5, blocks_per_bucket=2)
    got = {}
    for r in g.collect():
        got.setdefault(r.src, []).append((r.dst, r.score))
    for s in got:
        got[s].sort(key=lambda t: (-t[1], t[0]))
    ref = _np_graph_reference(emb.collect(), plane_sets, 5)
    assert set(got) <= set(ref)
    for s, exp in ref.items():
        g_s = got.get(s, [])
        assert [d for d, _ in g_s] == [d for d, _ in exp], f"src={s}"
        for (gd, gs), (ed, es) in zip(g_s, exp):
            assert abs(gs - es) < 1e-9


def test_knn_graph_block_count_invariant(spark, sf_dir):
    """blocks_per_bucket only tunes GEMM granularity — the edge set and the
    scores are bit-identical across block counts (the partial-top-M argument:
    dropped candidates are dominated within their own block pair)."""
    emb = _emb(spark, sf_dir).limit(150)
    plane_sets = [A.hyperplanes(64, 4, seed=A.LSH_SEED + r) for r in range(2)]
    a = {(r.src, r.dst): r.score
         for r in A.knn_graph(emb, plane_sets, m=4, blocks_per_bucket=1).collect()}
    b = {(r.src, r.dst): r.score
         for r in A.knn_graph(emb, plane_sets, m=4, blocks_per_bucket=4).collect()}
    assert a == b  # exact float equality: same kernel fold order per pair


def test_ivf_entry_points_nearest_members(spark, sf_dir):
    """entry_points: one id per cell, each the member row nearest its
    centroid (euclidean, ties -> lowest id)."""
    import numpy as np

    emb = _emb(spark, sf_dir).limit(200)
    idx = A.IVFIndex(n_cells=4).build(emb)
    entries = idx.entry_points()
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([[float(x) for x in r.embedding] for r in rows])
    cents = {cid: np.array(cv) for cid, cv in idx._centroids}
    assigned = {int(r.vec_id): int(r.centroid_id)
                for r in idx._frame.select("vec_id", "centroid_id").collect()}
    want = []
    for cid, cv in cents.items():
        mem = [i for i in range(len(ids)) if assigned[int(ids[i])] == cid]
        if mem:
            d = [float(np.sqrt(((mat[i] - cv) ** 2).sum())) for i in mem]
            best = min(zip(d, (int(ids[i]) for i in mem)))
            want.append(best[1])
    assert entries == sorted(want)
    assert len(entries) == len({assigned[i] for i in assigned})
    idx.invalidate()


def _check_crash_heal(spark, sf_dir, tmp_path, idx):
    emb = _emb(spark, sf_dir).limit(120)
    idx.build(emb)
    path = str(tmp_path / "heal")
    idx.save(path)
    idx.invalidate()
    os.rename(path, path + ".old")  # simulate torn swap
    healed = type(idx).load(spark, path)
    assert os.path.isdir(path) and not os.path.exists(path + ".old")
    assert healed._indexed_rows == 120


def test_ivf_save_crash_heal(spark, sf_dir, tmp_path):
    """A crash between save()'s two renames leaves only <path>.old;
    load() heals by renaming it back (the shared store.swap_dir/heal
    contract, round-6 ADVICE item)."""
    _check_crash_heal(spark, sf_dir, tmp_path, A.IVFIndex(n_cells=3))


@pytest.mark.parametrize("kind", ["graph", "ivfpq"])
def test_save_crash_heal_graph_pq(spark, sf_dir, tmp_path, kind):
    """The same torn-swap heal for the other persisted indexes."""
    from educational_vector_database_spark.operators import pq as PQ

    idx = A.GraphIndex() if kind == "graph" else PQ.IVFPQIndex(n_cells=3)
    _check_crash_heal(spark, sf_dir, tmp_path, idx)


def test_vectordb_load_corrupt_ivf_sidecar(spark, tmp_path):
    """A corrupt _ivf_index sidecar falls back to the lazy-rebuild path
    (db._index = None) instead of failing the whole load — api.py docstring
    contract, round-6 ADVICE item."""
    import numpy as np

    from educational_vector_database_spark.api import VectorDB

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(8)], None) for i in range(40)]
    db = VectorDB(spark, dim=8, use_approx=True, n_cells=3)
    db.add_vectors(spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>, text: string"))
    db.search_vector(rows[0][1], k=2).collect()  # force index build
    path = str(tmp_path / "store_corrupt_idx")
    db.save(path)
    sidecar = os.path.join(path, "_ivf_index", A.IVFIndex.SIDECAR)
    with open(sidecar, "w") as f:
        f.write("{not json")
    db2 = VectorDB.load(spark, path)
    assert db2._index is None
    got = db2.search_vector(rows[0][1], k=2).collect()  # lazy rebuild works
    assert got[0].vec_id == 0


def test_graph_beam_search_batch_matches_single(spark, sf_dir, monkeypatch):
    """The fused batch walk is per-query identical to N single-query SQL
    walks (guard pinned off) — same recurrence, same tie-breaks."""
    emb = _emb(spark, sf_dir).limit(300)
    plane_sets = [A.hyperplanes(64, 4, seed=A.LSH_SEED + r) for r in range(2)]
    g = A.knn_graph(emb, plane_sets, m=6).persist()
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = {}
    for r in A.graph_beam_search_batch(
        g, emb, queries, entry_ids=[0, 5], beam=4, hops=2, k=5
    ).collect():
        batch.setdefault(r.query_id, []).append((r.vec_id, r.score))
    monkeypatch.setattr(A, "_walk_fits", lambda *a, **kw: False)
    for qid in (0, 1, 2):
        qv = _qv(spark, sf_dir, qid)
        single = [
            (r.vec_id, r.score)
            for r in A.graph_beam_search(
                g, emb, qv, [0, 5], beam=4, hops=2, k=5
            ).collect()
        ]
        assert sorted(batch[qid], key=lambda t: (-t[1], t[0])) == single, qid
    g.unpersist()


def test_graph_params_degree_law():
    """graph_params_for encodes the measured flat-graph scaling law
    (BASELINE.md round-6): m doubles per 10x corpus, beam = 2m, hops grows
    logarithmically, entry cells ~ n/500."""
    p500 = A.graph_params_for(500)
    p2k = A.graph_params_for(2_000)
    p20k = A.graph_params_for(20_000)
    assert p2k["m"] == 16 and p20k["m"] == 32
    assert p20k["beam"] == 64 and p20k["hops"] >= p2k["hops"]
    assert p20k["n_entry_cells"] == 40
    assert p500["m"] >= 8 and p500["n_entry_cells"] == 4
    p2m = A.graph_params_for(2_000_000)
    assert p2m["m"] == 128  # two more decades -> two more doublings


@pytest.mark.parametrize("refine_rounds", [0, 1])
def test_graph_index_lifecycle(spark, sf_dir, tmp_path, refine_rounds):
    """GraphIndex orchestration: build -> a pure-append ensure rebuilds and
    equals a fresh build, refined or not; save/load roundtrips losslessly;
    query returns best-first results off the loaded table."""
    emb = _emb(spark, sf_dir).limit(200)
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    idx = A.GraphIndex(n_plane_sets=2, m=5,
                       refine_rounds=refine_rounds).build(corpus)
    n0 = idx._indexed_rows
    assert not idx.is_stale(corpus)
    # pure append -> the same graph a fresh build of the grown corpus gives
    idx.ensure(emb)
    assert idx._indexed_rows == emb.count() > n0
    got = {(r.src, r.dst): r.score for r in idx._frame.collect()}
    fresh = A.GraphIndex(n_plane_sets=2, m=5,
                         refine_rounds=refine_rounds).build(emb)
    want = {(r.src, r.dst): r.score for r in fresh._frame.collect()}
    assert got == want
    # hub entries are deterministic and part of the saved/loaded contract
    ent = idx.entries(3)
    assert len(ent) == 3 and ent == idx.entries(3)
    path = str(tmp_path / "gidx")
    idx.save(path)
    idx.invalidate()
    loaded = A.GraphIndex.load(spark, path)
    assert loaded._indexed_rows == emb.count()
    assert {(r.src, r.dst) for r in loaded._frame.collect()} == set(want)
    qv = _qv(spark, sf_dir, 7)
    rows = loaded.query(emb, qv, k=5, assume_fresh=True).collect()
    assert len(rows) == 5
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    fresh.invalidate()
    loaded.invalidate()


def test_graph_index_ensure_rebuilds_on_drift(spark, sf_dir):
    """Non-append drift (an indexed id removed) rebuilds the graph over
    the remaining rows."""
    emb = _emb(spark, sf_dir).limit(150)
    idx = A.GraphIndex(n_plane_sets=2, m=4).build(emb)
    drifted = emb.filter(F.col("vec_id") % 7 != 0)  # deletions
    idx.ensure(drifted)
    assert idx._indexed_rows == drifted.count()
    srcs = {r.src for r in idx._frame.select("src").distinct().collect()}
    assert all(s % 7 != 0 for s in srcs)  # removed ids left the graph
    idx.invalidate()


def test_salted_pack_bounds_hot_bucket(spark):
    """Round-7 self-scaling guard: a deliberately HOT bucket (every row in
    one (r, bkt) group) must be re-chunked into ~row_cap blocks — the fixed
    blocks_per_bucket=2 default would pack n/2 vectors into one aggregated
    collect_list row, the executor-memory scale-killer VERDICT r6 flags."""
    n, cap = 2000, 50
    keyed = spark.range(n).select(
        F.col("id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("v"),
        F.lit(0).alias("r"),
        F.lit(0).alias("bkt"),
    )
    packed = A._salted_pack(keyed, ["r", "bkt"], None, cap).select(
        F.size("rows").alias("sz")
    )
    sizes = [r.sz for r in packed.collect()]
    assert sum(sizes) == n
    assert len(sizes) == n // cap  # ceil(2000/50) = 40 blocks
    # id-hash salting concentrates around the cap (binomial): 2x is far
    # beyond any plausible spread at cap=50, n=2000
    assert max(sizes) <= 2 * cap
    # legacy pinned path unchanged: one block pair of n/2 each
    fixed = A._salted_pack(keyed, ["r", "bkt"], 2, cap).select(
        F.size("rows").alias("sz")
    )
    fixed_sizes = [r.sz for r in fixed.collect()]
    assert len(fixed_sizes) == 2 and sum(fixed_sizes) == n
    assert min(fixed_sizes) > 2 * cap  # i.e. the hazard the derived path fixes


def test_knn_graph_derived_blocking_matches_fixed(spark, sf_dir):
    """The population-derived salting (blocks_per_bucket=None, the new
    default) is blocking-invariant: bit-identical edges to the round-6
    pinned blocks_per_bucket=2."""
    emb = _emb(spark, sf_dir).limit(300)
    plane_sets = [A.hyperplanes(64, 3, seed=s) for s in (42, 43)]
    derived = {
        (r.src, r.dst): r.score
        for r in A.knn_graph(emb, plane_sets, m=4, row_cap=64).collect()
    }
    fixed = {
        (r.src, r.dst): r.score
        for r in A.knn_graph(emb, plane_sets, m=4, blocks_per_bucket=2).collect()
    }
    assert derived == fixed


def test_graph_params_build_keys_scale():
    """graph_params_for now returns build-side sizing: bucket count tracks
    corpus rows (2^planes ~ n/row_cap, clamped) and the default blocking is
    the population-derived salt."""
    small, big = A.graph_params_for(2_000), A.graph_params_for(100_000_000)
    assert small["blocks_per_bucket"] is None and big["blocks_per_bucket"] is None
    assert small["row_cap"] == big["row_cap"] == 4096
    assert small["n_plane_sets"] == big["n_plane_sets"] == 4
    assert small["n_planes"] == 3  # floor of the clamp at tiny corpora
    assert big["n_planes"] == 15  # ceil(log2(1e8/4096))
    assert A.graph_params_for(10**12)["n_planes"] == 16  # hard clamp


def test_graph_index_ensure_update_plus_append_rebuilds(spark, sf_dir):
    """ADVICE r6 (medium): id-membership + counts alone would classify
    'in-place vector update AND append' as a pure append and merge old
    edges scored on STALE vectors; the overlap content fingerprint must
    force the full rebuild."""
    e = _emb(spark, sf_dir)
    base = e.filter("vec_id < 150")
    idx = A.GraphIndex(n_plane_sets=2, m=4).build(base)
    mutated = e.filter("vec_id < 180").withColumn(
        "embedding",
        F.transform("embedding", lambda x: (x * F.lit(-1.0)).cast("float")),
    )
    idx.ensure(mutated)  # 150 overlapping ids, 30 appended, content moved
    assert idx._indexed_rows == mutated.count()
    got = {(r.src, r.dst) for r in idx._frame.collect()}
    fresh = A.GraphIndex(n_plane_sets=2, m=4).build(mutated)
    want = {(r.src, r.dst) for r in fresh._frame.collect()}
    assert got == want  # rebuilt on the mutated vectors, not merged stale
    idx.invalidate()
    fresh.invalidate()


def test_upper_layer_is_deterministic_hash_sample(spark, sf_dir):
    """The coarse layer is a pure scan-side md5 predicate: deterministic
    across calls, a strict subset, ~1/level_mult of the corpus (HNSW's
    geometric level assignment, bit-reproducible on any engine)."""
    e = _emb(spark, sf_dir)
    a = sorted(r.vec_id for r in A.upper_layer(e, 8).select("vec_id").collect())
    b = sorted(r.vec_id for r in A.upper_layer(e, 8).select("vec_id").collect())
    assert a == b and len(a) > 0
    n = e.count()
    assert n / 16 <= len(a) <= n / 4  # ~n/8 with md5-uniform spread
    assert set(a) <= {r.vec_id for r in e.select("vec_id").collect()}


def test_two_level_search_descends_to_exact_neighbor(spark, sf_dir):
    """Coarse-to-fine walk (HNSW's layered descent in batch form): with a
    corpus row as the query, the upper walk + descent + short lower walk
    must reach the row itself (score 1.0 at top-1) even though the LOWER
    walk runs only 3 hops from hub entries of the 1/8-sampled layer —
    navigability from hierarchy, not degree. Also: deterministic."""
    e = _emb(spark, sf_dir)
    ps = [A.hyperplanes(64, n_planes=3, seed=A.LSH_SEED + r) for r in range(4)]
    up = A.upper_layer(e, 8)
    ug = A.knn_graph(up, ps, m=8).persist()
    lg = A.knn_graph(e, ps, m=8).persist()
    hubs = A.graph_hub_entries(ug, 4)
    qv = e.filter("vec_id = 7").select("embedding").collect()[0][0]
    res = A.graph_two_level_search(
        ug, lg, e, qv, hubs,
        beam_up=8, hops_up=3, n_descend=4, beam=16, hops=3, k=10,
    )
    rows = res.collect()
    assert len(rows) == 10
    assert rows[0].vec_id == 7 and abs(rows[0].score - 1.0) < 1e-9
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)
    again = A.graph_two_level_search(
        ug, lg, e, qv, hubs,
        beam_up=8, hops_up=3, n_descend=4, beam=16, hops=3, k=10,
    ).collect()
    assert [(r.vec_id, r.score) for r in rows] == [
        (r.vec_id, r.score) for r in again
    ]
    ug.unpersist()
    lg.unpersist()


def test_two_level_batch_matches_single(spark, sf_dir, monkeypatch):
    """The fused batched two-level descent must reproduce the single-query
    SQL recurrence (guard pinned off) exactly per query (same protocol as
    the knn_join_graph parity test)."""
    e = _emb(spark, sf_dir)
    ps = [A.hyperplanes(64, n_planes=3, seed=A.LSH_SEED + r) for r in range(4)]
    up = A.upper_layer(e, 8)
    ug = A.knn_graph(up, ps, m=8).persist()
    lg = A.knn_graph(e, ps, m=8).persist()
    hubs = A.graph_hub_entries(ug, 4)
    qids = [3, 7, 11]
    queries = e.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = A.graph_two_level_search_batch(
        ug, lg, e, queries, hubs,
        beam_up=8, hops_up=2, n_descend=4, beam=8, hops=2, k=5,
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r.query_id, []).append((r.vec_id, round(r.score, 9)))
    monkeypatch.setattr(A, "_walk_fits", lambda *a, **kw: False)
    for qid in qids:
        qv = e.filter(F.col("vec_id") == qid).head().embedding
        single = A.graph_two_level_search(
            ug, lg, e, qv, hubs,
            beam_up=8, hops_up=2, n_descend=4, beam=8, hops=2, k=5,
        ).collect()
        assert sorted(got[qid]) == sorted(
            (r.vec_id, round(r.score, 9)) for r in single
        ), f"batch/single mismatch for query {qid}"
    ug.unpersist()
    lg.unpersist()


def test_two_level_index_lifecycle(spark, sf_dir, tmp_path):
    """TwoLevelGraphIndex: build both layers; a pure append rebuilds each
    layer whose size drifted, edge-equal to a fresh build; save/load
    roundtrips losslessly."""
    e = _emb(spark, sf_dir)
    base = e.filter("vec_id < 300")
    idx = A.TwoLevelGraphIndex(
        level_mult=4, m_lower=6, m_upper=6, n_plane_sets=2, n_planes=3
    ).build(base)
    assert idx.lower._indexed_rows == 300
    assert idx.upper._indexed_rows == A.upper_layer(base, 4).count()
    # pure append rebuilds both layers, equal to fresh builds
    idx.ensure(e)
    fresh = A.TwoLevelGraphIndex(
        level_mult=4, m_lower=6, m_upper=6, n_plane_sets=2, n_planes=3
    ).build(e)
    for layer in ("lower", "upper"):
        got = {(r.src, r.dst) for r in getattr(idx, layer)._frame.collect()}
        want = {(r.src, r.dst) for r in getattr(fresh, layer)._frame.collect()}
        assert got == want, f"{layer} after append != fresh build"
    # save/load roundtrip: identical walk result
    path = str(tmp_path / "tl_idx")
    idx.save(path)
    qv = e.filter("vec_id = 7").head().embedding
    before = [(r.vec_id, round(r.score, 9)) for r in idx.query(
        e, qv, k=5, n_descend=4, assume_fresh=True).collect()]
    idx.invalidate()
    loaded = A.TwoLevelGraphIndex.load(spark, path)
    after = [(r.vec_id, round(r.score, 9)) for r in loaded.query(
        e, qv, k=5, n_descend=4, assume_fresh=True).collect()]
    assert before == after
    fresh.invalidate()
    loaded.invalidate()


def test_ivf_assign_join_matches_literal_path(spark, sf_dir):
    """The broadcast-join assignment (the 50k-cell path) must be
    bit-identical to the literal scan expression: same argmin, same
    lowest-cid tie rule, same cosine to the owning centroid."""
    e = _emb(spark, sf_dir)
    cents = [r.embedding for r in e.orderBy("vec_id").limit(8).collect()]
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid_id int, centroid array<double>",
    )
    lit = {
        (int(r.vec_id)): int(r.centroid_id)
        for r in A.ivf_assign(e, cents_df).select(
            "vec_id", "centroid_id").collect()
    }
    joined = A.ivf_assign_join(e, cents_df, with_cosine=True)
    got = {int(r.vec_id): (int(r.centroid_id), r.sim_c)
           for r in joined.collect()}
    assert set(got) == set(lit)
    for vid, cid in lit.items():
        assert got[vid][0] == cid, f"assignment mismatch for {vid}"
    # sim_c is cosine to the OWN centroid, bit-exact vs direct computation
    import math

    e_map = {int(r.vec_id): list(r.embedding) for r in e.collect()}
    for vid, (cid, sim) in list(got.items())[:50]:
        v, c = e_map[vid], cents[cid]
        dot = 0.0
        nv = 0.0
        nc = 0.0
        for i in range(len(v)):
            dot += float(v[i]) * c[i]
            nv += float(v[i]) * float(v[i])
            nc += c[i] * c[i]
        want = dot / (math.sqrt(nv) * math.sqrt(nc))
        assert abs(sim - want) < 1e-12


def test_semantic_dedup_join_assignment_identical_labels(spark, sf_dir):
    """semantic_dedup(assigned=ivf_assign_join(..., with_cosine=True))
    must produce bit-identical (cluster_id, keep) verdicts to the literal
    path — the 50k-cell seam is closed only if both paths agree."""
    from educational_vector_database_spark.operators import dedup as D

    e = _emb(spark, sf_dir)
    cents = [r.embedding for r in e.orderBy("vec_id").limit(4).collect()]
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid_id int, centroid array<double>",
    )
    lit = {
        int(r.vec_id): (int(r.centroid_id), int(r.cluster_id), bool(r.keep))
        for r in D.semantic_dedup(e, cents, eps=0.45).collect()
    }
    assigned = A.ivf_assign_join(e, cents_df, with_cosine=True)
    joined = {
        int(r.vec_id): (int(r.centroid_id), int(r.cluster_id), bool(r.keep))
        for r in D.semantic_dedup(
            e, [], eps=0.45, assigned=assigned
        ).collect()
    }
    assert joined == lit


def test_two_level_tiny_corpus_never_returns_empty(spark, sf_dir):
    """ADVICE r7 (medium): a ~12-row corpus makes the ~1/level_mult upper
    sample edge-less (often empty); serving must route to the flat lower
    walk from the LOWER graph's hubs — never silently return zero rows
    for a valid query."""
    e = _emb(spark, sf_dir).filter("vec_id < 12")
    qv = _qv(spark, sf_dir, 3)
    idx = A.TwoLevelGraphIndex(
        level_mult=16, m_lower=4, m_upper=4, n_plane_sets=2, n_planes=2
    )
    rows = idx.query(e, qv, k=5).collect()
    assert len(rows) == 5
    assert rows[0].vec_id == 3 and abs(rows[0].score - 1.0) < 1e-9
    idx.invalidate()


def test_two_level_assume_fresh_unbuilt_upper_recovers(spark, sf_dir):
    """ADVICE r7: query(assume_fresh=True) with a built lower layer but an
    unbuilt upper must reconcile the upper layer instead of raising
    ValueError from entries()."""
    e = _emb(spark, sf_dir).filter("vec_id < 64")
    qv = _qv(spark, sf_dir, 7)
    idx = A.TwoLevelGraphIndex(
        level_mult=4, m_lower=4, m_upper=4, n_plane_sets=2, n_planes=2
    )
    idx.lower.build(e)  # upper deliberately unbuilt
    rows = idx.query(e, qv, k=5, assume_fresh=True).collect()
    assert len(rows) == 5
    assert rows[0].vec_id == 7
    idx.invalidate()


def test_graph_index_single_row_corpus_brute_fallback(spark, sf_dir):
    """An edge-less graph (single-row corpus) serves via exact brute-force
    top-k — the graceful ANN fallback — instead of zero rows."""
    e = _emb(spark, sf_dir).filter("vec_id = 5")
    qv = _qv(spark, sf_dir, 5)
    g = A.GraphIndex(n_plane_sets=2, n_planes=2, m=4)
    rows = g.query(e, qv, k=3).collect()
    assert len(rows) == 1 and rows[0].vec_id == 5
    tl = A.TwoLevelGraphIndex(
        level_mult=16, m_lower=4, m_upper=4, n_plane_sets=2, n_planes=2
    )
    rows = tl.query(e, qv, k=3).collect()
    assert len(rows) == 1 and rows[0].vec_id == 5
    g.invalidate()
    tl.invalidate()


def test_two_level_search_empty_entries_falls_back_to_lower_hubs(
        spark, sf_dir, monkeypatch):
    """The functional forms: empty upper_entry_ids seed the lower walk from
    graph_hub_entries(lower_graph) — the fused single query and the SQL
    batch (guard pinned off) agree."""
    e = _emb(spark, sf_dir).filter("vec_id < 100")
    ps = [A.hyperplanes(64, n_planes=2, seed=A.LSH_SEED + r) for r in range(2)]
    lg = A.knn_graph(e, ps, m=6).persist()
    empty_ug = spark.createDataFrame([], "src bigint, dst bigint, score double")
    qv = _qv(spark, sf_dir, 7)
    single = A.graph_two_level_search(
        empty_ug, lg, e, qv, [], beam=8, hops=3, k=5, n_descend=4
    ).collect()
    assert len(single) == 5
    queries = spark.createDataFrame(
        [(0, qv)], "query_id bigint, query_vec array<double>"
    )
    monkeypatch.setattr(A, "_walk_fits", lambda *a, **kw: False)
    batch = A.graph_two_level_search_batch(
        empty_ug, lg, e, queries, [], beam=8, hops=3, k=5, n_descend=4
    ).collect()
    assert sorted((r.vec_id, round(r.score, 9)) for r in batch) == sorted(
        (r.vec_id, round(r.score, 9)) for r in single
    )
    lg.unpersist()


def test_ivf_assign_join_empty_centroids_raises(spark, sf_dir):
    """ADVICE r7: empty centroid frame must fail loudly (the literal path
    does), not silently emit zero rows."""
    e = _emb(spark, sf_dir)
    empty = spark.createDataFrame([], "centroid_id int, centroid array<double>")
    with pytest.raises(ValueError, match="empty centroid frame"):
        A.ivf_assign_join(e, empty)


def test_semantic_dedup_assigned_duplicate_ids_raise(spark, sf_dir):
    """ADVICE r7: ivf_assign_join collapses duplicate ids; semantic_dedup's
    count-preservation guard must catch the silent row loss."""
    from educational_vector_database_spark.operators import dedup as D

    e = _emb(spark, sf_dir).filter("vec_id < 20")
    dup = e.unionByName(e.limit(3))  # 3 duplicate ids
    cents = [r.embedding for r in e.orderBy("vec_id").limit(2).collect()]
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid_id int, centroid array<double>",
    )
    assigned = A.ivf_assign_join(dup, cents_df, with_cosine=True)
    with pytest.raises(ValueError, match="duplicate ids"):
        D.semantic_dedup(dup, [], assigned=assigned)


def test_estimate_corpus_rows_footer_calibrated(spark, sf_dir, tmp_path):
    """VERDICT r7 #4: bytes/row calibrates from parquet footers (exact
    num_rows, no data pages, no Spark job) — within 1.2x of truth at BOTH
    dim=64 (the sf fixtures) and dim=384 (the reference's MiniLM width,
    where the old 6-bytes/element constant ran 33% hot)."""
    e = _emb(spark, sf_dir)
    true_n = e.count()
    est = A.estimate_corpus_rows(e, dim=64)
    assert est is not None and true_n / 1.2 <= est <= true_n * 1.2
    # dim=384 fixture: 200 rows of wide float arrays
    import numpy as np

    rng = np.random.RandomState(7)
    wide = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(384)]) for i in range(200)],
        "vec_id bigint, embedding array<double>",
    )
    p384 = str(tmp_path / "dim384.parquet")
    wide.write.parquet(p384)
    back = spark.read.parquet(p384)
    est384 = A.estimate_corpus_rows(back, dim=384)
    assert est384 is not None and 200 / 1.2 <= est384 <= 200 * 1.2


def test_estimate_corpus_rows_uri_escaped_paths(spark, sf_dir, tmp_path):
    """ADVICE r7: inputFiles() returns percent-escaped file: URIs; a path
    with a space must still be sized (urlparse+unquote), not silently
    skipped into an underestimate."""
    src = _emb(spark, sf_dir).limit(50)
    p = str(tmp_path / "with space" / "emb.parquet")
    src.write.parquet(p)
    back = spark.read.parquet(p)
    est = A.estimate_corpus_rows(back, dim=64)
    assert est is not None and 50 / 1.2 <= est <= 50 * 1.2


def test_ivf_assign_gemm_matches_join_path(spark, sf_dir):
    """The blocked-GEMM assignment (paper-scale throughput path) must agree
    with the bit-exact broadcast-join path on the continuous fixture:
    same argmin cell per row (ties to lowest cid both sides), cosine to
    the own centroid equal to 1e-9 (float op ORDER differs — documented)."""
    e = _emb(spark, sf_dir)
    cents = [r.embedding for r in e.orderBy("vec_id").limit(8).collect()]
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid_id int, centroid array<double>",
    )
    jn = {int(r.vec_id): (int(r.centroid_id), float(r.sim_c))
          for r in A.ivf_assign_join(e, cents_df, with_cosine=True).collect()}
    gm = {int(r.vec_id): (int(r.centroid_id), float(r.sim_c))
          for r in A.ivf_assign_gemm(e, cents_df, with_cosine=True).collect()}
    assert set(jn) == set(gm)
    for vid, (cid, sim) in jn.items():
        g_cid, g_sim = gm[vid]
        assert g_cid == cid, f"cell mismatch for {vid}: {g_cid} != {cid}"
        assert abs(g_sim - sim) < 1e-9
    with pytest.raises(ValueError, match="empty centroid frame"):
        A.ivf_assign_gemm(
            e,
            spark.createDataFrame([], "centroid_id int, centroid array<double>"),
        )


def test_semantic_dedup_gemm_assignment_identical_labels(spark, sf_dir):
    """semantic_dedup over the GEMM assignment must produce the same
    (cluster_id, keep) verdicts as the literal path on the fixture."""
    from educational_vector_database_spark.operators import dedup as D

    e = _emb(spark, sf_dir)
    cents = [r.embedding for r in e.orderBy("vec_id").limit(4).collect()]
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid_id int, centroid array<double>",
    )
    lit = {
        int(r.vec_id): (int(r.centroid_id), int(r.cluster_id), bool(r.keep))
        for r in D.semantic_dedup(e, cents, eps=0.45).collect()
    }
    gm = {
        int(r.vec_id): (int(r.centroid_id), int(r.cluster_id), bool(r.keep))
        for r in D.semantic_dedup(
            e, [], eps=0.45,
            assigned=A.ivf_assign_gemm(e, cents_df, with_cosine=True),
        ).collect()
    }
    assert gm == lit


def test_estimate_corpus_rows_zero_byte_source_returns_none(spark, tmp_path):
    """ADVICE r8: an all-zero-byte source is UNKNOWN (None -> caller falls
    back to count()), not a 1-row corpus — max(1, ...) must not swallow
    the degenerate case."""
    d = tmp_path / "zb"
    d.mkdir()
    (d / "part-00000.parquet").touch()  # zero bytes
    # Can't spark.read an invalid parquet; exercise the estimator via a df
    # whose inputFiles we fake through a real-but-empty parquet dir written
    # by Spark (its files are NON-zero), so instead call the size logic by
    # monkeypatching inputFiles on a real frame.
    real = spark.range(1).selectExpr("id as vec_id", "array(1.0d) as embedding")
    p = str(tmp_path / "real.parquet")
    real.write.parquet(p)
    back = spark.read.parquet(p)
    zero_files = ["file://" + str(d / "part-00000.parquet")]
    back.inputFiles = lambda: zero_files  # type: ignore[method-assign]
    assert A.estimate_corpus_rows(back, dim=64) is None


def test_ivf_assign_gemm_preserves_id_type(spark, sf_dir):
    """ADVICE r8: the GEMM path must derive the output id type from the
    source schema — an int (or string) id corpus must round-trip with its
    type intact and the same labels as the join path, not coerce to long."""
    e = _emb(spark, sf_dir).limit(64)
    cents = [r.embedding for r in e.orderBy("vec_id").limit(4).collect()]
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "centroid_id int, centroid array<double>",
    )
    for cast_t in ("int", "string"):
        src = e.withColumn("vec_id", F.col("vec_id").cast(cast_t))
        out = A.ivf_assign_gemm(src, cents_df)
        assert out.schema["vec_id"].dataType.simpleString() == cast_t
        got = {r.vec_id: int(r.centroid_id) for r in out.collect()}
        ref = {r.vec_id: int(r.centroid_id)
               for r in A.ivf_assign_join(src, cents_df).collect()}
        assert got == ref


def test_two_level_search_edgeless_lower_graph_brute_fallback(spark):
    """ADVICE r8: when BOTH layers are edge-less (hub list empty twice),
    the standalone functions must brute-force, matching the never-zero-rows
    contract the class wrappers already honour — single AND batch forms."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
        "vec_id bigint, embedding array<double>",
    )
    empty_g = spark.createDataFrame([], "src bigint, dst bigint")
    res = A.graph_two_level_search(
        empty_g, empty_g, df, [1.0, 0.1], upper_entry_ids=[], k=2
    ).collect()
    assert [int(r.vec_id) for r in res] == [1, 3]
    qs = spark.createDataFrame(
        [(10, [1.0, 0.1]), (11, [0.0, 1.0])],
        "query_id bigint, query_vec array<double>",
    )
    batch = A.graph_two_level_search_batch(
        empty_g, empty_g, df, qs, upper_entry_ids=[], k=2
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(int(r.query_id), []).append(int(r.vec_id))
    assert got[10] == [1, 3] and got[11] == [2, 3]


def test_knn_graph_refine_matches_numpy_reference(spark, sf_dir):
    """One NN-descent round must equal the literal spec: symmetric
    top-expand neighborhoods ∪ self, all in-neighborhood pairs rescored,
    merged with the old edges, per-node top-m (score DESC, dst ASC) —
    checked edge-for-edge against a driver-side numpy replica."""
    import numpy as np

    e = _emb(spark, sf_dir).limit(60)
    rows = e.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    U = X / np.sqrt((X * X).sum(axis=1))[:, None]
    S = U @ U.T

    planes = [A.hyperplanes(len(X[0]), 3, seed=A.LSH_SEED + r) for r in range(2)]
    m, expand = 4, 3
    g = A.knn_graph(e, planes, m=m).persist()
    base = {(int(r.src), int(r.dst)): float(r.score) for r in g.collect()}

    # numpy replica
    def topk(items, k):  # items: list of (score, dst)
        return sorted(items, key=lambda t: (-t[0], t[1]))[:k]

    fwd, rev = {}, {}
    for (s, d), sc in base.items():
        fwd.setdefault(s, []).append((sc, d))
        rev.setdefault(d, []).append((sc, s))
    memb = {int(i): {int(i)} for i in ids}
    for b in memb:
        for sc, d in topk(fwd.get(b, []), expand):
            memb[b].add(d)
        for sc, s in topk(rev.get(b, []), expand):
            memb[b].add(s)
    idx = {int(v): i for i, v in enumerate(ids)}
    cand = {}
    for b, xs in memb.items():
        xs = sorted(xs)
        for a in xs:
            for c in xs:
                if a != c:
                    cand[(a, c)] = S[idx[a], idx[c]]
    for k_, v_ in base.items():
        cand[k_] = max(cand.get(k_, -np.inf), v_)
    want = {}
    per_src = {}
    for (s, d), sc in cand.items():
        per_src.setdefault(s, []).append((sc, d))
    for s, items in per_src.items():
        for sc, d in topk(items, m):
            want[(s, d)] = sc

    got = {(int(r.src), int(r.dst)): float(r.score)
           for r in A.knn_graph_refine(g, e, m=m, expand=expand).collect()}
    assert set(got) == set(want)
    for k_ in want:
        assert abs(got[k_] - want[k_]) < 1e-9, k_
    g.unpersist()


def test_knn_graph_refine_monotone_recall(spark, sf_dir):
    """Refinement must not lose graph quality: edge recall vs the true
    top-m neighbor set is >= the base graph's, and a second round >= the
    first (monotone under the shared total order)."""
    import numpy as np

    e = _emb(spark, sf_dir).limit(200)
    rows = e.orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    U = X / np.sqrt((X * X).sum(axis=1))[:, None]
    S = U @ U.T
    np.fill_diagonal(S, -np.inf)
    m = 6
    true_edges = set()
    for i, vid in enumerate(ids):
        order = np.argsort(-S[i], kind="stable")[:m]
        for j in order:
            true_edges.add((int(vid), int(ids[j])))

    planes = [A.hyperplanes(len(X[0]), 4, seed=A.LSH_SEED + r) for r in range(2)]
    g0 = A.knn_graph(e, planes, m=m).persist()
    g1 = A.knn_graph_refine(g0, e, m=m, expand=4).persist()
    g2 = A.knn_graph_refine(g1, e, m=m, expand=4)

    def edge_recall(g):
        got = {(int(r.src), int(r.dst)) for r in g.collect()}
        return len(got & true_edges) / len(true_edges)

    r0, r1, r2 = edge_recall(g0), edge_recall(g1), edge_recall(g2)
    assert r1 >= r0
    assert r2 >= r1
    assert r2 > r0  # two rounds must actually move it on this fixture
    g0.unpersist(); g1.unpersist()


def test_symmetrize_edges_matches_numpy_reference(spark, sf_dir):
    """symmetrize_edges must equal the literal spec: per-dst top-m_rev
    in-edges (score DESC, src ASC) reversed, unioned with the original
    edges, deduped under max(score) — checked edge-for-edge against a
    driver-side replica."""
    e = _emb(spark, sf_dir).limit(80)
    planes = [A.hyperplanes(len(e.head().embedding), 3, seed=A.LSH_SEED + r)
              for r in range(2)]
    m, m_rev = 5, 3
    g = A.knn_graph(e, planes, m=m).persist()
    base = {(int(r.src), int(r.dst)): float(r.score) for r in g.collect()}

    by_dst: dict = {}
    for (s, d), sc in base.items():
        by_dst.setdefault(d, []).append((sc, s))
    want = dict(base)
    for d, items in by_dst.items():
        for sc, s in sorted(items, key=lambda t: (-t[0], t[1]))[:m_rev]:
            key = (d, s)
            want[key] = max(want.get(key, -float("inf")), sc)

    got = {(int(r.src), int(r.dst)): float(r.score)
           for r in A.symmetrize_edges(g, m_rev=m_rev).collect()}
    assert set(got) == set(want)
    for k_ in want:
        assert abs(got[k_] - want[k_]) < 1e-9, k_
    g.unpersist()


def test_symmetrize_edges_bounds_degree_and_recall(spark, sf_dir):
    """The reversal is degree-capped (out-degree <= m + m_rev even at
    hub nodes), and walking the symmetrized graph never loses recall vs
    the directed graph at the same walk budget (bidirectional links only
    ADD reachability; HNSW's construction invariant)."""
    import numpy as np

    e = _emb(spark, sf_dir).limit(300).persist()
    rows = e.orderBy("vec_id").collect()
    ids = [int(r.vec_id) for r in rows]
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    U = X / np.sqrt((X * X).sum(axis=1))[:, None]

    planes = [A.hyperplanes(X.shape[1], 4, seed=A.LSH_SEED + r) for r in range(2)]
    m, m_rev, k = 6, 6, 5
    g = A.knn_graph(e, planes, m=m).persist()
    gs = A.symmetrize_edges(g, m_rev=m_rev).persist()

    deg = gs.groupBy("src").count().agg(F.max("count")).first()[0]
    assert deg <= m + m_rev

    q = e.limit(16).select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("query_vec"))
    S = U @ U.T
    truth = {}
    for r in q.collect():
        i = ids.index(int(r.query_id))
        order = np.argsort(-S[i], kind="stable")[:k]
        truth[int(r.query_id)] = {ids[j] for j in order}
    entries = A.graph_hub_entries(g, 4)

    def recall(graph):
        got: dict = {}
        res = A.graph_beam_search_batch(graph, e, q, entries,
                                        beam=12, hops=4, k=k)
        for r in res.collect():
            got.setdefault(int(r.query_id), set()).add(int(r.vec_id))
        hits = sum(len(got.get(qid, set()) & want)
                   for qid, want in truth.items())
        return hits / sum(len(want) for want in truth.values())

    assert recall(gs) >= recall(g)
    g.unpersist(); gs.unpersist(); e.unpersist()


def test_graph_index_refine_rounds_build_and_sidecar(spark, sf_dir, tmp_path):
    """GraphIndex(refine_rounds=1) must build refine(knn_graph(df)) exactly
    (the composable operators are the contract), and the sidecar must
    round-trip the refine params."""
    e = _emb(spark, sf_dir).limit(80)
    idx = A.GraphIndex(m=6, n_planes=3, refine_rounds=1, refine_expand=3)
    idx.build(e)
    got = {(int(r.src), int(r.dst)) for r in idx._frame.collect()}
    base = A.knn_graph(e, idx._plane_sets(idx._infer_dim(e)), m=6)
    want = {(int(r.src), int(r.dst))
            for r in A.knn_graph_refine(base, e, m=6, expand=3).collect()}
    assert got == want
    p = str(tmp_path / "gidx")
    idx.save(p)
    back = A.GraphIndex.load(spark, p)
    assert back.refine_rounds == 1 and back.refine_expand == 3
    assert back._frame.count() == len(want)

def test_two_level_index_refine_rounds_build_and_sidecar(
    spark, sf_dir, tmp_path
):
    """TwoLevelGraphIndex(refine_rounds=1) must apply NN-descent refinement
    to BOTH layers' builds (each layer is a GraphIndex; refine is a build
    option of the layer, VERDICT r10 #5) and round-trip the knobs through
    save/load."""
    e = _emb(spark, sf_dir).limit(200)
    idx = A.TwoLevelGraphIndex(
        m_lower=6, m_upper=4, n_planes=3, level_mult=4,
        refine_rounds=1, refine_expand=3,
    )
    idx.build(e)
    got_lo = {(int(r.src), int(r.dst)) for r in idx.lower._frame.collect()}
    base_lo = A.knn_graph(
        e, idx.lower._plane_sets(idx.lower._infer_dim(e)), m=6
    )
    want_lo = {(int(r.src), int(r.dst))
               for r in A.knn_graph_refine(base_lo, e, m=6, expand=3)
               .collect()}
    assert got_lo == want_lo and len(want_lo) > 0
    up = idx._upper_df(e)
    got_up = {(int(r.src), int(r.dst)) for r in idx.upper._frame.collect()}
    base_up = A.knn_graph(
        up, idx.upper._plane_sets(idx.upper._infer_dim(up)), m=4
    )
    want_up = {(int(r.src), int(r.dst))
               for r in A.knn_graph_refine(base_up, up, m=4, expand=3)
               .collect()}
    assert got_up == want_up
    p = str(tmp_path / "tlidx")
    idx.save(p)
    back = A.TwoLevelGraphIndex.load(spark, p)
    assert back.lower.refine_rounds == 1 and back.lower.refine_expand == 3
    assert back.upper.refine_rounds == 1
    qv = e.head().embedding
    ra = [(int(r.vec_id), round(float(r.score), 9))
          for r in idx.query(e, qv, k=5, assume_fresh=True).collect()]
    rb = [(int(r.vec_id), round(float(r.score), 9))
          for r in back.query(e, qv, k=5, assume_fresh=True).collect()]
    assert ra == rb


def test_graph_index_sym_m_rev_build_and_sidecar(spark, sf_dir, tmp_path):
    """GraphIndex(sym_m_rev=K) must build symmetrize_edges(knn_graph(df))
    exactly (the composable operators are the contract), the sidecar must
    round-trip the knob, and ensure() on a pure append must rebuild the
    symmetrized graph of the grown corpus."""
    e = _emb(spark, sf_dir).limit(80)
    idx = A.GraphIndex(m=6, n_planes=3, sym_m_rev=4)
    idx.build(e)
    got = {(int(r.src), int(r.dst)) for r in idx._frame.collect()}
    base = A.knn_graph(e, idx._plane_sets(idx._infer_dim(e)), m=6)
    want = {(int(r.src), int(r.dst))
            for r in A.symmetrize_edges(base, m_rev=4).collect()}
    assert got == want
    # every edge walkable both ways up to the cap: reversal of a kept
    # in-edge must be present
    p = str(tmp_path / "gidx_sym")
    idx.save(p)
    back = A.GraphIndex.load(spark, p)
    assert back.sym_m_rev == 4
    assert back._frame.count() == len(want)
    # pure append: the rebuilt edge set equals symmetrize(knn_graph(full))
    full = _emb(spark, sf_dir).limit(100)
    idx.ensure(full)
    got2 = {(int(r.src), int(r.dst)) for r in idx._frame.collect()}
    base2 = A.knn_graph(full, idx._plane_sets(idx._infer_dim(full)), m=6)
    want2 = {(int(r.src), int(r.dst))
             for r in A.symmetrize_edges(base2, m_rev=4).collect()}
    assert got2 == want2


def test_two_level_index_sym_m_rev_passthrough(spark, sf_dir, tmp_path):
    """TwoLevelGraphIndex(sym_m_rev=K) symmetrizes BOTH layers and the
    meta sidecar round-trips the knob through save/load."""
    e = _emb(spark, sf_dir).limit(120)
    idx = A.TwoLevelGraphIndex(
        level_mult=4, m_lower=6, m_upper=6, n_planes=3, sym_m_rev=4
    )
    idx.build(e)
    assert idx.lower.sym_m_rev == 4 and idx.upper.sym_m_rev == 4
    lo = {(int(r.src), int(r.dst)) for r in idx.lower._frame.collect()}
    base = A.knn_graph(e, idx.lower._plane_sets(idx.lower._infer_dim(e)), m=6)
    want = {(int(r.src), int(r.dst))
            for r in A.symmetrize_edges(base, m_rev=4).collect()}
    assert lo == want
    p = str(tmp_path / "tl_sym")
    idx.save(p)
    back = A.TwoLevelGraphIndex.load(spark, p)
    assert back.lower.sym_m_rev == 4 and back.upper.sym_m_rev == 4
    r = back.query(e, e.head().embedding, k=5, assume_fresh=True)
    assert r.count() == 5

def test_knn_graph_cells_tier_parity_and_contract(spark, sf_dir):
    """knn_graph_cells expr and gemm assignment tiers must be
    edge-IDENTICAL on continuous fixtures (the ivf_assign tier contract:
    same argsort, ties to lowest cid), out-degree <= m, no self-loops,
    and every edge must share >= 1 of the endpoints' top-A cells."""
    from pyspark.sql import functions as F
    e = _emb(spark, sf_dir).limit(150)
    cent_rows = e.filter(F.col("vec_id") < 6).orderBy("vec_id").collect()
    cents = e.sparkSession.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding])
         for r in cent_rows],
        "centroid_id int, centroid array<double>",
    )
    g_expr = A.knn_graph_cells(e, cents, m=5, assigns=2, assign_tier="expr")
    g_gemm = A.knn_graph_cells(e, cents, m=5, assigns=2, assign_tier="gemm")
    s1 = {(int(r.src), int(r.dst), round(float(r.score), 9))
          for r in g_expr.collect()}
    s2 = {(int(r.src), int(r.dst), round(float(r.score), 9))
          for r in g_gemm.collect()}
    assert s1 == s2 and len(s1) > 0
    import collections
    deg = collections.Counter(s for s, _, _ in s1)
    assert max(deg.values()) <= 5
    assert all(s != d for s, d, _ in s1)


def test_waved_build_matches_oneshot_knn_graph(spark, sf_dir, tmp_path):
    """The bounded-spill waved build (VERDICT r9 #4) is a pure cost-shape
    change: hash-partitioning the bucket groups into waves and merging
    per-wave top-m deltas must reproduce the one-shot edges BIT-exactly
    (per-wave top-m is a lossless contraction; scores share the kernel)."""
    e = _emb(spark, sf_dir).limit(200)
    planes = [A.hyperplanes(64, 3, seed=A.LSH_SEED + r) for r in range(3)]
    one = {(int(r.src), int(r.dst), float(r.score))
           for r in A.knn_graph(e, planes, m=4).collect()}
    waved = {(int(r.src), int(r.dst), float(r.score))
             for r in A.knn_graph(
                 e, planes, m=4, n_waves=3,
                 work_dir=str(tmp_path / "kg_waves")).collect()}
    assert waved == one and len(one) > 0
    # the keyed spill is reclaimed after the waves; edge deltas remain
    assert not (tmp_path / "kg_waves" / "keyed").exists()
    assert (tmp_path / "kg_waves" / "edges" / "wave=0").exists()


def test_waved_build_matches_oneshot_knn_graph_cells(spark, sf_dir, tmp_path):
    e = _emb(spark, sf_dir).limit(200)
    cents = A.train_ivf_centroids(e, n_cells=6)
    one = {(int(r.src), int(r.dst), float(r.score))
           for r in A.knn_graph_cells(e, cents, m=4, assigns=2).collect()}
    waved = {(int(r.src), int(r.dst), float(r.score))
             for r in A.knn_graph_cells(
                 e, cents, m=4, assigns=2, n_waves=4,
                 work_dir=str(tmp_path / "kgc_waves")).collect()}
    assert waved == one and len(one) > 0


def test_waved_build_bucketed_merge_matches_oneshot(spark, sf_dir, tmp_path):
    """merge_buckets partitions the FINAL top-m merge into P pruned jobs
    (the 10M rung's disk high-water was the monolithic merge, not the
    waves) — a pure cost-shape change: every src's rows land in exactly
    one bucket, so the bucketed merge reproduces the one-shot edges
    bit-exactly, including across a resume."""
    e = _emb(spark, sf_dir).limit(200)
    planes = [A.hyperplanes(64, 3, seed=A.LSH_SEED + r) for r in range(3)]
    one = {(int(r.src), int(r.dst), float(r.score))
           for r in A.knn_graph(e, planes, m=4).collect()}
    wd = tmp_path / "kg_mb"
    bucketed = {(int(r.src), int(r.dst), float(r.score))
                for r in A.knn_graph(
                    e, planes, m=4, n_waves=3, work_dir=str(wd),
                    merge_buckets=4).collect()}
    assert bucketed == one and len(one) > 0
    assert (wd / "final" / "sbkt=0" / "_SUCCESS").exists()
    # resume reuses the checkpointed merge buckets
    again = {(int(r.src), int(r.dst), float(r.score))
             for r in A.knn_graph(
                 e, planes, m=4, n_waves=3, work_dir=str(wd),
                 merge_buckets=4).collect()}
    assert again == one
    # changing merge_buckets is a param change: fingerprint invalidates
    mb2 = {(int(r.src), int(r.dst), float(r.score))
           for r in A.knn_graph(
               e, planes, m=4, n_waves=3, work_dir=str(wd),
               merge_buckets=2).collect()}
    assert mb2 == one


def test_waved_build_stale_resume_guard(spark, sf_dir, tmp_path):
    """A rebuild into the SAME work_dir with different data or params must
    NOT resume off the previous build's wave deltas (ADVICE r10 high): the
    fingerprint marker invalidates them and the result matches a fresh
    build of the new inputs exactly."""
    planes = [A.hyperplanes(64, 3, seed=A.LSH_SEED + r) for r in range(3)]
    wd = str(tmp_path / "kg_waves")
    e_old = _emb(spark, sf_dir).limit(120)
    stale = {(int(r.src), int(r.dst), float(r.score))
             for r in A.knn_graph(
                 e_old, planes, m=4, n_waves=3, work_dir=wd).collect()}
    # corpus drifts (different rows), same work_dir: deltas must be wiped
    e_new = _emb(spark, sf_dir).filter(F.col("vec_id") >= 50).limit(120)
    fresh = {(int(r.src), int(r.dst), float(r.score))
             for r in A.knn_graph(e_new, planes, m=4).collect()}
    reused = {(int(r.src), int(r.dst), float(r.score))
              for r in A.knn_graph(
                  e_new, planes, m=4, n_waves=3, work_dir=wd).collect()}
    assert reused == fresh and reused != stale
    # param drift (m changes the per-wave contraction) invalidates too
    fresh_m6 = {(int(r.src), int(r.dst), float(r.score))
                for r in A.knn_graph(e_new, planes, m=6).collect()}
    reused_m6 = {(int(r.src), int(r.dst), float(r.score))
                 for r in A.knn_graph(
                     e_new, planes, m=6, n_waves=3, work_dir=wd).collect()}
    assert reused_m6 == fresh_m6
    # unchanged data+params DO resume: deltas survive and results repeat
    again = {(int(r.src), int(r.dst), float(r.score))
             for r in A.knn_graph(
                 e_new, planes, m=6, n_waves=3, work_dir=wd).collect()}
    assert again == fresh_m6


def test_waved_build_requires_work_dir(spark, sf_dir):
    e = _emb(spark, sf_dir).limit(20)
    planes = [A.hyperplanes(64, 3)]
    with pytest.raises(ValueError, match="work_dir"):
        A.knn_graph(e, planes, m=4, n_waves=2)


def test_graph_index_waved_build_serves_identically(spark, sf_dir, tmp_path):
    """GraphIndex(build_waves=...) must produce the same persisted edge set
    and serve the same walk results as the default one-shot build."""
    e = _emb(spark, sf_dir).limit(200)
    a = A.GraphIndex(m=4).build(e)
    b = A.GraphIndex(
        m=4, build_waves=3, build_dir=str(tmp_path / "gi_waves")
    ).build(e)
    sa = {(int(r.src), int(r.dst), float(r.score))
          for r in a._frame.collect()}
    sb = {(int(r.src), int(r.dst), float(r.score))
          for r in b._frame.collect()}
    assert sa == sb and len(sa) > 0
    qv = e.head().embedding
    ra = [(int(r.vec_id), float(r.score))
          for r in a.query(e, qv, k=5, assume_fresh=True).collect()]
    rb = [(int(r.vec_id), float(r.score))
          for r in b.query(e, qv, k=5, assume_fresh=True).collect()]
    assert ra == rb


def test_score_tier_gemm_matches_exact_edges(spark, sf_dir):
    """The BLAS score tier (scale rehearsals) must produce the same edge
    SET as the oracle-exact fold on continuous fixtures (ties between
    distinct vectors don't occur there), with scores equal to ~1e-12 —
    the ivf_assign_gemm two-tier contract applied to graph scoring."""
    e = _emb(spark, sf_dir).limit(200)
    planes = [A.hyperplanes(64, 3, seed=A.LSH_SEED + r) for r in range(2)]
    exact = {(int(r.src), int(r.dst)): float(r.score)
             for r in A.knn_graph(e, planes, m=4).collect()}
    gemm = {(int(r.src), int(r.dst)): float(r.score)
            for r in A.knn_graph(e, planes, m=4,
                                 score_tier="gemm").collect()}
    assert set(exact) == set(gemm) and len(exact) > 0
    assert all(abs(exact[k] - gemm[k]) < 1e-9 for k in exact)
    # euclidean leg of the gemm scorer
    ex_e = {(int(r.src), int(r.dst)) for r in A.knn_graph(
        e, planes, m=4, metric="euclidean").collect()}
    gm_e = {(int(r.src), int(r.dst)) for r in A.knn_graph(
        e, planes, m=4, metric="euclidean", score_tier="gemm").collect()}
    assert ex_e == gm_e
