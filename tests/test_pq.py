"""Product-quantization operator tests (operators/pq.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from educational_vector_database_spark.operators import pq as PQ
from educational_vector_database_spark.session import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _rows(spark, sf_dir, n=None):
    df = _emb(spark, sf_dir).orderBy("vec_id")
    if n:
        df = df.limit(n)
    rows = df.collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([[float(x) for x in r.embedding] for r in rows])
    return ids, mat


def test_pq_encode_matches_numpy(spark, sf_dir):
    """Packed codes equal a numpy argmin replica (euclid, ties lowest c)."""
    ids, mat = _rows(spark, sf_dir, 150)
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    got = {
        r.vec_id: r.code
        for r in _emb(spark, sf_dir).orderBy("vec_id").limit(150).select(
            "vec_id", PQ.pq_encode_expr("embedding", cbs).alias("code")
        ).collect()
    }
    for i, vid in enumerate(ids):
        packed = 0
        for j in range(PQ.N_SUB):
            sub = mat[i, j * 8 : (j + 1) * 8]
            d = [np.sqrt(((sub - np.array(c)) ** 2).sum()) for c in cbs[j]]
            packed |= int(np.argmin(d)) << (4 * j)
        assert got[int(vid)] == packed, vid


def test_pq_adc_matches_table_lookup(spark, sf_dir):
    """The ADC column equals the driver-side table lookup exactly."""
    ids, mat = _rows(spark, sf_dir, 100)
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    qv = mat[7].tolist()
    dt = PQ.adc_table(qv, cbs)
    codes = _emb(spark, sf_dir).orderBy("vec_id").limit(100).select(
        "vec_id", PQ.pq_encode_expr("embedding", cbs).alias("pq_code")
    )
    got = {
        r.vec_id: r.d
        for r in codes.select(
            "vec_id", PQ.pq_adc_dist_expr("pq_code", dt).alias("d")
        ).collect()
    }
    code_map = {r.vec_id: r.pq_code for r in codes.collect()}
    for vid in ids[:100]:
        c = code_map[int(vid)]
        want = 0.0
        for j in range(PQ.N_SUB):
            want = want + dt[j][(c >> (4 * j)) % 16]
        assert got[int(vid)] == want, vid


def test_pq_rerank_recall_dominates_adc(spark, sf_dir):
    """Shortlist+exact-rerank recall >= raw ADC recall, and rerank's
    results are exactly the true top-k restricted to the shortlist."""
    from educational_vector_database_spark.operators import knn as K

    ids, mat = _rows(spark, sf_dir)
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    qv = mat[7].tolist()
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    exact = {r.vec_id for r in K.knn(e, qv, k=10).collect()}
    adc = {r.vec_id for r in PQ.knn_pq(e, qv, cbs, k=10).collect()}
    rr = {r.vec_id for r in PQ.knn_pq_rerank(e, qv, cbs, k=10, shortlist=50).collect()}
    assert len(rr & exact) >= len(adc & exact)


def test_train_pq_codebooks_shape(spark, sf_dir):
    cbs = PQ.train_pq_codebooks(_emb(spark, sf_dir).limit(200))
    assert len(cbs) == PQ.N_SUB
    assert all(len(cb) == PQ.K_CODES for cb in cbs)
    assert all(len(c) == 8 for cb in cbs for c in cb)


def test_pq_codebooks_validation():
    with pytest.raises(ValueError, match="divisible"):
        PQ.pq_codebooks_from_rows([[0.0] * 63] * 16)
    with pytest.raises(ValueError, match="rows"):
        PQ.pq_codebooks_from_rows([[0.0] * 64] * 4)


def test_pq_variable_width_packing(spark, sf_dir):
    """k_codes > 16 packs at the wider derived bit width (the 4-bit
    hardcode was a silent-corruption bug); codes roundtrip vs numpy."""
    ids, mat = _rows(spark, sf_dir, 80)
    cbs = PQ.pq_codebooks_from_rows(mat[:32].tolist(), k_codes=32)
    assert PQ.code_bits(cbs) == 5
    got = {
        r.vec_id: r.code
        for r in _emb(spark, sf_dir).orderBy("vec_id").limit(80).select(
            "vec_id", PQ.pq_encode_expr("embedding", cbs).alias("code")
        ).collect()
    }
    for i, vid in enumerate(ids):
        packed = 0
        for j in range(PQ.N_SUB):
            sub = mat[i, j * 8 : (j + 1) * 8]
            d = [np.sqrt(((sub - np.array(c)) ** 2).sum()) for c in cbs[j]]
            packed |= int(np.argmin(d)) << (5 * j)
        assert got[int(vid)] == packed, vid
    # ADC unpack at the same width
    qv = mat[3].tolist()
    dt = PQ.adc_table(qv, cbs)
    d0 = _emb(spark, sf_dir).orderBy("vec_id").limit(80).select(
        "vec_id",
        PQ.pq_adc_dist_expr(PQ.pq_encode_expr("embedding", cbs), dt).alias("d"),
    ).head()
    c = got[int(d0.vec_id)]
    want = 0.0
    for j in range(PQ.N_SUB):
        want = want + dt[j][(c >> (5 * j)) % 32]
    assert d0.d == want


def test_pq_overflow_guard():
    with pytest.raises(ValueError, match="BIGINT"):
        PQ.code_bits([[[0.0] * 4] * 256] * 16)  # 16 subspaces x 8 bits = 128


def _numpy_cells(mat, cents):
    """argmin euclid ties->lowest cid, the ivf_assign discipline."""
    d = np.sqrt(((mat[:, None, :] - np.array(cents)[None, :, :]) ** 2).sum(-1))
    return d.argmin(1)


def test_ivfpq_residual_encode_matches_numpy(spark, sf_dir):
    """ivfpq_encode's packed codes equal a numpy replica: assign cell,
    subtract the centroid, per-subspace argmin against the codebooks."""
    ids, mat = _rows(spark, sf_dir, 200)
    cents = mat[:4].tolist()
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    got = {
        r.vec_id: (r.centroid_id, r.pq_code)
        for r in PQ.ivfpq_encode(
            _emb(spark, sf_dir).orderBy("vec_id").limit(200), cents, cbs
        ).collect()
    }
    cells = _numpy_cells(mat, cents)
    for i, vid in enumerate(ids):
        res = mat[i] - np.array(cents[cells[i]])
        packed = 0
        for j in range(PQ.N_SUB):
            sub = res[j * 8 : (j + 1) * 8]
            d = [np.sqrt(((sub - np.array(c)) ** 2).sum()) for c in cbs[j]]
            packed |= int(np.argmin(d)) << (4 * j)
        assert got[int(vid)] == (cells[i], packed), vid


def test_knn_ivfpq_matches_numpy_replica(spark, sf_dir):
    """End-to-end IVF-PQ vs a numpy replica of the whole pipeline: probe 2
    cells, per-cell residual ADC shortlist, exact cosine rerank."""
    ids, mat = _rows(spark, sf_dir)
    cents = mat[:4].tolist()
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    qv = mat[7]
    cells = _numpy_cells(mat, cents)
    probes = PQ.probe_cells(qv.tolist(), cents, 2)
    assert sorted(probes) == sorted(
        np.sqrt(((qv - np.array(cents)) ** 2).sum(-1)).argsort()[:2].tolist()
    )
    # ADC over probed rows from the packed codes + per-cell tables
    adc = {}
    for i, vid in enumerate(ids):
        if cells[i] not in probes:
            continue
        res = mat[i] - np.array(cents[cells[i]])
        dt = PQ.adc_table((qv - np.array(cents[cells[i]])).tolist(), cbs)
        s = 0.0
        for j in range(PQ.N_SUB):
            sub = res[j * 8 : (j + 1) * 8]
            d = [np.sqrt(((sub - np.array(c)) ** 2).sum()) for c in cbs[j]]
            s += dt[j][int(np.argmin(d))]
        adc[int(vid)] = s
    short = sorted(adc, key=lambda v: (adc[v], v))[:50]
    sims = {
        v: float(
            mat[list(ids).index(v)] @ qv
            / (np.linalg.norm(mat[list(ids).index(v)]) * np.linalg.norm(qv))
        )
        for v in short
    }
    want = sorted(sims, key=lambda v: (-sims[v], v))[:10]
    got = [
        r.vec_id
        for r in PQ.knn_ivfpq(
            _emb(spark, sf_dir).select("vec_id", "embedding"),
            qv.tolist(), cents, cbs, k=10, nprobe=2, shortlist=50,
        ).collect()
    ]
    assert got == want


def test_ivfpq_disk_probe_is_partition_pruned_code_only(spark, sf_dir, tmp_path):
    """The 100 TB serving shape, plan-asserted: codes written
    partitionBy(centroid_id) probe with (a) a partition filter on the cell
    (reads nprobe/n_cells of the files) and (b) a ReadSchema of just
    (vec_id, pq_code) — the vector column is never scanned until the
    shortlist rerank. Results identical to the on-the-fly encode path."""
    ids, mat = _rows(spark, sf_dir)
    cents = mat[:4].tolist()
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    qv = mat[7].tolist()
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    path = str(tmp_path / "ivfpq_codes")
    PQ.ivfpq_encode(e, cents, cbs).write.partitionBy("centroid_id").parquet(path)
    codes = spark.read.parquet(path)
    disk = PQ.knn_ivfpq(e, qv, cents, cbs, k=10, nprobe=2, shortlist=50,
                        codes=codes)
    fly = PQ.knn_ivfpq(e, qv, cents, cbs, k=10, nprobe=2, shortlist=50)
    assert [tuple(r) for r in disk.collect()] == [tuple(r) for r in fly.collect()]
    import re

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = disk._jdf.queryExecution().explainString(mode)
    # the codes scan: partition filter on centroid_id, code-only ReadSchema
    assert re.search(r"PartitionFilters: \[[^\]]*centroid_id", plan), plan
    code_scan = re.search(
        r"ivfpq_codes[\s\S]{0,600}?ReadSchema: struct<([^>]*)>", plan
    )
    assert code_scan and "pq_code" in code_scan.group(1), plan
    assert "embedding" not in code_scan.group(1), plan


def test_knn_join_pq_matches_single_query_rerank(spark, sf_dir):
    """The batch ADC join restricted to one query equals the single-query
    literal-table rerank path — table-as-column and table-as-literal are
    the same numbers."""
    ids, mat = _rows(spark, sf_dir)
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = PQ.knn_join_pq(e, queries, cbs, k=10, shortlist=50).collect()
    single = PQ.knn_pq_rerank(e, mat[7].tolist(), cbs, k=10, shortlist=50).collect()
    assert [(r.vec_id, r.score) for r in batch] == [
        (r.vec_id, r.score) for r in single
    ]


def test_knn_join_pq_window_group_limit(spark, sf_dir):
    """The per-query shortlist window must run as a WindowGroupLimit
    (map-side partial top-k BEFORE the Exchange) — at scale the shuffle
    carries ~shortlist rows per query per partition, not corpus×queries."""
    ids, mat = _rows(spark, sf_dir, 20)
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    df = PQ.knn_join_pq(e, queries, cbs, k=5, shortlist=50)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ivfpq_index_roundtrip_and_append(spark, sf_dir, tmp_path):
    """IVFPQIndex lifecycle: build (fixture params) == direct knn_ivfpq;
    save/load roundtrip preserves results and the partitioned layout;
    pure-append ensure folds in ONLY the delta and equals a full rebuild
    (codes are a deterministic function of the row)."""
    ids, mat = _rows(spark, sf_dir)
    cents = mat[:4].tolist()
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    qv = mat[7].tolist()
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    idx = PQ.IVFPQIndex(n_cells=4).build(e, centroids=cents, codebooks=cbs)
    got = idx.query(e, qv, k=10, nprobe=2, shortlist=50, assume_fresh=True)
    want = PQ.knn_ivfpq(e, qv, cents, cbs, k=10, nprobe=2, shortlist=50)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    path = str(tmp_path / "ivfpq_idx")
    idx.save(path)
    idx.invalidate()
    import os

    assert os.path.exists(os.path.join(path, PQ.IVFPQIndex.SIDECAR))
    assert any(d.startswith("centroid_id=") for d in os.listdir(path))
    loaded = PQ.IVFPQIndex.load(spark, path)
    got2 = loaded.query(e, qv, k=10, nprobe=2, shortlist=50, assume_fresh=True)
    assert [tuple(r) for r in got2.collect()] == [
        tuple(r) for r in want.collect()
    ]

    # pure append: index the first n-100 rows, ensure on the full corpus
    n = len(ids)
    head = e.filter(F.col("vec_id") < int(ids[n - 100]))
    part = PQ.IVFPQIndex(n_cells=4).build(head, centroids=cents, codebooks=cbs)
    part.ensure(e)
    assert part._indexed_rows == n
    full = {
        (r.vec_id, r.centroid_id, r.pq_code)
        for r in PQ.ivfpq_encode(e, cents, cbs).collect()
    }
    assert {
        (r.vec_id, r.centroid_id, r.pq_code) for r in part._frame.collect()
    } == full


def test_ivfpq_index_trained_build(spark, sf_dir):
    """The trained path (MLlib KMeans centroids + residual codebooks) is
    shape-correct and deterministic under a fixed seed."""
    e = _emb(spark, sf_dir).limit(200).select("vec_id", "embedding")
    idx = PQ.IVFPQIndex(n_cells=4, seed=7).build(e)
    assert len(idx._centroids) == 4
    assert len(idx._codebooks) == PQ.N_SUB
    assert all(len(cb) == PQ.K_CODES for cb in idx._codebooks)
    qv = [float(x) for x in e.orderBy("vec_id").head().embedding]
    res = idx.query(e, qv, k=5, nprobe=2, shortlist=30, assume_fresh=True)
    rows = res.collect()
    assert len(rows) == 5
    # the query vector itself must be found when its own cell is probed
    # (cell 1-nearest -> always in nprobe>=1 probes; exact rerank ranks
    # the identical vector first under cosine)
    assert rows[0].vec_id == e.orderBy("vec_id").head().vec_id


def test_probe_cells_expr_matches_driver(spark, sf_dir):
    """Scan-side probe list equals the driver-side probe_cells order
    (dist ASC, cid ASC) for every vector — the contract that lets
    knn_join_ivfpq probe per-ROW without a join."""
    ids, mat = _rows(spark, sf_dir, 60)
    cents = mat[:5].tolist()
    got = {
        r.vec_id: list(r.probes)
        for r in _emb(spark, sf_dir).orderBy("vec_id").limit(60).select(
            "vec_id", PQ.probe_cells_expr("embedding", cents, 3).alias("probes")
        ).collect()
    }
    for i, vid in enumerate(ids):
        assert got[int(vid)] == PQ.probe_cells(mat[i].tolist(), cents, 3), vid


def test_knn_join_ivfpq_matches_single_query_path(spark, sf_dir):
    """The batch residual join reproduces knn_ivfpq per query exactly —
    same probes, same ADC shortlist, same rerank (the knn_join_pq
    parity pattern, lifted to the IVF-PQ pipeline)."""
    ids, mat = _rows(spark, sf_dir)
    cents = mat[:4].tolist()
    cbs = PQ.pq_codebooks_from_rows(mat[:16].tolist())
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    qids = [3, 11, 29]
    queries = e.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = PQ.knn_join_ivfpq(
        e, queries, cents, cbs, k=7, nprobe=2, shortlist=40
    ).collect()
    by_q = {}
    for r in sorted(batch, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append((r.vec_id, r.score))
    assert set(by_q) == set(qids)
    for qid in qids:
        qv = mat[list(ids).index(qid)].tolist()
        single = [
            (r.vec_id, r.score)
            for r in PQ.knn_ivfpq(
                e, qv, cents, cbs, k=7, nprobe=2, shortlist=40
            ).collect()
        ]
        assert by_q[qid] == single, qid


def test_ivfpq_ensure_update_plus_append_rebuilds(spark, sf_dir):
    """ADVICE r6 (medium): id-membership/count alone would classify
    'in-place vector updates AND appends' as a pure append and keep STALE
    PQ codes serving queries (codes no longer matching the vectors used
    for exact rerank); the (id, vector) fingerprint over the kept overlap
    must force build() instead."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    base = e.filter("vec_id < 150")
    idx = PQ.IVFPQIndex(n_cells=4, seed=7).build(base)
    mutated = e.filter("vec_id < 180").withColumn(
        "embedding",
        F.transform("embedding", lambda x: (x * F.lit(-1.0)).cast("float")),
    )
    idx.ensure(mutated)  # 150 overlapping ids rewritten in place + 30 appended
    assert idx._indexed_rows == mutated.count()
    # the codes now encode the MUTATED vectors: re-encoding the mutated
    # corpus with the index's (retrained) params reproduces them exactly
    want = {
        (r.vec_id, r.centroid_id, r.pq_code)
        for r in PQ.ivfpq_encode(
            mutated, idx._centroids, idx._codebooks
        ).collect()
    }
    got = {
        (r.vec_id, r.centroid_id, r.pq_code) for r in idx._frame.collect()
    }
    assert got == want
    # and the scalar fingerprint tracks the new corpus: a subsequent pure
    # append IS folded in (no spurious rebuild), fingerprint updated by xor
    from educational_vector_database_spark.operators.ann import (
        corpus_fingerprint,
    )

    fp_before = idx._corpus_fp
    assert fp_before == corpus_fingerprint(mutated)
    grown = e.filter("vec_id < 200").withColumn(
        "embedding",
        F.when(
            F.col("vec_id") < 180,
            F.transform("embedding", lambda x: (x * F.lit(-1.0)).cast("float")),
        ).otherwise(F.col("embedding")),
    )
    cents_before = idx._centroids
    idx.ensure(grown)
    assert idx._indexed_rows == grown.count()
    assert idx._centroids is cents_before  # fold-in, not a rebuild
    assert idx._corpus_fp == corpus_fingerprint(grown)
    idx.invalidate()
