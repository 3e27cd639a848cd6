"""Property-based tests (hypothesis) — invariants the unit fixtures can't
sweep: arbitrary text through the chunker/fingerprints, arbitrary vectors
through the similarity kernels. The reference has no property testing
(SURVEY.md §5); these guard the engine's algebraic contracts."""

import math

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from educational_vector_database_spark.functions import text as T
from educational_vector_database_spark.functions import vector as V

SETTINGS = dict(max_examples=12, deadline=None)

texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=400
)
vectors = st.lists(
    st.floats(min_value=-100, max_value=100, allow_nan=False, width=64),
    min_size=4,
    max_size=4,
)


@given(st.lists(texts, min_size=1, max_size=8), st.integers(min_value=1, max_value=50))
@settings(**SETTINGS)
def test_chunker_concat_reconstructs_text(spark, docs, cs):
    """concat(chunks) == text, and every chunk but the last is exactly cs
    chars (reference rag.py:17-24 semantics, including '' -> ['''])."""
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id: long, text: string")
    rows = (
        df.select("doc_id", F.posexplode(T.chunk_array("text", cs)).alias("i", "chunk"))
        .orderBy("doc_id", "i")
        .collect()
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.chunk)
    for doc_id, text in enumerate(docs):
        chunks = by_doc[doc_id]
        assert "".join(chunks) == text
        assert all(len(c) == cs for c in chunks[:-1])
        if text == "":
            assert chunks == [""]


@given(st.lists(vectors, min_size=2, max_size=6))
@settings(**SETTINGS)
def test_cosine_bounds_and_self_similarity(spark, vecs):
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id: long, embedding: array<double>"
    )
    rows = df.select(
        "vec_id",
        V.cosine_similarity("embedding", "embedding").alias("self_cos"),
        V.l2_norm("embedding").alias("nrm"),
    ).collect()
    for r in rows:
        if r.nrm > 1e-6:
            assert abs(r.self_cos - 1.0) < 1e-9
        assert not math.isnan(r.nrm)


@given(st.lists(vectors, min_size=2, max_size=4))
@settings(**SETTINGS)
def test_euclidean_symmetry_and_triangle_zero(spark, vecs):
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id: long, embedding: array<double>"
    )
    a = df.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    rows = (
        a.crossJoin(b)
        .select("ia", "ib", V.euclidean_distance("va", "vb").alias("d"))
        .collect()
    )
    d = {(r.ia, r.ib): r.d for r in rows}
    for (i, j), v in d.items():
        assert v == d[(j, i)]  # bitwise symmetric
        if i == j:
            assert v == 0.0
        assert v >= 0.0


@given(st.lists(texts, min_size=1, max_size=6))
@settings(**SETTINGS)
def test_fingerprints_deterministic_and_normalization_invariant(spark, docs):
    """Same text -> same fingerprints; case/extra-space variants collide on
    the ROLLING fingerprint (normalized) but not necessarily on content_fp."""
    rows = [(i, t) for i, t in enumerate(docs)] + [
        (1000 + i, t.upper() + "  ") for i, t in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        r.doc_id: (r.fp, r.rfp)
        for r in df.select(
            "doc_id",
            T.fingerprint64("text").alias("fp"),
            T.rolling_fingerprint("text").alias("rfp"),
        ).collect()
    }
    for i, t in enumerate(docs):
        fp, rfp = got[i]
        assert 0 <= rfp < T.ROLLING_P
        # uppercasing + trailing spaces: normalized stream unchanged for
        # ascii-lowerable text
        if t == t.lower() and all(ord(c) < 128 for c in t):
            assert got[1000 + i][1] == rfp


@given(st.lists(texts, min_size=2, max_size=6))
@settings(**SETTINGS)
def test_simhash_identical_text_zero_hamming(spark, docs):
    from educational_vector_database_spark.operators import dedup as D

    rows = [(i, t) for i, t in enumerate(docs)] + [
        (100 + i, t) for i, t in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    sh = {
        r.doc_id: r.sh
        for r in df.select("doc_id", D.simhash_hex("text").alias("sh")).collect()
    }
    for i in range(len(docs)):
        assert sh[i] == sh[100 + i]
        assert len(sh[i]) == 16 and all(c in "0123456789abcdef" for c in sh[i])


@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        min_size=1, max_size=60,
    ),
    st.sampled_from([None, 0, 5]),
)
@settings(max_examples=8, deadline=None)
def test_connected_components_matches_union_find(spark, edges, contract):
    """connected_components (contraction on, off, or aggressive) must equal
    a driver-side union-find with min-label canonicalization on ANY graph —
    the invariant the hot-cluster contraction and pointer-jumping passes
    must never bend."""
    from educational_vector_database_spark.operators import dedup as D

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(edges, "id_a: long, id_b: long")
    got = {r.id: r.cluster_id
           for r in D.connected_components(
               pairs, contract_above=contract).collect()}
    assert got == want


@given(st.lists(texts, min_size=2, max_size=10))
@settings(max_examples=8, deadline=None)
def test_incremental_dedup_exact_statuses_match_python(spark, docs_txt):
    """Every new doc whose NORMALIZED text appears in the corpus must come
    back exact_dup with the lowest matching corpus id; novel empty-shingle
    or unseen docs must never be exact_dup."""
    import re as _re

    from educational_vector_database_spark.operators import dedup as D

    def norm(t):
        return _re.sub(r"\s+", " ", _re.sub(r"[^a-z0-9\s]", " ", t.lower())).strip()

    corpus_rows = [(i, t) for i, t in enumerate(docs_txt)]
    # delta: copies of even-indexed corpus docs + one novel marker doc
    new_rows = [(100 + i, t) for i, t in corpus_rows if i % 2 == 0]
    new_rows.append((999, "zz novel sentinel document zz"))
    corpus = spark.createDataFrame(corpus_rows, "doc_id: long, text: string")
    new = spark.createDataFrame(new_rows, "doc_id: long, text: string")
    got = {r.doc_id: (r.status, r.match_id)
           for r in D.minhash_dedup_incremental(corpus, new).collect()}
    by_norm: dict[str, int] = {}
    for i, t in corpus_rows:
        by_norm.setdefault(norm(t), i)
    for nid, t in new_rows:
        status, match = got[nid]
        n = norm(t)
        if n in by_norm:
            assert status == "exact_dup" and match == by_norm[n], (nid, t)


@given(
    vecs=st.lists(vectors, min_size=2, max_size=6),
    raw_edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)), max_size=20
    ),
    raw_entries=st.lists(st.integers(0, 5), min_size=1, max_size=3),
    beam=st.integers(min_value=1, max_value=3),
    hops=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=8, deadline=None)
def test_graph_beam_search_matches_reference_walker(
    spark, vecs, raw_edges, raw_entries, beam, hops
):
    """graph_beam_search's recurrence (visited-set, frontier top-beam,
    (score DESC, id ASC) ties) pinned against a pure-Python walker on
    arbitrary graphs — the round-6 verdict's property-test item. Node
    scores are taken FROM Spark so the comparison isolates the walk
    logic, not float fold order."""
    from educational_vector_database_spark.operators import ann as A

    n = len(vecs)
    edges = sorted({(s % n, d % n) for s, d in raw_edges if s % n != d % n})
    entries = sorted({e % n for e in raw_entries})
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id: long, embedding: array<double>"
    )
    qv = vecs[0]
    scores = {
        r.vec_id: r.score
        for r in df.select(
            "vec_id",
            V.similarity("cosine", V.as_double("embedding"),
                         V.vector_literal(qv)).alias("score"),
        ).collect()
    }
    graph = spark.createDataFrame(
        edges or [(0, 0)], "src: long, dst: long"
    )
    if not edges:
        graph = graph.filter("src <> dst")  # empty edge list
    got = [
        (r.vec_id, r.score)
        for r in A.graph_beam_search(
            graph, df, qv, entries, beam=beam, hops=hops, k=4
        ).collect()
    ]

    nbrs = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    visited = {e for e in entries if e in scores}
    frontier = set(visited)
    for _ in range(hops):
        cand = set()
        for f in frontier:
            cand |= nbrs.get(f, set())
        cand -= visited
        visited |= cand
        frontier = set(sorted(cand, key=lambda i: (-scores[i], i))[:beam])
    want = [
        (i, scores[i])
        for i in sorted(visited, key=lambda i: (-scores[i], i))[:4]
    ]
    assert got == want


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-8, max_value=8, allow_nan=False, width=64),
            min_size=3, max_size=3,
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=2, max_size=7,
    ),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=2, max_value=5),
)
@settings(**SETTINGS)
def test_mmr_unrolled_equals_sequential_greedy(spark, vecs, k, pool):
    """The k-step MMR fold equals the sequential greedy recurrence
    (lam*rel - (1-lam)*max-sim-to-picked, ties score DESC id ASC) on
    arbitrary vector sets — the connected_components-vs-union-find
    pattern for the diversity rerank."""
    from educational_vector_database_spark.operators import mmr as M

    k = min(k, min(pool, len(vecs)))
    qv = vecs[0]
    corpus = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id: long, embedding: array<double>",
    )
    queries = spark.createDataFrame(
        [(0, qv)], "query_id: long, query_vec: array<double>"
    )
    got = sorted(
        (r.rank, r.vec_id, r.mmr_score)
        for r in M.mmr_rerank_join(corpus, queries, k=k, lam=0.5, pool=pool).collect()
    )
    assert got == _brute_greedy_mmr(vecs, qv, k, 0.5, pool, "cosine")


def _mmr_sim(metric, a, b):
    """functions/vector.py's similarity, folded left to right in Python."""
    def fold(u, w, f):
        acc = 0.0
        for x, y in zip(u, w):
            acc += f(x, y)
        return acc

    def mul(x, y):
        return x * y

    if metric == "dot":
        return fold(a, b, mul)
    if metric == "euclidean":
        return 1.0 / (1.0 + math.sqrt(fold(a, b, lambda x, y: (x - y) * (x - y))))
    den = math.sqrt(fold(a, a, mul)) * math.sqrt(fold(b, b, mul))
    return fold(a, b, mul) / den if den != 0.0 else 0.0


def _greedy_mmr(cand, k, lam, metric):
    """Sequential MMR over ``cand`` rows ``(id, vec, rel)``: a pick removes
    every row with its id, a null id never matches (so it stays a
    candidate), ties break score DESC then id ASC with null first."""
    picked, out = [], []
    for t in range(1, k + 1):
        taken = {p for p, _ in picked if p is not None}
        best = None
        for cid, v, rel in cand:
            if cid in taken:
                continue
            pen = max((_mmr_sim(metric, v, pv) for _, pv in picked), default=0.0)
            sc = lam * rel - (1.0 - lam) * pen
            key = (-sc, cid is not None, cid or 0)
            if best is None or key < best[0]:
                best = (key, cid, v, sc)
        if best is None:
            break
        picked.append((best[1], best[2]))
        out.append((t, best[1], best[3]))
    return out


def _brute_greedy_mmr(vecs, qv, k, lam, pool, metric):
    """The greedy over the top-``pool`` rows by relevance to ``qv`` (ties
    by id); row ids are positions in ``vecs``."""
    rel = [_mmr_sim(metric, v, qv) for v in vecs]
    top = sorted(range(len(vecs)), key=lambda i: (-rel[i], i))[:pool]
    return _greedy_mmr([(i, vecs[i], rel[i]) for i in top], k, lam, metric)


mmr_coord = st.sampled_from([-1.0, 0.0, 0.0, 0.5, 2.0])
mmr_vec = st.lists(mmr_coord, min_size=3, max_size=3)  # zero vectors likely


@st.composite
def mmr_cases(draw):
    """A corpus and query, or a caller shortlist over the corpus vectors
    with repeated ids, tied relevances and at most one null id."""
    vecs = draw(st.lists(mmr_vec, min_size=1, max_size=6))
    ids = st.integers(min_value=0, max_value=len(vecs) - 1)
    rels = st.sampled_from([0.25, 0.5, 0.5, 1.0])
    shortlist = draw(st.none() | st.lists(st.tuples(ids, rels), min_size=1, max_size=8))
    if shortlist is not None:
        null_row = draw(st.none() | st.tuples(ids, rels))
        shortlist = [(i, vecs[i], r) for i, r in shortlist]
        if null_row is not None:
            shortlist.append((None, vecs[null_row[0]], null_row[1]))
    return (vecs, draw(mmr_vec), shortlist,
            draw(st.sampled_from(["cosine", "dot", "euclidean"])),
            draw(st.sampled_from([0.5, 0.7])),
            draw(st.integers(min_value=1, max_value=5)),
            draw(st.integers(min_value=1, max_value=4)))


@given(mmr_cases())
@example((
    [[0.0, 0.0, 0.0], [1.0, 0.0, 0.0], [2.0, 0.0, 0.0], [0.0, 0.5, 0.0]],
    [1.0, 0.0, 0.0],
    [(0, [0.0, 0.0, 0.0], 0.5), (1, [1.0, 0.0, 0.0], 0.5),
     (1, [1.0, 0.0, 0.0], 1.0), (3, [0.0, 0.5, 0.0], 0.5),
     (None, [2.0, 0.0, 0.0], 1.0)],
    "cosine", 0.5, 5, 2))
@example(([[0.0, 0.0, 0.0], [1.0, 0.0, 0.0], [2.0, 0.0, 0.0]], [0.5, 0.5, 0.0],
          None, "dot", 0.7, 4, 2))
@settings(**SETTINGS)
def test_mmr_fold_edge_cases_equal_sequential_greedy(spark, case):
    """The fold against the sequential greedy on the cases a join-free
    selection could get wrong: a ``candidates=`` shortlist with repeated
    ids, tied relevances, zero vectors and a null id; ``pool < k`` (the
    picks stop when the pool runs out); and the dot and euclidean
    metrics. Rows compare with ``==``, scores included."""
    from educational_vector_database_spark.operators import mmr as M

    vecs, qv, shortlist, metric, lam, k, pool = case
    corpus = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id: long, embedding: array<double>")
    queries = V.query_frame(spark, qv)
    cand = None
    if shortlist is not None:
        cand = spark.createDataFrame(
            [(0, i, v, r) for i, v, r in shortlist],
            "query_id: long, vec_id: long, embedding: array<double>, rel: double")
        want = _greedy_mmr(shortlist, k, lam, metric)
    else:
        want = _brute_greedy_mmr(vecs, qv, k, lam, pool, metric)
    got = sorted(
        ((r.rank, r.vec_id, r.mmr_score) for r in M.mmr_rerank_join(
            corpus, queries, k=k, lam=lam, pool=pool, metric=metric,
            candidates=cand).collect()),
        key=lambda t: t[0])
    assert got == want


token_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=25),
    min_size=2,
    max_size=5,
)


@given(token_docs)
@settings(**SETTINGS)
def test_shared_span_pairs_matches_token_run_reference(spark, docs):
    """The shingle-island formulation must agree with an INDEPENDENT
    reference that never builds shingles: per (pair, diagonal), maximal
    runs of equal tokens of length >= K are exactly the islands, with
    span_tokens == run length."""
    from educational_vector_database_spark.operators import dedup as D

    K, MINSPAN = 3, 5

    def runs(A, B):
        out = []
        for d in range(-len(B) + 1, len(A)):
            i, j, run = max(0, d), max(0, d) - d, 0
            while i <= len(A) and j <= len(B):
                if i < len(A) and j < len(B) and A[i] == B[j]:
                    run += 1
                else:
                    if run >= K:
                        out.append(run)
                    run = 0
                i += 1
                j += 1
        return out

    expect = {}
    for x in range(len(docs)):
        for y in range(x + 1, len(docs)):
            r = runs(docs[x], docs[y])
            if r and max(r) >= MINSPAN:
                expect[(x, y)] = (
                    max(r),
                    sum(1 for v in r if v >= MINSPAN),
                )

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (int(r.id_a), int(r.id_b)): (int(r.longest_span), int(r.n_spans))
        for r in D.shared_span_pairs(
            df, shingle_tokens=K, min_span_tokens=MINSPAN, max_posting=10**6
        ).collect()
    }
    assert got == expect
