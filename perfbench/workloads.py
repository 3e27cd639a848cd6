"""The workloads: seeded inputs, numpy references, and one iteration.

Each workload writes its generated inputs as parquet under ``work`` and the
engine reads them back with ``spark.read.parquet``; the references stay in
this process. ``iterate`` makes every call through a ``Tracer`` span and
checks each output against the reference, raising ``CheckFailed`` on a
wrong answer. It returns ``(items, answers_matched, answers_total)``.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd

from educational_vector_database_spark import embeddings, rag
from educational_vector_database_spark.operators import ann, dedup, knn, mmr
from educational_vector_database_spark.sources import store

TOL = 1e-9  # float64 agreement between Spark's and numpy's op order
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


class CheckFailed(AssertionError):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    lens = rng.integers(3, 9, n)
    return np.array(["".join(rng.choice(LETTERS, k)) for k in lens])


def _write(df: pd.DataFrame, path: str) -> None:
    df.to_parquet(path, index=False)


def _cosine(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Cosine of each row of ``x`` with ``q``: dot / (|x| |q|)."""
    return (x @ q) / (np.sqrt((x * x).sum(1)) * np.sqrt(q @ q))


def _ref_topk(scores: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Exact top-k ids, score descending, ties by id ascending."""
    return ids[np.lexsort((ids, -scores))[:k]]


def check_topk(got: list[tuple[int, float]], scores: np.ndarray,
               ids: np.ndarray, k: int, what: str, exact: bool) -> int:
    """``got`` is (id, score) best-first: k distinct known ids, each with
    its exact score. With ``exact``, every id must also be in the exact
    top-k up to float noise at the boundary. Returns how many of the
    reference top-k ids were returned."""
    by_id = dict(zip(ids.tolist(), scores.tolist()))
    check(len(got) == k, f"{what}: {len(got)} rows, want {k}")
    check(len({i for i, _ in got}) == k, f"{what}: duplicate ids")
    floor = np.sort(scores)[-k] - TOL if exact else -np.inf
    prev = np.inf
    for i, s in got:
        check(i in by_id, f"{what}: unknown id {i}")
        check(abs(by_id[i] - s) <= TOL, f"{what}: id {i} score {s} != {by_id[i]}")
        check(s <= prev + TOL, f"{what}: not best-first")
        check(by_id[i] >= floor, f"{what}: id {i} is outside the exact top-{k}")
        prev = s
    return len(set(_ref_topk(scores, ids, k).tolist()) & {i for i, _ in got})


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class AnnLifecycle:
    """Build a two-level graph index, serve a query batch, fold in an
    append, serve a point query that needs the appended rows, then save and
    reload index and corpus."""

    name = "ann_lifecycle"
    sizes = {"rows": 1000, "dim": 64, "centres": 16, "delta": 50,
             "batch_queries": 16, "k": 10}
    layers = ("operators.ann.build", "operators.ann.walk",
              "operators.ann.foldin", "operators.ann.persist", "sources.store")

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        z = self.sizes
        n, d, nd, k = z["rows"], z["dim"], z["delta"], z["k"]
        self.k = k
        rng = np.random.default_rng(seed)
        centres = rng.normal(size=(z["centres"], d))

        def draw(m):
            return centres[rng.integers(0, len(centres), m)] + 0.35 * rng.normal(size=(m, d))

        x = draw(n + nd)
        self.x, self.ids = x, np.arange(n + nd, dtype=np.int64)
        self.n = n
        qb = draw(z["batch_queries"])
        # the point query sits next to an appended row, so its answer must
        # come from the folded-in delta
        self.p_delta = x[n] + 0.05 * rng.normal(size=d)
        self.qb = qb
        _write(pd.DataFrame({"vec_id": self.ids[:n], "embedding": list(x[:n])}),
               f"{work}/base.parquet")
        _write(pd.DataFrame({"vec_id": self.ids[n:], "embedding": list(x[n:])}),
               f"{work}/delta.parquet")
        _write(pd.DataFrame({"query_id": np.arange(len(qb), dtype=np.int64),
                             "query_vec": list(qb)}), f"{work}/queries.parquet")
        self.raw_bytes = x.nbytes
        self.bytes_per_byte = self.store_bytes = 0.0
        self.base = spark.read.parquet(f"{work}/base.parquet")
        self.delta = spark.read.parquet(f"{work}/delta.parquet")
        self.queries = spark.read.parquet(f"{work}/queries.parquet")

    def iterate(self, tr, it: int):
        spark, work, k, n = self.spark, self.work, self.k, self.n
        base, delta, queries = self.base, self.delta, self.queries
        hit = total = 0
        xb, ib = self.x[:n], self.ids[:n]

        idx = ann.TwoLevelGraphIndex()
        with tr.op("operators.ann.build", "build") as p, p.construct():
            idx.ensure(base)

        with tr.op("operators.ann.walk", "query_batch") as p:
            with p.construct():
                res = idx.query_batch(base, queries, k=k, assume_fresh=True)
            with p.execute():
                rows = res.collect()
        for q in range(len(self.qb)):
            got = sorted(((r["vec_id"], r["score"]) for r in rows if r["query_id"] == q),
                         key=lambda t: (-t[1], t[0]))
            hit += check_topk(got, _cosine(xb, self.qb[q]), ib, k, f"query_batch q{q}", False)
            total += k

        full = base.unionByName(delta)
        with tr.op("operators.ann.foldin", "append") as p, p.construct():
            idx.ensure(full)

        # the first query after the append: it must find the appended rows
        with tr.op("operators.ann.walk", "point_query") as p:
            with p.construct():
                res = idx.query(full, self.p_delta.tolist(), k=k, assume_fresh=True)
            with p.execute():
                rows = res.collect()
        got = [(r["vec_id"], r["score"]) for r in rows]
        hit += check_topk(got, _cosine(self.x, self.p_delta), self.ids, k,
                          "point_query after append", False)
        total += k
        check(any(i >= n for i, _ in got), "point_query: no appended row returned")

        spath, ipath = f"{work}/store-{it}", f"{work}/index-{it}"
        with tr.op("sources.store", "save_load") as p:
            with p.construct():
                store.save(full, spath, store.StoreConfig(dim=self.x.shape[1],
                                                          index_type="graph"))
            with p.execute():
                loaded, cfg = store.load(spark, spath)
                n_loaded = loaded.count()
        check(n_loaded == len(self.ids) and cfg.dim == self.x.shape[1],
              f"store: {n_loaded} rows dim {cfg.dim}")
        with tr.op("operators.ann.persist", "save_load") as p:
            with p.construct():
                idx.save(ipath)
            with p.execute():
                stale = ann.TwoLevelGraphIndex.load(spark, ipath).is_stale(loaded)
        check(not stale, "loaded index is stale for the loaded corpus")
        self.store_bytes = dir_bytes(spath)
        self.bytes_per_byte = (self.store_bytes + dir_bytes(ipath)) / self.raw_bytes
        return len(self.qb) + 1, hit, total

    def layer_extras(self, lm: dict) -> dict:
        return {"sources.store.bytes_written": self.store_bytes / (1024.0 * 1024.0),
                "operators.ann.store_bytes_per_byte": self.bytes_per_byte}


def hashing_tf(text: str, dim: int) -> np.ndarray:
    """Signed feature hashing of whitespace tokens, L2-normalized (the
    documented ``HashingTFEmbeddings`` scheme, computed independently)."""
    v = np.zeros(dim)
    for t in text.split():
        h = zlib.crc32(t.encode("utf-8"))
        v[h % dim] += 1.0 if (h >> 17) & 1 else -1.0
    nrm = np.linalg.norm(v)
    return v / nrm if nrm > 0 else v


class RagMmr:
    """Chunk and embed a topical corpus with planted repeated passages, then
    answer a query batch by exact top-k and by MMR reranking."""

    name = "rag_mmr"
    sizes = {"docs": 60, "blocks_per_doc": 12, "topics": 8, "topic_words": 400,
             "passages_per_topic": 6, "planted_share": 0.3, "queries": 16,
             "dim": 128, "chunk": 300, "k": 5, "mmr_k": 3, "pool": 20, "lam": 0.5}
    layers = ("rag", "operators.knn", "operators.mmr")

    def __init__(self, spark, work: str, seed: int):
        z = self.z = self.sizes
        rng = np.random.default_rng(seed)
        vocab = _vocab(rng, z["topics"] * z["topic_words"])
        cs = z["chunk"]

        def block(topic):
            words = vocab[topic * z["topic_words"]:(topic + 1) * z["topic_words"]]
            s = ""
            while len(s) < cs:
                s += " ".join(rng.choice(words, 16)) + " "
            return s[:cs]

        passages = [[block(t) for _ in range(z["passages_per_topic"])]
                    for t in range(z["topics"])]
        docs, chunks = [], []
        for d in range(z["docs"]):
            t = int(rng.integers(z["topics"]))
            blocks = [
                passages[t][rng.integers(z["passages_per_topic"])]
                if rng.random() < z["planted_share"] else block(t)
                for _ in range(z["blocks_per_doc"])
            ]
            docs.append("".join(blocks))
            chunks += [(d * 100_000 + i, b) for i, b in enumerate(blocks)]
        qtext = [" ".join(rng.choice(vocab[(q % z["topics"]) * z["topic_words"]:
                                           (q % z["topics"] + 1) * z["topic_words"]], 12))
                 for q in range(z["queries"])]
        self.emb = embeddings.HashingTFEmbeddings(dim=z["dim"])
        self.qv = np.array([self.emb.embed(t) for t in qtext])
        self.chunk_ids = np.array([c for c, _ in chunks], dtype=np.int64)
        self.cv = np.array([hashing_tf(b, z["dim"]) for _, b in chunks])
        self.n_chars = sum(len(b) for _, b in chunks)
        _write(pd.DataFrame({"doc_id": np.arange(len(docs), dtype=np.int64), "text": docs}),
               f"{work}/docs.parquet")
        _write(pd.DataFrame({"query_id": np.arange(len(qtext), dtype=np.int64),
                             "query_vec": list(self.qv)}), f"{work}/queries.parquet")
        self.pairs_scored = len(chunks) * len(qtext)
        self.docs = spark.read.parquet(f"{work}/docs.parquet")
        self.queries = spark.read.parquet(f"{work}/queries.parquet")

    def iterate(self, tr, it: int):
        z, docs, queries = self.z, self.docs, self.queries
        hit = total = 0

        with tr.op("rag", "index_docs") as p:
            with p.construct():
                chunks = rag.build_rag_index(docs, self.emb, chunk_size=z["chunk"]).persist()
            with p.execute():
                n, id_sum, chars = chunks.selectExpr(
                    "count(*)", "sum(chunk_id)", "sum(length(chunk))").first()
        check((n, id_sum, chars) == (len(self.chunk_ids), int(self.chunk_ids.sum()),
                                     self.n_chars), f"index_docs: {n} chunks")

        with tr.op("operators.knn", "retrieve") as p:
            with p.construct():
                res = knn.knn_join(chunks, queries, k=z["k"], id_col="chunk_id")
            with p.execute():
                rows = res.collect()
        for q in range(len(self.qv)):
            got = sorted(((r["chunk_id"], r["score"]) for r in rows if r["query_id"] == q),
                         key=lambda t: (-t[1], t[0]))
            hit += check_topk(got, _cosine(self.cv, self.qv[q]), self.chunk_ids,
                              z["k"], f"retrieve q{q}", True)
            total += z["k"]

        with tr.op("operators.mmr", "mmr") as p:
            with p.construct():
                res = mmr.mmr_rerank_join(chunks, queries, k=z["mmr_k"], lam=z["lam"],
                                          pool=z["pool"], id_col="chunk_id")
            with p.execute():
                rows = res.collect()
        for q in range(len(self.qv)):
            picks = sorted((r["rank"], r["chunk_id"], r["mmr_score"])
                           for r in rows if r["query_id"] == q)
            hit += self._check_mmr(q, picks)
            total += z["mmr_k"]
        return len(self.qv), hit, total

    def _check_mmr(self, q: int, picks: list[tuple[int, int, float]]) -> int:
        """Replay the greedy rule: each pick must come from the pool and
        score, up to float noise, at least as high as every other candidate
        surely in the pool given the picks before it. Rows whose relevance
        is within float noise of the pool edge may or may not be in the
        engine's pool. Returns how many picks equal the reference greedy
        sequence over the exact pool (ties by id)."""
        z, lam = self.z, self.z["lam"]
        rel = _cosine(self.cv, self.qv[q])
        exact = np.lexsort((self.chunk_ids, -rel))[:z["pool"]]
        edge = rel[exact[-1]]
        cand = np.flatnonzero(rel >= edge - TOL)
        sure = rel[cand] > edge + TOL
        pos = {int(self.chunk_ids[i]): n for n, i in enumerate(cand)}
        check(len(picks) == z["mmr_k"], f"mmr q{q}: {len(picks)} picks")

        def scores(chosen: list[int]) -> np.ndarray:
            # the penalty is the max similarity to the picks so far (it can
            # be negative); 0.0 before the first pick
            pen = np.zeros(len(cand))
            if chosen:
                pen = np.max([_cosine(self.cv[cand], self.cv[cand[c]]) for c in chosen], axis=0)
            s = lam * rel[cand] - (1 - lam) * pen
            s[chosen] = -np.inf
            return s

        chosen: list[int] = []
        for t, (rank, cid, score) in enumerate(picks, start=1):
            check(rank == t and cid in pos, f"mmr q{q}: pick {t} id {cid} not in pool")
            s = scores(chosen)
            mine = s[pos[cid]]
            best = s[sure].max() if sure.any() else -np.inf
            check(abs(mine - score) <= TOL and mine >= best - TOL,
                  f"mmr q{q}: pick {t} id {cid} is not the greedy choice")
            chosen.append(pos[cid])
        in_exact = np.isin(cand, exact)
        ref: list[int] = []
        for _ in range(z["mmr_k"]):
            s = np.where(in_exact, scores(ref), -np.inf)
            best = np.flatnonzero(s == s.max())
            ref.append(int(best[np.argmin(self.chunk_ids[cand[best]])]))
        return sum(a == b for a, b in zip(ref, chosen))

    def layer_extras(self, lm: dict) -> dict:
        wall = lm["operators.knn.wall_s"]
        return {"operators.knn.pairs_scored_per_s": self.pairs_scored / wall if wall else 0.0}


class DedupCurate:
    """Resolve near-duplicates in a corpus with planted near-copies: MinHash
    pairs, then connected components to one survivor per cluster."""

    name = "dedup_curate"
    sizes = {"sources": 200, "copies": 4, "swaps": 2, "unique": 1000,
             "words": 80, "vocab": 20000}
    layers = ("operators.dedup.pairs", "operators.dedup.components")

    def __init__(self, spark, work: str, seed: int):
        z = self.sizes
        rng = np.random.default_rng(seed)
        vocab = _vocab(rng, z["vocab"])
        texts, group = [], []
        for g in range(z["sources"]):
            src = rng.choice(vocab, z["words"])
            texts.append(" ".join(src))
            for _ in range(z["copies"]):
                w = src.copy()
                w[rng.choice(z["words"], z["swaps"], replace=False)] = rng.choice(vocab, z["swaps"])
                texts.append(" ".join(w))
            group += [g] * (z["copies"] + 1)
        for _ in range(z["unique"]):
            texts.append(" ".join(rng.choice(vocab, z["words"])))
            group.append(-1)
        ids = rng.permutation(len(texts)).astype(np.int64)
        group = np.array(group)
        self.group_of = dict(zip(ids.tolist(), group.tolist()))
        planted = pd.Series(ids[group >= 0]).groupby(group[group >= 0]).min()
        self.survivors = set(planted.tolist()) | set(ids[group < 0].tolist())
        self.n_docs = len(texts)
        order = np.argsort(ids)
        _write(pd.DataFrame({"doc_id": ids[order], "text": np.array(texts)[order]}),
               f"{work}/docs.parquet")
        self.pairs_out = 0
        self.docs = spark.read.parquet(f"{work}/docs.parquet")

    def iterate(self, tr, it: int):
        docs = self.docs
        with tr.op("operators.dedup.pairs", "near_dup_pairs") as p:
            with p.construct():
                pairs = dedup.minhash_near_dup(docs).persist()
            with p.execute():
                rows = pairs.collect()
        self.pairs_out = len(rows)
        for r in rows:
            ga = self.group_of[r["id_a"]]
            check(ga >= 0 and ga == self.group_of[r["id_b"]],
                  f"pair {r['id_a']},{r['id_b']} is not a planted near-copy")
        with tr.op("operators.dedup.components", "resolve") as p:
            with p.construct():
                verdict = dedup.dedup_clusters(docs, pairs)
            with p.execute():
                kept = verdict.filter("is_survivor").select("id").collect()
        got = {r["id"] for r in kept}
        check(got == self.survivors,
              f"survivors: {len(got)} kept, {len(self.survivors)} planted, "
              f"{len(got ^ self.survivors)} differ")
        return self.n_docs, len(got & self.survivors), len(self.survivors)

    def layer_extras(self, lm: dict) -> dict:
        return {"operators.dedup.pairs.pairs_out": float(self.pairs_out)}


class TextCurate:
    """The text side of the engine in one iteration: the RAG read path
    (``RagMmr``) and then near-duplicate resolution (``DedupCurate``), on
    independent inputs."""

    name = "text_curate"
    parts = (RagMmr, DedupCurate)
    sizes = {p.name: p.sizes for p in parts}
    layers = RagMmr.layers + DedupCurate.layers

    def __init__(self, spark, work: str, seed: int):
        self.members = []
        for n, part in enumerate(self.parts):
            sub = os.path.join(work, part.name)
            os.makedirs(sub, exist_ok=True)
            self.members.append(part(spark, sub, seed * len(self.parts) + n))

    def iterate(self, tr, it: int):
        """Items add up; answer recall is the mean of the parts' recalls, so
        the 1,200 dedup survivors do not drown the RAG answers."""
        out = [m.iterate(tr, it) for m in self.members]
        recall = sum(hit / total for _, hit, total in out) / len(out)
        return sum(items for items, _, _ in out), recall, 1

    def layer_extras(self, lm: dict) -> dict:
        return {k: v for m in self.members for k, v in m.layer_extras(lm).items()}


WORKLOADS = {w.name: w for w in (AnnLifecycle, TextCurate)}
