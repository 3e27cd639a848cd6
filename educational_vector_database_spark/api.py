"""VectorDB facade — the reference's public API surface, DataFrame-native.

Mirrors ``src/vectordb/api.py`` (class VectorDB) method-for-method, but every
operation is a Spark plan over a DataFrame instead of a Python loop over
parallel lists. Batch-first: ``add_texts``/``add_vectors`` take DataFrames
(the reference's one-at-a-time ``add_text`` is the degenerate single-row case —
its HTTP server loop, server.py:88-92, becomes one append job).

Server-endpoint parity (SURVEY.md §2.13): POST /add_text -> add_texts;
POST /search -> search_text; GET /items -> items; POST /rag/index ->
index_documents; POST /rag/answer -> answer.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import rag as ragmod
from .embeddings import Embeddings
from .functions import vector as V
from .operators import knn as K
from .operators.ann import GraphIndex, IVFIndex, TwoLevelGraphIndex
from .operators.pq import IVFPQIndex
from .sources import store as storemod
from .sources.store import StoreConfig

#: index_type -> (index class, subdir of the saved store holding it). The
#: underscore prefix makes Spark's parquet reader skip the subdir, so the
#: store stays readable as a plain table.
INDEXES = {
    "ivf": (IVFIndex, "_ivf_index"),
    "graph": (GraphIndex, "_graph_index"),
    "ivfpq": (IVFPQIndex, "_ivfpq_index"),
    "two_level": (TwoLevelGraphIndex, "_two_level_index"),
}


class VectorDB:
    """≙ reference ``VectorDB`` (api.py:21-205).

    The store is a DataFrame ``(vec_id, embedding, ...metadata columns)``;
    ``dim`` and ``metric`` are fixed at construction (api.py:21-31), and an
    unknown metric raises ``ValueError`` immediately, same contract.
    """

    def __init__(
        self,
        spark: SparkSession,
        dim: int,
        metric: str = "cosine",
        embeddings: Embeddings | None = None,
        df: DataFrame | None = None,
        id_col: str = "vec_id",
        vector_col: str = "embedding",
        use_approx: bool = False,
        n_cells: int = 16,
        index_type: str = "ivf",
    ):
        if metric.lower() not in V.SUPPORTED_METRICS:
            raise ValueError(f"Unknown metric: {metric!r}")
        if index_type not in (*INDEXES, "auto"):
            raise ValueError(
                f"Unknown index_type: {index_type!r} "
                "(ivf|graph|ivfpq|two_level|auto)"
            )
        self.spark = spark
        self.dim = dim
        self.metric = metric.lower()
        self.embeddings = embeddings
        self.id_col = id_col
        self.vector_col = vector_col
        # ≙ reference use_ann (api.py:26-35): approximate reads served from a
        # lazily (re)built cached index; stale after appends, rebuilt on the
        # next search — never on the write path.
        self.use_approx = use_approx
        # which approximate index serves reads: "ivf" (cell-probe, the
        # partition-pruning disk path), "graph" (beam walk over the k-NN
        # graph — ≙ the reference's HNSW serving, api.py:26-35 use_ann) or
        # "ivfpq" (cell-probe over 8-byte residual PQ codes + exact rerank
        # — the compressed-index serving path) or "two_level" (HNSW's
        # layered descent: hash-sampled upper graph -> descend -> short
        # full-graph walk; the duplicate-robust serving path, BASELINE.md
        # round-7 table) or "auto" (probe the corpus's clusterability once
        # and pick the measured-best regime — the round-9 decision table,
        # operators/ann.py recommend_index)
        self.index_type = index_type
        self._auto: dict | None = None  # memoized auto verdict + stats
        # rows-memo for the auto path: count jobs are per-APPEND, never
        # per-search (round-10 fix — a hot serving path must not pay a scan
        # to re-learn a corpus size nothing changed)
        self._auto_n: int | None = None
        self._auto_rows_dirty = True
        # the one live index (the class INDEXES maps the serving type to),
        # created and maintained lazily by the search path
        self._index = None
        self._n_cells = n_cells
        self._df = df if df is not None else spark.createDataFrame(
            [], f"{id_col} bigint, {vector_col} array<double>, text string"
        )
        self._appends_since_checkpoint = 0

    # -- ingest (reference api.py:95-103, 156-162) ---------------------------

    _DIM_MSG = "Vector dimension mismatch, expected "

    def _validate_dim(self, df: DataFrame) -> DataFrame:
        """Reference raises on wrong-dim insert (storage.py:15-16). Set-at-a-
        time AND zero-job: instead of an eager ``count()`` per append batch
        (an extra Spark job on every write), the check is folded into the
        plan as a ``raise_error`` guard on the vector column. The first
        action that materializes the vectors — the persistent write, a
        search, a collect — evaluates the guard and fails the batch if ANY
        row violates, so durable ingest (append + save) stays ONE job.
        Facade actions translate the carried error back to the reference's
        ``ValueError`` (:meth:`_dim_errors`)."""
        msg = f"{self._DIM_MSG}{self.dim}"
        return df.withColumn(
            self.vector_col,
            F.when(F.size(self.vector_col) == self.dim, F.col(self.vector_col))
            .otherwise(F.raise_error(F.lit(msg))),
        )

    def _dim_errors(self):
        """Context manager: re-raise a guard-carried dim violation as the
        reference's ``ValueError`` (storage.py:15-16 contract)."""
        import contextlib

        @contextlib.contextmanager
        def _cm():
            try:
                yield
            except ValueError:
                raise
            except Exception as e:  # Spark wraps raise_error per-engine
                if self._DIM_MSG in str(e):
                    raise ValueError(
                        f"{self._DIM_MSG}{self.dim}") from e
                raise

        return _cm()

    #: Truncate the union lineage after this many appends: each append layers
    #: one ``unionByName`` onto the logical plan, and after thousands of
    #: micro-appends Catalyst analysis cost dominates. ``localCheckpoint``
    #: (lazy) caps plan depth at O(_CHECKPOINT_EVERY) while staying a facade
    #: convenience — the durable path is sources/store.py + streaming/ingest.
    _CHECKPOINT_EVERY = 32

    def add_vectors(self, df: DataFrame) -> "VectorDB":
        """Append a batch of ``(vec_id, embedding, ...)`` rows (≙ S1 insert)."""
        incoming = self._validate_dim(df)
        self._df = self._df.unionByName(incoming, allowMissingColumns=True)
        self._auto_rows_dirty = True  # corpus size changed: re-size lazily
        self._appends_since_checkpoint += 1
        if self._appends_since_checkpoint >= self._CHECKPOINT_EVERY:
            self._df = self._df.localCheckpoint(eager=False)
            self._appends_since_checkpoint = 0
        return self

    def add_texts(self, texts_df: DataFrame, text_col: str = "text") -> "VectorDB":
        """Embed + insert (reference ``add_text``, api.py:156-162): the text
        rides along as a first-class column (≙ metadata["text"] injection)."""
        if self.embeddings is None:
            raise RuntimeError("No embeddings configured")  # api.py:158
        embedded = texts_df.withColumn(
            self.vector_col, self.embeddings.embed_col(text_col)
        )
        return self.add_vectors(embedded)

    # -- search (reference api.py:105-150, 164-168) --------------------------

    def _effective_index_type(self) -> str:
        """Resolve ``index_type="auto"`` to a concrete serving strategy —
        the measured round-9 decision table (operators/ann.py
        ``recommend_index``): probe the corpus once with the bounded
        nn1 clusterability statistic, then serve via ivf (clustered:
        recall 0.986 at 82x over brute, STRUCTURED_RECALL_2M.json),
        brute (isotropic under ~1M rows: exact AND fastest,
        CLONES_PIPELINE_AB.json) or two_level (isotropic at scale: 6.7x
        over brute at 2M, TWO_LEVEL_AB.json). Memoized; re-probed when
        the corpus doubles — the same lazy contract as the indexes'
        ``ensure()`` (the SEARCH pays, never the write; ≙ reference
        api.py:42-62)."""
        if self.index_type != "auto":
            return self.index_type
        from .operators.ann import (
            corpus_clusterability, estimate_corpus_rows, recommend_index,
        )

        # Hot path first: a memoized verdict with NO appends since it was
        # minted is served with zero jobs (no count, no probe). Sizing runs
        # only when the corpus changed, footer-first (parquet num_rows from
        # file metadata — no scan); count() is the fallback for unsizable
        # plans (unions, in-memory frames).
        if self._auto is not None and not self._auto_rows_dirty:
            return self._auto["index_type"]
        n = self._auto_n if not self._auto_rows_dirty else None
        if n is None:
            n = estimate_corpus_rows(self._df)
            if n is None:
                n = self._df.count()
            self._auto_n = int(n)
            self._auto_rows_dirty = False
        if self._auto is not None:
            old_n = max(1, self._auto["stats"]["n_rows"])
            # symmetric 2x band: re-probe on doubling AND on halving — a
            # verdict minted at 2M rows must not keep serving approximate
            # results after mass deletes shrink the corpus under the
            # brute-is-exact-and-faster threshold
            if old_n // 2 <= n <= 2 * old_n:
                return self._auto["index_type"]
        stats = corpus_clusterability(
            self._df, vector_col=self.vector_col, id_col=self.id_col,
            n_rows=n,
        )
        rec = recommend_index(n, stats["clustered"])
        rec["stats"] = stats
        prev = self._auto
        self._auto = rec
        if rec["index_type"] == "ivf":
            new_cells = rec["params"]["n_cells"]
            if new_cells != self._n_cells and isinstance(self._index, IVFIndex):
                # ensure() folds appends in with FROZEN centroids, so a
                # re-sized K would silently never apply — drop the stale
                # index; the next search rebuilds at the new K ~ sqrt(n)
                self._index = None
            self._n_cells = new_cells
        if prev is not None and prev["index_type"] != rec["index_type"]:
            # verdict flipped regimes: the old serving structure is for a
            # corpus shape that no longer exists
            self._index = None
        return rec["index_type"]

    def _live_index(self, itype: str):
        """The index serving ``itype``, created on first use and brought up
        to date with the corpus: ensure() embeds the reference's lazy
        contract — the SEARCH pays the rebuild, or for IVF and IVF-PQ the
        append fold-in (ref api.py:42-62), never the write."""
        cls = INDEXES[itype][0]
        if type(self._index) is not cls:
            kw = {"n_cells": self._n_cells} if itype in ("ivf", "ivfpq") else {}
            self._index = cls(metric=self.metric, vector_col=self.vector_col,
                              id_col=self.id_col, **kw)
        return self._index.ensure(self._df)

    def _nprobe(self) -> int:
        """Cells probed on the ivf route: the auto router's recommendation,
        else 1."""
        if self._auto is not None and self.index_type == "auto":
            return self._auto["params"].get("nprobe", 1)
        return 1

    def search_vector(self, query_vector: Sequence[float], k: int = 5) -> DataFrame:
        extra = [c for c in self._df.columns if c not in (self.id_col, self.vector_col)]
        itype = self._effective_index_type() if self.use_approx else self.index_type
        if not self.use_approx or itype == "brute":
            # exact kNN (also the auto verdict for small isotropic corpora:
            # exact IS the fastest serving there)
            return K.knn(
                self._df, query_vector, k=k, metric=self.metric,
                vector_col=self.vector_col, id_col=self.id_col, extra_cols=extra,
            )
        kw = {"nprobe": self._nprobe()} if itype == "ivf" else {}
        res = self._live_index(itype).query(
            self._df, query_vector, k=k, assume_fresh=True, **kw
        )
        if extra:
            res = res.join(
                self._df.select(self.id_col, *extra), self.id_col, "left"
            ).orderBy(F.desc("score"), F.asc(self.id_col))
        return res

    def search_text(self, query: str, k: int = 5) -> DataFrame:
        if self.embeddings is None:
            raise RuntimeError("No embeddings configured")  # api.py:166
        qv = [float(x) for x in self.embeddings.embed(query)]  # driver-side, one string
        return self.search_vector(qv, k=k)

    def certify(
        self,
        k: int = 10,
        n_queries: int = 32,
        nprobe: int | None = None,
        sample_rate: int | None = None,
    ) -> DataFrame:
        """Measured serving certificate (VERDICT r10 #4): the router
        RECOMMENDS an index from corpus stats (``recommend_index``'s
        decision table); this turns the recommendation into a MEASURED
        operating point — recall@``k`` of the resolved serving strategy
        against exact brute force on a bounded query sample drawn from
        the corpus itself. One sample-sized certification job: the exact
        side is one :func:`knn_join` over ~``n_queries`` queries, the
        index side the strategy's batch search; the corpus is scanned,
        never shuffled, and all state is O(n_queries × k).

        The sample is a deterministic md5 bucket of ``id_col`` (the
        portable-hash discipline every sampling oracle here uses), so the
        certificate — ONE row ``(index_type, n_queries, k, n_hits)`` — is
        bit-reproducible and SQL-oracle-checkable. ``n_hits /
        (n_queries * k)`` is the certified recall; for the ``brute``
        route it equals 1 by construction (brute IS exact), which is
        itself the certificate's statement.

        ``nprobe``: cells probed on the ``ivf`` route; defaults to the
        auto router's recommendation (or 1 outside auto).

        ``sample_rate``: pins the sample's bucket modulus instead of
        deriving it from the corpus size (which is footer-ESTIMATED and
        filter-blind) — a pinned rate makes the certificate's query set a
        pure function of the data, which is what a cross-engine SQL
        replica needs."""
        from .operators.ann import (
            estimate_corpus_rows, recall_certificate,
        )

        itype = (
            self._effective_index_type() if self.use_approx
            else self.index_type
        )
        if sample_rate is not None:
            rate = max(1, int(sample_rate))
        else:
            n = self._auto_n
            if n is None or self._auto_rows_dirty:
                n = estimate_corpus_rows(self._df)
                if n is None:
                    n = self._df.count()
            rate = max(1, int(n) // max(1, int(n_queries)))
        bucket = F.conv(
            F.substring(F.md5(F.col(self.id_col).cast("string")), 1, 15),
            16, 10,
        ).cast("long")
        queries = self._df.filter(F.pmod(bucket, F.lit(rate)) == 0).select(
            F.col(self.id_col).alias("query_id"),
            F.col(self.vector_col).alias("query_vec"),
        )
        exact = K.knn_join(
            self._df, queries, k=k, metric=self.metric,
            vector_col=self.vector_col, id_col=self.id_col,
        )
        if not self.use_approx or itype == "brute":
            approx = exact
            itype = "brute"
        elif itype == "ivfpq":
            raise ValueError(
                f"certify: unsupported index_type {itype!r} — certify "
                "covers the auto router's routes (brute|ivf|two_level) "
                "plus graph; PQ ranking quality is measured by the "
                "knn_pq_recall/knn_ivfpq evals"
            )
        else:
            kw = {}
            if itype == "ivf":
                kw["nprobe"] = nprobe if nprobe is not None else self._nprobe()
            approx = self._live_index(itype).query_batch(
                self._df, queries, k=k, assume_fresh=True, **kw
            )
        return recall_certificate(
            exact, approx, itype, k,
            query_id_col="query_id", id_col=self.id_col,
        )

    # -- listing (reference GET /items, server.py:108-122) -------------------

    def items(self) -> DataFrame:
        """All rows minus the vector column."""
        keep = [c for c in self._df.columns if c != self.vector_col]
        return self._df.select(*keep)

    def count(self) -> int:
        return self._df.count()

    @property
    def df(self) -> DataFrame:
        return self._df

    # -- RAG (reference rag.py via server.py:125-139) ------------------------

    def index_documents(
        self, docs: DataFrame, chunk_size: int = 300,
        text_col: str = "text", id_col: str = "doc_id",
    ) -> "VectorDB":
        """Chunk + embed + insert (reference ``build_rag_index``/
        ``index_documents``, rag.py:27-64)."""
        if self.embeddings is None:
            raise RuntimeError("No embeddings configured")
        chunks = ragmod.build_rag_index(docs, self.embeddings, chunk_size, text_col, id_col)
        incoming = chunks.select(
            F.col("chunk_id").alias(self.id_col),
            F.col("embedding").alias(self.vector_col),
            F.col("chunk").alias("text"),
            F.col(id_col).alias("doc_index"),
            F.col("chunk_index"),
        )
        return self.add_vectors(incoming)

    def answer(self, query: str, k: int = 3) -> dict:
        """Reference ``answer_query`` (rag.py:67-97)."""
        if self.embeddings is None:
            raise RuntimeError("No embeddings configured")
        chunks = self._df.select(
            F.col(self.id_col).alias("chunk_id"),
            F.col(self.vector_col).alias("embedding"),
            F.col("text").alias("chunk"),
        )
        with self._dim_errors():
            return ragmod.answer_query(chunks, self.embeddings, query, k=k, metric=self.metric)

    # -- persistence (reference api.py:174-205) ------------------------------

    def save(self, path: str, mode: str = "overwrite") -> None:
        """Reference contract (api.py:174-189): the store + the use_ann FLAG
        persist; the reference drops the index itself and lazily rebuilds on
        first search after load. Going one better where it costs nothing: a
        BUILT index also persists, under ``<path>/<INDEXES subdir>``; a
        reloaded DB then skips the first-search rebuild (staleness is still
        re-checked there, so a store whose rows changed after the index was
        saved folds in or rebuilds exactly as the reference would).
        ``store.compact()`` rewrites the table directory without the index
        subdir — the next search falls back to the lazy rebuild.

        ``mode="overwrite"`` stages the store AND the index and swaps them
        in as one directory (:func:`~.sources.store.swap_dir`), so saving
        back over the path the DB was loaded from — the reference server's
        load-once, save-per-request loop — is safe. Afterwards the DB reads
        the store it saved, and an index that read the old files reads the
        new ones."""
        cfg = StoreConfig(
            dim=self.dim, metric=self.metric, use_approx=self.use_approx,
            embeddings_class=type(self.embeddings).__name__ if self.embeddings else None,
            id_col=self.id_col, vector_col=self.vector_col,
            index_type=self.index_type,
        )
        idx = self._index if self._index is not None and self._index.built else None
        sub = next((d for c, d in INDEXES.values() if type(idx) is c), None)

        def write(d: str) -> None:
            storemod.write_store(self._df, d, cfg, mode)
            if idx is not None:
                idx.save(os.path.join(d, sub))

        with self._dim_errors():
            if mode != "overwrite":
                write(path)
                return
            moved = idx is not None and idx._reads(os.path.join(path, sub))
            storemod.swap_dir(path, write)
            # (the known schema spares the read a schema-inference job)
            self._df = self.spark.read.schema(self._df.schema).parquet(path)
            if moved:
                idx._attach(self.spark, os.path.join(path, sub))

    @classmethod
    def load(
        cls, spark: SparkSession, path: str, embeddings: Embeddings | None = None
    ) -> "VectorDB":
        """Caller re-supplies the embeddings object, exactly the reference
        contract (api.py:191-205; README.md:160-163). A saved index of the
        configured type is reopened (disk-served, no rebuild); absent or
        unreadable, the lazy-rebuild path applies."""
        df, cfg = storemod.load(spark, path)
        # The serving family is part of the persisted config (a DB
        # constructed with index_type="graph" but saved before any search
        # must reload as "graph", not whatever index dirs happen to exist).
        # Legacy sidecars predate the field: infer from the dirs on disk
        # with the historical precedence (ivfpq > graph > ivf).
        index_type = cfg.index_type
        if index_type is None:
            index_type = next(
                (t for t in ("ivfpq", "graph")
                 if os.path.isdir(os.path.join(path, INDEXES[t][1]))),
                "ivf",
            )
        db = cls(
            spark, dim=cfg.dim, metric=cfg.metric, embeddings=embeddings,
            df=df, id_col=cfg.id_col, vector_col=cfg.vector_col,
            use_approx=cfg.use_approx, index_type=index_type,
        )
        # Only the saved index matching the configured type is attached; a
        # stray dir from another family can no longer override serving
        # behavior across a save/load roundtrip.
        if cfg.use_approx and index_type in INDEXES:
            icls, sub = INDEXES[index_type]
            if os.path.isdir(os.path.join(path, sub)):
                try:
                    db._index = icls.load(spark, os.path.join(path, sub))
                except (OSError, json.JSONDecodeError, KeyError, ValueError):
                    # corrupt/truncated sidecar or partial index dir: fall
                    # back to the lazy-rebuild path as when the dir is absent
                    db._index = None
        return db
