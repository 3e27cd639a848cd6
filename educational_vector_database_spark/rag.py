"""RAG pipeline: chunk -> embed -> index -> retrieve -> assemble context.

Re-expresses the reference's per-text Python loop (reference src/vectordb/
rag.py:27-52 ``build_rag_index``) as one DataFrame plan: the chunker is a
generated-array ``posexplode`` (no Python), the embedder is one Arrow-batched
pandas UDF hop, and retrieval is the kNN top-k operator. At 100 TB the whole
index build is a single scan->explode->UDF->write pipeline with no shuffle.

Answer semantics (reference rag.py:67-97 ``answer_query``): top-k chunks
best-first, context = texts joined with ``"\\n---\\n"``, answer = placeholder
prefix + context.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .embeddings import Embeddings
from .functions import text as T
from .functions import vector as V
from .operators import knn as K

ANSWER_PREFIX = "This is a placeholder answer. Relevant context:\n"  # rag.py:87-90
CONTEXT_SEP = "\n---\n"  # rag.py:86


def chunk_documents(
    docs: DataFrame,
    chunk_size: int = T.DEFAULT_CHUNK_SIZE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode each document into fixed-size character chunks
    (reference rag.py:17-24, 41-52). Returns ``(doc_id, chunk_index, chunk)``
    — ``doc_id``/``chunk_index`` ≙ the reference's ``doc_index``/``chunk_index``
    chunk metadata (rag.py:45-51)."""
    return docs.select(
        F.col(id_col),
        F.posexplode(T.chunk_array(text_col, chunk_size)).alias("chunk_index", "chunk"),
    )


def build_rag_index(
    docs: DataFrame,
    embeddings: Embeddings,
    chunk_size: int = T.DEFAULT_CHUNK_SIZE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk + embed: the chunks table (reference rag.py:27-52 composed with
    api.py:156-162 ``add_text``). Returns
    ``(doc_id, chunk_index, chunk_id, chunk, embedding)`` where ``chunk_id`` is
    a dense sortable key (doc_id * 100000 + chunk_index). The encoding is
    guarded: a document producing >= 100000 chunks (a ~50 MB doc at the
    500-char default) would collide with the next doc_id's key space and
    corrupt retrieval joins keyed on chunk_id, so that row raises instead
    (executor-side ``raise_error``, no driver-side count needed); bigint
    overflow for astronomically large doc_ids is caught by ANSI mode."""
    chunks = chunk_documents(docs, chunk_size, text_col, id_col)
    return chunks.select(
        id_col,
        "chunk_index",
        F.when(
            F.col("chunk_index") < 100_000,
            F.col(id_col) * 100_000 + F.col("chunk_index"),
        ).otherwise(
            F.raise_error(
                F.format_string(
                    "chunk_id encoding overflow: %s produced chunk_index %s "
                    ">= 100000; re-chunk with a larger chunk_size",
                    F.col(id_col).cast("string"),
                    F.col("chunk_index").cast("string"),
                )
            ).cast("long")
        ).alias("chunk_id"),
        F.col("chunk"),
        embeddings.embed_col("chunk").alias("embedding"),
    )


def retrieve(
    chunks: DataFrame,
    query_vector: Sequence[float],
    k: int = 3,  # reference rag.py:67 default top_k
    metric: str = "cosine",
) -> DataFrame:
    """Top-k chunks for an (already embedded) query — reference rag.py:72-84.
    Returns ``(chunk_id, chunk, score)`` best-first."""
    return K.knn(
        chunks,
        query_vector,
        k=k,
        metric=metric,
        vector_col="embedding",
        id_col="chunk_id",
        extra_cols=("chunk",),
    )


def assemble_context(topk: DataFrame) -> DataFrame:
    """Collapse top-k chunk rows (best-first) into one row
    ``(combined_context, answer)`` — reference rag.py:86-90.

    ``collect_list`` order is nondeterministic after a shuffle, so ordering is
    carried *inside* the collected structs and restored with ``array_sort``
    (SURVEY.md §7.3.4): sort key = (-score, chunk_id)."""
    return topk.agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("score")).alias("neg"),
                                 F.col("chunk_id").alias("cid"),
                                 F.col("chunk").alias("txt"))
                    )
                ),
                lambda s: s["txt"],
            ),
            CONTEXT_SEP,
        ).alias("combined_context")
    ).select(
        "combined_context",
        F.concat(F.lit(ANSWER_PREFIX), F.col("combined_context")).alias("answer"),
    )


def answer_query_df(
    chunks: DataFrame,
    embeddings: Embeddings,
    query: str,
    k: int = 3,
    metric: str = "cosine",
) -> DataFrame:
    """Full RAG answer as ONE DataFrame row — the distributed form of
    :func:`answer_query` (reference rag.py:74-97), carrying the reference's
    complete result shape: ``query``, the ordered chunk list (ids and scores
    as best-first CSV strings — scalar columns hash cross-engine; the chunk
    TEXTS appear best-first inside ``combined_context``), plus
    ``combined_context`` and ``answer``. Retrieval and assembly are one
    Spark plan; nothing is collected driver-side. Ordering is carried
    inside the collected structs and restored with ``array_sort`` (the
    assemble_context discipline), key = (-score, chunk_id)."""
    qv = [float(x) for x in embeddings.embed(query)]
    topk = retrieve(chunks, qv, k=k, metric=metric)
    s = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("score")).alias("neg"),
                F.col("chunk_id").alias("cid"),
                F.col("score").alias("sc"),
                F.col("chunk").alias("txt"),
            )
        )
    )
    return (
        topk.agg(s.alias("s"))
        .select(
            F.lit(query).alias("query"),
            F.size("s").cast("long").alias("n_chunks"),
            F.concat_ws(
                ",", F.transform("s", lambda x: x["cid"].cast("string"))
            ).alias("chunk_ids_csv"),
            F.concat_ws(
                ",",
                F.transform(
                    "s",
                    lambda x: F.floor(x["sc"] * F.lit(1e12))
                    .cast("long")
                    .cast("string"),
                ),
            ).alias("chunk_scores_pico_csv"),
            F.array_join(
                F.transform("s", lambda x: x["txt"]), CONTEXT_SEP
            ).alias("combined_context"),
        )
        .withColumn(
            "answer", F.concat(F.lit(ANSWER_PREFIX), F.col("combined_context"))
        )
    )


def answer_query(
    chunks: DataFrame,
    embeddings: Embeddings,
    query: str,
    k: int = 3,
    metric: str = "cosine",
) -> dict:
    """Full RAG answer — reference rag.py:67-97. The query string is embedded
    driver-side (one string — no single-row Spark job), retrieval and context
    assembly run as one Spark plan, and the result dict mirrors the reference:
    ``{query, chunks: [{id, score, text}], combined_context, answer}``."""
    qv = [float(x) for x in embeddings.embed(query)]
    topk = retrieve(chunks, qv, k=k, metric=metric)
    rows = topk.collect()
    context = CONTEXT_SEP.join(r.chunk for r in rows)
    return {
        "query": query,
        "chunks": [{"id": r.chunk_id, "score": r.score, "text": r.chunk} for r in rows],
        "combined_context": context,
        "answer": ANSWER_PREFIX + context,
    }


def retrieve_diverse(
    chunks: DataFrame,
    query_vector: Sequence[float],
    k: int = 3,
    lam: float = 0.5,
    pool: int = 15,
    metric: str = "cosine",
) -> DataFrame:
    """MMR-selected top-k chunks (operators/mmr.py): relevance top-``pool``
    first, then greedy diversity selection — the retrieve() to reach for
    when near-duplicate chunks would crowd the context window (the dedup
    family exists precisely because corpora are full of them; the
    reference's retrieval is raw similarity order, reference
    src/vectordb/rag.py:72-84). Returns ``(rank, chunk_id, chunk,
    mmr_score)`` in selection order."""
    from .operators import mmr as M

    sel = M.mmr_rerank_join(
        chunks, V.query_frame(chunks.sparkSession, query_vector), k=k,
        lam=lam, pool=pool, metric=metric, id_col="chunk_id",
        vector_col="embedding",
    )
    return (
        sel.join(chunks.select("chunk_id", "chunk"), "chunk_id")
        .select("rank", "chunk_id", "chunk", "mmr_score")
    )


def assemble_context_diverse(selected: DataFrame) -> DataFrame:
    """Collapse MMR-selected chunk rows into the answer_query_df result
    shape, ordered by SELECTION rank (not raw score): ``(n_chunks,
    chunk_ids_csv, mmr_scores_pico_csv, combined_context, answer)``.
    Ordering rides inside the collected structs (the assemble_context
    discipline); scores ship as floor(x*1e12) pico-ints so the string
    column hashes cross-engine."""
    s = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("rank").alias("rk"),
                F.col("chunk_id").alias("cid"),
                F.col("mmr_score").alias("sc"),
                F.col("chunk").alias("txt"),
            )
        )
    )
    return (
        selected.agg(s.alias("s"))
        .select(
            F.size("s").cast("long").alias("n_chunks"),
            F.concat_ws(
                ",", F.transform("s", lambda x: x["cid"].cast("string"))
            ).alias("chunk_ids_csv"),
            F.concat_ws(
                ",",
                F.transform(
                    "s",
                    lambda x: F.floor(x["sc"] * F.lit(1e12))
                    .cast("long")
                    .cast("string"),
                ),
            ).alias("mmr_scores_pico_csv"),
            F.array_join(
                F.transform("s", lambda x: x["txt"]), CONTEXT_SEP
            ).alias("combined_context"),
        )
        .withColumn(
            "answer", F.concat(F.lit(ANSWER_PREFIX), F.col("combined_context"))
        )
    )
