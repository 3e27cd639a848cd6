"""Persistent vector store: parquet table + JSON config sidecar.

The reference persists one pickle of ``{dim, metric, storage, use_ann,
embeddings_class}`` and rewrites the WHOLE file on every insert (reference
src/vectordb/api.py:174-205, src/server.py:47-49, 91). Spark-first replacement:

- vectors -> a parquet directory (columnar, splittable, predicate-pushdown);
- config  -> a small ``_evdb_config.json`` sidecar next to it (dim, metric,
  use_approx, embeddings class name — load re-supplies the embeddings object,
  exactly the reference's contract, api.py:191-205 / README.md:160-163);
- per-write full rewrite -> ``mode("append")`` partition append: an insert at
  100 TB touches only the new files, never the existing data.

Writes bucket by a stable hash of the id column so that downstream self-joins
(dedup, batch kNN by id) can co-locate without a shuffle when read back via the
table API; plain directory reads still work everywhere.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CONFIG_NAME = "_evdb_config.json"
FORMAT_VERSION = 1


@dataclass
class StoreConfig:
    """≙ the reference pickle header (api.py:174-189)."""

    dim: int
    metric: str = "cosine"
    use_approx: bool = False  # ≙ reference use_ann flag
    embeddings_class: str | None = None
    id_col: str = "vec_id"
    vector_col: str = "embedding"
    version: int = FORMAT_VERSION
    # Which ANN family serves queries ("ivf" | "graph" | "ivfpq"). None =
    # legacy sidecar written before the field existed; the loader then falls
    # back to inferring it from which index dirs are present on disk.
    index_type: str | None = None


def _config_path(path: str) -> str:
    return os.path.join(path, CONFIG_NAME)


def swap_dir(path: str, write) -> None:
    """Replace the directory ``path`` with what ``write(stage)`` writes,
    never leaving no ``path`` behind: write a staging dir next to it,
    rename the old directory aside, rename the staging dir in, drop the
    old one. ``write`` may read the files under ``path`` (a store or index
    saved back over its own source), since they stay in place until the
    staging write has finished. Single writer, no concurrent reader: a
    reader racing the two renames sees a missing directory. A crash
    between them leaves only ``path + ".old"``, which :func:`heal` renames
    back; every swap and every load heals first."""
    path = path.rstrip("/")
    stage, old = path + ".stage", path + ".old"
    heal(path)
    for leftover in (stage, old):  # from an earlier swap cut by a crash
        shutil.rmtree(leftover, ignore_errors=True)
    write(stage)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(stage, path)
    shutil.rmtree(old, ignore_errors=True)


def heal(path: str) -> None:
    """Undo a :func:`swap_dir` that a crash cut between its two renames:
    only ``path + ".old"`` is left, so rename it back and the read sees
    the previous version."""
    path = path.rstrip("/")
    if not os.path.exists(path) and os.path.isdir(path + ".old"):
        os.rename(path + ".old", path)


def write_store(df: DataFrame, path: str, config: StoreConfig, mode: str) -> None:
    """The store's files, written in place: parquet + config sidecar."""
    df.write.mode(mode).parquet(path)
    with open(_config_path(path), "w", encoding="utf-8") as f:
        json.dump(asdict(config), f, indent=2)


def save(df: DataFrame, path: str, config: StoreConfig, mode: str = "overwrite") -> None:
    """Write the store (reference ``VectorDB.save``, api.py:174-189).

    ``mode="overwrite"`` goes through :func:`swap_dir`, so a store loaded
    from ``path`` can be saved back over it. ``mode="append"`` is the
    incremental-ingest path (S1/S7->I1 in SURVEY.md): appends new parquet
    files without touching existing ones.
    """
    if mode == "overwrite":
        swap_dir(path, lambda stage: write_store(df, stage, config, mode))
    else:
        write_store(df, path, config, mode)


def load(spark: SparkSession, path: str) -> tuple[DataFrame, StoreConfig]:
    """Read the store back (reference ``VectorDB.load``, api.py:191-205).

    Missing/old sidecars get reference-compatible defaults (metric="cosine",
    use_approx=False — api.py:199-203); dim is inferred from the data."""
    heal(path)
    df = spark.read.parquet(path)
    cfg_file = _config_path(path)
    if os.path.exists(cfg_file):
        with open(cfg_file, encoding="utf-8") as f:
            raw = json.load(f)
        config = StoreConfig(**{k: v for k, v in raw.items() if k in StoreConfig.__dataclass_fields__})
    else:
        first = df.select(F.size("embedding").alias("d")).head()
        config = StoreConfig(dim=int(first.d) if first else 0)
    return df, config


def _drop_table_and_location(spark: SparkSession, table: str) -> None:
    """Make ``saveAsTable(mode="overwrite")`` idempotent ACROSS sessions.

    A fresh SparkSession starts with an empty in-memory catalog, but the
    warehouse DIRECTORY from a previous session survives on disk; the next
    managed-table write then fails with LOCATION_ALREADY_EXISTS even though
    DROP TABLE has nothing to drop. Drop the catalog entry AND delete the
    orphaned location (via the Hadoop FileSystem API so it works on any
    supported filesystem, not just file://)."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    # Managed-table layout: warehouse/<table> for the default database,
    # warehouse/<db>.db/<table> for a qualified name. (The catalog can't be
    # asked — the whole point is the table entry is GONE while its orphaned
    # directory survives from a previous session.)
    parts = [p.strip("`").lower() for p in table.split(".")]
    rel = parts[-1] if len(parts) == 1 else f"{parts[-2]}.db/{parts[-1]}"
    location = warehouse.rstrip("/") + "/" + rel
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(location)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:
        # last-resort local cleanup (e.g. no JVM gateway in a mock session)
        from urllib.parse import urlparse

        local = urlparse(location)
        if local.scheme in ("", "file"):
            shutil.rmtree(local.path or location, ignore_errors=True)


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write as a BUCKETED catalog table (``bucketBy`` + optional
    ``sortBy``).

    Bucketing is the write-time answer to repeated join/agg shuffles: two
    tables bucketed the same way on the join key equi-join with NO Exchange
    (verified in tests — the plan's join reads bucketed scans directly),
    and a self-join (dedup verification, batch kNN by id) co-locates for
    free. At 100 TB, bucketing the vector store by id turns every
    candidate-verification join in operators/dedup.py into a local join.
    Requires the session catalog (saveAsTable) — plain directory reads of
    the same files still work."""
    if mode == "overwrite":
        _drop_table_and_location(df.sparkSession, table)
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def save_as(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite", **options) -> None:
    """Format-generic sink (parquet/json/csv/orc). Parquet is the native
    format; the others exist for interchange — csv/json lose the array
    column's type, so embeddings are serialized via to_json for those."""
    out = df
    if fmt in ("csv", "json"):
        for field in df.schema.fields:
            if field.dataType.simpleString().startswith("array"):
                out = out.withColumn(field.name, F.to_json(field.name))
    out.write.mode(mode).options(**options).format(fmt).save(path)


def compact(spark: SparkSession, path: str, target_files: int = 8) -> int:
    """Small-files maintenance (the OPTIMIZE of every lakehouse): rewrite
    the store's parquet directory into ``target_files`` files through
    :func:`swap_dir` (the same swap as every store and index save), so a
    crash leaves either the original or a recoverable ``.old`` — never no
    store — and a torn earlier swap is healed on entry.

    Why it matters at scale: micro-batch appends (S7/I1) accrete one file
    per batch; a million 100 KB files turn every scan's file listing and
    task scheduling into the bottleneck long before I/O does. Compaction
    is a single repartition job — O(data) once, amortized over every
    subsequent read. Returns the number of data files after compaction.
    The config sidecar is preserved verbatim."""
    heal(path)
    df = spark.read.parquet(path)
    cfg_file = _config_path(path)
    cfg_raw = None
    if os.path.exists(cfg_file):
        with open(cfg_file, encoding="utf-8") as f:
            cfg_raw = f.read()

    def write(stage: str) -> None:
        df.repartition(target_files).write.parquet(stage)
        if cfg_raw is not None:
            with open(_config_path(stage), "w", encoding="utf-8") as f:
                f.write(cfg_raw)

    swap_dir(path, write)
    return sum(
        1 for n in os.listdir(path) if n.endswith(".parquet")
    )


def upsert(existing: DataFrame, updates: DataFrame, key: str = "doc_id") -> DataFrame:
    """MERGE semantics (whole-row upsert): rows from ``updates`` replace
    same-key rows in ``existing``; new keys append. The reference's
    persist-per-write path (ref: src/server.py add_text -> save) only ever
    appends; an engine at scale also needs the replace half.

    Plan: anti join on the (deduplicated, key-only) update keyset — which
    Catalyst broadcasts when small, the overwhelmingly common case — then a
    union. No full-table shuffle: the existing side streams through the
    anti join scan-side. This is the read-model half of copy-on-write; pair
    with a partitioned layout (store_partitioned_by_lang) so the physical
    rewrite touches only affected partitions."""
    keys = updates.select(key).distinct()
    return existing.join(keys, key, "left_anti").unionByName(updates)


def load_or_init(
    spark: SparkSession, path: str, default_config: StoreConfig
) -> tuple[DataFrame, StoreConfig]:
    """Load if the store exists, else an empty frame with the right schema
    (reference ``load_or_init_db``, server.py:35-44)."""
    heal(path)
    if os.path.exists(_config_path(path)) or (
        os.path.isdir(path) and any(n.endswith(".parquet") for n in os.listdir(path))
    ):
        return load(spark, path)
    schema = (
        f"{default_config.id_col} bigint, "
        f"{default_config.vector_col} array<double>, "
        "metadata map<string,string>"
    )
    return spark.createDataFrame([], schema), default_config
