"""Structured Streaming tests: watch-folder ingest, exactly-once resume,
watermark windows, stateful sessionization."""

import json
import os

from pyspark.sql import functions as F

from educational_vector_database_spark.embeddings import DummyEmbeddings
from educational_vector_database_spark.streaming import ingest as I
from educational_vector_database_spark.streaming import windows as W


def _write_docs(path, docs, name):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")


def test_ingest_availablenow_and_incremental_resume(spark, tmp_path):
    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    emb = DummyEmbeddings(dim=8)
    _write_docs(in_dir, [{"doc_id": 1, "text": "a" * 450}, {"doc_id": 2, "text": "b" * 100}], "b0.json")

    I.run_ingest(spark, in_dir, out_dir, ck, emb, chunk_size=300)
    got = spark.read.parquet(out_dir)
    assert got.count() == 3  # 450 chars -> 2 chunks, 100 -> 1
    assert set(got.columns) == {"doc_id", "chunk_index", "chunk_id", "chunk", "embedding"}
    assert len(got.head().embedding) == 8

    # second run with NEW file: only the delta is processed (checkpoint),
    # sink is append-only — old rows survive, no duplicates of batch 0
    _write_docs(in_dir, [{"doc_id": 3, "text": "c" * 10}], "b1.json")
    I.run_ingest(spark, in_dir, out_dir, ck, emb, chunk_size=300)
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 4
    assert got2.filter("doc_id = 1").count() == 2  # not reprocessed/duplicated

    # streaming output equals the batch pipeline on the same input (unified
    # batch/stream semantics — same logical plan)
    from educational_vector_database_spark import rag

    batch_docs = spark.read.json(in_dir, schema=I.DOCS_DDL)
    batch = rag.build_rag_index(batch_docs, emb, chunk_size=300)
    assert sorted(r.chunk_id for r in got2.collect()) == sorted(
        r.chunk_id for r in batch.collect()
    )


def test_ingest_foreach_batch_sink(spark, tmp_path):
    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    _write_docs(in_dir, [{"doc_id": 7, "text": "x" * 350}], "b0.json")
    seen = []

    def sink(df, batch_id):
        seen.append((batch_id, df.count()))

    I.run_ingest_foreach_batch(
        spark, in_dir, ck, DummyEmbeddings(dim=4), sink, chunk_size=300
    )
    assert seen == [(0, 2)]


def test_dedup_stream_across_batches(spark, tmp_path):
    in_dir, out_dir, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    _write_docs(in_dir, [{"doc_id": 1, "text": "same"}, {"doc_id": 2, "text": "same"},
                         {"doc_id": 3, "text": "other"}], "b0.json")
    docs = I.stream_documents(spark, in_dir)
    q = (
        I.dedup_stream(docs)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    first = spark.read.parquet(out_dir)
    assert first.count() == 2  # one of the two 'same' docs dropped

    # the SAME content arriving in a later batch is dropped by streaming state
    _write_docs(in_dir, [{"doc_id": 9, "text": "same"}, {"doc_id": 10, "text": "new"}], "b1.json")
    q = (
        I.dedup_stream(I.stream_documents(spark, in_dir))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    texts = [r.text for r in spark.read.parquet(out_dir).collect()]
    assert sorted(texts) == ["new", "other", "same"]


def _event_stream(spark, tmp_path, rows):
    """File-source event stream with (user_id, ts_us, event_type, value)."""
    in_dir = str(tmp_path / "events_in")
    _write_docs(in_dir, rows, "e0.json")
    return spark.readStream.schema(
        "user_id bigint, ts_us bigint, event_type string, value double"
    ).json(in_dir)


HOUR_US = 3600 * 1_000_000


def test_hourly_counts_watermark_stream(spark, tmp_path):
    rows = [
        {"user_id": 1, "ts_us": 10 * HOUR_US + 5, "event_type": "click", "value": 1.0},
        {"user_id": 2, "ts_us": 10 * HOUR_US + 9, "event_type": "click", "value": 2.0},
        {"user_id": 1, "ts_us": 11 * HOUR_US + 1, "event_type": "view", "value": 3.0},
        # sentinel far in the future: advances the watermark past hours 10-11
        # so append mode EMITS those closed windows (its own window stays open
        # and is correctly absent from the output)
        {"user_id": 9, "ts_us": 20 * HOUR_US, "event_type": "sentinel", "value": 0.0},
    ]
    ev = _event_stream(spark, tmp_path, rows).withColumn(
        "event_time", F.timestamp_micros("ts_us")
    )
    q = (
        W.hourly_counts(ev)
        .writeStream.format("memory")
        .queryName("hourly_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {
        (r.window_start.hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from hourly_t").collect()
    }
    assert out == {(10, "click"): (2, 3.0), (11, "view"): (1, 3.0)}


def test_sessionize_stateful_closes_on_gap(spark, tmp_path):
    rows = [
        {"user_id": 1, "ts_us": 0, "event_type": "a", "value": 0.0},
        {"user_id": 1, "ts_us": 60 * 1_000_000, "event_type": "a", "value": 0.0},
        # > 30 min gap -> first session closes
        {"user_id": 1, "ts_us": 3 * HOUR_US, "event_type": "a", "value": 0.0},
        {"user_id": 2, "ts_us": 0, "event_type": "a", "value": 0.0},
    ]
    ev = _event_stream(spark, tmp_path, rows)
    q = (
        W.sessionize_stateful(ev.select("user_id", "ts_us"))
        .writeStream.format("memory")
        .queryName("sess_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    closed = [tuple(r) for r in spark.sql("select * from sess_t").collect()]
    # only user 1's first session closed (2 events, 0..60s); open sessions stay in state
    assert closed == [(1, 0, 2, 0, 60 * 1_000_000)]


def test_hourly_counts_batch_stream_parity(spark, sf_dir):
    """The windowed aggregate is one definition for batch AND stream: running
    it in batch mode over the events table must agree with the plain groupBy
    formulation used by the declared events_hourly query."""
    from educational_vector_database_spark.session import load_table, ts_micros

    ev = W.with_event_time(load_table(spark, sf_dir, "events"))
    windowed = {
        (str(r.window_start), r.event_type): r.n_events
        for r in W.hourly_counts(ev).collect()
    }
    plain = {
        (str(r.h), r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("hour", "event_time").alias("h"), "event_type"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert windowed == plain


def test_stream_sessionize_matches_batch_closed_sessions(spark, sf_dir):
    """The declared stream_events_sessionize query (applyInPandasWithState
    drain) must emit exactly the batch-derived closed sessions: sessionize
    with the window/lag formulation, then drop each user's last session."""
    from pyspark.sql import Window

    import __spark_entry__ as entry

    streamed = {
        tuple(r)
        for r in entry.queries()["stream_events_sessionize"](spark, sf_dir).collect()
    }

    from educational_vector_database_spark.session import load_table, ts_micros

    _e = load_table(spark, sf_dir, "events")
    e = _e.withColumn("ts_us", ts_micros(_e))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    sess = (
        e.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_us").alias("start_us"),
            F.max("ts_us").alias("end_us"),
        )
    )
    mx = Window.partitionBy("user_id")
    batch_closed = {
        (r.user_id, r.session_id - 1, r.n_events, r.start_us, r.end_us)
        for r in sess.withColumn("max_sid", F.max("session_id").over(mx))
        .filter(F.col("session_id") < F.col("max_sid"))
        .drop("max_sid")
        .collect()
    }
    assert streamed == batch_closed


def test_stream_table_reads_part_files_through_a_uri(spark, sf_dir, tmp_path):
    """A table stored as a directory of part files streams every row
    whether the sf dir is a plain path or a URI (here file://; hdfs:// and
    s3a:// go the same Hadoop FileSystem route). A layout test through
    os.path reads a URI as absent and takes the single-file name glob,
    which streams zero rows with no error."""
    import shutil

    import __spark_entry__ as entry

    part_dir = tmp_path / "parts" / "events.parquet"
    part_dir.mkdir(parents=True)
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                part_dir / "part-00000.parquet")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema

    def drain(d, name):
        q = (entry._stream_table(spark, d, "events", schema).writeStream
             .format("memory").queryName(name)
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.table(name).count()

    assert drain(str(tmp_path / "parts"), "parts_plain") == 1000
    assert drain((tmp_path / "parts").as_uri(), "parts_uri") == 1000


def test_stream_partitions_sized_the_same_through_a_uri(spark, sf_dir,
                                                         tmp_path, monkeypatch):
    """The stateful drains size their shuffle partitions from the source
    bytes. A URI to the same files (here file://; hdfs:// and s3a:// go the
    same Hadoop FileSystem route) must size like the plain path, in both
    table layouts; with no source file found the session's own count
    stays, never 1."""
    import shutil

    import __spark_entry__ as entry

    monkeypatch.setattr(entry, "STREAM_SHUFFLE_TARGET_BYTES", 1024)

    def parts(d, *tables):
        with entry._stream_shuffle_scaled(spark, d, *tables):
            return int(spark.conf.get("spark.sql.shuffle.partitions"))

    part_dir = tmp_path / "parts" / "events.parquet"  # directory layout
    part_dir.mkdir(parents=True)
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                part_dir / "part-00000.parquet")
    (part_dir / "_SUCCESS").write_text("")

    plain = parts(sf_dir, "events", "documents")
    assert plain > 1
    assert parts("file://" + sf_dir, "events", "documents") == plain
    one = parts(sf_dir, "events")
    assert parts(str(tmp_path / "parts"), "events") == one
    assert parts((tmp_path / "parts").as_uri(), "events") == one
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert parts(str(tmp_path / "absent"), "events") == default
