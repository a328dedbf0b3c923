"""Structured Streaming incremental validation: two file drops, exactly-once
micro-batch outputs, resume via Spark's streaming checkpoint."""

import os

from pyspark.sql import functions as F

from valideer_spark.flagship import doc_schema
from valideer_spark.sources import synth_docs
from valideer_spark.sources.docs import DOCS_SCHEMA
from valideer_spark.streaming import IncrementalValidator


def test_incremental_validation(spark, tmp_path):
    input_dir = str(tmp_path / "incoming")
    output_dir = str(tmp_path / "out")
    os.makedirs(input_dir)

    docs = synth_docs(spark, 600)
    first = docs.filter(
        F.regexp_extract("doc_id", r"doc-(\d{12})", 1).cast("long") < 300
    )
    first.coalesce(1).write.mode("append").parquet(input_dir)

    iv = IncrementalValidator(doc_schema(), DOCS_SCHEMA, output_dir)
    verdicts1 = iv.run_available(spark, input_dir)
    batch1_docs = verdicts1.agg(F.sum("n_docs")).collect()[0][0]
    assert batch1_docs == first.count()

    # second drop: only the NEW file is processed (streaming checkpoint)
    second = docs.subtract(first)
    second.coalesce(1).write.mode("append").parquet(input_dir)
    verdicts_all = iv.run_available(spark, input_dir)
    assert verdicts_all.agg(F.sum("n_docs")).collect()[0][0] == 600
    batch_ids = sorted(
        r["batch_id"] for r in verdicts_all.select("batch_id").distinct().collect()
    )
    assert len(batch_ids) == 2

    viol = spark.read.parquet(os.path.join(output_dir, "violations"))
    assert viol.count() > 0
    assert "message" in viol.columns


def test_verdicts_read_back_without_schema_inference(spark, tmp_path, count_jobs):
    """``run_available`` reads the verdict sink with the schema its
    batches write, so a drained re-run starts no Spark job (parquet
    schema inference would start one)."""
    input_dir = str(tmp_path / "incoming")
    synth_docs(spark, 100).coalesce(1).write.parquet(input_dir)
    output_dir = str(tmp_path / "out")
    iv = IncrementalValidator(doc_schema(), DOCS_SCHEMA, output_dir)
    verdicts = iv.run_available(spark, input_dir)
    written = spark.read.parquet(os.path.join(output_dir, "verdicts"))
    assert verdicts.schema == written.schema
    assert verdicts.agg(F.sum("n_docs")).collect()[0][0] == 100

    again, jobs = count_jobs(lambda: iv.run_available(spark, input_dir))
    assert jobs == 0
    assert again.schema == written.schema


def test_stateful_dedup_stream(spark, tmp_path):
    """applyInPandasWithState first-seen dedup: duplicates arriving in a
    LATER micro-batch are dropped (state survives across batches)."""
    import pandas as pd

    input_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    os.makedirs(input_dir)

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.StringType()), T.StructField("text", T.StringType())]
    )

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)

    def run_available():
        from valideer_spark.streaming import dedup_stream

        stream = spark.readStream.schema(schema).parquet(input_dir)
        q = (
            dedup_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir)

    drop([("a", "hello world"), ("b", "hello   WORLD"), ("c", "unique one")])
    out1 = run_available()
    # a and b normalize identically -> one emission (smallest id wins)
    got1 = {r["doc_id"] for r in out1.collect()}
    assert got1 == {"a", "c"}

    # batch 2: re-send a duplicate of batch 1 + one new doc
    drop([("d", "HELLO world"), ("e", "fresh content")])
    out2 = run_available()
    got2 = {r["doc_id"] for r in out2.collect()}
    assert got2 == {"a", "c", "e"}  # d dropped: key seen in batch 1


def test_windowed_counts_with_watermark(spark, tmp_path):
    """Event-time windows + watermark: a window emits once the watermark
    passes its end, and an event arriving behind the watermark is
    dropped (append-mode bounded-state contract)."""
    import datetime as dt

    from pyspark.sql import types as T

    from valideer_spark.streaming import windowed_event_counts

    input_dir = str(tmp_path / "ev_in")
    out_dir = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    os.makedirs(input_dir)
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("event_type", T.StringType())]
    )

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)

    def run_available():
        stream = spark.readStream.schema(schema).parquet(input_dir)
        q = (
            windowed_event_counts(stream, window="10 minutes", watermark="5 minutes")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            return spark.read.parquet(out_dir)
        except Exception:
            return None

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    # batch 1: three clicks in window [00:00, 00:10)
    drop([(t0 + dt.timedelta(minutes=m), "click") for m in (1, 2, 3)])
    run_available()

    # batch 2: an event at 00:30 pushes the watermark to 00:25 (> 00:10,
    # so W1 closes and emits) AND a LATE click at 00:04 that must be
    # dropped — it is behind the watermark established by batch 1? no:
    # watermark after batch 1 is 00:03 - 5m < W1 end, so W1 was NOT
    # emitted in batch 1; the late event in batch 2 arrives while the
    # batch-2 watermark (from batch 1's max 00:03) is still open, so
    # Spark ingests it before advancing — send the straggler in batch 3
    # instead, when the watermark is firmly at 00:25.
    drop([(t0 + dt.timedelta(minutes=30), "view")])
    out2 = run_available()
    w1 = [r for r in out2.collect() if r["window_start"] == t0]
    assert len(w1) == 1 and w1[0]["n"] == 3  # W1 closed with on-time events

    # batch 3: straggler at 00:04 — behind the 00:25 watermark → dropped;
    # and a 01:00 event to advance the watermark past the 00:30 window
    drop([(t0 + dt.timedelta(minutes=4), "click"),
          (t0 + dt.timedelta(minutes=60), "view")])
    out3 = run_available()
    rows = {(r["window_start"], r["event_type"]): r["n"] for r in out3.collect()}
    assert rows[(t0, "click")] == 3  # unchanged: straggler dropped
    assert (t0 + dt.timedelta(minutes=30), "view") in rows  # W: [00:30,00:40)


def test_stateful_dedup_stream_numeric_tiebreak(spark, tmp_path):
    """Within-batch ties resolve in the id column's OWN type ordering: a
    LONG id column must pick the numeric min (669 < 1641), not the
    lexicographic one ('1641' < '669') — regression for the string-cast
    tie-break bug."""
    from pyspark.sql import types as T

    from valideer_spark.streaming import dedup_stream

    input_dir = str(tmp_path / "docs_in")
    out_dir = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    os.makedirs(input_dir)
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    spark.createDataFrame(
        [(1641, "same content"), (669, "same content"), (7, "other")], schema
    ).coalesce(1).write.mode("append").parquet(input_dir)

    stream = spark.readStream.schema(schema).parquet(input_dir)
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert dict(out.dtypes)["doc_id"] == "bigint"
    assert {r["doc_id"] for r in out.collect()} == {669, 7}


def test_dedup_stream_ttl_bounds_state(spark, tmp_path):
    """ttl= evicts keys idle past the TTL (processing-time timeout,
    refreshed per sighting), so the state store stays bounded under a
    replay of disjoint keys per batch — the unbounded-stream safety
    valve. A no-TTL control run over the same replay retains every key.
    State row counts are read directly from the checkpoint with the
    statestore reader (applyInPandasWithState does not populate
    numRowsTotal in progress events). Documented trade-off also
    asserted: a duplicate arriving after its key was evicted re-emits.

    noDataMicroBatches is disabled for speed: with it on, every
    availableNow run spins ~TTL worth of empty batches until even the
    current batch's keys evict (verified once — 525s); with it off,
    expired keys are evicted by the NEXT data batch, which is both fast
    and the assertion that matters (state never exceeds live keys +
    one batch)."""
    import time

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )

    saved = {
        "spark.sql.streaming.noDataMicroBatches.enabled": spark.conf.get(
            "spark.sql.streaming.noDataMicroBatches.enabled"
        ),
        "spark.sql.shuffle.partitions": spark.conf.get(
            "spark.sql.shuffle.partitions"
        ),
    }
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "2")

    try:
        def mk(name, ttl):
            input_dir = str(tmp_path / (name + "_in"))
            out_dir = str(tmp_path / (name + "_out"))
            ckpt = str(tmp_path / (name + "_ckpt"))
            os.makedirs(input_dir)

            def drop(rows):
                spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                    "append"
                ).parquet(input_dir)

            def run_available():
                from valideer_spark.streaming import dedup_stream

                stream = spark.readStream.schema(schema).parquet(input_dir)
                q = (
                    dedup_stream(stream, ttl=ttl)
                    .writeStream.format("parquet")
                    .option("path", out_dir)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(120)
                state_rows = spark.read.format("statestore").load(ckpt).count()
                return spark.read.parquet(out_dir), state_rows

            return drop, run_available

        # identical three-batch disjoint-key replay, with and without TTL
        batches = [
            [("a1", "alpha one"), ("a2", "alpha two")],
            [("b1", "beta one"), ("b2", "beta two")],
            [("c1", "gamma one"), ("c2", "gamma one")],  # in-batch duplicate
        ]
        drop_ttl, run_ttl = mk("ttl", "1 second")
        drop_ctl, run_ctl = mk("ctl", None)

        for rows in batches:
            drop_ttl(rows)
            out_t, n_state_ttl = run_ttl()
            drop_ctl(rows)
            out_c, n_state_ctl = run_ctl()
            time.sleep(1.5)  # > TTL of idleness before the next batch

        # both variants dedup identically (c2 is an in-batch duplicate of c1)
        expected = {"a1", "a2", "b1", "b2", "c1"}
        assert {r["doc_id"] for r in out_t.collect()} == expected
        assert {r["doc_id"] for r in out_c.collect()} == expected

        # control retains every distinct key forever; TTL keeps state bounded:
        # each data batch evicts the prior batches' expired keys, so state
        # never exceeds the current batch's keys
        assert n_state_ctl == 5
        assert n_state_ttl <= 2

        # post-eviction duplicate re-emits (the documented TTL trade-off)
        drop_ttl([("a9", "alpha one")])  # same content as a1, key evicted
        out4, _ = run_ttl()
        assert "a9" in {r["doc_id"] for r in out4.collect()}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
