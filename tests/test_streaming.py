from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from notion_spark.streaming.upsert import stream_upsert, windowed_counts


def test_stream_upsert_keep_last(spark, tmp_path):
    src = tmp_path / "incoming"
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = "uid string, status string, updated_time timestamp"

    t = dt.datetime(2026, 1, 1)
    batch1 = spark.createDataFrame(
        [("u1", "to do", t), ("u2", "to do", t), ("u1", "doing", t + dt.timedelta(hours=1))],
        schema,
    )
    src.mkdir()
    batch1.write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 10).parquet(
        str(src / "*")
    )
    q = stream_upsert(stream, store, ckpt, key="uid", order_by_cols=["updated_time"])
    q.awaitTermination(120)

    rows = {r.uid: r for r in spark.read.parquet(store).collect()}
    assert len(rows) == 2
    assert rows["u1"].status == "doing"  # within-batch keep-last

    # second micro-batch updates u2, inserts u3
    batch2 = spark.createDataFrame(
        [("u2", "done", t + dt.timedelta(days=1)), ("u3", "to do", t)], schema
    )
    batch2.write.parquet(str(src / "b2"))
    q2 = stream_upsert(
        spark.readStream.schema(schema).parquet(str(src / "*")),
        store,
        ckpt,
        key="uid",
        order_by_cols=["updated_time"],
    )
    q2.awaitTermination(120)
    rows = {r.uid: r for r in spark.read.parquet(store).collect()}
    assert len(rows) == 3
    assert rows["u2"].status == "done" and rows["u1"].status == "doing"


def test_windowed_counts_batch_semantics(spark):
    # windowed_counts is stream-agnostic column algebra; validate on batch
    t0 = dt.datetime(2026, 1, 5)  # a Monday
    rows = [(t0 + dt.timedelta(days=d), "done") for d in range(10)]
    df = spark.createDataFrame(rows, "completed timestamp, status string")
    out = windowed_counts(df, "completed", "status")
    got = {(r.window_start, r["count"]) for r in out.collect()}
    # 10 consecutive days spanning two ISO weeks: 7 + 3
    assert sorted(c for _, c in got) == [3, 7]


def test_windowed_counts_streaming_with_watermark(spark, tmp_path):
    """Late-data semantics end-to-end: a watermarked streaming aggregate
    over file micro-batches; a record older than the watermark in a later
    batch is dropped from the final (append-mode) results."""
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "ts timestamp, status string"
    t0 = dt.datetime(2026, 1, 5)  # Monday

    from notion_spark.streaming.upsert import windowed_counts

    out_dir = str(tmp_path / "out")

    def run_once(_qname):
        # one availableNow pass over whatever files exist now; the shared
        # checkpoint + file sink make batch order deterministic and
        # recoverable across passes (memory sink can't recover)
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            windowed_counts(stream, "ts", "status", window_duration="1 week", watermark="1 day")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        try:
            return {
                (r.window_start, r["count"]) for r in spark.read.parquet(out_dir).collect()
            }
        except Exception:
            return set()

    # pass 1: three on-time rows — window still open, nothing emitted
    b1 = [(t0 + dt.timedelta(hours=h), "done") for h in range(3)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    assert run_once("wm_p1") == set()

    # pass 2: a row 3 weeks later advances the watermark -> week-1 window
    # closes and is emitted with exactly the 3 on-time rows
    b2 = [(t0 + dt.timedelta(days=21), "done")]
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    out2 = run_once("wm_p2")
    assert {c for _, c in out2} == {3}

    # pass 3: a late week-1 row arrives behind the watermark -> dropped,
    # the sink's cumulative contents don't change
    b3 = [(t0 + dt.timedelta(hours=5), "done")]
    spark.createDataFrame(b3, schema).coalesce(1).write.parquet(str(src / "b3"))
    assert run_once("wm_p3") == out2


def test_stream_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup across micro-batches == batch dropDuplicates
    over the union of all input (within-batch AND cross-batch dups go)."""
    from notion_spark.streaming.dedup import dedup_stream

    src = tmp_path / "docs_src"
    src.mkdir()
    out_dir = str(tmp_path / "deduped")
    schema = "doc_id long, text string"

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            dedup_stream(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.parquet(out_dir)

    b1 = [(1, "alpha text"), (2, "beta text"), (3, "alpha text")]  # in-batch dup
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))
    assert run_once().count() == 2

    b2 = [(4, "alpha text"), (5, "gamma text")]  # cross-batch dup + new
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    got = run_once()
    assert got.count() == 3  # only gamma appended

    batch_equiv = (
        spark.createDataFrame(b1 + b2, schema)
        .withColumn("content_hash", F.md5("text"))
        .dropDuplicates(["content_hash"])
    )
    assert {r.content_hash for r in got.collect()} == {
        r.content_hash for r in batch_equiv.collect()
    }


def test_stream_dedup_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate arriving BEYOND the
    horizon is re-emitted (state for its hash was released) — that
    re-emission is the proof the state is bounded."""
    import datetime as dt

    from notion_spark.streaming.dedup import dedup_stream

    src = tmp_path / "ev_src"
    src.mkdir()
    out_dir = str(tmp_path / "dd_wm")
    schema = "doc_id long, text string, ts timestamp"
    t0 = dt.datetime(2026, 1, 5)

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            dedup_stream(stream, event_col="ts", watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_wm"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        return spark.read.parquet(out_dir).count()

    spark.createDataFrame(
        [(1, "same doc", t0), (2, "same doc", t0 + dt.timedelta(minutes=10))], schema
    ).coalesce(1).write.parquet(str(src / "b1"))
    assert run_once() == 1  # duplicate within horizon suppressed

    # advance the watermark far past the horizon with DIFFERENT content
    # (the watermark moves at the END of a batch, so eviction of the
    # 'same doc' state lands after this pass)
    spark.createDataFrame(
        [(3, "other doc", t0 + dt.timedelta(days=3))], schema
    ).coalesce(1).write.parquet(str(src / "b2"))
    assert run_once() == 2

    # same content again, far beyond the horizon: its state was released,
    # so it re-emits — the proof that per-hash state is bounded
    spark.createDataFrame(
        [(4, "same doc", t0 + dt.timedelta(days=3, minutes=5))], schema
    ).coalesce(1).write.parquet(str(src / "b3"))
    assert run_once() == 3


def test_curation_transforms_are_streaming_safe(spark, tmp_path):
    """Stateless curation ops (PII redaction, stratified sampling) apply
    to readStream frames unchanged and match their batch output."""
    from notion_spark.pipeline import curation as CU

    src = tmp_path / "cur_src"
    src.mkdir()
    out_dir = str(tmp_path / "cur_out")
    schema = "doc_id long, text string, lang string"
    rows = [
        (1, "mail a@b.co now", "en"),
        (2, "ssn 123-45-6789 here", "en"),
        (3, "clean text", "de"),
        (4, "call 555-123-4567", "de"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b1"))

    def xform(df):
        return CU.stratified_sample(
            df, "lang", {"en": 1.0, "de": 1.0}, key_col="doc_id"
        ).select("doc_id", CU.redact_pii("text").alias("clean"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        xform(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cur"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.doc_id, r.clean) for r in spark.read.parquet(out_dir).collect()}
    want = {(r.doc_id, r.clean) for r in xform(spark.createDataFrame(rows, schema)).collect()}
    assert got == want
    assert (2, "ssn <SSN> here") in got


def test_stream_classify_foreachbatch_matches_batch(spark, tmp_path):
    """Streaming model inference: score each micro-batch against a
    STATIC broadcast weight table (the train-offline / score-online
    split). classify()'s per-doc argmax window is not a streaming
    operator, so the realistic envelope is foreachBatch — documents
    are scored batch-at-a-time and the union equals the batch answer
    (per-doc scores depend only on that doc's tokens and the static
    model, never on other stream rows)."""
    from notion_spark.pipeline.classify import classify, train_class_weights

    schema = "doc_id long, text string, lab string"
    rows = [
        (1, "aa bb aa cc", "A"), (2, "bb cc aa aa aa", "A"),
        (3, "zz yy zz xx", "Z"), (4, "yy xx zz zz", "Z"),
    ]
    train = spark.createDataFrame(rows, schema)
    weights = train_class_weights(train, "lab", n_buckets=128)
    weights.cache().count()  # static side, reused every micro-batch

    src = tmp_path / "clf_src"
    src.mkdir()
    out_dir = str(tmp_path / "clf_out")
    spark.createDataFrame(rows[:2], schema).coalesce(1).write.parquet(str(src / "b1"))
    spark.createDataFrame(rows[2:], schema).coalesce(1).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (
        stream.writeStream.foreachBatch(
            lambda bdf, _eid: classify(bdf, weights, n_buckets=128)
            .write.mode("append")
            .parquet(out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_clf"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r.doc_id, r.label) for r in spark.read.parquet(out_dir).collect()}
    want = {
        (r.doc_id, r.label)
        for r in classify(train, weights, n_buckets=128).collect()
    }
    weights.unpersist()
    assert got == want == {(1, "A"), (2, "A"), (3, "Z"), (4, "Z")}
