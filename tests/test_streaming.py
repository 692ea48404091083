"""Structured Streaming semantics tests: incremental equivalence with
batch, watermark late-data finalization (append mode over two
micro-batches), and the custom stateful operator."""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataclass_array_spark.streaming import (
    events_stream,
    run_stream_to_memory,
    running_user_totals_stateful,
    session_window_stats,
    sliding_counts,
    tumbling_counts,
)


def test_tumbling_matches_batch(spark, sf_dir):
    s = events_stream(spark, f"{sf_dir}/events.parquet")
    out, _ = run_stream_to_memory(tumbling_counts(s), mode="complete")
    got = out.agg(F.sum("n")).collect()[0][0]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert got == n_events


def test_sliding_double_counts(spark, sf_dir):
    s = events_stream(spark, f"{sf_dir}/events.parquet")
    out, _ = run_stream_to_memory(sliding_counts(s, "1 hour", "30 minutes"), mode="complete")
    total = out.agg(F.sum("n")).collect()[0][0]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == 2 * n_events  # each event in exactly 2 sliding windows


def test_session_windows_positive_and_bounded(spark, sf_dir):
    s = events_stream(spark, f"{sf_dir}/events.parquet")
    out, _ = run_stream_to_memory(session_window_stats(s), mode="complete")
    pdf = out.toPandas()
    assert (pdf.end_us > pdf.start_us).all()
    assert (pdf.n_events >= 1).all()


def test_stateful_running_totals(spark, sf_dir):
    s = events_stream(spark, f"{sf_dir}/events.parquet")
    out, _ = run_stream_to_memory(running_user_totals_stateful(s), mode="update")
    pdf = out.toPandas().sort_values("user_id")
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("tv"))
        .toPandas()
        .sort_values("user_id")
    )
    # last update per user must equal the batch totals
    last = pdf.groupby("user_id").last().reset_index()
    assert last.n_events.tolist() == batch.n.tolist()
    import numpy as np

    np.testing.assert_allclose(last.total_value.values, batch.tv.values, rtol=1e-9)


def test_watermark_append_two_batches(spark, tmp_path):
    """Append mode + watermark: after batch 1 (late data far in the
    future arrives in batch 2), windows older than the watermark are
    finalized and emitted; a too-late row is dropped."""
    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    sch = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    us = 1_000_000_000  # ns per second... (ts stored in ns like events)
    base = 1_700_000_000 * us

    def write(n, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        spark.createDataFrame(pdf, schema=sch).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        time.sleep(0.1)

    # batch 1: two events in window [0h, 1h)
    write(1, [(1, base, 1, "click", 1.0, "{}"), (2, base + 60 * us, 1, "click", 1.0, "{}")])

    stream = events_stream(spark, d, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.unix_micros(F.col("w.start")).alias("ws"), "n")
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName("wm_test").start()
    q.processAllAvailable()
    # nothing finalized yet (watermark at max_ts - 1h)
    assert spark.table("wm_test").count() == 0

    # batch 2: an event 5 hours later → watermark advances past window 0,
    # which gets finalized and emitted
    write(2, [(3, base + 5 * 3600 * us, 1, "click", 1.0, "{}")])
    q.processAllAvailable()
    # batch 3: a too-late straggler back in window 0 — dropped (state for
    # that window was already evicted past the watermark)
    write(3, [(4, base + 120 * us, 1, "click", 1.0, "{}")])
    q.processAllAvailable()
    q.stop()
    rows = {r["ws"]: r["n"] for r in spark.table("wm_test").collect()}
    first_window = [n for ws, n in rows.items() if ws < base // 1000 + 3600 * 1_000_000]
    assert first_window == [2]  # finalized with the on-time rows only


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (watermarked both sides) must produce
    the same pairs as the equivalent batch range join."""
    from dataclass_array_spark.streaming import purchases_with_recent_clicks

    s = events_stream(spark, f"{sf_dir}/events.parquet")
    joined = purchases_with_recent_clicks(s, "30 minutes")
    out, _ = run_stream_to_memory(joined, mode="append")
    got = out.count()

    from pyspark.sql import functions as FF

    from dataclass_array_spark.workload.base import load_tables

    e = load_tables(spark, sf_dir, ["events"])["events"]
    p = e.filter(FF.col("event_type") == "purchase").select(
        FF.col("user_id").alias("pu"), FF.col("ts").alias("pts")
    )
    c = e.filter(FF.col("event_type") == "click").select(
        FF.col("user_id").alias("cu"), FF.col("ts").alias("cts")
    )
    exp = p.join(
        c,
        FF.expr("pu = cu AND cts >= pts - INTERVAL 30 minutes AND cts < pts"),
    ).count()
    assert got == exp and got > 0


def test_foreach_batch_idempotent_sink(spark, sf_dir, tmp_path):
    """foreachBatch + epoch-id-keyed overwrite: the exactly-once sink
    pattern for non-transactional stores — re-processing an epoch
    overwrites rather than duplicates."""
    out_dir = str(tmp_path / "sink")
    seen = []

    def write_batch(df, epoch_id):
        seen.append(epoch_id)
        (
            df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    s = events_stream(spark, f"{sf_dir}/events.parquet")
    agg = s.groupBy("event_type").count()
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(write_batch)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert seen  # at least one epoch committed
    back = spark.read.parquet(f"{out_dir}/epoch={max(seen)}")
    total = back.agg(F.sum("count")).collect()[0][0]
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert total == n_events


def test_dedup_within_watermark_multi_batch(spark, tmp_path):
    """Re-deliveries of a key within the delay are suppressed even when
    they arrive in different micro-batches (state carried across)."""
    import pandas as pd
    import pyspark.sql.functions as F
    from dataclass_array_spark.streaming.core import (
        dedup_within_watermark,
        run_stream_to_memory,
    )
    from pyspark.sql import types as T

    d = tmp_path / "in"
    d.mkdir()
    # two files -> two micro-batches with maxFilesPerTrigger=1
    pd.DataFrame({"k": [1, 2], "ts_us": [1_000_000, 2_000_000]}).to_parquet(d / "a.parquet")
    pd.DataFrame({"k": [1, 3], "ts_us": [3_000_000, 4_000_000]}).to_parquet(d / "b.parquet")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ts_us", T.LongType())]
    )
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts", F.timestamp_micros("ts_us"))
    )
    out, _ = run_stream_to_memory(
        dedup_within_watermark(s, ["k"], "ts", "1 hour").select("k"), mode="append"
    )
    assert sorted(r["k"] for r in out.collect()) == [1, 2, 3]


def test_run_stream_conf_restored_and_query_stopped_on_failure(spark, tmp_path):
    """run_stream_to_memory scopes spark.sql.shuffle.partitions to the
    run by mutating the session conf; both exception paths must restore
    it AND not leak a running query: (a) start() itself fails (bad
    output mode), (b) the stream fails mid-run (runtime error in a
    micro-batch).  A follow-up run on the same session must see the
    original width (not poisoned)."""
    d = tmp_path / "in"
    d.mkdir()
    pd.DataFrame({"k": [1, 2], "ts_us": [1_000_000, 2_000_000]}).to_parquet(
        d / "a.parquet"
    )
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("ts_us", T.LongType())]
    )

    def stream():
        return spark.readStream.schema(schema).parquet(str(d))

    before = spark.conf.get("spark.sql.shuffle.partitions")

    # (a) start() rejects: complete mode without aggregation
    with pytest.raises(Exception):
        run_stream_to_memory(stream(), mode="complete", state_partitions=4)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert len(spark.streams.active) == 0

    # (b) micro-batch blows up at runtime: assert_true on the data
    bad = stream().select(F.assert_true(F.col("k") > 100).alias("x"), "k")
    with pytest.raises(Exception):
        run_stream_to_memory(bad, mode="append", state_partitions=4)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert len(spark.streams.active) == 0

    # (c) q.stop() itself raises (e.g. a stopTimeout expiring): the
    # conf restore is nested in its own finally, so the width must
    # come back even then (ADVICE r10)
    from pyspark.sql.streaming import query as _qmod

    real_stop = _qmod.StreamingQuery.stop

    def boom_stop(self):
        real_stop(self)
        raise RuntimeError("boom-stop")

    _qmod.StreamingQuery.stop = boom_stop
    try:
        with pytest.raises(RuntimeError, match="boom-stop"):
            run_stream_to_memory(
                stream().groupBy("k").count(), mode="complete", state_partitions=4
            )
    finally:
        _qmod.StreamingQuery.stop = real_stop
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert len(spark.streams.active) == 0

    # session not poisoned: a normal run still works and restores
    out, _ = run_stream_to_memory(
        stream().groupBy("k").count(), mode="complete", state_partitions=4
    )
    assert out.count() == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_from_spark_written_parquet_directory(spark, sf_dir, tmp_path):
    """Regression (round-4 sf1 crash): a Spark-WRITTEN table is a
    DIRECTORY named ``*.parquet``; the streaming sources must read it
    directly instead of routing it through parent-dir + pathGlobFilter
    (which matches zero files inside and yields a silently EMPTY stream)."""
    from dataclass_array_spark.streaming import documents_stream, tumbling_counts

    # Spark-write both tables as *.parquet DIRECTORIES (the sf1 shape)
    ddir = str(tmp_path / "documents.parquet")
    spark.read.parquet(f"{sf_dir}/documents.parquet").write.parquet(ddir)
    edir = str(tmp_path / "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(edir)

    s = documents_stream(spark, ddir)
    out, _ = run_stream_to_memory(s.groupBy("lang").count(), mode="complete")
    got = out.agg(F.sum("count")).collect()[0][0]
    assert got == spark.read.parquet(ddir).count() and got > 0

    es = events_stream(spark, edir)
    eout, _ = run_stream_to_memory(tumbling_counts(es), mode="complete")
    egot = eout.agg(F.sum("n")).collect()[0][0]
    assert egot == spark.read.parquet(edir).count() and egot > 0


def test_events_stream_definable_before_data(spark, tmp_path):
    """A stream over a not-yet-populated directory must be definable
    (falls back to the canonical schema instead of throwing at
    definition time), and must pick up files that arrive later."""
    d = str(tmp_path / "incoming")
    os.makedirs(d)
    s = events_stream(spark, d)  # no files yet — must not raise
    assert s.isStreaming
    ts = pd.Timestamp("2023-11-14 22:13:20")
    pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": [ts, ts + pd.Timedelta(minutes=1)],
            "user_id": [1, 1],
            "event_type": ["click", "click"],
            "value": [1.0, 2.0],
            "props": ["{}", "{}"],
        }
    ).to_parquet(os.path.join(d, "a.parquet"))
    out, _ = run_stream_to_memory(s.groupBy("event_type").count(), mode="complete")
    assert out.collect()[0]["count"] == 2


def test_events_stream_sniff_failure_modes(spark, tmp_path):
    """Schema-sniff fallback is reserved for 'no files yet' (empty or
    missing path); any OTHER sniff failure — e.g. a corrupt footer —
    must raise instead of silently freezing the canonical schema over
    real-but-unreadable data."""
    import pytest as _pytest

    from dataclass_array_spark.streaming import events_stream

    empty = tmp_path / "empty"
    empty.mkdir()
    s = events_stream(spark, str(empty))
    assert len(s.schema) == 7  # canonical fallback applied

    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "x.parquet").write_text("not parquet")
    with _pytest.raises(Exception) as exc:
        events_stream(spark, str(corrupt))
    assert "AnalysisException" not in type(exc.value).__name__ or "FOOTER" in str(
        exc.value
    )


def test_bloom_stream_equals_batch_filter(spark, sf_dir, tmp_path):
    """Streaming bloom (per-batch position tables, DISTINCT-union
    merge) equals the one-shot batch filter as a position SET, even
    with multi-batch ingestion (maxFilesPerTrigger=1 over a 3-file
    copy)."""
    from dataclass_array_spark.operators.sketch import bloom_build
    from dataclass_array_spark.streaming import bloom_stream

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("key")
    ).filter(F.col("key") % 7 == 0)
    # split into 3 files so availableNow sees several batches
    src = tmp_path / "keys"
    o.repartition(3).write.parquet(str(src))
    s = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = bloom_stream(
        s, "key",
        output_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        n_bits=1 << 16, k=5,
    )
    want = bloom_build(o, "key", n_bits=1 << 16, k=5)
    assert {r["pos"] for r in got.collect()} == {r["pos"] for r in want.collect()}


def test_countmin_stream_replay_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once; SUM-merged sketch counts are not
    naturally replay-safe (unlike HLL MAX / bloom UNION), so
    countmin_stream writes each batch to its own batch=<id> partition
    with overwrite.  This test (a) checks the merged stream sketch
    equals the one-shot batch sketch cell-for-cell across multiple
    micro-batches, (b) simulates a crash-replayed micro-batch by
    re-overwriting one batch partition the way a replay would and
    asserts the merged counts DO NOT double."""
    from dataclass_array_spark.operators.sketch import countmin_build
    from dataclass_array_spark.streaming import countmin_stream

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        (F.col("o_orderkey") % 97).cast("string").alias("t")
    )
    src = tmp_path / "items"
    o.repartition(3).write.parquet(str(src))
    s = (
        spark.readStream.schema("t string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "out"
    got = countmin_stream(
        s, "t", output_dir=str(out), checkpoint_dir=str(tmp_path / "ckpt"),
        depth=4, width=256,
    )
    want = countmin_build(o, "t", depth=4, width=256)
    as_map = lambda df: {(r["j"], r["bucket"]): r["cnt"] for r in df.collect()}
    merged0 = as_map(got)
    assert merged0 == as_map(want)

    # every child of output_dir must be a batch=<id> partition dir
    batch_dirs = sorted(p for p in out.iterdir() if p.is_dir())
    assert batch_dirs and all(p.name.startswith("batch=") for p in batch_dirs)
    assert len(batch_dirs) >= 2  # maxFilesPerTrigger=1 over 3 files

    # crash replay of the first micro-batch: recompute its partial and
    # overwrite its partition (exactly what _process does on replay)
    replay = batch_dirs[0]
    partial = spark.read.parquet(str(replay)).collect()
    pdf = spark.createDataFrame(partial, "j int, bucket long, cnt long")
    pdf.write.mode("overwrite").parquet(str(replay))
    remerged = as_map(
        spark.read.parquet(str(out))
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    assert remerged == merged0


def test_ngram_counts_stream_equals_batch_and_replay_idempotent(
    spark, sf_dir, tmp_path
):
    """Streaming n-gram counts: (a) the SUM-merged stream result must
    equal the one-shot batch aggregation exactly across multiple
    micro-batches; (b) a crash-replayed micro-batch (re-overwriting its
    batch=<id> partition) must not double-count (the countmin_stream
    replay discipline)."""
    from dataclass_array_spark.operators.text import _ngram_instances
    from dataclass_array_spark.streaming import ngram_counts_stream

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = tmp_path / "docs"
    d.repartition(3).write.parquet(str(src))
    s = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = tmp_path / "out"
    got = ngram_counts_stream(
        s, "text",
        output_dir=str(out), checkpoint_dir=str(tmp_path / "ckpt"), n=3,
    )
    want = (
        _ngram_instances(d, "text", "doc_id", 3)
        .filter(F.col("pos").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").cast("long").alias("c"))
    )
    as_map = lambda df: {
        (r["w1"], r["w2"], r["w3"]): r["c"] for r in df.collect()
    }
    merged0 = as_map(got)
    assert merged0 == as_map(want)

    batch_dirs = sorted(p for p in out.iterdir() if p.is_dir())
    assert batch_dirs and all(p.name.startswith("batch=") for p in batch_dirs)
    assert len(batch_dirs) >= 2

    # crash replay: re-overwrite the first batch partition the way
    # _process does on an at-least-once redelivery (materialize the
    # partial first — Spark cannot overwrite a path it is lazily
    # reading from)
    replay = batch_dirs[0]
    partial = spark.read.parquet(str(replay)).collect()
    spark.createDataFrame(
        partial, "w1 string, w2 string, w3 string, c long"
    ).write.mode("overwrite").parquet(str(replay))
    merged1 = as_map(
        spark.read.parquet(str(out))
        .groupBy("w1", "w2", "w3")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    assert merged1 == merged0


def test_ngram_counts_stream_rejects_bad_n(spark, tmp_path):
    from dataclass_array_spark.streaming import ngram_counts_stream

    s = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path)
    )
    with pytest.raises(ValueError, match="n must be 2 or 3"):
        ngram_counts_stream(s, "text", "o", "c", n=4)


def test_ngram_counts_stream_rejects_cleared_output(spark, tmp_path):
    """Round-14 ADVICE: the INVERSE of the stale-output guard — an
    existing checkpoint whose committed batches' output partitions are
    gone means availableNow would SKIP those batches and the SUM-merge
    silently UNDERcounts.  Must fail loudly instead."""
    import shutil

    from dataclass_array_spark.streaming import ngram_counts_stream

    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e"), (3, "c d e f")],
        "doc_id long, text string",
    )
    src = tmp_path / "docs"
    d.repartition(2).write.parquet(str(src))
    s = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    got = ngram_counts_stream(
        s, "text", output_dir=str(out), checkpoint_dir=str(ckpt),
        n=2,
    )
    assert got.count() > 0
    shutil.rmtree(out)
    s2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    with pytest.raises(ValueError, match="output partitions are missing"):
        ngram_counts_stream(
            s2, "text", output_dir=str(out),
            checkpoint_dir=str(ckpt), n=2,
        )


def test_kn3_stream_score_equals_batch(spark, sf_dir, tmp_path):
    """Streaming-refreshed KN LM == one-shot batch self-scoring,
    BIT-FOR-BIT, across multiple micro-batches (counts are additive;
    every KN statistic derives from the count table)."""
    from dataclass_array_spark.operators.text import kneser_ney3_xent_scores
    from dataclass_array_spark.streaming import kn3_stream_score

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = tmp_path / "docs"
    d.repartition(3).write.parquet(str(src))
    s = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in kn3_stream_score(
            s, d, "text", "doc_id",
            output_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).collect()
    }
    want = {
        r["doc_id"]: (r["n_trigrams"], r["xent_nats"])
        for r in kneser_ney3_xent_scores(d, "text", "doc_id").collect()
    }
    assert got == want


def test_ngram_counts_stream_rejects_partial_output_deletion(spark, tmp_path):
    """Round-14 review: the guard must be exact — ONE deleted committed
    batch partition among several must fail loudly, not just a fully
    cleared output_dir."""
    import shutil

    from dataclass_array_spark.streaming import ngram_counts_stream

    d = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d"), (3, "c d e"), (4, "d e f")],
        "doc_id long, text string",
    )
    src = tmp_path / "docs"
    d.repartition(3).write.parquet(str(src))
    s = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    ngram_counts_stream(
        s, "text", output_dir=str(out), checkpoint_dir=str(ckpt),
        n=2,
    ).count()
    batch_dirs = sorted(p for p in out.iterdir() if p.name.startswith("batch="))
    assert len(batch_dirs) >= 2
    shutil.rmtree(batch_dirs[0])  # delete ONE committed partition
    s2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    with pytest.raises(ValueError, match="output partitions are missing"):
        ngram_counts_stream(
            s2, "text", output_dir=str(out),
            checkpoint_dir=str(ckpt), n=2,
        )


def test_ngram_counts_stream_detects_purged_commit_listing(spark, tmp_path):
    """Round-15 ADVICE: Spark purges commit-log entries beyond
    minBatchesToRetain, so an old committed batch can vanish from the
    commits/ LISTING while its data is still required.  Commit ids are
    contiguous from 0, so the guard must check batch=<id> partitions
    for ALL ids 0..max(listed), not just the retained listing."""
    from dataclass_array_spark.streaming import ngram_counts_stream

    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    # simulate a long-lived checkpoint whose entries 0..1 were purged:
    # only commit id 2 is listed, and only ITS output partition exists
    (ckpt / "commits").mkdir(parents=True)
    (ckpt / "commits" / "2").write_text("v1")
    (out / "batch=2").mkdir(parents=True)
    (out / "batch=2" / "part-0.parquet").write_text("")
    (tmp_path / "src").mkdir()
    s = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path / "src")
    )
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        ngram_counts_stream(
            s, "text", output_dir=str(out),
            checkpoint_dir=str(ckpt), n=2,
        )
