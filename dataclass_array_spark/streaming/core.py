"""Streaming primitives over the events table.

Scale notes: streaming aggregations shuffle on the group key exactly like
batch; state lives in the state store keyed by (group, window).  The
watermark bounds state size — without it a 100 TB/day stream would
accumulate state forever.  Session windows use Spark's native
``session_window`` (state-store merged), and custom state uses
``applyInPandasWithState`` (Arrow-batched per group).
"""

from __future__ import annotations

import os
import uuid
from typing import Iterator, Tuple

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _parquet_stream(reader, path: str) -> DataFrame:
    """Point a streaming reader at a parquet source that may be either a
    single FILE named ``*.parquet`` (the driver's testdata shape) or a
    Spark-written DIRECTORY named ``*.parquet`` (any ``.write.parquet``
    output — e.g. the generated sf1 tables).  The file source accepts a
    directory natively; only a true single file needs the parent-dir +
    ``pathGlobFilter`` trick.  Routing a *directory* through the glob
    matches zero files inside it and the stream completes with zero
    micro-batches — a silent-empty-results bug (round-4 sf1 crash)."""
    if path.endswith(".parquet") and os.path.isfile(path):
        d, fname = os.path.split(path)
        reader = reader.option("pathGlobFilter", fname)
        path = d
    return reader.parquet(path)


# Default events schema (the canonical testdata shape, ts in MICROS).
# Used only when the source path has no files yet — the file source
# requires a schema before any data arrives.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of the events table with the same ts
    normalization as the batch loader (ts_us long + micros timestamp).

    The file source requires an explicit schema, and the physical type
    of ``ts`` varies by testdata drop (TIMESTAMP(NANOS)→long under the
    legacy conf, or TIMESTAMP(MICROS)→timestamp_ntz), so the schema is
    sniffed from the parquet footer via a batch read — a driver-only
    metadata operation, no data scan.  If the path is empty/missing at
    definition time (stream declared before data arrives) the canonical
    MICROS schema is assumed; note the sniffed schema is frozen at
    definition time either way — files appearing later must match it."""
    from dataclass_array_spark.workload.base import normalize_events_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = spark.read.parquet(path).schema
    except AnalysisException as e:
        # Only "no files yet" may fall back to the canonical schema; any
        # other sniff failure (corrupt footer, permission error) must
        # surface — freezing the default over real-but-unreadable nanos
        # data would silently yield an empty/mismatched stream, the same
        # bug class the _parquet_stream directory fix closed.
        if e.getCondition() not in (
            "PATH_NOT_FOUND",
            "UNABLE_TO_INFER_SCHEMA",
        ):
            raise
        schema = EVENTS_RAW_SCHEMA
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_events_ts(_parquet_stream(reader, path))


def dedup_within_watermark(
    stream: DataFrame, keys: list, ts_col: str = "ts", delay: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: suppress re-deliveries of the same key
    whose event times fall within the watermark delay of each other
    (``dropDuplicatesWithinWatermark``).  State is evicted as the
    watermark advances, so memory is bounded by the number of distinct
    keys inside one delay window — the at-least-once -> exactly-once
    repair stage of an ingestion pipeline."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def run_stream_to_memory(
    out: DataFrame,
    mode: str = "complete",
    name: str | None = None,
    state_partitions: int | None = 8,
) -> Tuple[DataFrame, str]:
    """Drive a (finite file-source) streaming frame to completion through
    a memory sink; returns the result as a batch DataFrame.  This is how
    the streaming workload queries produce oracle-comparable output.

    The memory sink pins ALL result rows in DRIVER memory under the
    registered table, and nothing ever dropped them — at sf1 the dedup
    gate leaves ~1M rows per invocation, so repeated bench passes
    accumulated driver heap until every later streaming query slowed
    down (measured: back-to-back sf1 reruns degraded 10s → 17s).  The
    finished sink is therefore materialized once into a local
    checkpoint (block-manager storage, disk-spillable, freed by the
    ContextCleaner when the returned frame is garbage-collected) and
    the sink table dropped immediately.

    ``state_partitions`` bounds ``spark.sql.shuffle.partitions`` for the
    DURATION OF THE STREAM RUN only (restored afterwards; the value is
    captured at query start and pinned by the checkpoint).  For stateful
    operators this is the number of state-store INSTANCES — each one
    pays open/commit/snapshot overhead per micro-batch, so a
    few-micro-batch local run at width 32 spends most of its wall on
    store bookkeeping: the round-9 triage measured the sf0.1
    stream-stream join at 7.5 s warm with 32 partitions vs 2.7 s with 8
    (RocksDB vs HDFS provider was a wash at this state size — see
    PERF.md).  At 100 TB this knob goes the OTHER way: size it to the
    executor count once at job birth (it is frozen into the checkpoint)
    and pair it with the RocksDB state store provider so per-executor
    state lives off-heap — results are partitioning-invariant either
    way (hash-partitioned stateful ops), which the oracle gates verify.

    Stateful correctness is partition-count-independent, so the local
    default of 8 changes no results — only where state rows hash.

    CONCURRENCY CAVEAT: the width is scoped by mutating the
    SESSION-GLOBAL ``spark.sql.shuffle.partitions`` for the duration of
    the run (restored in a ``finally``, and the query is stopped there
    too, so an exception mid-run leaks neither).  A batch query planned
    on the same session WHILE a stream is driving will therefore see
    the narrow width.  The workload and bench are sequential so this
    never bites here; a caller who needs concurrent batch work should
    hand this function a frame built on ``spark.newSession()`` (shares
    the SparkContext, isolated conf)."""
    name = name or f"stream_{uuid.uuid4().hex[:8]}"
    spark = out.sparkSession
    restore = None
    if state_partitions is not None:
        restore = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(int(state_partitions)))
    q = None
    try:
        q = (
            out.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
    finally:
        try:
            if q is not None:
                q.stop()
        finally:
            if restore is not None:
                spark.conf.set("spark.sql.shuffle.partitions", restore)
    from dataclass_array_spark.core.table import pin_materialization

    result = pin_materialization(spark.table(name), "local")
    spark.catalog.dropTempView(name)
    return result, name


_DEC = "decimal(25,6)"


def _dec_sum_double(c: Column) -> Column:
    """Exact decimal sum → double via the floor-split (mirrors
    ``workload.base._dec_to_double``; round 9 — a direct decimal→double
    cast double-rounds past 2^53 scaled units and the two engines round
    differently there)."""
    s = F.sum(c.cast(_DEC))
    f = F.floor(s)
    return f.cast("double") + (s - f).cast("double")


def tumbling_counts(stream: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts per event type (watermarked: state for a
    window is dropped once the watermark passes its end)."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            _dec_sum_double(F.col("value")).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(stream: DataFrame, width: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding windows — each event lands in width/slide windows."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
        )
    )


def session_window_stats(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native state-store session windows per user (gap-merged)."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            _dec_sum_double(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            F.unix_micros(F.col("w.end")).alias("end_us"),
            "n_events",
            "sum_value",
        )
    )


# ---- custom stateful operator: running per-user totals ----

_STATE_SCHEMA = T.StructType(
    [T.StructField("total", T.DoubleType()), T.StructField("n", T.LongType())]
)
_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _update_totals(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    total, n = state.get if state.exists else (0.0, 0)
    for pdf in pdfs:
        total += float(pdf["value"].sum())
        n += len(pdf)
    state.update((total, n))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_value": [total]})


def running_user_totals_stateful(stream: DataFrame) -> DataFrame:
    """applyInPandasWithState: arbitrary per-key state (running totals)
    — the escape hatch for operators windowed aggs can't express."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def purchases_with_recent_clicks(
    events: DataFrame, join_window: str = "30 minutes"
) -> DataFrame:
    """Stream-stream inner join with watermarks: purchases joined to the
    same user's clicks within the preceding ``join_window``.  Both sides
    carry watermarks so the state store can evict expired click state —
    the mandatory ingredient for unbounded stream-stream joins.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND c_ts >= p_ts - INTERVAL {join_window} AND c_ts < p_ts"
        ),
        "inner",
    )


DOCUMENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of the documents table (ingest-pipeline input:
    each new parquet file under the directory is one micro-batch of
    freshly crawled docs).  Accepts a single ``*.parquet`` file or a
    Spark-written ``*.parquet`` directory (see :func:`_parquet_stream`)."""
    return _parquet_stream(spark.readStream.schema(DOCUMENTS_RAW_SCHEMA), path)


def decontaminate_stream(
    docs: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    id_col: str,
    output_dir: str,
    checkpoint_dir: str,
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Streaming benchmark decontamination as a ``foreachBatch`` stage:
    every micro-batch of incoming documents runs the BATCH
    ``ngram_overlap_vs_eval`` against the (static, broadcast) eval
    n-gram set and appends the scored rows to ``output_dir``.

    Per-document scores depend only on that document and the static
    eval set, so the union of per-batch results is EXACTLY the batch
    result over all documents — the property that makes foreachBatch
    the right streaming shape for corpus hygiene filters (reuse the
    audited batch operator; no streaming state, no watermark; the eval
    broadcast happens once per micro-batch and the join is map-side).
    With ``availableNow`` + a persistent checkpoint this is the nightly
    "decontaminate only the new crawl files" job: O(new data) per run.
    """
    from dataclass_array_spark.operators.decontam import ngram_overlap_vs_eval

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        ngram_overlap_vs_eval(
            batch_df, eval_df, text_col, id_col, k=k, threshold=threshold
        ).write.mode("append").parquet(output_dir)

    q = (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return docs.sparkSession.read.parquet(output_dir)


def incremental_dedup_stream(
    docs: DataFrame,
    store_df: DataFrame,
    text_col: str,
    id_col: str,
    output_dir: str,
    checkpoint_dir: str,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Streaming incremental dedup as a ``foreachBatch`` stage: every
    micro-batch of NEW documents is flagged (exact/near dup) against
    the static store by the audited batch
    :func:`~dataclass_array_spark.operators.dedup.dedup_incremental`.

    Each new doc's flags depend ONLY on that document and the store
    (batch-internal duplicates are out of scope by the operator's
    contract, and no bucket cap is applied here — a cap computed over
    the union would make results depend on micro-batch boundaries), so
    the accumulated output equals the one-shot batch result exactly —
    the foreachBatch reuse property the decontam stage established.
    With ``availableNow`` + a persistent checkpoint this is the
    nightly "dedup only the new crawl against the corpus" job:
    O(new data) joins per run against the pre-bucketed store.
    """
    from dataclass_array_spark.operators.dedup import dedup_incremental

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        dedup_incremental(
            batch_df, store_df, id_col, text_col,
            n_hashes=n_hashes, bands=bands, threshold=threshold,
            max_bucket_size=None,
        ).write.mode("append").parquet(output_dir)

    q = (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return docs.sparkSession.read.parquet(output_dir)


def countmin_stream(
    items: DataFrame,
    item_col: str,
    output_dir: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Streaming count-min sketch as a ``foreachBatch`` stage: every
    micro-batch appends its OWN partial sketch (≤ depth*width rows) to
    ``output_dir``; the returned frame is the cell-summed merge, which
    equals the one-shot batch sketch EXACTLY for any micro-batch
    boundaries — counts are additive and the bucket hashes are
    deterministic, so mergeability is precisely what makes the sketch
    streamable with NO state store.  foreachBatch is at-least-once, and
    SUM-merged counts are NOT replay-idempotent (unlike HLL's MAX /
    Bloom's UNION) — so each batch writes to its own
    ``output_dir/batch=<id>`` partition with OVERWRITE: a crash-replayed
    micro-batch replaces its earlier partial instead of double-counting,
    and the merged read stays exact across restarts.  At 100 TB the
    per-batch write is a fixed few thousand rows — the sketch is the
    natural "frequency monitor on the firehose" shape."""
    from dataclass_array_spark.operators.sketch import countmin_build

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        countmin_build(batch_df, item_col, depth=depth, width=width).write.mode(
            "overwrite"
        ).parquet(f"{output_dir}/batch={_batch_id}")

    q = (
        items.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        items.sparkSession.read.parquet(output_dir)
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def hll_stream(
    items: DataFrame,
    group_cols: "list[str]",
    value_col: str,
    output_dir: str,
    checkpoint_dir: str,
    b: int = 8,
) -> DataFrame:
    """Streaming HyperLogLog: every micro-batch appends its own
    ``(group, bucket, max-rho)`` sketch state; the returned frame is
    the (group, bucket) MAX-merge — equal to the one-shot batch state
    for ANY micro-batch boundaries (max is idempotent+commutative, the
    hashes deterministic), so :func:`~dataclass_array_spark.operators
    .sketch.hll_estimate` over it reproduces the batch estimate
    bit-for-bit.  Same no-state-store shape as
    :func:`countmin_stream`; idempotent against crash-replayed batches
    too (a duplicated batch cannot raise a MAX)."""
    from dataclass_array_spark.operators.sketch import hll_per_bucket

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        hll_per_bucket(batch_df, group_cols, value_col, b=b).write.mode(
            "append"
        ).parquet(output_dir)

    q = (
        items.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        items.sparkSession.read.parquet(output_dir)
        .groupBy(*group_cols, "__bkt")
        .agg(F.max("__M").alias("__M"))
    )


def bloom_stream(
    keys: DataFrame,
    key_col: str,
    output_dir: str,
    checkpoint_dir: str,
    n_bits: int = 65536,
    k: int = 5,
) -> DataFrame:
    """Streaming Bloom filter: every micro-batch appends its own
    distinct-bit-position table; the returned frame is the DISTINCT
    union — equal to the one-shot batch filter for any micro-batch
    boundaries (bloom union = position-set union), and idempotent
    against crash-replayed batches (re-setting a bit is a no-op).
    Completes the streaming sketch trio (count-min: cell-SUM merge,
    HLL: MAX merge, bloom: set-UNION merge) — all state-store-free."""
    from dataclass_array_spark.operators.sketch import bloom_build

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        bloom_build(batch_df, key_col, n_bits=n_bits, k=k).write.mode(
            "append"
        ).parquet(output_dir)

    q = (
        keys.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return keys.sparkSession.read.parquet(output_dir).distinct()


def hist_stream(
    items: DataFrame,
    group_cols: "list[str]",
    value_col: str,
    lo: float,
    hi: float,
    output_dir: str,
    checkpoint_dir: str,
    nbuckets: int = 4096,
) -> DataFrame:
    """Streaming histogram sketch: per-batch partial histograms
    appended, cell-SUM merged on read — equal to the one-shot batch
    histogram for any micro-batch boundaries (bucket counts are
    additive over known, fixed bounds).  Completes the streamable
    sketch set (count-min SUM, HLL MAX, bloom UNION, histogram SUM);
    quantile estimates over the merged state reuse the batch
    ``hist_quantiles`` unchanged.  Bounds must be known up front (the
    persisted-bounds contract of ``hist_build``) — a stream cannot
    re-scan history to re-bound.  Like :func:`countmin_stream`, bucket
    counts SUM-merge, so replay safety comes from per-batch
    ``batch=<id>`` partition overwrite, not blind append."""
    from dataclass_array_spark.operators.sketch import hist_build

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        hist_build(
            batch_df, group_cols, value_col, lo, hi, nbuckets
        ).write.mode("overwrite").parquet(f"{output_dir}/batch={_batch_id}")

    q = (
        items.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        items.sparkSession.read.parquet(output_dir)
        .groupBy(*group_cols, "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )


def ngram_counts_stream(
    docs: DataFrame,
    text_col: str,
    output_dir: str,
    checkpoint_dir: str,
    n: int = 3,
) -> DataFrame:
    """Streaming n-gram LM COUNT accumulation (n ∈ {2, 3}) — the
    ingest-side half of the Kneser-Ney pipeline: every micro-batch of
    freshly crawled documents aggregates its OWN n-gram counts
    (LM-sized, not corpus-sized) and writes them to
    ``output_dir/batch=<id>`` with OVERWRITE; the returned frame is
    the SUM-merge, which equals the one-shot batch counts EXACTLY for
    any micro-batch boundaries (counts are additive).  foreachBatch is
    at-least-once and SUM is not replay-idempotent, so the
    batch-partition OVERWRITE is what makes a crash-replayed
    micro-batch replace its earlier partial instead of double-counting
    (the ``countmin_stream`` discipline).  Feed the merged counts to
    the KN estimators' count tables to refresh a quality-filter LM as
    the crawl lands — O(new data) per run under ``availableNow`` with
    a persistent checkpoint.  Counts are per corpus, so no document id
    enters them."""
    from dataclass_array_spark.operators.text import _ngram_counts, _ngram_keys

    if n not in (2, 3):
        raise ValueError(f"ngram_counts_stream: n must be 2 or 3, got {n}")
    # Stale-output guard: batch ids restart at 0 under a FRESH
    # checkpoint, so leftover batch=1..N partitions from a prior run
    # would survive the per-batch OVERWRITE and silently inflate the
    # SUM-merge.  Fail loudly on that combination (local paths — the
    # same scope the gates/tests use; on object stores pair the two
    # dirs by convention).
    import os as _os

    if (
        _os.path.isdir(output_dir)
        and _os.listdir(output_dir)
        and not _os.path.isdir(checkpoint_dir)
    ):
        raise ValueError(
            "ngram_counts_stream: output_dir already holds batch "
            "partitions but checkpoint_dir is fresh — stale partials "
            "would double-count; clear output_dir or reuse the "
            "original checkpoint"
        )
    # ... and the INVERSE: an existing checkpoint with a cleared /
    # missing output_dir makes availableNow SKIP already-committed
    # micro-batches, so their counts would never be rewritten and the
    # SUM-merge silently UNDERcounts.  The two dirs may only move
    # together (round 14, ADVICE).  The precise signal is the
    # checkpoint's ``commits/`` dir: a crash BEFORE the first commit
    # replays everything anyway (no data lost, no error needed), but
    # any committed batch whose output partition is gone is
    # unrecoverable through the checkpoint.
    _commits = _os.path.join(checkpoint_dir, "commits")
    if _os.path.isdir(_commits):
        # Exact invariant (round-14 review): EVERY committed batch id
        # must still have its batch=<id> output partition — a
        # partially-deleted output (one partition gone among several)
        # undercounts just as silently as a fully-cleared one.
        committed = [
            f for f in _os.listdir(_commits)
            if not f.startswith(".") and f.isdigit()
        ]
        # Spark PURGES commit-log entries beyond
        # spark.sql.streaming.minBatchesToRetain (default 100), so the
        # listing can MISS old committed batches on long-lived
        # checkpoints.  Commit ids are contiguous from 0, so the true
        # committed set is 0..max(listed) — check every id in that
        # range, not just the retained listing (round 15, ADVICE).
        check_ids = (
            range(max(int(b) for b in committed) + 1) if committed else ()
        )
        missing = [
            b for b in check_ids
            if not _os.path.isdir(_os.path.join(output_dir, f"batch={b}"))
        ]
        if missing:
            raise ValueError(
                "ngram_counts_stream: checkpoint has committed batches "
                f"{missing} whose output "
                "partitions are missing — availableNow would skip them "
                "and the SUM-merge would silently undercount; clear "
                "BOTH dirs for a fresh run or restore the matching "
                "output partitions"
            )

    def _process(batch_df: DataFrame, _batch_id: int) -> None:
        _ngram_counts(batch_df, text_col, n).write.mode("overwrite").parquet(
            f"{output_dir}/batch={_batch_id}"
        )

    q = (
        docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        docs.sparkSession.read.parquet(output_dir)
        .groupBy(*_ngram_keys(n))
        .agg(F.sum("c").cast("long").alias("c"))
    )


def kn3_stream_score(
    docs_stream: DataFrame,
    score_df: DataFrame,
    text_col: str,
    id_col: str,
    output_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming Kneser-Ney END-TO-END (round-14 VERDICT item 8): the
    ingest half (:func:`ngram_counts_stream`, n=3 — per-batch LM-sized
    partials through the replay-safe ``batch=<id>`` OVERWRITE sink,
    SUM-merged) composed with the batch trigram-KN scorer
    (``text.kn3_score_from_counts``) behind one entry point.  Because
    trigram counts are ADDITIVE and every KN statistic derives from
    the one count table, the stream-refreshed LM scores IDENTICALLY to
    a one-shot batch train for any micro-batch boundaries — the
    batch-equivalence property the ``streaming_kn_score_docs`` gate
    pins with the batch oracle verbatim.  Run it again after more
    crawl files land and only the NEW batches aggregate (availableNow
    + persistent checkpoint); the scorer re-runs on LM-sized tables,
    never on history."""
    from dataclass_array_spark.operators.text import kn3_score_from_counts

    counts = ngram_counts_stream(
        docs_stream,
        text_col,
        output_dir=output_dir,
        checkpoint_dir=checkpoint_dir,
        n=3,
    )
    return kn3_score_from_counts(counts, score_df, text_col, id_col)
