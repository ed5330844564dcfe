"""Streaming sources, windowed twins, and memory-sink runners.

Reference surface: ``from_textfile``/``filenames`` polling sources
(`/root/reference/deva/core/sources.py:198-338`), ``DBStream.replay``
(`core/store.py:306-320`), ``timed_window`` (`core/compute/ops.py:975-1026`),
``rate_limit``/``buffer`` backpressure (`ops.py:106-176`), ``latest``
(`ops.py:681-736`), ``unique`` streaming dedup (`ops.py:402-486`).

Spark mapping: file-stream source with ``maxFilesPerTrigger`` (replay with
pacing = backpressure knob), event-time watermarks for late data (an
upgrade — the reference is wall-clock only), windowed aggregations,
``dropDuplicates`` state-store dedup, and ``foreachBatch`` for
per-trigger lossy-latest semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deva_spark.operators.aggregates import MONEY
from deva_spark.session import read_table

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _stage_chunks(
    df: DataFrame, chunks: int, order: list[str], out_dir: str
) -> str:
    """Write ``df`` as ``chunks`` parquet files, range-partitioned and
    sorted on ``order``, for a file-stream source to replay.

    Fully distributed: ``repartitionByRange`` buckets on ``order`` (range
    partition i holds the i-th slice) and each task writes its own
    sorted file — the driver never materializes data. The only driver work
    is metadata: renaming part files to zero-padded chunk names IN RANGE
    ORDER and bumping mtimes monotonically, so the file-stream source's
    discovery order (mtime, then path) equals ``order``."""
    import time

    (
        df.repartitionByRange(chunks, *order)
        .sortWithinPartitions(*order)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    parts = sorted(
        f for f in os.listdir(out_dir) if f.startswith("part-") and f.endswith(".parquet")
    )
    t0 = time.time() - len(parts)
    for i, name in enumerate(parts):
        dst = os.path.join(out_dir, f"chunk_{i:04d}.parquet")
        os.rename(os.path.join(out_dir, name), dst)
        os.utime(dst, (t0 + i, t0 + i))
    return out_dir


def stage_event_chunks(
    spark: SparkSession, sf_dir: str, chunks: int = 4, *, out_dir: str
) -> str:
    """Replay staging (``DBStream.replay`` analog): split the events table
    into ``chunks`` parquet files in (ts, event_id) order so the file-stream
    source discovers them as successive micro-batches (see
    :func:`_stage_chunks`)."""
    ev = read_table(spark, sf_dir, "events")
    return _stage_chunks(ev, chunks, ["ts", "event_id"], out_dir)


DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def stage_doc_chunks(
    spark: SparkSession,
    sf_dir: str,
    chunks: int = 3,
    where: str = "doc_id % 10 = 0",
    *,
    out_dir: str,
) -> str:
    """Stage the NEW-batch slice of the documents table (``where`` — the
    x77/x78 batch simulation; default is the scale-invariant 10% modular
    arrival split) as ``chunks`` parquet files so a file-stream source
    replays the batch arriving incrementally. Same anatomy as
    :func:`stage_event_chunks`: range-partitioned distributed write,
    driver touches only file metadata (rename + monotonic mtimes)."""
    docs = read_table(spark, sf_dir, "documents").filter(F.expr(where))
    return _stage_chunks(docs, chunks, ["doc_id"], out_dir)


def docs_file_stream(
    spark: SparkSession, staged_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-stream source over staged document chunks."""
    return (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(staged_dir)
    )


def streaming_incremental_pairs(
    doc_stream: DataFrame, old_hashes: DataFrame, window: int = 8
) -> DataFrame:
    """STREAMING twin of `substring.incremental_dup_pairs`' new-x-old
    side: documents arrive on a stream, each micro-batch's window index
    (stateless explode + hash — runs inside the batch) stream-static
    joins the STAGED corpus index, and a streaming aggregation counts
    shared windows per (old, new) pair. Sums decompose over
    micro-batches, so the drained result is identical under any
    batching — hash-checked against the batch oracle. The new-x-new
    side needs pair state across batches (a stream-stream self-join);
    operationally it runs as the batch epilogue when the batch index
    appends to the staged corpus (the x71 epilogue pattern).

    ``old_hashes``: static ``(doc_id, wh)`` index of the existing
    corpus. Pairs are oriented (id_a = old, id_b = new); old and new
    ids may interleave (the scale-invariant modular arrival split), so
    no id ordering is implied."""
    from deva_spark.functions.substring import window_hashes

    new_idx = window_hashes(doc_stream, "doc_id", "text", window)
    old = old_hashes.select(F.col("doc_id").alias("id_a"), "wh")
    return (
        new_idx.select(F.col("doc_id").alias("id_b"), "wh")
        .join(old, "wh")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def events_file_stream(
    spark: SparkSession, staged_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-stream source over staged chunks. ``files_per_trigger`` is the
    backpressure knob (``rate_limit``/``buffer`` analog): it bounds how much
    data each micro-batch admits."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(staged_dir)
    )


def run_available_now(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    state_store_provider: str | None = None,
) -> DataFrame:
    """Drain the stream with Trigger.AvailableNow into a memory sink and
    return the result table. AvailableNow processes the backlog in
    rate-limited micro-batches then stops — the batch-equivalence harness.

    ``state_partitions`` sizes the stateful-operator partition count for
    THIS query: Structured Streaming reads ``spark.sql.shuffle.partitions``
    once at the query's first start and bakes it into the checkpoint
    forever after, so the number is a per-query deployment decision —
    sized to expected peak state volume (state rows x bytes / target
    partition size), NOT inherited from the batch-scan parallelism
    default. Both mis-sizings are real: a 100 TB deployment wants HUNDREDS
    of state partitions (the session default would under-partition a
    billion-key dedup), while a bounded replay drain wants a handful. A
    state partition's fixed cost is its checkpoint files: in every
    micro-batch each partition of each stateful operator writes a delta
    file and Spark's checksum file for it, and Hadoop without its native
    library forks an external command per permission change and link
    lookup (2 per file with the session's checkpoint manager, 10 with
    Spark's default; see :mod:`deva_spark.session`). At the old session
    default of 32 partitions that fixed cost was 4x the total drain
    wall-clock on the replay drains. Results are partition-count-invariant
    either way, which the oracle hash checks.
    Scoped: the session value is restored after the drain. The drain is
    synchronous, so the override window is the drain itself; if batch
    queries are planned CONCURRENTLY on the same session, run the drain
    on its own session (``spark.newSession()``) instead.

    ``state_store_provider`` picks the state-store backend for THIS
    query (e.g. ``"rocksdb"`` or a full provider class name). Profiled
    at sf0.1 (VERDICT r11 #6): the drain floor is micro-batch COUNT
    (planning + per-batch checkpoint writes — halving batches took x35
    from 7.1 s to 4.2 s), not the HDFS-backed store, and RocksDB is a net
    LOSS at replay-drain state sizes (+50-75%% measured): its commits
    write more checkpoint files, each paying the forked commands above
    (a two-batch, 8-partition aggregation drain forks 139 ``chmod``
    under RocksDB against 99 under the HDFS provider) — so the default
    stays the in-memory HDFS provider; a 100 TB deployment whose
    per-partition state exceeds executor heap is what this knob is for
    (results are provider-invariant, which the oracle hashes check)."""
    spark = stream_df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    _ROCKSDB = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(conf_key) if state_partitions is not None else None
    if state_partitions is not None:
        spark.conf.set(conf_key, str(state_partitions))
    prev_prov = (
        spark.conf.get(prov_key, None)
        if state_store_provider is not None
        else None
    )
    if state_store_provider is not None:
        spark.conf.set(
            prov_key,
            _ROCKSDB
            if state_store_provider.lower() == "rocksdb"
            else state_store_provider,
        )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set(conf_key, prev)
        if state_store_provider is not None:
            if prev_prov is not None:
                spark.conf.set(prov_key, prev_prov)
            else:
                spark.conf.unset(prov_key)
    return spark.table(name)


def tumbling_counts(stream_df: DataFrame, duration: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of q18 (``timed_window`` upgraded to event time):
    tumbling window counts/sums with a watermark bounding state."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("value").cast(MONEY)), 2).cast("double").alias("sv"),
        )
        .select(F.col("w.start").alias("w"), "event_type", "cnt", "sv")
    )


def sliding_counts(
    stream_df: DataFrame,
    duration: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time window (``sliding_window`` time-based analog)."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", duration, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w"), "event_type", "cnt")
    )


def session_counts(stream_df: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows with an inactivity gap (``collect``+flush analog,
    batch twin = operators.windows.sessionize)."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("user_id", F.col("w.start").alias("start"), "cnt")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    band: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """STREAM-STREAM event-time interval join: pair each left row with the
    right rows of the same key whose timestamp falls in
    ``[left.ts - band, left.ts]`` — the streaming upgrade of the
    reference's combine-latest family (`ops.py:178-288`) from
    latest-value-only to full within-window pairing.

    Both sides are watermarked so the state store can evict rows older
    than ``watermark`` + ``band``: state stays bounded no matter how long
    the streams run — exactly the property the reference's in-memory
    cache lacked. Inner join; append mode."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND r.{ts_col} BETWEEN "
        f"l.{ts_col} - INTERVAL {band} AND l.{ts_col}"
    )
    return l.join(r, cond, "inner")


def streaming_first_seen(stream_df: DataFrame, keys: list[str]) -> DataFrame:
    """``unique(key=...)`` streaming twin: state-store dedup. With a
    watermark this becomes ``dropDuplicatesWithinWatermark`` (bounded
    state); unbounded variant keeps all keys (persistname analog)."""
    return stream_df.dropDuplicates(keys)


def streaming_first_event(stream_df: DataFrame, key: str = "user_id") -> DataFrame:
    """Deterministic first-seen per key by EVENT time: streaming min_by
    over ``(ts, event_id)``. ``dropDuplicates`` keeps whichever same-key
    row a micro-batch happens to see first — arrival order, which depends
    on batch boundaries — so its output isn't batch-comparable; this
    aggregation converges to the event-time-earliest row regardless of
    how the backlog was chunked. Complete-mode state is one row per key
    (same footprint as the dedup state store)."""
    first = F.min_by(
        F.struct("ts", "event_id", "event_type"), F.struct("ts", "event_id")
    ).alias("_f")
    return (
        stream_df.groupBy(key)
        .agg(first)
        .select(
            key,
            F.col("_f.ts").alias("first_ts"),
            F.col("_f.event_id").alias("first_event_id"),
            F.col("_f.event_type").alias("first_event_type"),
        )
    )


def latest_per_key(batch_df: DataFrame, keys: list[str]) -> DataFrame:
    """Per-trigger lossy-latest (``latest`` analog, `ops.py:681-736`):
    keep only the newest event per key within the batch — used from
    foreachBatch, where each micro-batch is a bounded DataFrame."""
    return batch_df.groupBy(*keys).agg(
        F.max_by(F.struct("ts", "event_id", "value"), F.struct("ts", "event_id")).alias(
            "last"
        )
    ).select(*keys, F.col("last.ts").alias("ts"), F.col("last.event_id").alias("event_id"), F.col("last.value").alias("value"))


def delay(stream_df: DataFrame, interval: str, ts_col: str = "ts") -> DataFrame:
    """``delay`` analog (`ops.py:1028-1081`): shift event time forward by a
    fixed interval — pure ts arithmetic, no buffering needed in the
    micro-batch model."""
    return stream_df.withColumn(
        ts_col, F.col(ts_col) + F.expr(f"INTERVAL {interval}")
    )


def when_then(
    stream_df: DataFrame,
    cond,
    action,
) -> None:
    """``when(cond).then(callback)`` trigger analog
    (`/root/reference/deva/core/when.py:316-366`): per micro-batch, rows
    matching ``cond`` invoke ``action(rows)`` on the driver — the
    condition itself filters distributed; only matches move.

    The callback is DRIVER-BOUND by design (it's an alerting hook, not a
    data path): an unselective ``cond`` collects the whole micro-batch
    to the driver. Keep the condition selective, or route bulk matches
    through a sink (``topic_sink`` / ``writers``) instead."""

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        hits = bdf.filter(cond).collect()
        if hits:
            action(hits)

    q = stream_df.writeStream.foreachBatch(_sink).trigger(availableNow=True).start()
    q.awaitTermination()


def foreach_batch_collect(stream_df: DataFrame, transform, results: list) -> None:
    """Run a stream with a foreachBatch sink applying ``transform`` per
    micro-batch and appending collected rows to ``results`` (sink analog of
    ``Stream.sink``, `core/core.py:1179-1258`)."""

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        results.append((epoch_id, transform(bdf).collect()))

    q = stream_df.writeStream.foreachBatch(_sink).trigger(availableNow=True).start()
    q.awaitTermination()


EMB_SCHEMA = "vec_id long, embedding array<double>, label string"


def stage_emb_chunks(
    spark: SparkSession,
    sf_dir: str,
    chunks: int = 3,
    min_id: int = 0,
    *,
    out_dir: str,
) -> str:
    """Embedding-arrival staging (the stage_doc_chunks pattern on the
    vector side): split ``embeddings`` rows with ``vec_id >= min_id``
    into ``chunks`` files in vec_id order for file-stream replay."""
    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") >= min_id
    )
    return _stage_chunks(emb, chunks, ["vec_id"], out_dir)


def emb_file_stream(
    spark: SparkSession, staged_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-stream source over staged embedding chunks."""
    return (
        spark.readStream.schema(EMB_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(staged_dir)
    )


def streaming_cosine_pairs(
    emb_stream: DataFrame, old_base: DataFrame, threshold: float = 0.9
) -> DataFrame:
    """STREAMING twin of `vectors.incremental_cosine_neardup`'s
    new-x-old side — the vector tier joins the streaming ring: each
    micro-batch's bucket projection (norms + hyperplane signatures are
    per-vector pure functions, so they compute INSIDE the batch with no
    state) stream-static joins the staged corpus projection, and the
    exact einsum rescore + threshold filter runs per candidate. The
    join + rescore + filter are stateless; the only state is the pair
    dedup (multi-table bucket collisions emit one pair per shared
    table), and since each new id lives in exactly ONE micro-batch that
    state never does cross-batch work — an operational deployment
    evicts it per batch. Append-mode drains are batching-invariant by
    construction. The new-x-new side needs genuine cross-batch pair
    state; operationally it runs as the batch epilogue when the batch
    appends to the staged projection (the x78 documented pattern)."""
    from deva_spark.functions.vectors import _pair_cos_udf, neardup_base

    nb = neardup_base(emb_stream)
    new_k = nb.select(
        F.col("vid").alias("nid"),
        F.col("e").alias("ne"),
        F.col("n").alias("nn"),
        F.posexplode("bs").alias("t", "b"),
    )
    old_k = old_base.select(
        F.col("vid").alias("oid"),
        F.col("e").alias("oe"),
        F.col("n").alias("on"),
        F.posexplode("bs").alias("t", "b"),
    )
    pair_cos = _pair_cos_udf()
    cand = (
        new_k.join(old_k, ["t", "b"])
        .select(
            F.least("nid", "oid").alias("id_a"),
            F.greatest("nid", "oid").alias("id_b"),
            F.round(
                pair_cos(F.col("ne"), F.col("oe"))
                / (F.col("nn") * F.col("on")),
                4,
            ).alias("cos"),
        )
        .dropDuplicates(["id_a", "id_b"])  # multi-table bucket collisions
    )
    return cand.filter(F.col("cos") >= threshold)
