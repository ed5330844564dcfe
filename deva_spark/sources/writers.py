"""Sink writers (SURVEY.md §2.9).

Reference surface → Spark mapping:
  ``sink``/``>>`` dispatch (`/root/reference/deva/core/core.py:1179-1258`,
  `1013-1058`) → ``foreachBatch`` / writer API by target type
  ``to_textfile`` (`core.py:1261-1323`) → text writer
  ``DBStream``/``NB`` persistence (`core/store.py:43-360`) → partitioned
  parquet tables with append/overwrite ("upsert" = partition overwrite —
  MERGE needs Delta, which is not bundled here; the partition-grain
  overwrite is the same idempotent-replay contract)
  ``to_kafka`` (`endpoints.py:67-158`) → kafka writer (gated)
  ``Dtalk``/``mail``/HTTP side-effect sinks (`endpoints.py:214-469`) →
  ``foreach_http_sink`` idempotency-key pattern (stubbed transport)

Scale notes: every table write partitions by event date so time-slice
reads prune partitions (the DBStream bisect-index equivalent,
`store.py:239-251`).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: str | None = None,
) -> None:
    """DBStream-append analog: durable columnar table, optionally
    partitioned (use an event-date column so replay/time-slice reads prune)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def append_events(df: DataFrame, path: str, ts_col: str = "ts") -> None:
    """Timestamp-append write mode (`store.py:253-260`): rows land in
    date partitions derived from event time."""
    write_table(
        df.withColumn("event_date", F.to_date(ts_col)), path, "append", "event_date"
    )


def upsert_by_partition(df: DataFrame, path: str, partition_col: str) -> None:
    """Keyed-upsert analog (`store.py:262-268`) at partition grain:
    dynamic partition overwrite replaces exactly the partitions present in
    ``df`` — idempotent replay without read-modify-write."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def time_slice(spark, path: str, start: str, end: str, ts_col: str = "ts") -> DataFrame:
    """DBStream time-range read (`store.py:278-304`): the date-partition
    filter prunes at the source; the ts filter refines inside partitions."""
    return (
        spark.read.parquet(path)
        .filter((F.col("event_date") >= F.to_date(F.lit(start))) & (F.col("event_date") <= F.to_date(F.lit(end))))
        .filter((F.col(ts_col) >= F.lit(start)) & (F.col(ts_col) < F.lit(end)))
    )


def merge_upsert_by_key(spark, df: DataFrame, path: str, key: str) -> None:
    """Keyed upsert (``DBStream.upsert``/``bulk_update`` analog,
    `store.py:262-276`): new rows win per key, existing non-matching rows
    survive. Without Delta's MERGE this is read → anti-join → union →
    atomic swap-overwrite; at scale, pair with date partitioning so only
    touched partitions rewrite (see :func:`upsert_by_partition`)."""
    # Local-only by protocol (ADVICE r11 #1): the rename-swap below is
    # atomic only on a local posix filesystem, and os.path.exists would
    # misread a remote table as absent and overwrite it with only the
    # new rows. Reject remote URIs loudly up front.
    from deva_spark.sources.fs import require_local

    path = require_local(path, "merge_upsert_by_key")
    # First-write detection is an explicit existence check, NOT a bare
    # except around the read (r11 review): a TRANSIENT read failure on an
    # existing table (permission hiccup, one corrupt footer) must surface
    # as an error — the old catch-all silently overwrote the table with
    # only the new rows, deleting every unmatched existing key.
    if not os.path.exists(path):
        df.write.mode("overwrite").parquet(path)
        return
    existing = spark.read.parquet(path)
    merged = existing.join(df.select(key).distinct(), key, "left_anti").unionByName(df)
    # stage to a sibling dir, then swap — can't overwrite files mid-read,
    # and staging keeps the rewrite fully distributed (no driver collect)
    import shutil
    import uuid

    tmp = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(tmp)
    # swap order matters: park the live table aside FIRST, then move the
    # staged one in — a crash between the two renames leaves the data
    # recoverable under __old (rmtree-then-rename would lose the table).
    # Renames require tmp on the same filesystem as path (staged as a
    # sibling, so it is). True atomic MERGE needs a table format (Delta).
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except Exception:
        os.rename(old, path)  # roll back: restore the original table
        raise
    shutil.rmtree(old)


def compact_table(spark, path: str, target_mb: int = 128) -> int:
    """Small-files compaction for streaming-sink outputs: a continuously
    appending ``parquet_stream_sink`` accumulates one file per micro-batch
    per partition, and at 100 TB the file count (not the bytes) becomes
    the scan bottleneck (task-per-file scheduling, metadata pressure).

    Rewrites the table into ``ceil(bytes / target_mb)`` files via a
    distributed repartition, then the crash-safe rename-aside swap (same
    protocol as :func:`merge_upsert_by_key`). Returns the new file count.
    Run it from a maintenance tick (``streaming/scheduler.py``) — the swap
    is not concurrent-safe with a live writer on plain parquet (a table
    format provides transactional compaction)."""
    import math
    import shutil
    import uuid

    from deva_spark.sources.fs import require_local

    path = require_local(path, "compact_table")
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dns, fns in os.walk(path)
        for f in fns
        if f.endswith(".parquet")
    )
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    df.repartition(n).write.mode("overwrite").parquet(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except Exception:
        os.rename(old, path)
        raise
    shutil.rmtree(old)
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def evict_older_than(spark, path: str, keep_days: int, as_of: str) -> list[str]:
    """Retention eviction (DBStream size-capped eviction analog,
    `store.py:174-197`, by age instead of row count): drop event_date
    partitions older than ``as_of - keep_days``. Partition-drop is an O(1)
    metadata/file operation per partition — no data rewrite. Returns the
    dropped partition names."""
    import datetime as _dt
    import shutil

    from deva_spark.sources.fs import require_local

    path = require_local(path, "evict_older_than")
    cutoff = _dt.date.fromisoformat(as_of) - _dt.timedelta(days=keep_days)
    dropped = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("event_date="):
            continue
        d = _dt.date.fromisoformat(entry.split("=", 1)[1])
        if d < cutoff:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(entry)
    return dropped


def write_text(df: DataFrame, path: str, mode: str = "append") -> None:
    """``to_textfile`` analog: single string column per row."""
    df.write.mode(mode).text(path)


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 8, sort_by: str | None = None
) -> None:
    """Bucketed managed table: pay the shuffle ONCE at write time; every
    later equi-join/aggregation on ``key`` between tables bucketed the same
    way needs no exchange (the co-located join strategy from SCALE.md).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # an in-memory catalog forgets managed tables between sessions but their
    # warehouse directories survive — clear any orphaned location
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.exists(loc):
        import shutil

        shutil.rmtree(loc)
    w = df.write.mode("overwrite").bucketBy(buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.format("parquet").saveAsTable(table)


def console_sink(stream_df: DataFrame, mode: str = "append"):
    """``stdout``/``print`` analog for streams."""
    return stream_df.writeStream.format("console").outputMode(mode).start()


def parquet_stream_sink(stream_df: DataFrame, path: str, checkpoint: str | None = None):
    """Durable streaming persistence (DBStream streaming twin): exactly-once
    via checkpoint + atomic file commits."""
    checkpoint = checkpoint or os.path.join(path, "_checkpoint")
    return (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def write_tcp(
    df: DataFrame,
    host: str,
    port: int,
    payload_col: str = "payload",
    delimiter: str = "\n",
    connect_timeout: float = 5.0,
) -> None:
    """``netwrite``/``tcp_write`` analog (`/root/reference/deva/core/pipe.py:662-696`):
    push every row's payload down a TCP connection, delimiter-framed —
    the write-side twin of ``readers.socket_stream``.

    Distributed shape: ``foreachPartition`` opens ONE connection per
    partition on the executor and streams that partition's rows through it
    — the driver never materializes data, and sink throughput scales with
    the cluster (each executor talks to the endpoint directly, exactly how
    the syslog/logserver use case in the reference behaves with N
    producers)."""

    def _part(rows) -> None:
        import socket

        with socket.create_connection((host, port), timeout=connect_timeout) as s:
            for row in rows:
                payload = row[payload_col]
                if payload is None:
                    continue
                s.sendall(str(payload).encode("utf-8") + delimiter.encode("utf-8"))

    df.select(payload_col).foreachPartition(_part)


def foreach_tcp_sink(
    stream_df: DataFrame,
    host: str,
    port: int,
    payload_col: str = "payload",
    delimiter: str = "\n",
    available_now: bool = False,
):
    """Streaming twin of :func:`write_tcp` (``netcat`` push side for
    streams): each micro-batch drains through executor-side TCP
    connections. At-least-once — a replayed batch re-sends its rows, the
    delimiter framing keeps the byte stream parseable."""

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        write_tcp(bdf, host, port, payload_col, delimiter)

    w = stream_df.writeStream.foreachBatch(_sink)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def foreach_http_sink(
    stream_df: DataFrame,
    send: Callable[[str, str], None],
    payload_col: str = "payload",
    key_col: str = "idempotency_key",
    available_now: bool = False,
):
    """Side-effect sink pattern (Dtalk/mail/HTTP analog, `endpoints.py:
    214-469`): at-least-once delivery + an idempotency key per row, so a
    replayed micro-batch cannot double-send. ``send(key, payload)`` is the
    transport (webhook/SMTP client) — injected, because this container has
    no network egress; tests inject a recorder.

    Sends run ON THE EXECUTORS (``foreachPartition``): the driver never
    materializes a batch, so sink throughput scales with the cluster
    instead of serializing through one process. ``send`` must therefore be
    picklable and executor-safe (no driver-local state).
    """

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        def _part(rows) -> None:
            for row in rows:
                send(row[key_col], row[payload_col])

        bdf.select(key_col, payload_col).foreachPartition(_part)

    w = stream_df.writeStream.foreachBatch(_sink)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str,
    fmt: str = "parquet",
) -> None:
    """Training-data export: exactly ``n_shards`` shard files with a
    DETERMINISTIC row->shard assignment (``xxhash64(id) pmod n``), so a
    re-export of the same curated corpus bit-reproduces the shard
    membership whatever the cluster's partitioning did — the property a
    training run resuming mid-epoch needs. One repartition shuffle on
    the shard id; ``fmt`` is parquet (columnar, default) or json
    (JSONL, one object per line — the interchange format most loaders
    eat)."""
    if fmt not in ("parquet", "json"):
        raise ValueError(f"fmt must be parquet|json (got {fmt!r})")
    sharded = df.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("int")
    ).repartition(n_shards, "_shard")
    writer = sharded.write.mode("overwrite").partitionBy("_shard")
    (writer.parquet(path) if fmt == "parquet" else writer.json(path))
