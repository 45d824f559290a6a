"""Replayable oplog feed — the incremental-plane *source* (S1/S2).

The reference tails `local.oplog.rs` with a resumable cursor
(collector/reader/oplog_reader.go:100-241: `{ts:{$gt: ckpt}}` predicate,
batch 8192, background fetcher). In Spark the equivalent source contract
is: a Structured Streaming source that (a) delivers rows in bounded
micro-batches, (b) supports resume from a recorded offset, (c) pushes the
ts predicate down.

For tests and local runs we materialize the `events`-derived oplog view
as a directory of parquet files ordered by (ts, id) — one file per
micro-batch's worth of rows — and read it with the file stream source
(`maxFilesPerTrigger` = the reference's fetch-batch knob, B7's rate limit).
In production the same pipeline binds to the Spark-Mongo connector's
change-stream `readStream` or a Kafka topic carrying the oplog (S8/S12) —
only this module changes, nothing downstream.
"""

from __future__ import annotations

import contextlib
import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from mongoshake_spark.sources.oplog import oplog_view
from mongoshake_spark.sources.tables import load_table

# Matches incr_sync.adaptive.batching_max_size=1024 (conf/collector.conf:290)
DEFAULT_BATCH_ROWS = 1024


# ---------------------------------------------------------------------------
# the bounded-drain primitive: every finite replay in the engine (registry
# stream queries, the incr-sync entry points, the near-dup harness) is
# write feed -> tail it one file per trigger -> availableNow drain
# ---------------------------------------------------------------------------


def stamp_replay_order(paths: list[str]) -> None:
    """Stamp strictly increasing mtimes on ``paths``, in list order. The
    file stream source admits files oldest-mtime-first, and files written
    by one job share an mtime, leaving their order arbitrary — the replay
    order must be the feed order (a commit seen before its chunks drops
    the transaction; the apply kernel's compaction watermark assumes
    oplog order)."""
    base = time.time() - len(paths) - 10
    for i, p in enumerate(paths):
        os.utime(p, (base + i, base + i))


def write_ordered_feed(df: DataFrame, feed_dir: str, n_files: int, *order_cols: str) -> int:
    """Write ``df`` as ``n_files`` parquet files, each one contiguous
    range of ``order_cols`` sorted within, mtime-stamped in range order
    (part-00000 = lowest range), so a one-file-per-trigger tail replays
    the feed in order with file = micro-batch. Returns the file count."""
    (
        df.repartitionByRange(n_files, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(feed_dir)
    )
    parts = sorted(f for f in os.listdir(feed_dir) if f.endswith(".parquet"))
    stamp_replay_order([os.path.join(feed_dir, f) for f in parts])
    return len(parts)


def read_feed(
    spark: SparkSession, feed_dir: str, schema=None, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source tail of a replay feed, oldest mtime first,
    ``max_files_per_trigger`` files per micro-batch (one: file = batch).
    ``schema`` defaults to the feed's own, read from its footers."""
    if schema is None:
        schema = spark.read.parquet(feed_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_dir)
    )


@contextlib.contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Run the block with ``spark.sql.shuffle.partitions`` = ``n``,
    restored on exit (exceptions included). A stateful drain fixes its
    state-store partition count at its first batch, and the per-batch
    constant of a bounded drain scales with partition count, not rows."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def drain(writer: DataStreamWriter, timeout_sec: float) -> None:
    """Start ``writer`` with the availableNow trigger (run to the current
    end of the source, then stop) and wait for it. On timeout the query
    is STOPPED and TimeoutError raised — returning while a batch is still
    running in the background would hand the caller torn state and leak
    a running query (a checkpointed re-run resumes cleanly). A failed
    batch re-raises as StreamingQueryException."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream did not drain within {timeout_sec}s; stream stopped — "
            "re-run to resume from the checkpoint"
        )


def write_replay_feed(
    spark: SparkSession, sf_dir: str, out_dir: str, batch_rows: int = DEFAULT_BATCH_ROWS
) -> int:
    """Materialize the oplog view as N parquet files, each holding one
    contiguous (ts, id) range of about ``batch_rows`` rows — the replayable
    feed, so `maxFilesPerTrigger=1` replays the stream in order, which is
    what the per-key ordering guarantees downstream assume (P1/P2).
    Returns the file count."""
    oplog = oplog_view(load_table(spark, sf_dir, "events"))
    n_files = max(1, math.ceil(oplog.count() / batch_rows))
    return write_ordered_feed(oplog, out_dir, n_files, "ts", "id")


def read_oplog_stream(
    spark: SparkSession, feed_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S1 as a streaming DataFrame: file-source tail of the replay feed.
    `maxFilesPerTrigger` bounds each micro-batch (B1 adaptive batching /
    B7 rate limit — the reference's batching_max_size and QoS collapse
    into this one admission knob)."""
    return read_feed(spark, feed_dir, max_files_per_trigger=max_files_per_trigger)
