"""Structured Streaming tail: live binlog staging dir → lake table.

The streaming counterpart of the reference's dir tail
(/root/reference/dir_reader.go:54-107 sleep-polls 1 s for the `.next`
file); here the Spark file source polls the directory and each completed
binlog file becomes a micro-batch input row.  File-source contract: files
must appear atomically (write temp + rename — the reference's dump sink
gets the same effect from seek+overwrite-at-offset, dump.go:92-99); a
file is decoded once, partial trailing bytes of a still-growing file
would be silently lost, so only rotated-away files should be visible.

Exactly-once is double-keyed: Spark's streaming checkpoint dedups batch
replays at the source, and the lake's batch-id idempotence dedups them at
the sink — either alone survives a crash between the two.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.pipeline import (flatten_extras, reduce_changes,
                            reduce_changes_minimal,
                            scan_extra_columns_blobs)
from ..decoder.kernel import CHANGE_SCHEMA, decode_changes, decode_keys
from ..lake.table import LakeTable

_BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                       "length long, content binary")


def stream_blobs(spark: SparkSession, dump_dir: str,
                 max_files_per_trigger: int = 16) -> DataFrame:
    """Streaming DataFrame of raw binlog file blobs from a staging dir."""
    raw = (spark.readStream.format("binaryFile")
           .schema(_BINARY_FILE_SCHEMA)
           .option("pathGlobFilter", "binlog.*")
           .option("maxFilesPerTrigger", str(max_files_per_trigger))
           .load(dump_dir)
           # the glob also matches the `.next` chain-pointer files; they
           # are not binlog bytes (and the span bounds check rightly
           # rejects their names)
           .filter(~F.col("path").endswith(".next")))
    return raw.select(
        F.element_at(F.split("path", "/"), -1).alias("log_file"),
        F.lit(0).cast("long").alias("chunk_off"),
        F.col("content").alias("data"))


def stream_decoded(spark: SparkSession, dump_dir: str,
                   max_files_per_trigger: int = 16) -> DataFrame:
    """Streaming DataFrame of decoded change events from a staging dir."""
    return decode_changes(stream_blobs(spark, dump_dir,
                                       max_files_per_trigger))


def stream_apply(spark: SparkSession, dump_dir: str, table_root: str,
                 checkpoint_dir: str, *,
                 n_buckets: int = 32, salt_buckets: int = 0,
                 available_now: bool = True,
                 processing_interval: str = "5 seconds",
                 minimal_images: bool = False,
                 broadcast_winners: bool = True,
                 on_batch: Callable[[int, dict], None] | None = None):
    """Tail a staging dir into a lake table via foreachBatch MERGE.

    ``available_now=True`` drains everything currently visible and stops
    (replay); ``False`` keeps tailing with a processing-time trigger (the
    reference's blocking serverID!=0 mode, /root/reference/doc.go:23).
    ``minimal_images``: the source logs binlog_row_image=MINIMAL —
    partial images patch per column (reduce_changes_minimal + the
    patch-aware MERGE).  Returns the StreamingQuery.
    """
    table = LakeTable(table_root, n_buckets=n_buckets)
    table.create()
    blobs = stream_blobs(spark, dump_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the micro-batch is raw blobs: decode inside the batch so the
        # winner search can use the cheap key-only pass (same late-
        # materialization as batch replay)
        events = decode_changes(batch_df)
        # schema discovery via a cheap distributed TABLE_MAP scan of the
        # batch's blobs — a name-less flatten_extras would EXECUTE the
        # upsert pipeline once per micro-batch for a distinct-key probe
        extra_names = scan_extra_columns_blobs(batch_df)
        if minimal_images:
            upserts = reduce_changes_minimal(
                events, extra_names=extra_names,
                broadcast_winners=broadcast_winners,
                key_events=decode_keys(batch_df))
        else:
            keys = decode_keys(batch_df)
            upserts = reduce_changes(events, salt_buckets=salt_buckets,
                                     key_events=keys)
            upserts, _ = flatten_extras(upserts, names=extra_names)
        snap = table.merge(spark, upserts,
                           batch_id=f"stream-{checkpoint_dir}-{batch_id}")
        if on_batch is not None:
            on_batch(batch_id, snap)

    writer = (blobs.writeStream
              .foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()


def stream_apply_multi(spark: SparkSession, dump_dir: str, lake_root: str,
                       checkpoint_dir: str, *,
                       n_buckets: int = 8,
                       available_now: bool = True,
                       processing_interval: str = "5 seconds",
                       broadcast_winners: bool = True,
                       on_batch: Callable[[int, dict], None] | None = None):
    """Tail a MULTI-TABLE staging dir: one stream demultiplexed into one
    lake table per source table (the streaming counterpart of
    cdc.multi.replay_generic — the reference leaves this demux to its
    caller, /root/reference/doc.go:47-56).

    Per micro-batch: registry discovery from the batch's TABLE_MAPs (a
    table first seen mid-stream gets its lake table created then), ONE
    generic decode staged partitioned by (schema, table), then the same
    per-table routed apply as batch replay — FULL tables take the
    row-level winner search, tables with MINIMAL partial images the
    per-column reduction.  Exactly-once is double-keyed per table:
    streaming checkpoint at the source, batch-id idempotence at each
    table's snapshot log.  Returns the StreamingQuery."""
    import os as _os
    import shutil as _shutil

    from ..cdc.multi import (apply_staged_batch, ensure_tables,
                             scan_table_registry_blobs)
    from ..decoder.generic import decode_changes_vals

    blobs = stream_blobs(spark, dump_dir)
    # same manifest auto-enable as replay_generic (ADVICE r5): a stream
    # whose dump records >32767-row transactions needs the unclamped
    # DECIMAL order key
    try:
        from ..decoder.chunks import read_manifest
        wide_order = read_manifest(dump_dir).get("max_tx_rows", 0) > 32767
    except (OSError, ValueError, KeyError):
        wide_order = False

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        registry = scan_table_registry_blobs(batch_df)
        if not registry:
            return
        tables = ensure_tables(lake_root, registry, n_buckets=n_buckets)
        bid = f"stream-{checkpoint_dir}-{batch_id}"
        staging = _os.path.join(lake_root, f".stream-batch-{batch_id}")
        from ..cdc.multi import stage_events
        events = decode_changes_vals(batch_df)
        partials = stage_events(events, staging)
        apply_staged_batch(spark, staging, registry, tables, bid,
                           broadcast_winners=broadcast_winners,
                           wide_order=wide_order,
                           partial_tables=partials)
        _shutil.rmtree(staging, ignore_errors=True)
        if on_batch is not None:
            on_batch(batch_id, {t: tbl.current_snapshot_id()
                                for t, tbl in tables.items()})

    writer = (blobs.writeStream
              .foreachBatch(apply_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()
