"""Structured Streaming tail: live binlog staging dir → lake table.

The streaming counterpart of the reference's dir tail
(/root/reference/dir_reader.go:54-107 sleep-polls 1 s for the `.next`
file, then opens the next file by name and position); here the Spark
file source polls the directory and each micro-batch is a list of
whole-file chunk spans ``(dump_dir, log_file, 0, length)`` — the same
span rows batch replay decodes.  The source lists names and lengths
only, so no file bytes pass through the streaming plan: the decode
tasks read their own files as replay's do, and the batch's TABLE_MAP
registry is header-hopped on the driver up to
cdc.multi.REGISTRY_DRIVER_MAX_BYTES (a distributed span scan above).
File-source contract: files must appear atomically (write temp + rename
— the reference's dump sink gets the same effect from
seek+overwrite-at-offset, dump.go:92-99); a file is decoded once,
partial trailing bytes of a still-growing file would be silently lost,
so only rotated-away files should be visible.

Exactly-once is double-keyed: Spark's streaming checkpoint dedups batch
replays at the source, and the lake's batch-id idempotence dedups them at
the sink — either alone survives a crash between the two.  Each commit
records the batch's offsets (its newest file and that file's length).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.multi import (ensure_tables, scan_table_registry_spans,
                         stage_and_apply)
from ..cdc.pipeline import registry_extra_columns
from ..cdc.replay import single_table_upserts
from ..decoder.chunks import manifest_wide_order
from ..lake.table import LakeTable

_BINARY_FILE_SCHEMA = ("path string, modificationTime timestamp, "
                       "length long, content binary")


def stream_blobs(spark: SparkSession, dump_dir: str,
                 max_files_per_trigger: int = 16) -> DataFrame:
    """Streaming DataFrame of a staging dir's binlog files as whole-file
    chunk spans (decoder.chunks.CHUNK_SCHEMA columns).  ``content`` is
    never selected, so the binaryFile source reads no file bytes."""
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
        F.lit(dump_dir).alias("dump_dir"),
        F.element_at(F.split("path", "/"), -1).alias("log_file"),
        F.lit(0).cast("long").alias("chunk_off"),
        F.col("length").alias("chunk_len"))


def _start(spark: SparkSession, dump_dir: str, checkpoint_dir: str,
           apply_spans: Callable[[list, int], None],
           available_now: bool, processing_interval: str):
    """Run ``apply_spans`` on every non-empty micro-batch's span list, in
    file order: drain what is visible and stop, or keep tailing on a
    processing-time trigger.  A micro-batch that lists only `.next`
    pointer files has no spans: it commits nothing to the lake.  Returns
    the StreamingQuery."""
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spans = sorted(tuple(r) for r in batch_df.collect())
        if spans:
            apply_spans(spans, batch_id)

    trigger = ({"availableNow": True} if available_now
               else {"processingTime": processing_interval})
    return (stream_blobs(spark, dump_dir).writeStream
            .foreachBatch(apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start())


def stream_apply(spark: SparkSession, dump_dir: str, table_root: str,
                 checkpoint_dir: str, *,
                 n_buckets: int = 32,
                 available_now: bool = True,
                 processing_interval: str = "5 seconds",
                 minimal_images: bool = False,
                 on_batch: Callable[[int, dict], None] | None = None):
    """Tail a staging dir into a lake table via foreachBatch MERGE.

    ``available_now=True`` drains everything currently visible and stops
    (replay); ``False`` keeps tailing with a processing-time trigger (the
    reference's blocking serverID!=0 mode, /root/reference/doc.go:23).
    ``minimal_images``: the source logs binlog_row_image=MINIMAL —
    partial images patch per column (reduce_changes_minimal + the
    patch-aware MERGE).  Each micro-batch runs batch replay's body
    (cdc.replay.single_table_upserts): a FULL-image micro-batch decodes
    its spans once and picks each key's winner in one
    ``max(struct(_ord, row))`` pass.  The order key is the one batch
    replay uses: wide when the dump's manifest records
    a transaction beyond the 32767-row seq clamp
    (decoder.chunks.manifest_wide_order).  Returns the StreamingQuery.
    """
    table = LakeTable(table_root, n_buckets=n_buckets)
    table.create()
    wide_order = manifest_wide_order(dump_dir)

    def apply_spans(spans: list, batch_id: int) -> None:
        # schema discovery from the batch's TABLE_MAPs: a driver header
        # hop over whole-file spans up to REGISTRY_DRIVER_MAX_BYTES, a
        # distributed scan above — a name-less flatten_extras would
        # EXECUTE the upsert pipeline once per micro-batch for a
        # distinct-key probe
        extra_names = registry_extra_columns(
            scan_table_registry_spans(spark, spans))
        _events, upserts, offsets = single_table_upserts(
            spark, spans, extra_names, minimal_images=minimal_images,
            wide_order=wide_order)
        snap = table.merge(spark, upserts,
                           batch_id=f"stream-{checkpoint_dir}-{batch_id}",
                           offsets=offsets)
        if on_batch is not None:
            on_batch(batch_id, snap)

    return _start(spark, dump_dir, checkpoint_dir, apply_spans,
                  available_now, processing_interval)


def stream_apply_multi(spark: SparkSession, dump_dir: str, lake_root: str,
                       checkpoint_dir: str, *,
                       n_buckets: int = 8,
                       available_now: bool = True,
                       processing_interval: str = "5 seconds",
                       on_batch: Callable[[int, dict], None] | None = None):
    """Tail a MULTI-TABLE staging dir: one stream demultiplexed into one
    lake table per source table (the streaming counterpart of
    cdc.multi.replay_generic — the reference leaves this demux to its
    caller, /root/reference/doc.go:47-56).

    Per micro-batch: registry discovery from the batch's TABLE_MAPs (a
    table first seen mid-stream gets its lake table created then), then
    the same batch body as batch replay (cdc.multi.stage_and_apply): ONE
    generic decode staged partitioned by (schema, table), then the
    per-table routed apply — FULL tables take the row-level winner
    search, tables with MINIMAL partial images the per-column
    reduction.  The order key follows the manifest, as in stream_apply.
    Exactly-once is double-keyed per table: streaming checkpoint at the
    source, batch-id idempotence at each table's snapshot log.  Returns
    the StreamingQuery."""
    wide_order = manifest_wide_order(dump_dir)

    def apply_spans(spans: list, batch_id: int) -> None:
        registry = scan_table_registry_spans(spark, spans)
        if not registry:
            return
        tables = ensure_tables(lake_root, registry, n_buckets=n_buckets)
        stage_and_apply(spark, spans,
                        os.path.join(lake_root, f".stream-batch-{batch_id}"),
                        registry, tables,
                        f"stream-{checkpoint_dir}-{batch_id}",
                        wide_order=wide_order)
        if on_batch is not None:
            on_batch(batch_id, {t: tbl.current_snapshot_id()
                                for t, tbl in tables.items()})

    return _start(spark, dump_dir, checkpoint_dir, apply_spans,
                  available_now, processing_interval)
