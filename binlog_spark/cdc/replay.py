"""End-to-end replay: staged binlog chunks → lake table, exactly-once.

The distributed counterpart of the reference's caller loop
(Seek → NextEvent → NextRow → apply, /root/reference/doc.go:33-66), with
the dump/resume semantics of /root/reference/dump.go:14-125 lifted to
checkpointed, idempotent batch commits:

  * batches are deterministic chunk ranges (so batch_ids are stable)
  * each batch: decode → quarantine → GTID-dedup → last-writer-wins
    → MERGE into the lake table
  * a batch whose batch_id is already committed is skipped (exactly-once
    under retries/restarts)
  * resume-from-checkpoint = skip committed batches and continue
  * per-partition lineage + metrics parquet per batch (SURVEY §7 Phase 5)
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..decoder.chunks import (DECODE_SPAN_TARGET, chunks_df,
                              decode_parallelism, manifest_wide_order,
                              spans_df)
from ..decoder.kernel import decode_changes, decode_keys
from ..lake.table import LakeTable
from .pipeline import (flatten_extras, reduce_changes,
                       reduce_changes_minimal, scan_extra_columns)


def _batch_id(dump_dir: str, idx: int, spans: list) -> str:
    h = hashlib.sha256(repr((os.path.abspath(dump_dir), idx, spans)).encode())
    return h.hexdigest()[:16]


def plan_batches(chunks: list[tuple], chunks_per_batch: int | None) -> list[list[tuple]]:
    if not chunks_per_batch or chunks_per_batch >= len(chunks):
        return [chunks] if chunks else []
    return [chunks[i:i + chunks_per_batch]
            for i in range(0, len(chunks), chunks_per_batch)]


def batch_plan(spark: SparkSession, spans: list[tuple], target: int
               ) -> tuple[int | None, dict]:
    """The per-batch settings every chunk-span entry point derives from
    its batch, as ``(partitions, offsets)``: the decode partition count
    for the decoder's bytes-per-task ``target``
    (decoder.chunks.decode_parallelism) and the commit offsets — the end
    of the batch's last chunk in its newest file."""
    last_file = max(s[1] for s in spans)
    last_end = max(s[2] + s[3] for s in spans if s[1] == last_file)
    return (decode_parallelism(spark, spans, target=target),
            {"log_file": last_file, "next_pos": int(last_end)})


def single_table_upserts(spark: SparkSession, spans: list[tuple],
                         extra_names: list[str], *, minimal_images: bool,
                         wide_order: bool
                         ) -> tuple[DataFrame, DataFrame, dict]:
    """The single-table batch body replay and the streaming tail share,
    as ``(events, upserts, offsets)``: ONE payload decode of the batch's
    chunk spans, reduced to one upsert row per touched key.

    FULL images pick each key's winner in one ``max(struct(_ord, row))``
    argmax (cdc.pipeline.last_writer_wins without a key probe) and
    flatten ``extra_names`` into real columns.  MINIMAL images take the
    per-column reduction (cdc.pipeline.reduce_changes_minimal), whose
    key-move edge probe runs on a cheap key-only decode of the same
    spans.  The caller discovers ``extra_names`` from the batch's
    TABLE_MAPs, and owns the batch-id skip, lineage and MERGE."""
    parts, offsets = batch_plan(spark, spans, DECODE_SPAN_TARGET)
    cdf = spans_df(spark, spans)
    events = decode_changes(cdf, partitions=parts)
    if minimal_images:
        upserts = reduce_changes_minimal(
            events, extra_names=extra_names,
            key_events=decode_keys(cdf, partitions=parts),
            wide_order=wide_order)
    else:
        upserts = reduce_changes(events, wide_order=wide_order)
        upserts, _new_cols = flatten_extras(upserts, names=extra_names)
    return events, upserts, offsets


def write_lineage(events: DataFrame, table_root: str, batch_id: str) -> dict:
    """Per-file lineage rows + batch metrics (counts never silently lost)."""
    agg = (events.groupBy("log_file")
           .agg(F.count("*").alias("events_decoded"),
                F.sum(F.when(~F.col("crc_ok"), 1).otherwise(0)).alias("events_quarantined"),
                F.min("log_pos").alias("from_pos"),
                F.max("log_pos").alias("to_pos"))
           .withColumn("batch_id", F.lit(batch_id)))
    out = os.path.join(table_root, "lineage", batch_id)
    agg.write.mode("overwrite").parquet(out)
    rows = agg.collect()
    return {
        "events_decoded": sum(r.events_decoded for r in rows),
        "events_quarantined": sum(r.events_quarantined for r in rows),
        "files": len(rows),
    }


def replay(spark: SparkSession, dump_dir: str, table_root: str, *,
           chunks_per_batch: int | None = None,
           n_buckets: int = 32,
           lineage: bool = True,
           compact_every: int | None = None,
           compact_tombstone_ratio: float | None = None,
           minimal_images: bool = False,
           wide_order: bool | None = None) -> LakeTable:
    """Replay a dump dir into a lake table; safe to re-run (idempotent).

    Each batch runs the body the streaming tail runs
    (single_table_upserts): one payload decode, and for FULL images one
    ``max(struct(_ord, row))`` argmax per key at every batch size.

    ``compact_every`` / ``compact_tombstone_ratio``: retention policy —
    after each committed batch the table compacts when N commits have
    accumulated since the last compact, or when persisted tombstones
    exceed the given fraction of live rows (see LakeTable.maybe_compact).

    ``minimal_images``: the dump was written under
    binlog_row_image=MINIMAL — partial after-images are column PATCHES;
    the reduction runs per column (reduce_changes_minimal) and the MERGE
    coalesces unresolved columns from the existing rows.

    ``wide_order``: DECIMAL order key with no 32767 seq clamp, for
    single transactions beyond 32k rows on one key (pack_ord wide).
    None (default) auto-enables from the dump manifest's
    ``max_tx_rows`` (decoder.chunks.manifest_wide_order); pass True
    explicitly for foreign dumps without a manifest.  Chunk spans are
    transaction-aligned, so a transaction never splits across batches
    and the lake MERGE's cross-batch winner search stays on the narrow
    packed BIGINT.
    """
    if wide_order is None:
        wide_order = manifest_wide_order(dump_dir)
    table = LakeTable(table_root, n_buckets=n_buckets)
    table.create()
    all_chunks = [tuple(r) for r in
                  chunks_df(spark, dump_dir).collect()]
    committed = table.committed_batch_ids()
    batches = plan_batches(all_chunks, chunks_per_batch)

    for i, spans in enumerate(batches):
        bid = _batch_id(dump_dir, i, [s[1:] for s in spans])
        if bid in committed:
            continue
        # schema evolution: extras observed in this batch become real
        # columns; the MERGE widens the table schema accordingly.  Names
        # come from a driver-side TABLE_MAP scan of the batch's bounded
        # chunks — never from executing the pipeline.
        events, upserts, offsets = single_table_upserts(
            spark, spans, scan_extra_columns(spans),
            minimal_images=minimal_images, wide_order=wide_order)
        # lineage re-runs the decode (cheap, embarrassingly parallel)
        # rather than caching the event stream — a DataFrame cache build
        # costs more than a second decode pass at scale
        metrics = write_lineage(events, table_root, bid) if lineage else {}
        table.merge(spark, upserts, batch_id=bid, offsets=offsets,
                    stats=metrics)
        if compact_every or compact_tombstone_ratio:
            table.maybe_compact(spark, every_n_commits=compact_every,
                                tombstone_ratio=compact_tombstone_ratio)
    return table


def replay_throughput(spark: SparkSession, dump_dir: str, table_root: str,
                      **kw) -> dict:
    """Run replay and report events/sec (bench harness helper)."""
    t0 = time.time()
    table = replay(spark, dump_dir, table_root, **kw)
    wall = time.time() - t0
    from ..decoder.chunks import read_manifest
    n = read_manifest(dump_dir)["n_changes"]
    return {"wall_sec": wall, "changes": n,
            "changes_per_sec": n / wall if wall else float("inf"),
            "snapshot": table.current_snapshot_id()}
