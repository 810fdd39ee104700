"""Generic-table decode: any MySQL schema → change events.

This is the engine's one row decoder for everything the vectorized
repo_files kernel (decoder.vector) does not claim: arbitrary TABLE_MAP
schemas — all 24 scalar types (packed decimal, bitfield temporals,
enum/set, binary JSON…) — via COMPILED per-layout column readers
(decoder.columnar), in two output modes:

  * ``decode_changes_generic``: canonical JSON row images keyed by column
    name (or ``@ordinal`` without FULL metadata), mirroring the reference
    CLI's rendering (/root/reference/cmd/binlog/main.go:196-265)
  * ``decode_changes_vals``: raw cell strings in TABLE_MAP ordinal order
    (``array<string>``) — the cheap path for the multi-table lake apply,
    which casts cells to typed columns instead of parsing JSON; the
    vector kernel's declined chunks also decode here and are mapped onto
    CHANGE_SCHEMA by decoder.kernel
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .. import constants as C
from ..mysql.decode import BinlogError, Cur, parse_table_map
from .chunks import iter_chunk_bytes
from .columnar import RowsDecoder
from .frames import GTID, ROTATE, ROWS, TABLE_MAP, frames

GENERIC_SCHEMA = StructType([
    StructField("op", StringType(), False),
    StructField("table_schema", StringType(), True),
    StructField("table_name", StringType(), True),
    StructField("before_json", StringType(), True),
    StructField("after_json", StringType(), True),
    StructField("gtid", StringType(), True),
    StructField("seq_in_tx", IntegerType(), False),
    StructField("log_file", StringType(), False),
    StructField("log_pos", LongType(), False),
    StructField("ts_sec", LongType(), False),
    StructField("crc_ok", BooleanType(), False),
])

VALS_SCHEMA = StructType([
    StructField("op", StringType(), False),
    StructField("table_schema", StringType(), True),
    StructField("table_name", StringType(), True),
    StructField("before_vals", ArrayType(StringType()), True),
    StructField("after_vals", ArrayType(StringType()), True),
    # columns-present maps for MINIMAL (partial) row images: one '0'/'1'
    # char per TABLE_MAP ordinal, or NULL for a FULL image (the common
    # case costs nothing and the is-full test is a null check).  The vals
    # arrays stay full-length with None at absent ordinals; these strings
    # disambiguate "absent from the image" from "present and NULL".
    StructField("before_present", StringType(), True),
    StructField("after_present", StringType(), True),
    StructField("gtid", StringType(), True),
    StructField("seq_in_tx", IntegerType(), False),
    StructField("log_file", StringType(), False),
    StructField("log_pos", LongType(), False),
    StructField("ts_sec", LongType(), False),
    StructField("crc_ok", BooleanType(), False),
])

_GCOLS = [f.name for f in GENERIC_SCHEMA.fields]
_VCOLS = [f.name for f in VALS_SCHEMA.fields]


def _image_json(names, values) -> str | None:
    """Canonical JSON for a row image (the sequential-oracle rendering —
    golden_typed.parquet is produced with this)."""
    import datetime as _dt
    import json

    if values is None:
        return None
    obj = {}
    for i, v in enumerate(values):
        name = names[i] if i < len(names) and names[i] else f"@{i}"
        if isinstance(v, bytes):
            v = {"$hex": v.hex()}
        elif isinstance(v, (_dt.datetime, _dt.date)):
            v = v.isoformat()
        obj[name] = v
    return json.dumps(obj, sort_keys=True, default=str)


def _present_str(bm: bytes, ncol: int) -> str | None:
    """'0'/'1' per ordinal, or None for a full image (all bits set)."""
    bits = "".join("1" if (bm[i >> 3] >> (i & 7)) & 1 else "0"
                   for i in range(ncol))
    return None if "0" not in bits else bits


def _lenenc(b, pos):
    v = b[pos]
    if v < 0xFB:
        return v, pos + 1
    if v == 0xFC:
        return b[pos + 1] | (b[pos + 2] << 8), pos + 3
    if v == 0xFD:
        return (b[pos + 1] | (b[pos + 2] << 8) | (b[pos + 3] << 16)), pos + 4
    return int.from_bytes(b[pos + 1:pos + 9], "little"), pos + 9


#: TABLE_MAP body → (tme, RowsDecoder), shared across chunks within one
#: worker process: a binlog re-emits identical TABLE_MAPs before every
#: rows-event, and the per-call cache recompiled every layout's readers
#: for EVERY chunk (profiled: builtins.compile alone was ~15% of the
#: decode).  Bounded by the number of distinct TABLE_MAP bodies.
_DECODER_CACHE: dict[bytes, tuple] = {}


def decode_span_generic(data: bytes, log_file: str, *,
                        has_magic: bool = False,
                        verify_crc: bool = True,
                        mode: str = "json") -> dict[str, list]:
    """Decode one chunk into columnar lists with compiled per-layout
    readers — no per-record objects, no per-cell type dispatch.  Frames
    come from the engine's shared walk (decoder.frames), CRC verified on
    rows frames.

    Besides the schema columns the dict carries ``_tables``: one
    ``(TableMap, row count)`` pair per decoded rows-event, in output
    order, so a caller can resolve each row's column names.  A rows-event
    whose table id has no TABLE_MAP in the chunk raises BinlogError."""
    names = _GCOLS if mode == "json" else _VCOLS
    cols: dict[str, list] = {k: [] for k in names}
    ex = {k: cols[k].extend for k in names}
    cols["_tables"] = tables = []
    ex_before = ex["before_json" if mode == "json" else "before_vals"]
    ex_after = ex["after_json" if mode == "json" else "after_vals"]
    tme_cache: dict[int, tuple] = {}
    pres_cache: dict[tuple[bytes, int], str | None] = {}
    gtid = None
    seq = 0

    def pres(bm: bytes, ncol: int) -> str | None:
        key = (bm, ncol)
        if key not in pres_cache:
            pres_cache[key] = _present_str(bm, ncol)
        return pres_cache[key]
    for c, t, body, next_pos, ts, crc_ok, fde_now in frames(
            data, has_magic, verify_crc):
        if c == GTID:
            # manual hyphen format — identical to str(uuid.UUID(bytes=sid))
            # (lowercase hex) without the UUID object per transaction
            h = bytes(body[1:17]).hex()
            gno = int.from_bytes(body[17:25], "little")
            gtid = (f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}"
                    f":{gno}")
            seq = 0
        elif c == TABLE_MAP:
            key = bytes(body)
            entry = _DECODER_CACHE.get(key)
            if entry is None:
                tme = parse_table_map(Cur(key))
                entry = _DECODER_CACHE[key] = (tme, RowsDecoder(tme))
            tme_cache[entry[0].table_id] = entry
        elif c == ROWS:
            b = body
            pos8 = 4 if fde_now.post_header(t, 8) == 6 else 6
            tid = int.from_bytes(b[:pos8], "little")
            if tid == 0x00FFFFFF:  # dummy
                continue
            entry = tme_cache.get(tid)
            if entry is None:
                raise BinlogError(f"no tableMapEvent for tableID {tid}")
            tme, dec = entry
            pos = pos8 + 2  # flags
            if t in C.ROWS_EVENTS_V2:
                extra = b[pos] | (b[pos + 1] << 8)
                pos += extra
            ncol, pos = _lenenc(b, pos)
            if ncol == 0:
                continue
            nb = (ncol + 7) // 8
            present0 = bytes(b[pos:pos + nb])
            pos += nb
            is_update = t in C.UPDATE_ROWS_EVENTS
            if is_update:
                present1 = bytes(b[pos:pos + nb])
                pos += nb
            else:
                present1 = None
            op = ("I" if t in C.WRITE_ROWS_EVENTS
                  else "U" if is_update else "D")
            read_ev = dec.event_reader(present0, present1, mode, op)
            if read_ev is None:
                raise BinlogError(
                    f"uncompilable column layout for table {tme.table}")
            # whole-event codegen: all rows of the event decode inside one
            # generated function; the constant columns extend in bulk
            pos, befores, afters = read_ev(b, pos, len(b))
            n = len(afters) if op != "D" else len(befores)
            if not n:
                continue
            tables.append((tme, n))
            ex_before(befores if op != "I" else [None] * n)
            ex_after(afters if op != "D" else [None] * n)
            if mode == "vals":
                # image0 = before for U/D, after for I; image1 = U's after
                p0 = pres(present0, ncol)
                ex["before_present"](
                    [p0 if op != "I" else None] * n)
                ex["after_present"](
                    [p0 if op == "I" else
                     (pres(present1, ncol) if op == "U" else None)] * n)
            ex["op"]([op] * n)
            ex["table_schema"]([tme.schema] * n)
            ex["table_name"]([tme.table] * n)
            ex["gtid"]([gtid] * n)
            ex["seq_in_tx"](range(seq, seq + n))
            seq += n
            ex["log_file"]([log_file] * n)
            ex["log_pos"]([next_pos] * n)
            ex["ts_sec"]([ts] * n)
            ex["crc_ok"]([crc_ok] * n)
        elif c == ROTATE:
            tme_cache.clear()
    return cols


def _to_batch(cols: dict[str, list], mode: str):
    import pyarrow as pa
    names = _GCOLS if mode == "json" else _VCOLS
    typ = {"seq_in_tx": pa.int32(), "log_pos": pa.int64(),
           "ts_sec": pa.int64(), "crc_ok": pa.bool_(),
           "before_vals": pa.list_(pa.string()),
           "after_vals": pa.list_(pa.string())}
    arrays = [pa.array(cols[k], type=typ.get(k, pa.string()))
              for k in names]
    return pa.RecordBatch.from_arrays(arrays, names=list(names))


def _make_worker(mode: str):
    def work(batches):
        for log_file, off, data in iter_chunk_bytes(batches):
            cols = decode_span_generic(data, log_file, has_magic=off == 0,
                                       mode=mode)
            if cols["op"]:
                yield _to_batch(cols, mode)
    return work


def _decode(chunks: DataFrame, mode: str,
            partitions: int | None) -> DataFrame:
    if partitions:
        chunks = chunks.repartition(partitions)
    schema = GENERIC_SCHEMA if mode == "json" else VALS_SCHEMA
    return chunks.mapInArrow(_make_worker(mode), schema)


def decode_changes_generic(chunks: DataFrame, *,
                           partitions: int | None = None) -> DataFrame:
    """Chunk-span DF → generic change-event DF (JSON row images)."""
    return _decode(chunks, "json", partitions)


def decode_changes_vals(chunks: DataFrame, *,
                        partitions: int | None = None) -> DataFrame:
    """Chunk-span DF → generic change-event DF (ordinal cell-string
    arrays; the multi-table apply path casts these to typed columns)."""
    return _decode(chunks, "vals", partitions)
