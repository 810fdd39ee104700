"""Statement-event decode: the non-row events a CDC consumer cares about.

The reference decodes QUERY (schema + SQL text — the standard
schema-evolution/DDL trigger and the BEGIN transaction delimiter),
INTVAR, RAND, USER_VAR, INCIDENT and ROWS_QUERY bodies
(/root/reference/events.go:211-338, rbr.go:373-386); round 1 recognized
and skipped them.  This path emits them as a typed side-channel
DataFrame next to the row-change stream.

Flattened record (one schema for all six types):

    stmt_type    QUERY / INTVAR / RAND / USER_VAR / INCIDENT / ROWS_QUERY
    schema_name  QUERY only: the default schema
    text         QUERY sql / ROWS_QUERY text / USER_VAR name /
                 INCIDENT message
    value        USER_VAR value (null when the variable is null)
    n1, n2       INTVAR (type, value) / RAND (seed1, seed2) /
                 INCIDENT (number, null)
    gtid         owning transaction (null before the first GTID)
    log_file, log_pos, ts_sec, crc_ok   commit-order offset + header
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .. import constants as C
from ..mysql.decode import Cur
from .chunks import iter_chunk_bytes
from .frames import GTID, STMT_CATS, XID, frames

STATEMENT_SCHEMA = StructType([
    StructField("stmt_type", StringType(), False),
    StructField("schema_name", StringType(), True),
    StructField("text", StringType(), True),
    StructField("value", StringType(), True),
    StructField("n1", LongType(), True),
    StructField("n2", LongType(), True),
    StructField("gtid", StringType(), True),
    StructField("log_file", StringType(), False),
    StructField("log_pos", LongType(), False),
    StructField("ts_sec", LongType(), False),
    StructField("crc_ok", BooleanType(), False),
])

_SCOLS = [f.name for f in STATEMENT_SCHEMA.fields]

_INTVAR_KINDS = {1: "LAST_INSERT_ID", 2: "INSERT_ID"}


def decode_span_statements(data: bytes, log_file: str, *,
                           has_magic: bool = False,
                           verify_crc: bool = True) -> dict[str, list]:
    """Decode one chunk's statement events into columnar lists.  Frames
    come from the engine's shared walk (decoder.frames, ``STMT_CATS``),
    CRC verified on the statement frames the records carry."""
    import uuid as _uuid
    cols: dict[str, list] = {k: [] for k in _SCOLS}
    gtid = None

    def emit(fr, stmt_type, schema_name=None, text=None, value=None,
             n1=None, n2=None):
        cols["stmt_type"].append(stmt_type)
        cols["schema_name"].append(schema_name)
        cols["text"].append(text)
        cols["value"].append(value)
        cols["n1"].append(n1)
        cols["n2"].append(n2)
        cols["gtid"].append(gtid)
        cols["log_file"].append(log_file)
        cols["log_pos"].append(fr[3])
        cols["ts_sec"].append(fr[4])
        cols["crc_ok"].append(fr[5])

    for fr in frames(data, has_magic, verify_crc, STMT_CATS):
        c, t, b, fde = fr[0], fr[1], fr[2], fr[6]
        if c == GTID:
            cur = Cur(b)
            cur.int1()
            sid = cur.bytes(16)
            gno = cur.int8()
            gtid = f"{_uuid.UUID(bytes=sid)}:{gno}"
        elif c == XID:
            # gtid attaches only within an open transaction: standalone
            # statements (INCIDENT, DDL) deterministically carry null
            # regardless of which chunk they land in
            gtid = None
        elif t == C.QUERY_EVENT:
            # thread_id(4) exec_time(4) schema_len(1) error(2) status(2)
            # (/root/reference/events.go:211-237).  Pre-5.0 (binlog
            # v1/v3) QUERY has no status-vars block — the schema starts
            # right after the 11-byte post-header.  INTVAR/RAND/USER_VAR
            # layouts are unchanged since their introduction, so only
            # QUERY branches on the version.
            schema_len = b[8]
            if fde.binlog_version < 4:
                pos = 11
            else:
                status_len = b[11] | (b[12] << 8)
                pos = 13 + status_len
            schema = str(b[pos:pos + schema_len], "utf-8")
            pos += schema_len + 1  # trailing NUL
            sql = str(b[pos:], "utf-8")
            emit(fr, "QUERY", schema_name=schema, text=sql)
        elif t == C.INTVAR_EVENT:
            emit(fr, "INTVAR", n1=b[0],
                 n2=int.from_bytes(b[1:9], "little"))
        elif t == C.RAND_EVENT:
            emit(fr, "RAND", n1=int.from_bytes(b[0:8], "little"),
                 n2=int.from_bytes(b[8:16], "little"))
        elif t == C.USER_VAR_EVENT:
            nlen = int.from_bytes(b[0:4], "little")
            name = str(b[4:4 + nlen], "utf-8")
            pos = 4 + nlen
            is_null = b[pos]
            pos += 1
            value = None
            if not is_null:
                # type(1) + charset(4) + len(4) + value [+ flags(1)] —
                # the reference dispatches on the type byte the same way
                # (/root/reference/events.go:306-338); rendering degrades
                # to hex for unknown types so one exotic variable cannot
                # abort the whole chunk's statement decode
                vtype = b[pos]
                pos += 1 + 4
                vlen = int.from_bytes(b[pos:pos + 4], "little")
                pos += 4
                raw = b[pos:pos + vlen]
                pos += vlen
                unsigned = pos < len(b) and bool(b[pos] & 1)
                if vtype == 0:       # STRING_RESULT
                    value = str(raw, "utf-8", errors="replace")
                elif vtype == 1:     # REAL_RESULT: LE double
                    import struct as _st
                    value = repr(_st.unpack("<d", raw)[0])
                elif vtype == 2:     # INT_RESULT (flags bit 0 = unsigned)
                    value = str(int.from_bytes(raw, "little",
                                               signed=not unsigned))
                elif vtype == 4:     # DECIMAL_RESULT: prec+scale+packed
                    from ..mysql.decode import decode_decimal
                    value = decode_decimal(bytes(raw[2:]), raw[0], raw[1])
                else:
                    value = bytes(raw).hex()
            emit(fr, "USER_VAR", text=name, value=value)
        elif t == C.INCIDENT_EVENT:
            num = b[0] | (b[1] << 8)
            mlen = b[2]
            emit(fr, "INCIDENT", text=str(b[3:3 + mlen], "utf-8"), n1=num)
        elif t == C.ROWS_QUERY_EVENT:
            # length byte is vestigial; readers take the rest
            # (/root/reference/rbr.go:373-386)
            emit(fr, "ROWS_QUERY", text=str(b[1:], "utf-8"))
    return cols


def _to_batch(cols: dict[str, list]):
    import pyarrow as pa
    typ = {"n1": pa.int64(), "n2": pa.int64(), "log_pos": pa.int64(),
           "ts_sec": pa.int64(), "crc_ok": pa.bool_()}
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[k], type=typ.get(k, pa.string())) for k in _SCOLS],
        names=list(_SCOLS))


def _work(batches):
    for log_file, off, data in iter_chunk_bytes(batches):
        cols = decode_span_statements(data, log_file, has_magic=off == 0)
        if cols["stmt_type"]:
            yield _to_batch(cols)


def decode_statements(chunks: DataFrame, *,
                      partitions: int | None = None) -> DataFrame:
    """Chunk-span (or blob) DF → statement-event DF."""
    if partitions:
        chunks = chunks.repartition(partitions)
    return chunks.mapInArrow(_work, STATEMENT_SCHEMA)
