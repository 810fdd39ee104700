"""One frame walk: the engine's only binlog v4 header hop.

Every engine decoder starts by splitting a chunk into framed events
(the reference walks the same headers in local.go:96-146).  This module
owns that step for all of them — the vector kernel, the generic
decoder, the statement decoder and the TABLE_MAP scans; only the
oracle (mysql.decode.iter_frames, an independent implementation) and
the driver's bounded-window chunk planner (decoder.chunks.scan_chunks)
walk headers on their own.

Two levels:

  * ``spans``: the header hop — ``(category, start, end)`` for each
    frame whose event type the category table marks; one u32 read plus
    one bytes-table index per frame, no objects.  Unmarked frames (the
    statement majority on a row decode) cost only that.  The vector
    kernel drives its fused loop from it.
  * ``frames``: the body-level walk on top — ``(category, type, body,
    next_pos, ts, crc_ok, fde)`` — with the FDE tracked (its checksum
    length fixes every later body end) and v1/v3 file heads routed to
    mysql.decode.iter_frames, which knows their header layouts.

A category table picks the frames a consumer reads: ``ROW_CATS`` (row
decoders), ``STMT_CATS`` (statement decoder), ``TM_CATS`` (TABLE_MAP
scans).  CRC is verified only on ROWS and STMT frames: those are the
frames whose verdict reaches an output record (row decoders read rows
frames, the statement decoder statement frames), so skipping the rest is
output-equivalent (SURVEY A28).

A size field below the 19-byte header is corruption, never a partial
read, and raises BinlogError; a frame running past the chunk end is a
partial trailing frame and ends the walk (cf.
the reference's local.go:137-140).
"""

from __future__ import annotations

import struct
import zlib

from .. import constants as C
from ..mysql.decode import (DEFAULT_FDE, BinlogError, Cur, _probe_checksum,
                            infer_binlog_version, iter_frames, parse_fde)

_U32 = struct.Struct("<I").unpack_from
#: (timestamp, type, next_pos) of a v4 header; server_id and size skipped
_TS_TYPE_NEXT = struct.Struct("<IB8xI").unpack_from
_HSZ = C.HEADER_SIZE

# frame categories (0 = not read by the consumer)
ROWS, TABLE_MAP, GTID, ROTATE, FDE, XID, STMT = range(1, 8)
#: categories whose CRC verdict reaches an output record
_CRC_CATS = tuple(c in (ROWS, STMT) for c in range(8))


def _table(cats: dict[int, int]) -> bytes:
    """256-entry event-type → category table: ONE bytes index replaces a
    set-membership chain per frame.  FDE is always marked — the walk
    tracks the checksum length through it."""
    t = bytearray(256)
    for typ, c in cats.items():
        t[typ] = c
    t[C.FORMAT_DESCRIPTION_EVENT] = FDE
    return bytes(t)


_GTIDS = {C.GTID_EVENT: GTID, C.ANONYMOUS_GTID_EVENT: GTID}
ROW_CATS = _table({**{t: ROWS for t in C.ROWS_EVENTS}, **_GTIDS,
                   C.TABLE_MAP_EVENT: TABLE_MAP, C.ROTATE_EVENT: ROTATE})
STMT_CATS = _table({**_GTIDS, C.XID_EVENT: XID, **{
    t: STMT for t in (C.QUERY_EVENT, C.INTVAR_EVENT, C.RAND_EVENT,
                      C.USER_VAR_EVENT, C.INCIDENT_EVENT,
                      C.ROWS_QUERY_EVENT)}})
TM_CATS = _table({C.TABLE_MAP_EVENT: TABLE_MAP})


def fde_at(data, start: int, end: int):
    """Parse the FORMAT_DESCRIPTION frame at ``data[start:end]``."""
    return parse_fde(Cur(memoryview(bytes(data[start + _HSZ:end]))),
                     end - start)


def chunk_start(data, has_magic: bool):
    """``(pos, fde)`` where a v4 walk over the chunk starts: a leading
    FORMAT_DESCRIPTION is resolved up front (the checksum length must be
    known before any body end), an FDE-less mid-file chunk has its
    checksum probed (mysql.decode._probe_checksum).  None for a v1/v3
    file head."""
    mv = memoryview(data)
    n = len(data)
    pos = 4 if has_magic else 0
    if has_magic:
        if n >= pos + 13 and infer_binlog_version(mv, has_magic=True) != 4:
            return None
        fde = DEFAULT_FDE
    else:
        fde = _probe_checksum(mv, pos)
    if n >= pos + _HSZ and data[pos + 4] == C.FORMAT_DESCRIPTION_EVENT:
        size = _U32(data, pos + 9)[0]
        if _HSZ <= size and pos + size <= n:
            fde = fde_at(data, pos, pos + size)
    return pos, fde


def spans(data, pos: int, cats: bytes = ROW_CATS):
    """The header hop from ``pos``: ``(category, start, end)`` per frame
    whose type ``cats`` marks."""
    u32 = _U32
    hsz = _HSZ
    n = len(data)
    while pos + hsz <= n:
        size = u32(data, pos + 9)[0]
        end = pos + size
        if end > n:
            return  # partial trailing frame
        if size < hsz:
            raise BinlogError(
                f"event size {size} at chunk offset {pos} is below the "
                f"{hsz}-byte header — corrupt frame")
        c = cats[data[pos + 4]]
        if c:
            yield c, pos, end
        pos = end


def frames(data, has_magic: bool, verify_crc: bool,
           cats: bytes = ROW_CATS):
    """Body-level walk: ``(category, type, body, next_pos, ts, crc_ok,
    fde)`` per frame ``cats`` marks, FDE frames excepted (they only
    update the ``fde`` later frames carry).  ``body`` is a memoryview
    without header or checksum trailer."""
    start = chunk_start(data, has_magic)
    if start is None:  # v1/v3 head: the oracle iterator knows its layout
        for fr, fde in iter_frames(data, has_magic=has_magic,
                                   verify_crc=verify_crc):
            c = cats[fr.event_type]
            if c:
                yield (c, fr.event_type, fr.body, fr.next_pos,
                       fr.timestamp, fr.crc_ok, fde)
        return
    pos, fde = start
    cksum = fde.checksum_len
    mv = memoryview(data)
    u32 = _U32
    header = _TS_TYPE_NEXT
    crc32 = zlib.crc32
    crc_cats = _CRC_CATS
    for c, s, e in spans(data, pos, cats):
        if c == FDE:
            fde = fde_at(data, s, e)
            cksum = fde.checksum_len
            continue
        ok = True
        if verify_crc and cksum == 4 and crc_cats[c]:
            ok = crc32(mv[s:e - 4]) == u32(data, e - 4)[0]
        ts, t, next_pos = header(data, s)
        yield c, t, mv[s + _HSZ:e - cksum], next_pos, ts, ok, fde


def table_map_bodies(data, has_magic: bool):
    """Each TABLE_MAP body of a chunk (bytes), in log order — the scan
    behind the multi-table registry and the extra-column discovery."""
    for fr in frames(data, has_magic, False, TM_CATS):
        yield bytes(fr[2])
