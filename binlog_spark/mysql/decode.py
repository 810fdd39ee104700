"""Sequential binlog v4 decoder — the engine's decode kernel.

Semantics mirror the reference library exactly (same event taxonomy, same
scalar-type bit-twiddling, same TableMap cache rules) but the implementation
is a fresh Python/numpy one operating over whole byte chunks:

  * event framing + demux     (decode mirror of /root/reference/binlog.go:3-112)
  * header decode             (/root/reference/events.go:138-148)
  * FDE + checksum inference  (/root/reference/events.go:162-179)
  * TABLE_MAP + ext metadata  (/root/reference/rbr.go:45-233)
  * ROWS v0/v1/v2 + rows      (/root/reference/rbr.go:246-350)
  * 24 scalar types           (/root/reference/types.go:118-334)
  * packed decimal            (/root/reference/types.go:368-463)
  * CRC32 verification        (/root/reference/local.go:186-198)

This module is deliberately dependency-light: it is shipped to executors and
called from ``mapInPandas`` once per multi-megabyte chunk (thousands of
events per call — never per-DataFrame-row Python).
"""

from __future__ import annotations

import datetime as _dt
import json as _json
import struct
import zlib
from dataclasses import dataclass, field
from typing import Any, Iterator

from .. import constants as C

_EPOCH = _dt.timezone.utc


class BinlogError(Exception):
    pass


# ---------------------------------------------------------------------------
# cursor over a chunk
# ---------------------------------------------------------------------------


class Cur:
    """Bounded cursor over a memoryview (role of /root/reference/reader.go,
    reimplemented as offset arithmetic over an in-memory chunk)."""

    __slots__ = ("b", "pos", "end")

    def __init__(self, b: memoryview, pos: int = 0, end: int | None = None) -> None:
        self.b = b
        self.pos = pos
        self.end = len(b) if end is None else end

    def more(self) -> bool:
        return self.pos < self.end

    def int1(self) -> int:
        v = self.b[self.pos]
        self.pos += 1
        return v

    def int2(self) -> int:
        v = self.b[self.pos] | (self.b[self.pos + 1] << 8)
        self.pos += 2
        return v

    def int3(self) -> int:
        p = self.pos
        self.pos += 3
        return self.b[p] | (self.b[p + 1] << 8) | (self.b[p + 2] << 16)

    def int4(self) -> int:
        v = struct.unpack_from("<I", self.b, self.pos)[0]
        self.pos += 4
        return v

    def int6(self) -> int:
        p = self.pos
        self.pos += 6
        return int.from_bytes(self.b[p:p + 6], "little")

    def int8(self) -> int:
        v = struct.unpack_from("<Q", self.b, self.pos)[0]
        self.pos += 8
        return v

    def int_fixed(self, n: int) -> int:
        p = self.pos
        self.pos += n
        return int.from_bytes(self.b[p:p + n], "little")

    def be(self, n: int) -> int:
        p = self.pos
        self.pos += n
        return int.from_bytes(self.b[p:p + n], "big")

    def lenenc(self) -> int:
        """Length-encoded int (/root/reference/reader.go:242-262)."""
        v = self.int1()
        if v < 0xFB:
            return v
        if v == 0xFC:
            return self.int2()
        if v == 0xFD:
            return self.int3()
        if v == 0xFE:
            return self.int8()
        raise BinlogError(f"invalid lenenc prefix 0x{v:02x}")

    def bytes(self, n: int) -> bytes:
        p = self.pos
        self.pos += n
        if self.pos > self.end:
            raise BinlogError("unexpected EOF")
        return bytes(self.b[p:p + n])

    def string(self, n: int) -> str:
        return self.bytes(n).decode("utf-8", "replace")

    def string_null(self) -> str:
        p = self.pos
        q = p
        while self.b[q] != 0:
            q += 1
        self.pos = q + 1
        return bytes(self.b[p:q]).decode("utf-8", "replace")

    def bytes_eof(self) -> bytes:
        p = self.pos
        self.pos = self.end
        return bytes(self.b[p:self.end])

    def string_eof(self) -> str:
        return self.bytes_eof().decode("utf-8", "replace")

    def skip(self, n: int) -> None:
        self.pos += n

    def null_bitmap(self, ncol: int) -> bytes:
        return self.bytes((ncol + 7) // 8)


def bitmap_is_set(bm: bytes, i: int) -> bool:
    """LSB-first (/root/reference/rbr.go:393-395)."""
    return (bm[i // 8] >> (i % 8)) & 1 == 1


# ---------------------------------------------------------------------------
# schema structs
# ---------------------------------------------------------------------------


@dataclass
class Col:
    ordinal: int
    type: int
    nullable: bool = False
    unsigned: bool = False
    meta: int = 0
    charset: int = 0
    name: str = ""
    values: list[str] = field(default_factory=list)


@dataclass
class TableMap:
    table_id: int
    schema: str
    table: str
    columns: list[Col]
    #: primary-key column ordinals from optional metadata TLV 8/9
    #: (SIMPLE_PRIMARY_KEY / PRIMARY_KEY_WITH_PREFIX); empty when the
    #: binlog was written without FULL row metadata
    pk: tuple = ()


@dataclass
class Fde:
    binlog_version: int = 4
    server_version: str = ""
    post_header_len: bytes = b""
    checksum_len: int = C.CHECKSUM_LEN

    def post_header(self, typ: int, default: int) -> int:
        if len(self.post_header_len) >= typ:
            return self.post_header_len[typ - 1]
        return default


#: assumed when a chunk does not start at a file head — valid for the v4 +
#: CRC32 streams this engine stages (generator always emits v4/CRC32; a
#: leading FDE, when present, overrides these).
DEFAULT_FDE = Fde()


# ---------------------------------------------------------------------------
# scalar value decode (semantics of /root/reference/types.go:118-304)
# ---------------------------------------------------------------------------


def _bit_slice(v: int, bits: int, off: int, ln: int) -> int:
    return (v >> (bits - (off + ln))) & ((1 << ln) - 1)


#: negative-TIME2 decode mode.  Default False = reference parity,
#: including its "weird duration behavior" (+1s on negative whole
#: minutes, /root/reference/types.go:279-281).  True = exact MySQL
#: semantics (two's complement over the whole stored quantity); flip
#: with ``time2_fidelity()``.
TIME2_FIDELITY = False


def time2_fidelity(on: bool = True):
    """Context manager switching negative-TIME2 decode to exact MySQL
    semantics (see TIME2_FIDELITY).  Worker-side code must set it inside
    the worker (module state does not ship to executors)."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        global TIME2_FIDELITY
        prev = TIME2_FIDELITY
        TIME2_FIDELITY = on
        try:
            yield
        finally:
            TIME2_FIDELITY = prev
    return _cm()


def _frac(cur: Cur, meta: int) -> int:
    n = (meta + 1) // 2
    if n == 0:
        return 0
    return cur.be(n) * (100 ** (3 - n))


def _frac_negative(cur: Cur, meta: int) -> int:
    n = (meta + 1) // 2
    if n == 0:
        return 0
    v = cur.be(n)
    if v != 0:
        bits = n * 8
        v = (~v) & ((1 << bits) - 1)
        v = (v & ~(1 << bits)) + 1
    return v * (100 ** (3 - n))


def decode_decimal(data: bytes, precision: int, scale: int) -> str:
    """Packed decimal → exact-scale string
    (semantics of /root/reference/types.go:395-463)."""
    integral = precision - scale
    ui, uf = integral // 9, scale // 9
    ci, cf = integral - ui * 9, scale - uf * 9
    comp = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]

    buf = bytearray(data)
    neg = (buf[0] & 0x80) == 0
    buf[0] ^= 0x80
    if neg:
        buf = bytearray(b ^ 0xFF for b in buf)

    pos = 0
    parts: list[str] = []
    if comp[ci]:
        parts.append(str(int.from_bytes(buf[:comp[ci]], "big")))
        pos = comp[ci]
    else:
        parts.append("0")
    for _ in range(ui):
        parts.append("%09d" % int.from_bytes(buf[pos:pos + 4], "big"))
        pos += 4
    s = "".join(parts)
    fparts: list[str] = []
    for _ in range(uf):
        fparts.append("%09d" % int.from_bytes(buf[pos:pos + 4], "big"))
        pos += 4
    if comp[cf]:
        fparts.append("%0*d" % (cf, int.from_bytes(buf[pos:pos + comp[cf]], "big")))
    f = "".join(fparts)

    s = s.lstrip("0") or "0"
    out = s + ("." + f if f else "")
    return ("-" + out) if neg else out


def decimal_size(precision: int, scale: int) -> int:
    comp = [0, 1, 1, 2, 2, 3, 3, 4, 4, 4]
    integral = precision - scale
    ui, uf = integral // 9, scale // 9
    ci, cf = integral - ui * 9, scale - uf * 9
    return ui * 4 + comp[ci] + uf * 4 + comp[cf]


def decode_value(col: Col, cur: Cur) -> Any:
    t = col.type
    if t == C.TYPE_VARCHAR or t == C.TYPE_STRING:
        size = cur.int1() if col.meta < 256 else cur.int2()
        return cur.string(size)
    if t == C.TYPE_TINY:
        v = cur.int1()
        return v if col.unsigned else (v - 256 if v >= 128 else v)
    if t == C.TYPE_SHORT:
        v = cur.int2()
        return v if col.unsigned else (v - 65536 if v >= 32768 else v)
    if t == C.TYPE_INT24:
        v = cur.int3()
        if col.unsigned:
            return v
        return v - (1 << 24) if v & 0x00800000 else v
    if t == C.TYPE_LONG:
        v = cur.int4()
        return v if col.unsigned else (v - (1 << 32) if v >= (1 << 31) else v)
    if t == C.TYPE_LONGLONG:
        v = cur.int8()
        return v if col.unsigned else (v - (1 << 64) if v >= (1 << 63) else v)
    if t == C.TYPE_NEWDECIMAL:
        precision, scale = col.meta & 0xFF, col.meta >> 8
        return decode_decimal(cur.bytes(decimal_size(precision, scale)),
                              precision, scale)
    if t == C.TYPE_FLOAT:
        return struct.unpack("<f", cur.bytes(4))[0]
    if t == C.TYPE_DOUBLE:
        return struct.unpack("<d", cur.bytes(8))[0]
    if t == C.TYPE_ENUM:
        if col.meta == 1:
            idx = cur.int1()
        elif col.meta == 2:
            idx = cur.int2()
        else:
            raise BinlogError(f"invalid enum length {col.meta}")
        return {"idx": idx,
                "label": (col.values[idx - 1] if col.values and 0 < idx <= len(col.values)
                          else ("" if col.values else None))}
    if t == C.TYPE_SET:
        n = col.meta
        if n == 0 or n > 8:
            raise BinlogError(f"invalid num bits in set {n}")
        mask = cur.int_fixed(n)
        members = [v for i, v in enumerate(col.values) if mask & (1 << i)] \
            if col.values else None
        return {"mask": mask, "members": members}
    if t == C.TYPE_BIT:
        nbits = ((col.meta >> 8) * 8) + (col.meta & 0xFF)
        return cur.be((nbits + 7) // 8)
    if t in (C.TYPE_BLOB, C.TYPE_GEOMETRY):
        size = cur.int_fixed(col.meta)
        v = cur.bytes(size)
        if col.charset in C.BINARY_CHARSETS:
            return v
        return v.decode("utf-8", "replace")
    if t == C.TYPE_JSON:
        size = cur.int_fixed(col.meta)
        buf = cur.bytes(size)
        from .jsonb import decode_jsonb
        return _json.dumps(decode_jsonb(buf), separators=(",", ":"),
                           sort_keys=False)
    if t == C.TYPE_DATE:
        v = cur.int3()
        if v == 0:
            return None
        return _dt.date(v // (16 * 32), v // 32 % 16, v % 32)
    if t == C.TYPE_DATETIME2:
        dtv = cur.be(5)
        ym = _bit_slice(dtv, 40, 1, 17)
        year, month = ym // 13, ym % 13
        day = _bit_slice(dtv, 40, 18, 5)
        hour = _bit_slice(dtv, 40, 23, 5)
        minute = _bit_slice(dtv, 40, 28, 6)
        sec = _bit_slice(dtv, 40, 34, 6)
        frac = _frac(cur, col.meta)
        return _dt.datetime(year, month, day, hour, minute, sec, frac)
    if t == C.TYPE_TIMESTAMP2:
        sec = cur.be(4)
        frac = _frac(cur, col.meta)
        return _dt.datetime.fromtimestamp(sec, tz=_EPOCH).replace(
            tzinfo=None) + _dt.timedelta(microseconds=frac)
    if t == C.TYPE_TIME2:
        if TIME2_FIDELITY:
            # fidelity mode: the stored (3+n)-byte quantity is ONE
            # two's-complement number offset by 2^(bits-1) — exactly
            # what MySQL writes (my_time_packed_from_binary).  The
            # reference's per-field inversion compensates only one
            # borrow, so negative whole-minute TIMEs (sec==0, frac==0)
            # decode off by a field there; this path reassembles
            # abs(stored − offset) and is exact for every value.
            n = (col.meta + 1) // 2
            raw = cur.be(3)
            fv = cur.be(n) if n else 0
            bits = (3 + n) * 8
            full = ((raw << (8 * n)) | fv) - (1 << (bits - 1))
            mag = -full if full < 0 else full
            frac = ((mag & ((1 << (8 * n)) - 1)) * (100 ** (3 - n))
                    if n else 0)
            ipart = mag >> (8 * n)
            hour = (ipart >> 12) & ((1 << 10) - 1)
            minute = (ipart >> 6) & 63
            sec = ipart & 63
            micros = ((hour * 3600 + minute * 60 + sec) * 1_000_000
                      + frac)
            return -micros if full < 0 else micros
        tv = cur.be(3)
        sign = _bit_slice(tv, 24, 0, 1)
        hour = _bit_slice(tv, 24, 2, 10)
        minute = _bit_slice(tv, 24, 12, 6)
        sec = _bit_slice(tv, 24, 18, 6)
        if sign == 0:  # negative: per-field inversion
            hour = (~hour) & ((1 << 10) - 1)
            minute = (~minute) & ((1 << 6) - 1)
            sec = (~sec) & ((1 << 6) - 1)
            frac = _frac_negative(cur, col.meta)
            if frac == 0 and sec < 59:  # the reference's "weird duration
                sec += 1                # behavior" (/root/reference/types.go:279-281)
        else:
            frac = _frac(cur, col.meta)
        micros = ((hour * 3600 + minute * 60 + sec) * 1_000_000) + frac
        return -micros if sign == 0 else micros
    if t == C.TYPE_YEAR:
        v = cur.int1()
        return 0 if v == 0 else 1900 + v
    raise BinlogError(f"decode of mysql type 0x{t:02x} is not implemented")


# ---------------------------------------------------------------------------
# event decode
# ---------------------------------------------------------------------------


@dataclass
class EventFrame:
    timestamp: int
    event_type: int
    server_id: int
    event_size: int
    next_pos: int
    flags: int
    body: memoryview          # post-header + body, checksum excluded
    crc_ok: bool
    start: int                # offset of the event within the chunk


def parse_fde(cur: Cur, event_size: int) -> Fde:
    """(semantics of /root/reference/events.go:162-179)"""
    fde = Fde()
    fde.binlog_version = cur.int2()
    sv = cur.bytes(50)
    fde.server_version = sv.split(b"\x00", 1)[0].decode()
    cur.int4()  # create timestamp
    cur.int1()  # event header length
    rest = cur.bytes_eof()  # table + checksum-type byte [+ trailing CRC]
    fme_size = rest[C.FORMAT_DESCRIPTION_EVENT - 1]
    fde.checksum_len = event_size - 19 - fme_size - 1
    # the FDE's own post-header length is 57 + table length
    fde.post_header_len = rest[:fme_size - 57]
    return fde


def parse_table_map(cur: Cur) -> TableMap:
    """(semantics of /root/reference/rbr.go:45-153)"""
    table_id = cur.int6()
    cur.int2()  # flags
    cur.int1()
    schema = cur.string_null()
    cur.int1()
    table = cur.string_null()
    ncol = cur.lenenc()
    cols = [Col(i, cur.int1()) for i in range(ncol)]

    cur.lenenc()  # meta block length
    for c in cols:
        t = c.type
        if t in C.META_1BYTE_TYPES:
            c.meta = cur.int1()
        elif t in C.META_2BYTE_TYPES:
            c.meta = cur.int2()
        elif t == C.TYPE_STRING:
            raw = cur.bytes(2)
            c.meta = int.from_bytes(raw, "big")
            if c.meta >= 256:
                b0, b1 = raw[0], raw[1]
                if b0 & 0x30 != 0x30:
                    c.meta = b1 | (((b0 & 0x30) ^ 0x30) << 4)
                    c.type = b0 | 0x30
                else:
                    c.meta = b1
                    c.type = b0

    nullable = cur.null_bitmap(ncol)
    for i, c in enumerate(cols):
        c.nullable = bitmap_is_set(nullable, i)

    # extended metadata TLVs (/root/reference/rbr.go:99-150)
    pk: list[int] = []
    while cur.more():
        typ = cur.int1()
        size = cur.lenenc()
        endp = cur.pos + size
        if typ == 1:  # unsigned bitmap, MSB-first over numeric columns
            bits = cur.bytes(size)
            inum = 0
            for c in cols:
                if c.type in C.NUMERIC_TYPES:
                    c.unsigned = (bits[inum // 8] >> (7 - inum % 8)) & 1 == 1
                    inum += 1
        elif typ == 2:  # default charset of string columns
            def_charset = cur.lenenc()
            while cur.pos < endp:
                ord_ = cur.lenenc()
                cols[ord_].charset = cur.lenenc()
            for c in cols:
                if c.type in C.STRING_TYPES and c.charset == 0:
                    c.charset = def_charset
        elif typ == 3:  # per-column charset of string columns
            for c in cols:
                if c.type in C.STRING_TYPES:
                    c.charset = cur.lenenc()
        elif typ == 4:  # column names
            for c in cols:
                c.name = cur.string(cur.lenenc())
        elif typ in (5, 6):  # SET / ENUM value lists
            want = C.TYPE_SET if typ == 5 else C.TYPE_ENUM
            icol = 0
            while cur.pos < endp:
                nval = cur.lenenc()
                vals = [cur.string(cur.lenenc()) for _ in range(nval)]
                while cols[icol].type != want:
                    icol += 1
                cols[icol].values = vals
                icol += 1
        elif typ == 10:  # enum/set default charset
            def_charset = cur.lenenc()
            while cur.pos < endp:
                ord_ = cur.lenenc()
                cols[ord_].charset = cur.lenenc()
            for c in cols:
                if c.type in (C.TYPE_ENUM, C.TYPE_SET) and c.charset == 0:
                    c.charset = def_charset
        elif typ == 8:  # SIMPLE_PRIMARY_KEY: lenenc column ordinals
            while cur.pos < endp:
                pk.append(cur.lenenc())
        elif typ == 9:  # PRIMARY_KEY_WITH_PREFIX: (ordinal, prefix_len) pairs
            while cur.pos < endp:
                pk.append(cur.lenenc())
                cur.lenenc()  # prefix length — irrelevant for key identity
        elif typ == 11:
            for c in cols:
                if c.type in (C.TYPE_ENUM, C.TYPE_SET):
                    c.charset = cur.lenenc()
        else:
            cur.skip(size)
    return TableMap(table_id, schema, table, cols, tuple(pk))


def parse_rows_event(cur: Cur, event_type: int, fde: Fde,
                     tme_cache: dict[int, TableMap]):
    """Parse a ROWS event fully: returns (table_map, rows,
    before_names, after_names) where each row is
    ``(before_values | None, after_values | None)`` and the name tuples
    list the PRESENT columns each image's values align to — they differ
    from the full schema under binlog_row_image=MINIMAL
    (/root/reference/rbr.go:283-303 reads the same columns-present
    bitmaps); semantics of /root/reference/rbr.go:246-350."""
    if fde.post_header(event_type, 8) == 6:
        table_id = cur.int4()
    else:
        table_id = cur.int6()
    dummy = table_id == 0x00FFFFFF
    tme = None
    if not dummy:
        tme = tme_cache.get(table_id)
        if tme is None:
            raise BinlogError(f"no tableMapEvent for tableID {table_id}")
    cur.int2()  # flags
    if event_type in C.ROWS_EVENTS_V2:
        extra = cur.int2()
        cur.skip(extra - 2)
    ncol = cur.lenenc()
    if ncol == 0:
        dummy = True
    present0 = cur.null_bitmap(ncol)
    is_update = event_type in C.UPDATE_ROWS_EVENTS
    present1 = cur.null_bitmap(ncol) if is_update else None

    rows: list[tuple[list | None, list | None]] = []
    if dummy:
        return tme, rows, None, None

    cols0 = [tme.columns[i] for i in range(ncol) if bitmap_is_set(present0, i)]
    cols1 = ([tme.columns[i] for i in range(ncol) if bitmap_is_set(present1, i)]
             if is_update else None)
    names0 = tuple(c.name for c in cols0)
    names1 = tuple(c.name for c in cols1) if cols1 is not None else None

    is_write = event_type in C.WRITE_ROWS_EVENTS

    def read_image(cols: list[Col]) -> list:
        nb = cur.null_bitmap(len(cols))
        return [None if bitmap_is_set(nb, i) else decode_value(c, cur)
                for i, c in enumerate(cols)]

    while cur.more():
        img0 = read_image(cols0)
        if is_update:
            img1 = read_image(cols1)
            rows.append((img0, img1))       # (before, after)
        elif is_write:
            rows.append((None, img0))
        else:
            rows.append((img0, None))       # delete: WHERE image
    if is_update:
        return tme, rows, names0, names1
    if is_write:
        return tme, rows, None, names0
    return tme, rows, names0, None


NOCRC_FDE = Fde(checksum_len=0)


def _probe_checksum(mv: memoryview, pos: int) -> Fde:
    """Checksum-presence probe for FDE-less chunks (see iter_frames):
    CRC32 is assumed present iff ANY of the first three frames' trailing
    4 bytes match — so a single corrupted event can't flip a checksummed
    dump to NOCRC (it still surfaces as crc_ok=False), while a
    binlog_checksum=NONE dump matches none (odds ~3·2^-32)."""
    n = len(mv)
    probed = 0
    while probed < 3 and pos + C.HEADER_SIZE <= n:
        size = struct.unpack_from("<I", mv, pos + 9)[0]
        if size < C.HEADER_SIZE + 4 or pos + size > n:
            break
        want = struct.unpack_from("<I", mv, pos + size - 4)[0]
        if zlib.crc32(mv[pos:pos + size - 4]) == want:
            return DEFAULT_FDE
        probed += 1
        pos += size
    return NOCRC_FDE if probed else DEFAULT_FDE


def infer_binlog_version(data: bytes | memoryview,
                         has_magic: bool = True) -> int:
    """Classify a binlog file's format version from its first event
    (rule of /root/reference/version.go:9-64, local.go:216-244):

      * FORMAT_DESCRIPTION as first event        → v4 (MySQL ≥ 5.0)
      * START_EVENT_V3 with event_size < 75      → v1 (pre-4.0; 69-byte
        start event under the old 13-byte header)
      * START_EVENT_V3 otherwise                 → v3 (4.0/4.1)
      * anything else (e.g. mid-stream slice)    → v3 per the rule
    """
    mv = memoryview(data)
    pos = 4 if has_magic else 0
    if len(mv) < pos + 13:
        return 4  # empty/truncated head: assume modern
    typ = mv[pos + 4]
    size = struct.unpack_from("<I", mv, pos + 9)[0]
    if typ == C.FORMAT_DESCRIPTION_EVENT:
        return 4
    if typ == C.START_EVENT_V3:
        return 1 if size < 75 else 3
    return 3


def _iter_frames_legacy(mv: memoryview, pos: int, ver: int
                        ) -> Iterator[tuple[EventFrame, Fde]]:
    """v1/v3 frame iteration (header layouts of
    /root/reference/events.go:138-148): v1 (pre-4.0) headers are 13
    bytes — timestamp(4) + type(1) + server_id(4) + event_size(4), no
    log_pos/flags (next_pos is synthesized from the running offset); v3
    (4.0/4.1) headers match v4's 19 bytes.  Neither version carries
    checksums or a FORMAT_DESCRIPTION; START_EVENT_V3 declares the
    binlog version + server version (the 56-byte body the inference
    rule sizes against).  Statement bodies decode too (QUERY branches
    on the version — pre-5.0 has no status-vars block; INTVAR / RAND /
    USER_VAR layouts are unchanged since their introduction); rows
    events predate RBR entirely, so none exist in these versions."""
    hdr = 13 if ver == 1 else C.HEADER_SIZE
    cur_fde = Fde(binlog_version=ver, checksum_len=0)
    n = len(mv)
    while pos + hdr <= n:
        if ver == 1:
            ts, typ, server_id, size = struct.unpack_from("<IBII", mv, pos)
            next_pos, flags = pos + size, 0
        else:
            ts, typ = struct.unpack_from("<IB", mv, pos)
            server_id, size, next_pos, flags = struct.unpack_from(
                "<IIIH", mv, pos + 5)
        if pos + size > n:
            break  # partial trailing event
        if size < hdr:
            raise BinlogError(f"event size {size} at offset {pos} is "
                              f"below the {hdr}-byte header")
        body = mv[pos + hdr:pos + size]
        if typ == C.START_EVENT_V3 and len(body) >= 52:
            cur_fde = Fde(binlog_version=struct.unpack_from("<H", body)[0]
                          or ver,
                          server_version=bytes(body[2:52])
                          .split(b"\x00", 1)[0].decode("utf-8", "replace"),
                          checksum_len=0)
        yield EventFrame(ts, typ, server_id, size, next_pos, flags,
                         body, True, pos), cur_fde
        pos += size


def iter_frames(data: bytes | memoryview, *, has_magic: bool = False,
                fde: Fde | None = None, verify_crc: bool = True
                ) -> Iterator[tuple[EventFrame, Fde]]:
    """Split a chunk into event frames (two-pass strategy from SURVEY §7:
    fixed-width header scan, then per-event bounded views).

    File heads (``has_magic=True``) are version-checked
    (infer_binlog_version, the reference's rule): dumps whose first
    event is a START_EVENT_V3 are v1/v3 and route to the legacy header
    iterator.  A head that is NEITHER a FORMAT_DESCRIPTION nor a
    START_EVENT_V3 (corrupt or tool-sliced file) raises loudly — the
    inference rule's "anything else → v3" default must not silently
    decode a checksummed v4 stream with CRC verification off.
    Mid-stream chunks without a head are assumed v4 (pre-5.0 servers
    are never chunked by this engine's stager).  A size field below the
    header length raises BinlogError; a frame running past the end of
    ``data`` ends the iteration (partial trailing frame)."""
    mv = memoryview(data)
    pos = 4 if has_magic else 0
    if has_magic and len(mv) >= pos + 13:
        ver = infer_binlog_version(mv, has_magic=True)
        if ver != 4:
            if mv[pos + 4] != C.START_EVENT_V3:
                raise BinlogError(
                    "binlog file head is neither FORMAT_DESCRIPTION nor "
                    "START_EVENT_V3 — corrupt or sliced dump")
            yield from _iter_frames_legacy(mv, pos, ver)
            return
    if fde is None and not has_magic:
        # mid-file chunk with no FORMAT_DESCRIPTION to declare the
        # checksum algorithm: probe the first complete frame — if its
        # trailing 4 bytes CRC32-match the rest, the dump carries
        # checksums (false positive odds 2^-32); else it was written
        # with binlog_checksum=NONE and DEFAULT_FDE's assumption of
        # CRC32 would misframe every body
        fde = _probe_checksum(mv, pos)
    cur_fde = fde or DEFAULT_FDE
    n = len(mv)
    while pos + C.HEADER_SIZE <= n:
        ts, typ = struct.unpack_from("<IB", mv, pos)
        server_id, size, next_pos, flags = struct.unpack_from(
            "<IIIH", mv, pos + 5)
        if pos + size > n:
            break  # partial trailing event (cf. /root/reference/local.go:137-140)
        if size < C.HEADER_SIZE:
            # corrupt size field: a zero would re-read this frame forever
            raise BinlogError(f"event size {size} at offset {pos} is "
                              f"below the {C.HEADER_SIZE}-byte header")
        cksum_len = 0 if typ == C.FORMAT_DESCRIPTION_EVENT else cur_fde.checksum_len
        body_end = pos + size - cksum_len
        crc_ok = True
        if verify_crc and cur_fde.checksum_len == 4 and typ != C.FORMAT_DESCRIPTION_EVENT:
            want = struct.unpack_from("<I", mv, pos + size - 4)[0]
            crc_ok = zlib.crc32(mv[pos:pos + size - 4]) == want
        body = mv[pos + C.HEADER_SIZE:body_end]
        if typ == C.FORMAT_DESCRIPTION_EVENT:
            cur_fde = parse_fde(Cur(memoryview(bytes(body))), size)
            # re-verify CRC with the inferred checksum length
            if verify_crc and cur_fde.checksum_len == 4:
                want = struct.unpack_from("<I", mv, pos + size - 4)[0]
                crc_ok = zlib.crc32(mv[pos:pos + size - 4]) == want
            body = mv[pos + C.HEADER_SIZE:pos + size - cur_fde.checksum_len]
        yield EventFrame(ts, typ, server_id, size, next_pos, flags,
                         body, crc_ok, pos), cur_fde
        pos += size


@dataclass
class ChangeRecord:
    """Canonical decoded CDC record (FIXTURES.md §3 shape)."""
    op: str                       # I / U / D
    table_schema: str
    table_name: str
    before: list | None
    after: list | None
    gtid: str | None
    seq_in_tx: int
    log_file: str
    log_pos: int
    ts: int
    crc_ok: bool
    #: names the AFTER image's values align to (for D: the before/WHERE
    #: image) — the full TABLE_MAP schema for FULL row images, a subset
    #: under binlog_row_image=MINIMAL; carries schema evolution to the
    #: applier
    columns: tuple = ()
    #: names the BEFORE image aligns to when it differs from ``columns``
    #: (U with a partial after-image); () means same as ``columns``
    before_columns: tuple = ()
    #: True when the after-image is PARTIAL (MINIMAL row image): the
    #: record is a column PATCH over the existing row, not a replacement
    partial: bool = False


def decode_chunk(data: bytes | memoryview, log_file: str, *,
                 has_magic: bool = False, fde: Fde | None = None,
                 verify_crc: bool = True) -> list[ChangeRecord]:
    """Decode one transaction-aligned chunk into change records.

    The TableMap cache is chunk-local: TABLE_MAP precedes its rows-events
    within the same transaction (/root/reference/rbr.go:27-36), and chunks
    are cut at transaction boundaries, so per-chunk decode is the engine's
    parallelization theorem (SURVEY §4).
    """
    tme_cache: dict[int, TableMap] = {}
    out: list[ChangeRecord] = []
    gtid: str | None = None
    seq = 0
    for fr, fde_now in iter_frames(data, has_magic=has_magic, fde=fde,
                                   verify_crc=verify_crc):
        t = fr.event_type
        if t == C.GTID_EVENT or t == C.ANONYMOUS_GTID_EVENT:
            cur = Cur(fr.body)
            cur.int1()  # flags
            sid = cur.bytes(16)
            gno = cur.int8()
            import uuid as _uuid
            gtid = f"{_uuid.UUID(bytes=sid)}:{gno}"
            seq = 0
        elif t == C.TABLE_MAP_EVENT:
            tme = parse_table_map(Cur(fr.body))
            tme_cache[tme.table_id] = tme
        elif t in C.ROWS_EVENTS:
            tme, rows, bnames, anames = parse_rows_event(
                Cur(fr.body), t, fde_now, tme_cache)
            if tme is None:
                continue
            op = ("I" if t in C.WRITE_ROWS_EVENTS
                  else "U" if t in C.UPDATE_ROWS_EVENTS else "D")
            names = anames if anames is not None else bnames
            before_names = (bnames if op == "U" and bnames != anames
                            else ())
            partial = (op in ("I", "U")
                       and len(anames) < len(tme.columns))
            for before, after in rows:
                out.append(ChangeRecord(
                    op, tme.schema, tme.table, before, after, gtid, seq,
                    log_file, fr.next_pos, fr.timestamp, fr.crc_ok, names,
                    before_names, partial))
                seq += 1
        elif t == C.ROTATE_EVENT:
            tme_cache.clear()  # (/root/reference/binlog.go:42)
    return out
