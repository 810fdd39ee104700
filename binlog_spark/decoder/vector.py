"""Vectorized chunk decoder: fused frame walk + codegen row walk +
ragged-join Arrow build, with no per-value Python objects.

A row decoder that builds one Python ``str`` per column value and one
header object per frame spends most of its time on exactly those; at
the fixture's ~1.7 rows/event the *frame* layer costs as much as the
row layer.  This module avoids both for the common case
— a v4 dump whose rows-events target the canonical all-VARCHAR
``(repo, path, commit, lang, content)`` table with FULL row images (the
wire layout of /root/reference/rbr.go:246-350) — with two passes:

  1. ONE fused walk over the frames: framing (one ``unpack_from`` per
     frame), CRC32 on rows-frames only (a non-rows frame's CRC verdict
     never reaches an output record), demux that touches only GTID /
     TABLE_MAP / ROTATE / FDE frames, and one ``(kind, span, tx, ts,
     next_pos, crc)`` job per rows-event;
  2. a row walk (codegen-unrolled per column-width layout, the same
     technique as decoder/columnar.py) that appends one zero-copy
     memoryview slice + length per cell, then ONE ``bytes.join`` per
     output column straight into Arrow ``StringArray`` buffers
     (offsets + values + validity bitmap); frame-constant columns
     (op / gtid / log_pos / ts / seq_in_tx / crc_ok) are
     ``np.repeat``-broadcast from per-job scalars, with ts/log_pos
     u32s gathered vectorized from the frame positions.

MINIMAL row images stay on the fast path: each statement-level
columns-present mask gets its own compiled walker (absent columns
record NULL without consuming bytes; the per-row null bitmap indexes
present columns only) and the after-image mask's column csv lands in
``present_cols`` per event.  Anything the fast layout cannot express —
v1/v3 dumps, non-varchar columns, schema evolution (extra columns), a
mid-chunk FDE that changes the checksum algorithm, a rows-event with no
TABLE_MAP in scope — returns ``None`` and the caller re-decodes the
whole chunk with the generic decoder (decoder.generic via
decoder.kernel's schema adapter), so correctness never depends on this
path (tests pin vector ≡ generic fallback on every fixture family).
UTF-8 is validated once per gathered buffer plus a boundary check that
every string starts on a character start — together these guarantee
per-string validity without per-string decodes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .. import constants as C
from ..mysql.decode import (DEFAULT_FDE, Cur, _probe_checksum,
                            infer_binlog_version, parse_fde,
                            parse_table_map)

_U32 = struct.Struct("<I").unpack_from

#: the canonical table layout the vectorized path compiles for
_BASE = ("repo", "path", "commit", "lang", "content")

# 256-entry event-type category table: ONE bytes-index replaces the
# set-membership chain in the frame walk's hot loop — statement frames
# (the majority: QUERY/USER_VAR/XID ride ~2.8 frames per change on the
# v4 fixture) fall through on `not cat` in ~4 interpreter ops
_CAT_ROWS, _CAT_TM, _CAT_GTID, _CAT_ROT, _CAT_FDE = 1, 2, 3, 4, 5
_cat = bytearray(256)
for _t in C.ROWS_EVENTS:
    _cat[_t] = _CAT_ROWS
_cat[C.TABLE_MAP_EVENT] = _CAT_TM
_cat[C.GTID_EVENT] = _cat[C.ANONYMOUS_GTID_EVENT] = _CAT_GTID
_cat[C.ROTATE_EVENT] = _CAT_ROT
_cat[C.FORMAT_DESCRIPTION_EVENT] = _CAT_FDE
_CAT = bytes(_cat)
# rows-event kind (0 insert / 1 update / 2 delete) and v2-ness, same trick
_kind = bytearray(256)
for _t in C.UPDATE_ROWS_EVENTS:
    _kind[_t] = 1
for _t in C.DELETE_ROWS_EVENTS:
    _kind[_t] = 2
_ROWS_KIND = bytes(_kind)
_v2 = bytearray(256)
for _t in C.ROWS_EVENTS_V2:
    _v2[_t] = 1
_ROWS_V2 = bytes(_v2)
del _cat, _kind, _v2, _t


class _Fallback(Exception):
    """Chunk needs the generic decoder — unwind and return None."""


def decode_span_batch(data: bytes, log_file: str, *, has_magic: bool = False,
                      verify_crc: bool = True):
    """Decode one chunk into a CHANGE_SCHEMA ``pyarrow.RecordBatch``.

    Returns ``None`` when the chunk is outside the fast layout (caller
    falls back to the generic decoder, see decoder.kernel), or a
    RecordBatch (possibly empty) when fully decoded.
    """
    try:
        return _decode(data, log_file, has_magic, verify_crc)
    except _Fallback:
        return None


def decode_span_keys_batch(data: bytes, log_file: str, *,
                           has_magic: bool = False,
                           verify_crc: bool = True):
    """Key-only variant → KEY_SCHEMA RecordBatch (late materialization:
    values beyond (repo, path) are length-skipped, never collected).
    None = fall back to the generic decoder (decoder.kernel)."""
    try:
        return _decode(data, log_file, has_magic, verify_crc, keys=True)
    except _Fallback:
        return None


def _fast_widths(tme):
    """When ``tme`` is the canonical layout: ``(widths, full_walkers,
    key_walkers)`` with the three per-kind compiled row walkers resolved
    up front, so the frame walk hands each job its walker directly (no
    per-job dict lookup).  None routes the chunk to the generic path.
    Cached on the TableMap object."""
    w = getattr(tme, "_vec_widths", False)
    if w is not False:
        return w
    cols = tme.columns
    if (len(cols) == 5
            and tuple(c.name for c in cols) == _BASE
            and all(c.type in (C.TYPE_VARCHAR, C.TYPE_STRING)
                    for c in cols)):
        widths = tuple(1 if c.meta < 256 else 2 for c in cols)
        w = (widths,
             tuple(_walker(widths, k, False) for k in range(3)),
             tuple(_walker(widths, k, True) for k in range(3)))
    else:
        w = None
    tme._vec_widths = w
    return w


_PRES_CSV: dict[int, str] = {}


def _pres_csv(mask: int) -> str:
    """Statement-level present-column csv for a MINIMAL after-image."""
    s = _PRES_CSV.get(mask)
    if s is None:
        s = ",".join(n for i, n in enumerate(_BASE) if (mask >> i) & 1)
        _PRES_CSV[mask] = s
    return s


# --- codegen: unrolled row walkers per (widths, kind) -----------------
#
# One generated function per distinct (length-prefix widths, op kind)
# walks every row of a rows-event body appending (offset, length) pairs
# — the column count and each column's 1- vs 2-byte length prefix are
# baked in, so the hot loop has no per-column indirection (same
# technique as decoder/columnar.py's compiled generic decoder).

_WALKERS: dict[tuple, object] = {}


def _null_stmt(i: int, keep: str) -> str:
    """The appends that record a NULL (or image-absent) cell for the
    slots ``keep`` routes column i into."""
    if keep == "both":
        return f"v{i}(_B); l{i}(-1)"
    if keep == "before":
        return f"v{5 + i}(_B); l{5 + i}(-1)"
    if keep == "delete":
        return f"v{i}(_B); l{i}(-1); v{5 + i}(_B); l{5 + i}(-1)"
    return "pass"


def _cell(i: int, bit: int, w: int, keep: str,
          check_null: bool) -> list[str]:
    """Emit one cell parse: optional null-bit check (``bit`` = the
    cell's index among the image's PRESENT columns — differs from the
    column index i under MINIMAL images), length read, and a DIRECT
    bytes-slice append into the target value list (lens -1 marks NULL)
    — assembling slices here kills the second zip-pass the
    offset/length scheme needed; bytes slices beat memoryview slices
    ~2.4× end-to-end because ``bytes.join`` must acquire the buffer
    protocol per memoryview element.  keep: 'both' → value column i,
    'before' → slot 5+i, 'delete' → both slots, 'skip' → advance only."""
    body = []
    if w == 1:
        body.append("ln = d[bpos]; bpos += 1")
    else:
        body.append("ln = d[bpos] | (d[bpos + 1] << 8); bpos += 2")
    body.append("e = bpos + ln")
    if keep == "both":
        body.append(f"v{i}(d[bpos:e]); l{i}(ln)")
    elif keep == "before":
        body.append(f"v{5 + i}(d[bpos:e]); l{5 + i}(ln)")
    elif keep == "delete":
        body.append(f"s = d[bpos:e]; v{i}(s); l{i}(ln); "
                    f"v{5 + i}(s); l{5 + i}(ln)")
    body.append("bpos = e")
    if not check_null:
        return body
    return ([f"if (nm >> {bit}) & 1:", f"    {_null_stmt(i, keep)}",
             "else:"] + [f"    {ln}" for ln in body])


def _image(widths: tuple, keeps: list[str], dst: list[str],
           mask: int | None = None) -> None:
    """Emit one row-image walk with a straight-line fast path for the
    overwhelmingly common all-non-NULL bitmap (nm == 0): no per-cell
    bit test, just length-read + slice + append per column.  ``mask``
    (MINIMAL images) limits the image to its present columns — absent
    kept columns record NULL without consuming bytes, and the per-row
    null bitmap indexes PRESENT columns only."""
    full = (1 << len(widths)) - 1
    mask = full if mask is None else mask
    absent = [f"{_null_stmt(i, keeps[i])}"
              for i in range(len(widths))
              if not (mask >> i) & 1 and keeps[i] != "skip"]
    dst.append("        nm = d[bpos]; bpos += 1")
    for check in (False, True):
        dst.append("        if nm == 0:" if not check else "        else:")
        bit = 0
        emitted = False
        for i, w in enumerate(widths):
            if not (mask >> i) & 1:
                continue
            dst.extend(f"            {ln}"
                       for ln in _cell(i, bit, w, keeps[i], check))
            bit += 1
            emitted = True
        if not emitted:
            dst.append("            pass")
    for stmt in absent:
        dst.append(f"        {stmt}")


def _walker(widths: tuple, kind: int, keys: bool = False,
            bmask: int | None = None, amask: int | None = None):
    """Compile (and cache) a row walker for one (layout, op kind,
    key-only?, columns-present masks) combination.  ``bmask``/``amask``
    are the statement-level columns-present bitmaps of the before/after
    image (None = FULL); MINIMAL images get their own specialization, so
    the hot loop never tests presence per cell."""
    key = (widths, kind, keys, bmask, amask)
    fn = _WALKERS.get(key)
    if fn is not None:
        return fn
    src = ["def _walk(d, bpos, bend, vals, lens):",
           "    cnt = 0"]
    for j in range(7):
        src.append(f"    v{j} = vals[{j}].append; l{j} = lens[{j}].append")
    src.append("    while bpos < bend:")
    if kind == 1:  # UPDATE: before image first — keep keys, skip the rest
        _image(widths, ["before" if i < 2 else "skip"
                        for i in range(len(widths))], src, bmask)
    if kind == 2:  # DELETE: WHERE image → keys into BOTH key slots
        _image(widths, ["delete" if i < 2 else "skip"
                        for i in range(len(widths))], src, bmask)
        if not keys:
            for i in range(2, 5):
                src.append(f"        v{i}(_B); l{i}(-1)")
    else:          # the full after-image (INSERT, or UPDATE's 2nd image)
        _image(widths, ["both" if (i < 2 or not keys) else "skip"
                        for i in range(len(widths))], src, amask)
        if kind == 0:  # INSERT: before-keys are null
            src.append("        v5(_B); l5(-1); v6(_B); l6(-1)")
    src.append("        cnt += 1")
    src.append("    return cnt")
    ns: dict = {"_B": b""}
    exec("\n".join(src), ns)  # noqa: S102 — compile-time codegen, no input
    fn = ns["_walk"]
    _WALKERS[key] = fn
    return fn


def _decode(data: bytes, log_file: str, has_magic: bool,
            verify_crc: bool, keys: bool = False):
    import pyarrow as pa
    mv = memoryview(data)
    n = len(data)
    pos = 4 if has_magic else 0
    if has_magic:
        if n >= pos + 13 and infer_binlog_version(mv, has_magic=True) != 4:
            raise _Fallback  # v1/v3 legacy headers
        fde = DEFAULT_FDE
    else:
        fde = _probe_checksum(mv, pos)
    # resolve the real FDE up-front when the chunk leads with one — the
    # checksum length must be known before the position walk (body ends
    # and CRC verification depend on it)
    if n >= pos + C.HEADER_SIZE and mv[pos + 4] == C.FORMAT_DESCRIPTION_EVENT:
        size = _U32(data, pos + 9)[0]
        if pos + size <= n:
            fde = parse_fde(
                Cur(memoryview(bytes(mv[pos + C.HEADER_SIZE:pos + size]))),
                size)
    cksum = fde.checksum_len
    if cksum not in (0, 4):
        raise _Fallback

    # --- fused frame walk: framing + CRC + demux in one pass ---------
    # Only rows-frames need CRC verification here: only a ROWS frame's
    # crc_ok verdict ever reaches an output record, so skipping non-rows
    # CRC is output-equivalent and saves ~2/3 of the checksum work.  The
    # demux is ONE bytes-table index (_CAT); statement frames — the
    # majority — cost only the framing read plus that index.
    u32 = _U32
    crc32 = zlib.crc32
    do_crc = verify_crc and cksum == 4
    cat = _CAT
    rows_kind = _ROWS_KIND
    rows_v2 = _ROWS_V2

    widths_cache: dict[int, tuple | None] = {}  # tid -> fast-layout widths
    tme_body_cache: dict[bytes, object] = {}
    last_tm_body: bytes | None = None
    gtid_strs: list[str] = []
    cur_gidx = -1            # index into gtid_strs; -1 = before first GTID
    txid = -1
    # per rows-event job: (kind 0/1/2, row-data start, body end, widths,
    # gtid_idx, txid, frame_pos, crc_ok) — ts/next_pos are gathered from
    # frame_pos vectorized at build time instead of two unpacks here
    jobs: list[tuple] = []
    job_app = jobs.append
    post6 = {t: (fde.post_header(t, 8) == 6) for t in C.ROWS_EVENTS}
    hsz = C.HEADER_SIZE

    while pos + hsz <= n:
        size = u32(data, pos + 9)[0]
        end = pos + size
        if size < hsz or end > n:
            break  # partial trailing event (cf. /root/reference/local.go:137-140)
        c = cat[data[pos + 4]]
        if not c:
            pos = end
            continue
        if c == _CAT_ROWS:
            t = data[pos + 4]
            bend = end - cksum
            hdr_end = pos + hsz
            bpos = hdr_end + (4 if post6[t] else 6)
            tid = int.from_bytes(data[hdr_end:bpos], "little")
            bpos += 2  # rows-event flags
            if rows_v2[t]:
                extra = data[bpos] | (data[bpos + 1] << 8)
                bpos += extra
            entry = widths_cache.get(tid, False)
            if entry is False:
                if tid == 0x00FFFFFF:  # dummy table id: no rows
                    pos = end
                    continue
                # no TABLE_MAP in scope (none in the chunk, or evicted
                # by a ROTATE): decline, so the generic decoder raises
                # instead of this walk silently dropping the rows
                raise _Fallback
            if entry is None:
                raise _Fallback  # not the canonical all-varchar layout
            widths, fwalk, kwalk = entry
            ncol = len(widths)
            if data[bpos] != ncol:
                raise _Fallback  # lenenc ncol >= 0xFB or width mismatch
            bpos += 1
            full = (1 << ncol) - 1
            pm0 = data[bpos] & full
            bpos += 1
            kind = rows_kind[t]
            pm1 = None
            if kind == 1:
                pm1 = data[bpos] & full
                bpos += 1
            ok = (not do_crc
                  or crc32(mv[pos:end - 4]) == u32(data, end - 4)[0])
            if pm0 == full and (pm1 is None or pm1 == full):
                fn = (kwalk if keys else fwalk)[kind]
                pres = None        # FULL images: present_cols stays null
            else:
                # MINIMAL images: mask-specialized walker + the
                # statement-level present-column csv (None on deletes,
                # matching the generic fallback)
                bm, am = ((pm0, pm1) if kind == 1
                          else (pm0, None) if kind == 2
                          else (None, pm0))
                if bm == 0 or am == 0:
                    # a zero-column image carries NO null-bitmap byte;
                    # the walkers always read one — generic path instead
                    raise _Fallback
                fn = _walker(widths, kind, keys, bm, am)
                pres = None if kind == 2 else _pres_csv(am)
            job_app((kind, bpos, bend, fn, cur_gidx, txid, pos, ok, pres))
        elif c == _CAT_TM:
            b0, b1 = pos + hsz, end - cksum
            # a binlog emits one TABLE_MAP before EVERY rows-event and
            # they are overwhelmingly byte-identical — one zero-copy
            # memoryview compare short-circuits the bytes copy + dict
            # hash + layout probe for the repeat case
            if last_tm_body is not None and mv[b0:b1] == last_tm_body:
                pos = end
                continue
            body = data[b0:b1]
            tme = tme_body_cache.get(body)
            if tme is None:
                tme = parse_table_map(Cur(memoryview(body)))
                tme_body_cache[body] = tme
            widths_cache[tme.table_id] = _fast_widths(tme)
            last_tm_body = body
        elif c == _CAT_GTID:
            p = pos + hsz
            h = data[p + 1:p + 17].hex()
            gno = int.from_bytes(data[p + 17:p + 25], "little")
            gtid_strs.append(
                f"{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:]}:{gno}")
            cur_gidx = len(gtid_strs) - 1
            txid += 1
        elif c == _CAT_ROT:
            widths_cache.clear()  # (reference binlog.go:42)
            last_tm_body = None
        else:  # _CAT_FDE
            new = parse_fde(Cur(memoryview(
                bytes(mv[pos + hsz:end]))), size)
            if new.checksum_len != cksum or new.binlog_version != 4:
                raise _Fallback  # checksum algorithm changed mid-chunk
            fde = new
            post6 = {t2: (fde.post_header(t2, 8) == 6)
                     for t2 in C.ROWS_EVENTS}
        pos = end

    if not jobs:
        return _empty_keys_batch(pa) if keys else _empty_batch(pa)

    # --- row walk: codegen-unrolled, memoryview slices + lengths -----
    # column slots: 0-4 = repo..content, 5 = before_repo, 6 = before_path
    # NULL cell sentinel: vals b"" / lens -1.  Lengths land in
    # ``array('q')`` buffers so numpy reads them zero-copy later.
    from array import array
    vals: list[list] = [[] for _ in range(7)]
    lens: list = [array("q") for _ in range(7)]
    counts: list[int] = []   # records per job, aligned with jobs
    app = counts.append
    for job in jobs:
        app(job[3](data, job[1], job[2], vals, lens))

    if keys:
        return _build_keys_batch(pa, data, log_file, jobs, counts,
                                 vals, lens)
    return _build_batch(pa, data, log_file, jobs, counts, vals, lens,
                        gtid_strs)


_OP_CODES = np.frombuffer(b"IUD", dtype=np.uint8)


def _string_col(pa, vals: list, lens: list, validate_utf8: bool = True):
    """Ragged assembly → Arrow StringArray.  ``vals`` holds one
    memoryview slice (or b"") per value as emitted by the row walkers;
    ``lens`` the byte lengths, -1 marking NULL.  The values buffer is
    ONE C-level ``bytes.join`` over the slices — an index-array gather
    costs 8 index bytes per payload byte and loses to memcpy."""
    nrec = len(vals)
    values = b"".join(vals)
    # array('q') arrives zero-copy via the buffer protocol; the gtid
    # path still passes a plain list
    lens_np = (np.frombuffer(lens, dtype=np.int64) if isinstance(
        lens, bytearray) or hasattr(lens, "typecode")
        else np.asarray(lens, dtype=np.int64))
    valid = lens_np >= 0
    out_offs = np.zeros(nrec + 1, dtype=np.int32)
    np.cumsum(np.maximum(lens_np, 0), out=out_offs[1:])
    if validate_utf8 and values:
        vnp = np.frombuffer(values, dtype=np.uint8)
        if bool((vnp & 0x80).any()):
            # whole-buffer validity + every string starting on a
            # character start ⇒ each segment is individually valid UTF-8
            try:
                values.decode("utf-8")
            except UnicodeDecodeError:
                raise _Fallback from None
            starts = out_offs[:-1][lens_np > 0]
            if bool(((vnp[starts] & 0xC0) == 0x80).any()):
                raise _Fallback
    if bool(valid.all()):
        null_buf, null_count = None, 0
    else:
        null_buf = pa.py_buffer(
            np.packbits(valid, bitorder="little").tobytes())
        null_count = int(nrec - valid.sum())
    return pa.Array.from_buffers(
        pa.utf8(), nrec,
        [null_buf, pa.py_buffer(out_offs), pa.py_buffer(values)],
        null_count=null_count)


def _u32_gather(data, pos_arr: np.ndarray) -> np.ndarray:
    """Vectorized little-endian u32 reads at arbitrary (unaligned) byte
    positions — replaces two struct unpacks per rows-frame in the walk."""
    a = np.frombuffer(data, dtype=np.uint8)
    return (a[pos_arr].astype(np.int64)
            | (a[pos_arr + 1].astype(np.int64) << 8)
            | (a[pos_arr + 2].astype(np.int64) << 16)
            | (a[pos_arr + 3].astype(np.int64) << 24))


def _build_batch(pa, data, log_file, jobs, counts, vals, lens, gtid_strs):
    from .kernel import _COLNAMES
    cnt = np.asarray(counts, dtype=np.int64)
    nrec = int(cnt.sum())
    if nrec == 0:
        return _empty_batch(pa)
    kinds = np.asarray([j[0] for j in jobs], dtype=np.int8)
    gidxs = np.asarray([j[4] for j in jobs], dtype=np.int64)
    txs = np.asarray([j[5] for j in jobs], dtype=np.int64)
    pos_arr = np.asarray([j[6] for j in jobs], dtype=np.int64)

    # seq_in_tx: global record index minus the first record index of the
    # record's transaction (rows-events between two GTIDs share a tx)
    g_start = np.zeros(len(jobs), dtype=np.int64)
    np.cumsum(cnt[:-1], out=g_start[1:])
    first_of_tx = np.ones(len(jobs), dtype=bool)
    first_of_tx[1:] = txs[1:] != txs[:-1]
    tx_base = np.repeat(g_start[first_of_tx], np.diff(
        np.append(np.flatnonzero(first_of_tx), len(jobs))))
    seq = (np.arange(nrec, dtype=np.int64)
           - np.repeat(tx_base, cnt)).astype(np.int32)

    cols = {}
    names = ("repo", "path", "commit", "lang", "content",
             "before_repo", "before_path")
    for i, nm in enumerate(names):
        cols[nm] = _string_col(pa, vals[i], lens[i])

    # op: one ASCII byte per record
    op_vals = _OP_CODES[np.repeat(kinds, cnt).astype(np.int64)]
    cols["op"] = pa.Array.from_buffers(
        pa.utf8(), nrec,
        [None, pa.py_buffer(np.arange(nrec + 1, dtype=np.int32)),
         pa.py_buffer(op_vals)])

    # gtid: one shared bytes object per transaction, joined per record
    if gtid_strs:
        gb = [s.encode() for s in gtid_strs]
        glens = [len(b) for b in gb]
        rec_g = np.repeat(gidxs, cnt).tolist()
        cols["gtid"] = _string_col(
            pa, [gb[i] if i >= 0 else b"" for i in rec_g],
            [glens[i] if i >= 0 else -1 for i in rec_g],
            validate_utf8=False)
    else:
        cols["gtid"] = pa.nulls(nrec, pa.utf8())

    # log_file: one constant value — repeat the bytes, stride the offsets
    lfb = log_file.encode()
    cols["log_file"] = pa.Array.from_buffers(
        pa.utf8(), nrec,
        [None,
         pa.py_buffer((np.arange(nrec + 1, dtype=np.int64)
                       * len(lfb)).astype(np.int32)),
         pa.py_buffer(lfb * nrec)])

    cols["seq_in_tx"] = pa.array(seq, type=pa.int32())
    cols["log_pos"] = pa.array(np.repeat(
        _u32_gather(data, pos_arr + 13), cnt), type=pa.int64())
    cols["ts_sec"] = pa.array(np.repeat(
        _u32_gather(data, pos_arr), cnt), type=pa.int64())
    cols["crc_ok"] = pa.array(np.repeat(np.asarray(
        [j[7] for j in jobs], dtype=bool), cnt), type=pa.bool_())
    cols["extra_json"] = pa.nulls(nrec, pa.utf8())

    pres = [j[8] for j in jobs]
    if any(p is not None for p in pres):
        pb = [p.encode() if p is not None else b"" for p in pres]
        plens = [len(b) if pres[i] is not None else -1
                 for i, b in enumerate(pb)]
        rec = np.repeat(np.arange(len(jobs)), cnt).tolist()
        cols["present_cols"] = _string_col(
            pa, [pb[i] for i in rec], [plens[i] for i in rec],
            validate_utf8=False)
    else:
        cols["present_cols"] = pa.nulls(nrec, pa.utf8())

    return pa.RecordBatch.from_arrays([cols[k] for k in _COLNAMES],
                                      names=list(_COLNAMES))


def _empty_batch(pa):
    from .kernel import _ARROW_TYPES, _COLNAMES
    return pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.type_for_alias(_ARROW_TYPES.get(k, "string")))
         for k in _COLNAMES], names=list(_COLNAMES))


def _build_keys_batch(pa, data, log_file, jobs, counts, vals, lens):
    from .kernel import _KEYNAMES
    cnt = np.asarray(counts, dtype=np.int64)
    nrec = int(cnt.sum())
    if nrec == 0:
        return _empty_keys_batch(pa)
    kinds = np.asarray([j[0] for j in jobs], dtype=np.int8)
    txs = np.asarray([j[5] for j in jobs], dtype=np.int64)
    pos_arr = np.asarray([j[6] for j in jobs], dtype=np.int64)

    g_start = np.zeros(len(jobs), dtype=np.int64)
    np.cumsum(cnt[:-1], out=g_start[1:])
    first_of_tx = np.ones(len(jobs), dtype=bool)
    first_of_tx[1:] = txs[1:] != txs[:-1]
    tx_base = np.repeat(g_start[first_of_tx], np.diff(
        np.append(np.flatnonzero(first_of_tx), len(jobs))))
    seq = (np.arange(nrec, dtype=np.int64)
           - np.repeat(tx_base, cnt)).astype(np.int32)

    cols = {}
    for slot, nm in ((0, "repo"), (1, "path"),
                     (5, "before_repo"), (6, "before_path")):
        cols[nm] = _string_col(pa, vals[slot], lens[slot])

    op_vals = _OP_CODES[np.repeat(kinds, cnt).astype(np.int64)]
    cols["op"] = pa.Array.from_buffers(
        pa.utf8(), nrec,
        [None, pa.py_buffer(np.arange(nrec + 1, dtype=np.int32)),
         pa.py_buffer(op_vals)])

    lfb = log_file.encode()
    cols["log_file"] = pa.Array.from_buffers(
        pa.utf8(), nrec,
        [None,
         pa.py_buffer((np.arange(nrec + 1, dtype=np.int64)
                       * len(lfb)).astype(np.int32)),
         pa.py_buffer(lfb * nrec)])

    cols["seq_in_tx"] = pa.array(seq, type=pa.int32())
    cols["log_pos"] = pa.array(np.repeat(
        _u32_gather(data, pos_arr + 13), cnt), type=pa.int64())
    cols["crc_ok"] = pa.array(np.repeat(np.asarray(
        [j[7] for j in jobs], dtype=bool), cnt), type=pa.bool_())

    return pa.RecordBatch.from_arrays([cols[k] for k in _KEYNAMES],
                                      names=list(_KEYNAMES))


def _empty_keys_batch(pa):
    from .kernel import _ARROW_TYPES, _KEYNAMES
    return pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.type_for_alias(_ARROW_TYPES.get(k, "string")))
         for k in _KEYNAMES], names=list(_KEYNAMES))
