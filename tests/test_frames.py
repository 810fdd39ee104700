"""The engine's one frame walk (decoder/frames.py) ≡ the oracle's
iter_frames, on the fields each consumer reads.

Row decoders read (type, body, next_pos, ts, fde) of GTID / TABLE_MAP /
ROTATE / rows frames and the CRC verdict of rows frames; the statement
decoder reads the same fields of GTID / XID / statement frames and the
CRC verdict of statement frames; the TABLE_MAP scans read TABLE_MAP
bodies.  Also pinned here: undersized frames fail loudly in every
decoder and scan, the extra-column scans on a schema-evolution fixture,
and that no engine module outside the walk imports iter_frames.
"""

from __future__ import annotations

import ast
import contextlib
import json
import os
import re
import signal
import struct
from pathlib import Path

import pytest

from binlog_spark import constants as C
from binlog_spark.cdc.multi import _registry_rows
from binlog_spark.cdc.pipeline import (scan_extra_columns,
                                       scan_extra_columns_blobs)
from binlog_spark.decoder import frames as FR
from binlog_spark.decoder.generic import decode_span_generic
from binlog_spark.decoder.kernel import _decode_one
from binlog_spark.decoder.statements import decode_span_statements
from binlog_spark.decoder.vector import (decode_span_batch,
                                         decode_span_keys_batch)
from binlog_spark.mysql import encode as E
from binlog_spark.mysql import gen
from binlog_spark.mysql.decode import (BinlogError, Cur, decode_chunk,
                                       iter_frames, parse_table_map)
from binlog_spark.mysql.gen_multi import generate_multi

_BASE = {"repo", "path", "commit", "lang", "content"}


def _chunks(d: str):
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    for log_file, off, ln in m["chunks"]:
        with open(os.path.join(d, log_file), "rb") as f:
            f.seek(off)
            yield log_file, off, f.read(ln)


def _binlog_files(d: str) -> list[str]:
    return sorted(n for n in os.listdir(d)
                  if n.startswith("binlog.") and not n.endswith(".next"))


def _flip(chunks, types, at: int = 25) -> tuple[bytes, bool]:
    """The first chunk holding a frame whose type is in ``types``, with
    one body byte of that frame flipped (its CRC verdict turns False)."""
    for data, hm in chunks:
        for fr, _ in iter_frames(data, has_magic=hm):
            if fr.event_type in types:
                b = bytearray(data)
                b[fr.start + at] ^= 0x01
                return bytes(b), hm
    raise AssertionError("no such frame")


def _head(d: str) -> bytes:
    """A dump's first binlog file, magic included."""
    with open(os.path.join(d, _binlog_files(d)[0]), "rb") as f:
        return f.read()


def _legacy(ver: int) -> bytes:
    """A v1 (13-byte headers) or v3 (19-byte headers) file head with
    statement events."""
    def ev(typ, body, ts):
        if ver == 1:
            return struct.pack("<IBII", ts, typ, 1, 13 + len(body)) + body
        return struct.pack("<IBIIIH", ts, typ, 1, 19 + len(body), 0,
                           0) + body
    start = (struct.pack("<H", ver) + b"4.1.22-log".ljust(50, b"\x00")
             + struct.pack("<I", 0))
    query = struct.pack("<IIBH", 1, 0, 4, 0) + b"test\x00" + b"BEGIN"
    return (C.MAGIC + ev(C.START_EVENT_V3, start, 5)
            + ev(C.QUERY_EVENT, query, 6)
            + ev(C.USER_VAR_EVENT, E.user_var_body("v1", 42), 7)
            + ev(C.INTVAR_EVENT, E.intvar_body(2, 77), 8)
            + ev(C.RAND_EVENT, struct.pack("<QQ", 1, 2), 9))


@pytest.fixture(scope="module")
def dumps(tmp_path_factory):
    root = tmp_path_factory.mktemp("frames")
    cfgs = {
        "default": gen.GenConfig(n_changes=1500, seed=7,
                                 max_file_bytes=256 << 10),
        "checksum_off": gen.GenConfig(n_changes=800, seed=11,
                                      checksum=False,
                                      max_file_bytes=256 << 10),
        "evolve": gen.GenConfig(n_changes=1200, evolve_at=700, seed=23,
                                max_file_bytes=256 << 10),
        "minimal": gen.GenConfig(n_changes=800, minimal_images=True,
                                 seed=19, max_file_bytes=256 << 10),
    }
    out = {}
    for name, cfg in cfgs.items():
        out[name] = str(root / name)
        gen.generate(out[name], cfg, chunk_target=64 << 10)
    out["multi"] = str(root / "multi")
    generate_multi(out["multi"], n_changes=800, seed=11)
    return out


def _families(dumps) -> dict[str, list[tuple[bytes, bool]]]:
    """name → [(chunk bytes, has_magic)] for every fixture family."""
    fam = {}
    for name, d in dumps.items():
        fam[name] = [(data, off == 0) for _f, off, data in _chunks(d)]
    d = dumps["default"]
    cl = list(_chunks(d))
    # mid-file chunks carry no FDE: the checksum is probed
    fam["no_fde"] = [(data, False) for f, off, data in cl if off > 4]
    # whole files (streaming blobs) start with the magic and the FDE
    fam["file_heads"] = [(_head(dd), True) for dd in dumps.values()]
    # a mid-file chunk running on into the next file's FDE and frames,
    # with the same and with a different checksum algorithm
    files = _binlog_files(d)
    tail = [data for f, off, data in cl if f == files[0] and off][-1]
    nxt = open(os.path.join(d, files[1]), "rb").read()[4:]
    off_file = _binlog_files(dumps["checksum_off"])[0]
    nocrc = open(os.path.join(dumps["checksum_off"], off_file),
                 "rb").read()[4:]
    fam["mid_chunk_fde"] = [(tail + nxt, False), (tail + nocrc, False)]
    # corrupted rows and statement frames: False verdicts must agree
    fam["corrupt"] = [_flip(fam["default"], types) for types in (
        C.ROWS_EVENTS, {C.QUERY_EVENT}, {C.USER_VAR_EVENT, C.INTVAR_EVENT},
        {C.ROWS_QUERY_EVENT})]
    fam["v1"] = [(_legacy(1), True)]
    fam["v3"] = [(_legacy(3), True)]
    return fam


def _fde_key(fde):
    return (fde.binlog_version, fde.checksum_len,
            bytes(fde.post_header_len))


def _walk_view(data, hm, cats):
    return [(c, t, bytes(body), nxt, ts,
             ok if c in (FR.ROWS, FR.STMT) else None, _fde_key(fde))
            for c, t, body, nxt, ts, ok, fde
            in FR.frames(data, hm, True, cats)]


def _oracle_view(data, hm, cats):
    out = []
    for fr, fde in iter_frames(data, has_magic=hm):
        c = cats[fr.event_type]
        if not c or c == FR.FDE:
            continue
        out.append((c, fr.event_type, bytes(fr.body), fr.next_pos,
                    fr.timestamp,
                    fr.crc_ok if c in (FR.ROWS, FR.STMT) else None,
                    _fde_key(fde)))
    return out


def test_walk_matches_iter_frames(dumps):
    seen_false = set()
    for name, chunks in _families(dumps).items():
        assert chunks, name
        for i, (data, hm) in enumerate(chunks):
            for cats in (FR.ROW_CATS, FR.STMT_CATS, FR.TM_CATS):
                want = _oracle_view(data, hm, cats)
                assert _walk_view(data, hm, cats) == want, (name, i)
                seen_false.update(r[0] for r in want if r[5] is False)
            # the span hop: same frames, same extents
            start = FR.chunk_start(data, hm)
            if start is not None:
                hop = [(c, s, e) for c, s, e
                       in FR.spans(data, start[0], FR.ROW_CATS)]
                assert hop == [
                    (FR.ROW_CATS[fr.event_type], fr.start,
                     fr.start + fr.event_size)
                    for fr, _ in iter_frames(data, has_magic=hm)
                    if FR.ROW_CATS[fr.event_type]], (name, i)
            assert list(FR.table_map_bodies(data, hm)) == [
                bytes(fr.body) for fr, _ in iter_frames(data, has_magic=hm)
                if fr.event_type == C.TABLE_MAP_EVENT], (name, i)
    # the corrupt family really exercised both verdict kinds
    assert seen_false == {FR.ROWS, FR.STMT}


def test_legacy_heads_take_the_oracle_route():
    for ver in (1, 3):
        data = _legacy(ver)
        assert FR.chunk_start(data, True) is None
        rows = list(FR.frames(data, True, True, FR.STMT_CATS))
        assert [r[1] for r in rows] == [C.QUERY_EVENT, C.USER_VAR_EVENT,
                                       C.INTVAR_EVENT, C.RAND_EVENT]
        assert {r[6].binlog_version for r in rows} == {ver}


# --- undersized frames -------------------------------------------------

@contextlib.contextmanager
def _deadline(seconds: int):
    """Fail instead of hanging: the bug this guards against looped on
    one frame forever."""
    def fire(signum, frame):
        raise TimeoutError(f"no result within {seconds} s")
    old = signal.signal(signal.SIGALRM, fire)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


def _drain(it) -> None:
    for _ in it:
        pass


def _with_size(data: bytes, hm: bool, size: int) -> bytes:
    """Set the size field of the chunk's middle XID frame to ``size``."""
    xids = [fr.start for fr, _ in iter_frames(data, has_magic=hm)
            if fr.event_type == C.XID_EVENT]
    b = bytearray(data)
    struct.pack_into("<I", b, xids[len(xids) // 2] + 9, size)
    return bytes(b)


@pytest.mark.parametrize("size", [0, 18])
@pytest.mark.parametrize("head", [True, False])
def test_undersized_frame_raises_everywhere(dumps, tmp_path, size, head):
    d = dumps["default"]
    if head:  # a whole file, as a streaming blob
        log_file, hm, data = _binlog_files(d)[0], True, _head(d)
    else:
        log_file, _off, data = list(_chunks(d))[1]
        hm = False
    bad = _with_size(data, hm, size)
    # the same bytes as a driver-side span (a mid-file one after a magic)
    (tmp_path / log_file).write_bytes(bad if hm else C.MAGIC + bad)
    span = [(str(tmp_path), log_file, 0 if hm else 4, len(bad))]
    callers = {
        "iter_frames": lambda: _drain(iter_frames(bad, has_magic=hm)),
        "decode_chunk": lambda: decode_chunk(bad, log_file, has_magic=hm),
        "decode_span_batch": lambda: decode_span_batch(
            bad, log_file, has_magic=hm),
        "decode_span_keys_batch": lambda: decode_span_keys_batch(
            bad, log_file, has_magic=hm),
        "kernel": lambda: _decode_one(bad, log_file, hm),
        "generic_vals": lambda: decode_span_generic(
            bad, log_file, has_magic=hm, mode="vals"),
        "generic_json": lambda: decode_span_generic(
            bad, log_file, has_magic=hm, mode="json"),
        "statements": lambda: decode_span_statements(
            bad, log_file, has_magic=hm),
        "spans": lambda: _drain(FR.spans(bad, FR.chunk_start(bad, hm)[0])),
        "table_map_bodies": lambda: _drain(FR.table_map_bodies(bad, hm)),
        "registry": lambda: _registry_rows([(bad, hm)]),
        "scan_extra_columns": lambda: scan_extra_columns(span),
    }
    for name, call in callers.items():
        with _deadline(20), pytest.raises(BinlogError, match="below"):
            call()
            pytest.fail(f"{name} returned on an undersized frame")


def test_undersized_legacy_frame_raises():
    data = bytearray(_legacy(1))
    struct.pack_into("<I", data, 4 + 9, 12)  # v1 headers are 13 bytes
    with _deadline(20), pytest.raises(BinlogError):
        decode_span_statements(bytes(data), "binlog.000001", has_magic=True)


def test_partial_trailing_frame_still_stops(dumps):
    """A frame running past the chunk end is a short read, not
    corruption: every decoder stops before it."""
    log_file, off, data = list(_chunks(dumps["default"]))[1]
    last = [fr.start for fr, _ in iter_frames(data)][-3]
    whole, cut = data[:last], data[:last + 30]
    assert (decode_span_generic(cut, log_file, mode="vals")["op"]
            == decode_span_generic(whole, log_file, mode="vals")["op"])
    assert (decode_span_statements(cut, log_file)
            == decode_span_statements(whole, log_file))
    assert (decode_span_batch(cut, log_file).to_pylist()
            == decode_span_batch(whole, log_file).to_pylist())
    assert list(FR.table_map_bodies(cut, False)) == list(
        FR.table_map_bodies(whole, False))


# --- extra-column scans on schema evolution ----------------------------

def _newest_extras(d: str, spans) -> list[str]:
    """The oracle's answer: the last TABLE_MAP of the batch, minus the
    base columns."""
    last = None
    for _d, log_file, off, ln in spans:
        with open(os.path.join(d, log_file), "rb") as f:
            f.seek(off)
            data = f.read(ln)
        for fr, _ in iter_frames(data, has_magic=off == 0):
            if fr.event_type == C.TABLE_MAP_EVENT:
                last = bytes(fr.body)
    if last is None:
        return []
    return sorted(c.name for c in parse_table_map(Cur(last)).columns
                  if c.name not in _BASE)


def test_scan_extra_columns_before_and_after_alter(dumps):
    d = dumps["evolve"]
    spans = [(d, f, off, len(data)) for f, off, data in _chunks(d)]
    got = []
    for i in range(0, len(spans), 2):
        batch = spans[i:i + 2]
        got.append(scan_extra_columns(batch))
        assert got[-1] == _newest_extras(d, batch), i
    assert [] in got and ["branch"] in got


def test_scan_extra_columns_blobs_before_and_after_alter(spark, dumps):
    import pandas as pd
    d = dumps["evolve"]
    files = _binlog_files(d)
    per_file = [_newest_extras(d, [(d, f, 0, os.path.getsize(
        os.path.join(d, f)))]) for f in files]
    assert per_file[0] == [] and per_file[-1] == ["branch"]

    def scan(names):
        pdf = pd.DataFrame(
            [(f, 0, open(os.path.join(d, f), "rb").read()) for f in names],
            columns=["log_file", "chunk_off", "data"])
        return scan_extra_columns_blobs(spark.createDataFrame(
            pdf, "log_file string, chunk_off long, data binary"))
    before = [f for f, e in zip(files, per_file) if not e]
    assert scan(before) == []
    assert scan(files[-1:]) == ["branch"]
    assert scan(files) == ["branch"]


# --- tooling guard ------------------------------------------------------

def test_one_frame_walker():
    """Only mysql/ (the oracle) and decoder/frames.py import iter_frames,
    and only decoder/frames.py and the driver's bounded-window chunk
    planner (decoder/chunks.py) read event size fields — a new frame
    walker must go through the shared walk."""
    pkg = Path(FR.__file__).resolve().parents[1]
    walk = Path("decoder/frames.py")
    importers, hoppers = [], []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg)
        if rel.parts[0] == "mysql":
            continue
        src = p.read_text()
        for node in ast.walk(ast.parse(src)):
            if ((isinstance(node, ast.ImportFrom)
                 and any(a.name == "iter_frames" for a in node.names))
                    or (isinstance(node, ast.Attribute)
                        and node.attr == "iter_frames")):
                importers.append(str(rel))
        if re.search(r"\+ 9\)\[0\]", src):
            hoppers.append(str(rel))
    assert set(importers) <= {str(walk)}
    assert sorted(set(hoppers)) == ["decoder/chunks.py", str(walk)]
