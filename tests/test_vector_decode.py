"""Vectorized decoder (decoder/vector.py) ≡ generic fallback ≡ oracle,
per chunk.

The vector path is a pure optimization: for every fixture family it must
either produce an Arrow batch identical to the generic-decoder fallback
(decoder.kernel maps ``decode_span_generic(mode="vals")`` onto
CHANGE_SCHEMA) or decline (return None) so the caller re-decodes through
that fallback.  The fallback in turn must equal the sequential oracle's
records (mysql.decode.decode_chunk) mapped onto the same schema.  Both
the full decode and the key-only pass are pinned, on the layouts the
vector kernel claims and on the ones it must decline (schema evolution,
legacy heads, unmapped table ids).
"""

from __future__ import annotations

import json
import os
import random
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, "/root/repo")

from binlog_spark import constants as C
from binlog_spark.decoder.generic import decode_span_generic
from binlog_spark.decoder.kernel import (_ARROW_TYPES, _COLNAMES, _KEYNAMES,
                                         _decode_one, _fallback_batch)
from binlog_spark.decoder.vector import (decode_span_batch,
                                         decode_span_keys_batch)
from binlog_spark.mysql import encode as E
from binlog_spark.mysql import gen
from binlog_spark.mysql.decode import BinlogError, decode_chunk, iter_frames

_BASE = ("repo", "path", "commit", "lang", "content")


def _chunks(d: str):
    with open(os.path.join(d, "manifest.json")) as f:
        m = json.load(f)
    for log_file, off, ln in m["chunks"]:
        with open(os.path.join(d, log_file), "rb") as f:
            f.seek(off)
            yield log_file, off, f.read(ln)


def _oracle_batch(data: bytes, log_file: str, has_magic: bool,
                  keys: bool = False):
    """The oracle's change records for one chunk, as CHANGE_SCHEMA (or
    KEY_SCHEMA) columns — an independent rendering of the mapping."""
    cols: dict[str, list] = {k: [] for k in _COLNAMES}
    for r in decode_chunk(data, log_file, has_magic=has_magic):
        after = dict(zip(r.columns, r.after)) if r.after is not None else {}
        before = (dict(zip(r.before_columns or r.columns, r.before))
                  if r.before is not None else {})
        img = after if r.after is not None else before
        extra = {n: v for n, v in after.items()
                 if n not in _BASE and v is not None}
        partial = r.op != "D" and (r.partial or bool(r.before_columns))
        row = {"op": r.op, "repo": img.get("repo"), "path": img.get("path"),
               "commit": after.get("commit"), "lang": after.get("lang"),
               "content": after.get("content"),
               "extra_json": (json.dumps(extra, sort_keys=True)
                              if extra else None),
               "before_repo": before.get("repo"),
               "before_path": before.get("path"),
               "gtid": r.gtid, "seq_in_tx": r.seq_in_tx,
               "log_file": r.log_file, "log_pos": r.log_pos,
               "ts_sec": r.ts, "crc_ok": r.crc_ok,
               "present_cols": ",".join(r.columns) if partial else None}
        for k in _COLNAMES:
            cols[k].append(row[k])
    names = _KEYNAMES if keys else _COLNAMES
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[k], type=pa.type_for_alias(
            _ARROW_TYPES.get(k, "string"))) for k in names], names=names)


def _same(a, b) -> bool:
    return pa.Table.from_batches([a]).equals(pa.Table.from_batches([b]))


def _assert_all_equal(d: str, min_vectorized: int = 1,
                      min_fallback: int = 0):
    """Every chunk, full and key-only: fallback ≡ oracle, and vector ≡
    fallback wherever the vector kernel accepts the chunk."""
    n_vec = n_fb = 0
    for log_file, off, data in _chunks(d):
        hm = off == 0
        for keys in (False, True):
            rb_f = _fallback_batch(data, log_file, hm, keys)
            assert _same(rb_f, _oracle_batch(data, log_file, hm, keys)), \
                f"{log_file}@{off} fallback != oracle (keys={keys})"
            fast = decode_span_keys_batch if keys else decode_span_batch
            rb_v = fast(data, log_file, has_magic=hm)
            if rb_v is None:
                n_fb += not keys
                continue
            n_vec += not keys
            assert _same(rb_v, rb_f), \
                f"{log_file}@{off} vector != fallback (keys={keys})"
    assert n_vec >= min_vectorized
    assert n_fb >= min_fallback


def test_vector_equals_classic_default(tmp_path):
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=4000, max_file_bytes=1 << 20,
                                  seed=7), chunk_target=128 * 1024)
    _assert_all_equal(d, min_vectorized=5)


def test_vector_equals_classic_checksum_off(tmp_path):
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=2000, checksum=False, seed=11,
                                  max_file_bytes=1 << 20),
                 chunk_target=128 * 1024)
    _assert_all_equal(d, min_vectorized=3)


def test_vector_equals_classic_key_moves_and_hot_key(tmp_path):
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=3000, key_move_ratio=0.3,
                                  hot_key_ratio=0.3, seed=13,
                                  max_file_bytes=1 << 20),
                 chunk_target=128 * 1024)
    _assert_all_equal(d, min_vectorized=3)


def test_vector_corrupt_crc_flagged(tmp_path):
    """A flipped byte inside a rows-event body must surface as
    crc_ok=False on that event's records in every path."""
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=500, seed=17,
                                  max_file_bytes=4 << 20),
                 chunk_target=1 << 20)
    log_file, off, data = next(iter(_chunks(d)))
    # find a rows event and flip a byte in its body (not the header)
    target = None
    for fr, _ in iter_frames(data, has_magic=off == 0):
        if fr.event_type in C.ROWS_EVENTS:
            target = fr.start
            break
    assert target is not None
    ba = bytearray(data)
    ba[target + 40] ^= 0x01  # stays ASCII — no path may utf-8-fail
    data = bytes(ba)
    rb_v = decode_span_batch(data, log_file, has_magic=off == 0)
    rb_f = _fallback_batch(data, log_file, off == 0)
    assert rb_v is not None
    assert _same(rb_v, rb_f)
    assert _same(rb_f, _oracle_batch(data, log_file, off == 0))
    assert not all(rb_v.column("crc_ok").to_pylist())


def test_vector_equals_classic_minimal_images(tmp_path):
    """MINIMAL row images ride the fast path: per-mask specialized
    walkers must reproduce the fallback's partial rows exactly —
    including present_cols csvs, PK-only before images, and
    null-vs-absent column distinctions — in full and key-only mode."""
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=1500, minimal_images=True,
                                  seed=19, key_move_ratio=0.2,
                                  max_file_bytes=1 << 20),
                 chunk_target=128 * 1024)
    _assert_all_equal(d, min_vectorized=3)


def test_vector_minimal_keys_equal_classic(tmp_path):
    """Key-only pass on MINIMAL images with key moves (a second seed)."""
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=1500, minimal_images=True,
                                  seed=37, key_move_ratio=0.4,
                                  max_file_bytes=1 << 20),
                 chunk_target=128 * 1024)
    _assert_all_equal(d, min_vectorized=3)


def test_vector_declines_exotic_layouts(tmp_path):
    """Schema evolution (extra columns) must route to the generic
    fallback (None), never decode wrong; the fallback renders the extra
    column into extra_json exactly as the oracle's records do."""
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=800, evolve_at=200, seed=23,
                                  max_file_bytes=1 << 20),
                 chunk_target=128 * 1024)
    _assert_all_equal(d, min_vectorized=1, min_fallback=1)


def test_vector_keys_equal_classic(tmp_path):
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=3000, key_move_ratio=0.2,
                                  seed=29, max_file_bytes=1 << 20),
                 chunk_target=128 * 1024)
    _assert_all_equal(d, min_vectorized=3)


def test_vector_empty_and_garbage():
    assert decode_span_batch(b"", "binlog.000001").num_rows == 0
    assert _decode_one(b"", "binlog.000001", False) is None
    # garbage head with magic: the vector kernel declines, and the
    # fallback raises loudly instead of returning an empty batch
    garbage = bytearray(b"\xfebin" + random.Random(5).randbytes(64))
    garbage[8] = 0x7F  # event type: neither FORMAT_DESCRIPTION nor START_V3
    garbage = bytes(garbage)
    assert decode_span_batch(garbage, "binlog.000001",
                             has_magic=True) is None
    assert decode_span_keys_batch(garbage, "binlog.000001",
                                  has_magic=True) is None
    for keys in (False, True):
        with pytest.raises(BinlogError):
            _decode_one(garbage, "binlog.000001", True, keys)


# --- rows-events with no TABLE_MAP in scope --------------------------


def _splice(tmp_path, how: str):
    """A mid-file chunk with its first TABLE_MAP removed (``drop``), a
    ROTATE spliced right after it (``rotate``: evicts the mapping before
    the rows-event that needs it), or a dummy-table-id rows-event spliced
    after its first GTID (``dummy``)."""
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=600, seed=31,
                                  max_file_bytes=4 << 20),
                 chunk_target=32 * 1024)
    log_file, off, data = [c for c in _chunks(d) if c[1] != 0][0]
    frames = [fr for fr, _ in iter_frames(data)]
    tm = next(fr for fr in frames if fr.event_type == C.TABLE_MAP_EVENT)
    gtid = next(fr for fr in frames if fr.event_type == C.GTID_EVENT)

    def frame(t, body):
        return E.frame_event(t, body, timestamp=tm.timestamp, server_id=1,
                             next_pos=tm.next_pos)
    if how == "drop":
        out = data[:tm.start] + data[tm.start + tm.event_size:]
    elif how == "rotate":
        cut = tm.start + tm.event_size
        out = (data[:cut] + frame(C.ROTATE_EVENT,
                                  E.rotate_body("binlog.000099"))
               + data[cut:])
    else:
        cut = gtid.start + gtid.event_size
        out = (data[:cut] + frame(C.WRITE_ROWS_EVENTv2, E.rows_body(
            C.WRITE_ROWS_EVENTv2, 0x00FFFFFF, [], []))
               + data[cut:])
    return log_file, data, out


@pytest.mark.parametrize("how", ["drop", "rotate"])
def test_unmapped_rows_event_fails_loudly(tmp_path, how):
    """No decoder may drop a rows-event whose table id has no TABLE_MAP:
    the vector kernel declines, the generic decoder (both modes) and the
    fallback path raise, as the oracle does."""
    log_file, data, bad = _splice(tmp_path, how)
    assert decode_span_batch(data, log_file) is not None
    assert decode_span_batch(bad, log_file) is None
    assert decode_span_keys_batch(bad, log_file) is None
    for mode in ("vals", "json"):
        with pytest.raises(BinlogError, match="no tableMapEvent"):
            decode_span_generic(bad, log_file, mode=mode)
    for keys in (False, True):
        with pytest.raises(BinlogError, match="no tableMapEvent"):
            _decode_one(bad, log_file, False, keys)
    with pytest.raises(BinlogError, match="no tableMapEvent"):
        decode_chunk(bad, log_file)


def test_dummy_table_id_is_skipped(tmp_path):
    """The dummy table id 0x00FFFFFF maps no table: every decoder skips
    it and the chunk decodes exactly as without it."""
    log_file, data, spliced = _splice(tmp_path, "dummy")
    for keys in (False, True):
        fast = decode_span_keys_batch if keys else decode_span_batch
        rb = fast(spliced, log_file)
        assert rb is not None and rb.num_rows
        assert _same(rb, fast(data, log_file))
        assert _same(_fallback_batch(spliced, log_file, False, keys), rb)
    assert len(decode_chunk(spliced, log_file)) == \
        len(decode_chunk(data, log_file))
