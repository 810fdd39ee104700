"""Decode entry point for the lake table: chunk spans → change events.

One ``mapInArrow`` pass; each Arrow batch of chunk-span rows makes the
executor read its own byte ranges and decode *thousands of events per
call* — Python cost is amortized per multi-megabyte chunk, never per
DataFrame row (BASELINE.json:6; strategy per SURVEY §7 "hard parts" #1).

Each chunk goes to the vectorized kernel (decoder.vector); a chunk it
declines decodes through the generic compiled decoder
(decoder.generic, ``mode="vals"``) and is mapped onto the same schema
here, so there is one row decoder family behind both paths.

Output is the canonical CDC record of FIXTURES.md §3, flattened for the
apply path (structs cost Arrow conversion time; the relational columns the
pipeline shuffles on must be top-level for Catalyst to prune/push down):

    op          I / U / D
    repo..content   after-image columns (for D: the WHERE-image key,
                    data columns null)
    before_repo/before_path  present on U/D (detects key-changing updates)
    gtid, seq_in_tx          dedup identity
    log_file, log_pos        commit-order offset (/root/reference/binlog.go:23-26)
    ts_sec, crc_ok           header timestamp + checksum verdict
"""

from __future__ import annotations

from json.encoder import encode_basestring_ascii as _esc
from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql.types import (BooleanType, IntegerType, LongType, StringType,
                               StructField, StructType)

from .chunks import iter_chunk_bytes

CHANGE_SCHEMA = StructType([
    StructField("op", StringType(), False),
    StructField("repo", StringType(), True),
    StructField("path", StringType(), True),
    StructField("commit", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("content", StringType(), True),
    # columns beyond the base schema (TABLE_MAP evolution) as a JSON map
    StructField("extra_json", StringType(), True),
    StructField("before_repo", StringType(), True),
    StructField("before_path", StringType(), True),
    StructField("gtid", StringType(), True),
    StructField("seq_in_tx", IntegerType(), False),
    StructField("log_file", StringType(), False),
    StructField("log_pos", LongType(), False),
    StructField("ts_sec", LongType(), False),
    StructField("crc_ok", BooleanType(), False),
    # MINIMAL row images: csv of the after-image's present columns; null
    # for FULL images (the record is then a whole-row replacement)
    StructField("present_cols", StringType(), True),
])

_COLNAMES = [f.name for f in CHANGE_SCHEMA.fields]

_ARROW_TYPES = {
    "seq_in_tx": "int32", "log_pos": "int64", "ts_sec": "int64",
    "crc_ok": "bool",
}

KEY_SCHEMA = StructType([
    StructField("op", StringType(), False),
    StructField("repo", StringType(), True),
    StructField("path", StringType(), True),
    StructField("before_repo", StringType(), True),
    StructField("before_path", StringType(), True),
    StructField("log_file", StringType(), False),
    StructField("log_pos", LongType(), False),
    StructField("seq_in_tx", IntegerType(), False),
    StructField("crc_ok", BooleanType(), False),
])

_KEYNAMES = [f.name for f in KEY_SCHEMA.fields]


_BASE = ("repo", "path", "commit", "lang", "content")
_PASSTHROUGH = ("op", "gtid", "seq_in_tx", "log_file", "log_pos", "ts_sec",
                "crc_ok")


def _change_layout(tme):
    """``(names, base ordinals, extras)`` of a TABLE_MAP against the
    canonical columns, cached on the TableMap.  ``extras`` lists the
    non-base columns as (rendered ``"name": `` prefix, ordinal) sorted by
    name, so an extra_json object assembles exactly as
    ``json.dumps(..., sort_keys=True)`` renders it (every vals cell is a
    string or None)."""
    lay = getattr(tme, "_change_layout", None)
    if lay is None:
        names = tuple(c.name for c in tme.columns)
        base = tuple(names.index(n) if n in names else None for n in _BASE)
        extras = tuple((_esc(n) + ": ", i) for n, i in sorted(
            (n, i) for i, n in enumerate(names) if n not in _BASE))
        lay = tme._change_layout = (names, base, extras)
    return lay


def _extra_json(row, extras) -> str | None:
    parts = [p + _esc(row[i]) for p, i in extras if row[i] is not None]
    return "{" + ", ".join(parts) + "}" if parts else None


def _vals_to_changes(cols: dict[str, list], keys: bool) -> dict[str, list]:
    """One chunk's ``decode_span_generic(mode="vals")`` output → the
    CHANGE_SCHEMA columns (KEY_SCHEMA's subset when ``keys``), event by
    event (``cols["_tables"]``):

      * repo/path from the after image, else the before image;
      * commit/lang/content and the non-base ``extra_json`` map from the
        after image only;
      * before_repo/before_path from the before image;
      * present_cols: the after image's column csv when either image is
        partial (MINIMAL), null for FULL images and for deletes."""
    out = {k: cols[k] for k in _PASSTHROUGH}
    derived = ("repo", "path", "before_repo", "before_path") + (
        () if keys else ("commit", "lang", "content", "extra_json",
                         "present_cols"))
    for k in derived:
        out[k] = []
    ex = {k: out[k].extend for k in derived}
    ops, bvals, avals = cols["op"], cols["before_vals"], cols["after_vals"]
    bpres, apres = cols["before_present"], cols["after_present"]
    s = 0
    for tme, n in cols["_tables"]:
        names, base, extras = _change_layout(tme)
        e = s + n
        op = ops[s]
        befores, afters = bvals[s:e], avals[s:e]
        nulls = [None] * n

        def pick(imgs, i):
            return nulls if i is None else list(map(itemgetter(i), imgs))
        img = befores if op == "D" else afters
        ex["repo"](pick(img, base[0]))
        ex["path"](pick(img, base[1]))
        bkey = (None, None) if op == "I" else base
        ex["before_repo"](pick(befores, bkey[0]))
        ex["before_path"](pick(befores, bkey[1]))
        s = e
        if keys:
            continue
        if op == "D":
            for k in ("commit", "lang", "content", "extra_json",
                      "present_cols"):
                ex[k](nulls)
            continue
        ex["commit"](pick(afters, base[2]))
        ex["lang"](pick(afters, base[3]))
        ex["content"](pick(afters, base[4]))
        ex["extra_json"]([_extra_json(r, extras) for r in afters]
                         if extras else nulls)
        ap = apres[e - 1]
        if bpres[e - 1] is None and ap is None:
            pc = None
        elif ap is None:
            pc = ",".join(names)
        else:
            pc = ",".join(nm for nm, bit in zip(names, ap) if bit == "1")
        ex["present_cols"]([pc] * n)
    return out


def _fallback_batch(data: bytes, log_file: str, has_magic: bool,
                    keys: bool = False):
    """Decode a chunk the vector kernel declined with the generic
    decoder, mapped onto CHANGE_SCHEMA (KEY_SCHEMA when ``keys``)."""
    import pyarrow as pa
    from .generic import decode_span_generic
    names = _KEYNAMES if keys else _COLNAMES
    cols = _vals_to_changes(decode_span_generic(
        data, log_file, has_magic=has_magic, mode="vals"), keys)
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[k], type=pa.type_for_alias(
            _ARROW_TYPES.get(k, "string"))) for k in names], names=names)


def _decode_one(data: bytes, log_file: str, has_magic: bool,
                keys: bool = False):
    """Vectorized kernel first (decoder/vector.py: numpy header walk +
    codegen row walk + ragged-join Arrow build); chunks outside its fast
    layout (legacy versions, non-varchar tables, schema evolution, an
    unmapped table id) return None and re-decode through the generic
    decoder — per-chunk granularity, so a mixed dump pays the generic
    path only for the chunks that need it."""
    from .vector import decode_span_batch, decode_span_keys_batch
    fast = decode_span_keys_batch if keys else decode_span_batch
    rb = fast(data, log_file, has_magic=has_magic)
    if rb is None:
        rb = _fallback_batch(data, log_file, has_magic, keys)
    return rb if rb.num_rows else None


def _make_worker(keys: bool):
    def work(batches):
        for log_file, off, data in iter_chunk_bytes(batches):
            out = _decode_one(data, log_file, off == 0, keys)
            if out is not None:
                yield out
    return work


def decode_changes(chunks: DataFrame, *, partitions: int | None = None) -> DataFrame:
    """Chunk-span DF → change-event DF via ``mapInArrow`` (Arrow batches
    built directly in the UDF; the pandas layer is skipped entirely).

    ``repartition`` spreads chunks evenly over the cluster *before* decode —
    decode cost is proportional to bytes, so round-robin on chunk count is
    the right pre-shuffle (spans are size-bounded by the generator).
    """
    if partitions:
        chunks = chunks.repartition(partitions)
    return chunks.mapInArrow(_make_worker(False), CHANGE_SCHEMA)


def decode_keys(chunks: DataFrame, *, partitions: int | None = None) -> DataFrame:
    """Key-only decode pass (late materialization, ~3-4× cheaper than the
    full decode on the vector path: values are length-skipped, never
    materialized; declined chunks decode in full and project the keys)."""
    if partitions:
        chunks = chunks.repartition(partitions)
    return chunks.mapInArrow(_make_worker(True), KEY_SCHEMA)
