"""Seeded CDC fixtures and the passes the benchmark times on them.

A workload is a generator configuration plus the engine entry point that
consumes its dump:

* ``stream_tail``: a single-table dump with one mid-stream ALTER and small
  rotated files, drained by ``streaming.tail.stream_apply`` into a lake
  that grows every micro-batch.
* ``multi_table_minimal``: a multi-table MINIMAL-image dump replayed as one
  batch by ``cdc.multi.replay_generic``.
* ``bulk_replay``: a single-table full-image dump replayed as one batch by
  ``cdc.replay.replay(lineage=False)``.

An untraced pass calls only the entry point.  A traced pass calls the
layer functions the entry point calls, in the same order, each inside a
span (see probes.Tracer).  Every pass ends with the oracle gate: the lake
state is read, fingerprinted and compared with a digest computed once per
fixture from an independent source.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import struct
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict, dataclass

from probes import Span, Tracer

_HEADER = 19

#: generator configuration per workload; the seed comes from the command
#: line.  Sizes are chosen so a run (JVM start, warm-up, timed passes)
#: fits the 4-core budget; see README.md.
CONFIGS: dict[str, dict] = {
    "stream_tail": {"n_changes": 2400, "evolve_at": 1200,
                    "max_file_bytes": 512 << 10, "chunk_target": 256 << 10},
    "multi_table_minimal": {"n_changes": 20000},
    "bulk_replay": {"n_changes": 30000},
}


@dataclass
class Fixture:
    workload: str
    dump: str
    n_changes: int
    n_frames: int
    binlog_bytes: int
    n_files: int
    digest: str


def binlog_files(dump: str) -> list[str]:
    return sorted(n for n in os.listdir(dump)
                  if n.startswith("binlog.") and not n.endswith(".next"))


def count_frames(dump: str) -> int:
    """Event frames in a dump, by hopping 19-byte v4 headers."""
    n = 0
    u32 = struct.Struct("<I").unpack_from
    for name in binlog_files(dump):
        with open(os.path.join(dump, name), "rb") as f:
            data = f.read()
        pos = 4
        while pos + _HEADER <= len(data):
            size = u32(data, pos + 9)[0]
            if size < _HEADER:
                break
            pos += size
            n += 1
    return n


def _lanes(lines) -> str:
    """Order-insensitive digest: per-line sha256 summed in two 60-bit
    lanes (the same construction as mysql.oracle.state_digest)."""
    a = b = n = 0
    for line in lines:
        h = hashlib.sha256(line.encode()).hexdigest()
        a = (a + int(h[0:15], 16)) % (1 << 120)
        b = (b + int(h[16:31], 16)) % (1 << 120)
        n += 1
    return f"{n:x}:{a:030x}:{b:030x}"


def _multi_line(schema, table, pk_json, row_json) -> str:
    return "\x1f".join((schema, table, pk_json, row_json))


def _generate(workload: str, seed: int, out: str) -> str:
    """Write the dump for ``workload`` into ``out``; return its oracle
    digest."""
    cfg = CONFIGS[workload]
    if workload == "multi_table_minimal":
        import pyarrow.parquet as pq

        from binlog_spark.mysql.gen_multi import generate_multi
        generate_multi(out, n_changes=cfg["n_changes"], seed=seed,
                       minimal_images=True)
        # generator-side truth, rendered as the typed lake exposes it
        gold = pq.read_table(os.path.join(out, "golden_multi.parquet"))
        return _lanes(_multi_line(*r.values()) for r in gold.to_pylist())
    from binlog_spark.mysql import gen, oracle
    kw = {k: v for k, v in cfg.items() if k != "chunk_target"}
    gen.generate(out, gen.GenConfig(seed=seed, **kw),
                 chunk_target=cfg.get("chunk_target", 1 << 20))
    # independent sequential decode of the dump, not the generator's state
    return oracle.state_digest(oracle.final_state(out))


def build_fixture(workload: str, seed: int, cache: str) -> Fixture:
    """The workload's dump for ``seed``, generated once and cached under
    ``cache`` keyed by (generator config, seed)."""
    key = hashlib.sha256(json.dumps([workload, CONFIGS[workload], seed],
                                    sort_keys=True).encode()).hexdigest()
    path = os.path.join(cache, f"{workload}-{seed}-{key[:12]}")
    meta = os.path.join(path, "perfbench_fixture.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return Fixture(**json.load(f))
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    digest = _generate(workload, seed, tmp)
    with open(os.path.join(tmp, "manifest.json")) as f:
        n_changes = json.load(f)["n_changes"]
    files = binlog_files(tmp)
    fx = Fixture(workload, path, n_changes, count_frames(tmp),
                 sum(os.path.getsize(os.path.join(tmp, n)) for n in files),
                 len(files), digest)
    with open(os.path.join(tmp, "perfbench_fixture.json"), "w") as f:
        json.dump(asdict(fx), f)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return fx


# ---------------------------------------------------------------- the lake

def parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def snapshot_bytes(table) -> int:
    """Bytes of the data files the table's current snapshot references."""
    snap = table.snapshot() or {}
    return sum(os.path.getsize(f if os.path.isabs(f)
                               else os.path.join(table.root, f))
               for fl in snap.get("buckets", {}).values() for f in fl)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _counted(df, name: str) -> int:
    """Force ``df`` through the no-op sink and return its row count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation(name)
    _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


@dataclass
class Applied:
    """What a pass hands back: the wall of each committed batch when the
    pass commits several (None: one batch, the pass wall), the handle the
    oracle gate reads, and the streaming engine's own time outside the
    batch function: query start and stop, trigger planning, offset and
    commit logs."""
    batch_walls: list | None
    handle: object
    engine_s: float = 0.0


# ---------------------------------------------------------- single table

def _check_single(spark, fx: Fixture, lake: str) -> tuple[bool, float, int]:
    """(state matches the oracle, seconds to read and fingerprint it,
    bytes of data files in the final snapshot)"""
    from binlog_spark.cdc.pipeline import state_fingerprint
    from binlog_spark.lake.table import LakeTable
    table = LakeTable(lake)
    t0 = time.perf_counter()
    fp = state_fingerprint(table.read(spark))
    return fp == fx.digest, time.perf_counter() - t0, snapshot_bytes(table)


def _stream_batch_files(dump: str) -> list[list[str]]:
    """The file sets the stream source hands to successive micro-batches:
    oldest first, ``maxFilesPerTrigger`` files each, where the glob
    ``binlog.*`` also admits the ``.next`` pointer files that the source
    filters out after counting them."""
    from binlog_spark.streaming.tail import stream_blobs
    per = inspect.signature(stream_blobs).parameters[
        "max_files_per_trigger"].default
    names = sorted((n for n in os.listdir(dump) if n.startswith("binlog.")),
                   key=lambda n: (os.path.getmtime(os.path.join(dump, n)), n))
    groups = [names[i:i + per] for i in range(0, len(names), per)]
    return [[n for n in g if not n.endswith(".next")] for g in groups]


class StreamTail:
    name = "stream_tail"
    warmup_passes = 1

    def run(self, spark, fx: Fixture, work: str) -> Applied:
        """Drain the dump into an empty lake.  Each micro-batch is timed
        between consecutive ``on_batch`` callbacks (the first from query
        start)."""
        from binlog_spark.streaming.tail import stream_apply
        lake, ckpt = os.path.join(work, "lake"), os.path.join(work, "ckpt")
        stamps = [time.perf_counter()]
        q = stream_apply(spark, fx.dump, lake, ckpt,
                         on_batch=lambda _b, _s: stamps.append(
                             time.perf_counter()))
        q.awaitTermination()
        wall = time.perf_counter() - stamps[0]
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        add_batch_ms = sum(p.durationMs.get("addBatch", 0)
                           for p in q.recentProgress)
        return Applied([b - a for a, b in zip(stamps, stamps[1:])], lake,
                       wall - add_batch_ms / 1000.0)

    def check(self, spark, fx: Fixture, lake: str):
        return _check_single(spark, fx, lake)

    def traced(self, spark, fx: Fixture, work: str, tr: Tracer,
               run_id: str) -> Applied:
        from pyspark.sql import functions as F

        from binlog_spark.cdc.pipeline import scan_extra_columns_blobs
        from binlog_spark.lake.table import LakeTable
        lake = os.path.join(work, "lake")
        table = LakeTable(lake)
        walls = []
        with tr.span("pass", run_id):
            table.create()
            for i, names in enumerate(_stream_batch_files(fx.dump)):
                b0 = time.perf_counter()
                with tr.span(f"batch-{i}", run_id):
                    # the micro-batch frame stream_blobs yields for these
                    # files, read as a static source
                    blobs = (spark.read.format("binaryFile")
                             .load([os.path.join(fx.dump, n) for n in names])
                             .select(F.element_at(F.split("path", "/"), -1)
                                     .alias("log_file"),
                                     F.lit(0).cast("long").alias("chunk_off"),
                                     F.col("content").alias("data")))
                    with tr.span("scan_extra_columns_blobs", run_id,
                                 "chunks"):
                        extra = scan_extra_columns_blobs(blobs)
                    _single_table_batch(spark, tr, run_id, table, blobs,
                                        extra, f"trace-{run_id}-{i}", {})
                walls.append(time.perf_counter() - b0)
        return Applied(walls, lake)

    def fallback_ratio(self, fx: Fixture) -> float:
        from binlog_spark.decoder.vector import decode_span_batch
        names = binlog_files(fx.dump)
        misses = 0
        for n in names:
            with open(os.path.join(fx.dump, n), "rb") as f:
                data = f.read()
            misses += decode_span_batch(data, n, has_magic=True) is None
        return misses / len(names)


def _single_table_batch(spark, tr: Tracer, run_id: str, table, frame,
                        extra: list, batch_id: str, kw: dict) -> None:
    """decode → reduce → merge for one batch, as cdc.replay.replay and the
    stream_apply batch function call them; each lazy output is forced so
    its span holds its work."""
    from binlog_spark.cdc.pipeline import flatten_extras, reduce_changes
    from binlog_spark.decoder.kernel import decode_changes, decode_keys
    parts = kw.get("partitions")
    with tr.span("decode_changes+decode_keys", run_id, "decode") as dec:
        events = decode_changes(frame, partitions=parts)
        keys = decode_keys(frame, partitions=parts)
        dec.counts["events"] = _counted(events, f"dec-{run_id}-{batch_id}")
        _noop(keys)
    with tr.span("reduce_changes+flatten_extras", run_id, "reduce",
                 prefix=dec) as red:
        up = reduce_changes(events, key_events=keys,
                            broadcast_winners=kw.get("broadcast_winners",
                                                     True),
                            wide_order=kw.get("wide_order", False))
        up, _ = flatten_extras(up, names=extra)
        red.counts["rows_out"] = _counted(up, f"red-{run_id}-{batch_id}")
    _merge(spark, tr, run_id, table, up, batch_id, red, kw.get("offsets"))


def _merge(spark, tr: Tracer, run_id: str, table, upserts, batch_id: str,
           prefix: Span, offsets=None) -> None:
    before = parquet_files(table.root)
    with tr.span("LakeTable.merge", run_id, "merge", prefix=prefix) as sp:
        table.merge(spark, upserts, batch_id=batch_id, offsets=offsets)
    _count_writes(sp.counts, table.root, before)


def _count_writes(counts: dict, root: str, before: dict) -> None:
    """Data files (and their bytes) under ``root`` that are not in
    ``before``."""
    after = parquet_files(root)
    new = [p for p in after if p not in before]
    counts["files_written"] = len(new)
    counts["bytes_written"] = sum(after[p] for p in new)


def _batch_settings(fx: Fixture, spans: list) -> dict:
    """What replay and replay_generic derive for a one-batch replay: the
    winner plan and order key from the input size and manifest, and the
    commit offsets."""
    from binlog_spark.cdc.pipeline import BROADCAST_WINNERS_MIN_BYTES
    from binlog_spark.decoder.chunks import read_manifest
    last = max(s[1] for s in spans)
    return {"broadcast_winners": sum(int(s[3]) for s in spans)
            >= BROADCAST_WINNERS_MIN_BYTES,
            "wide_order": read_manifest(fx.dump).get("max_tx_rows", 0)
            > 32767,
            "offsets": {"log_file": last, "next_pos": int(max(
                s[2] + s[3] for s in spans if s[1] == last))}}


class BulkReplay:
    name = "bulk_replay"
    warmup_passes = 2

    def run(self, spark, fx: Fixture, work: str) -> Applied:
        from binlog_spark.cdc.replay import replay
        lake = os.path.join(work, "lake")
        replay(spark, fx.dump, lake, lineage=False)
        return Applied(None, lake)

    def check(self, spark, fx: Fixture, lake: str):
        return _check_single(spark, fx, lake)

    def traced(self, spark, fx: Fixture, work: str, tr: Tracer,
               run_id: str) -> Applied:
        from binlog_spark.cdc.pipeline import scan_extra_columns
        from binlog_spark.decoder.chunks import (chunks_df,
                                                 decode_parallelism,
                                                 spans_df)
        from binlog_spark.lake.table import LakeTable
        lake = os.path.join(work, "lake")
        table = LakeTable(lake)
        with tr.span("pass", run_id):
            table.create()
            with tr.span("chunks_df+scan_extra_columns", run_id, "chunks"):
                spans = [tuple(r) for r in chunks_df(spark, fx.dump).collect()]
                extra = scan_extra_columns(spans)
            kw = {**_batch_settings(fx, spans),
                  "partitions": decode_parallelism(spark, spans)}
            _single_table_batch(spark, tr, run_id, table,
                                spans_df(spark, spans), extra,
                                f"trace-{run_id}", kw)
        return Applied(None, lake)

    def fallback_ratio(self, fx: Fixture) -> float:
        from binlog_spark.decoder.chunks import read_manifest
        from binlog_spark.decoder.vector import decode_span_batch
        chunks = read_manifest(fx.dump)["chunks"]
        misses = 0
        for name, off, ln in chunks:
            with open(os.path.join(fx.dump, name), "rb") as f:
                f.seek(off)
                data = f.read(ln)
            misses += decode_span_batch(data, name,
                                        has_magic=off == 0) is None
        return misses / len(chunks)


# ------------------------------------------------------------ multi table

def _check_multi(spark, fx: Fixture, tables: dict) -> tuple[bool, float, int]:
    """Render every table as (schema, table, pk_json, row_json), the way
    the generator's golden_multi.parquet renders its live state, and
    compare digests.  The digest is one Spark aggregate over the union."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    frames = []
    for (sch, tbl), t in sorted(tables.items()):
        base = t.read(spark)
        frames.append(base.select(F.concat_ws(
            "\x1f", F.lit(sch), F.lit(tbl),
            F.to_json(F.struct(*t.key_cols)),
            F.to_json(F.struct(*base.columns))).alias("line")))
    state = frames[0]
    for f in frames[1:]:
        state = state.unionByName(f)
    h = F.sha2("line", 256)
    row = state.select(
        F.sum(F.conv(F.substring(h, 1, 15), 16, 10).cast("decimal(38,0)"))
        .alias("a"),
        F.sum(F.conv(F.substring(h, 17, 15), 16, 10).cast("decimal(38,0)"))
        .alias("b"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    fp = (f"{row.n:x}:{int(row.a or 0) % (1 << 120):030x}:"
          f"{int(row.b or 0) % (1 << 120):030x}")
    scan_s = time.perf_counter() - t0
    return (fp == fx.digest, scan_s,
            sum(snapshot_bytes(t) for t in tables.values()))


class MultiTableMinimal:
    name = "multi_table_minimal"
    warmup_passes = 2

    def run(self, spark, fx: Fixture, work: str) -> Applied:
        from binlog_spark.cdc.multi import replay_generic
        return Applied(None, replay_generic(spark, fx.dump,
                                            os.path.join(work, "lake")))

    def check(self, spark, fx: Fixture, tables: dict):
        return _check_multi(spark, fx, tables)

    def traced(self, spark, fx: Fixture, work: str, tr: Tracer,
               run_id: str) -> Applied:
        from binlog_spark.cdc.multi import (apply_staged_batch,
                                            ensure_tables,
                                            scan_table_registry_spans,
                                            stage_events, table_upserts,
                                            table_upserts_minimal)
        from binlog_spark.decoder.chunks import (GENERIC_SPAN_TARGET,
                                                 chunks_df,
                                                 decode_parallelism,
                                                 spans_df)
        from binlog_spark.decoder.generic import decode_changes_vals
        lake = os.path.join(work, "lake")
        staging = os.path.join(work, "staging")
        with tr.span("pass", run_id):
            with tr.span("chunks_df+scan_table_registry_spans", run_id,
                         "chunks"):
                spans = [tuple(r) for r in chunks_df(spark, fx.dump).collect()]
                registry = scan_table_registry_spans(spark, spans)
            with tr.span("ensure_tables", run_id, "merge"):
                tables = ensure_tables(lake, registry)
            nbytes = sum(int(s[3]) for s in spans)
            parts = decode_parallelism(spark, spans,
                                       target=GENERIC_SPAN_TARGET)
            kw = _batch_settings(fx, spans)
            offsets = kw.pop("offsets")
            with tr.span("decode_changes_vals", run_id, "decode") as dec:
                events = decode_changes_vals(spans_df(spark, spans),
                                             partitions=parts)
                dec.counts["events"] = _counted(events, f"dec-{run_id}")
            with tr.span("stage_events", run_id, "stage", prefix=dec) as stg:
                partials = stage_events(events, staging, est_bytes=nbytes)
                stg.counts["bytes_written"] = sum(
                    parquet_files(staging).values())

            # the per-table reductions run concurrently, as
            # apply_staged_batch runs them, so the merge span's recomputed
            # prefix is comparable
            with tr.span("table_upserts*", run_id, "reduce") as red:
                group = f"reduce:{tr.spans.index(red)}"

                def reduce_one(item) -> int:
                    (sch, tbl), t = item
                    # job groups are per thread
                    spark.sparkContext.setJobGroup(group, run_id)
                    info = registry[(sch, tbl)]
                    part = os.path.join(staging, f"table_schema={sch}",
                                        f"table_name={tbl}")
                    if not os.path.isdir(part):
                        return 0
                    fn = (table_upserts_minimal if (sch, tbl) in partials
                          else table_upserts)
                    up = fn(spark.read.parquet(part), info["columns"],
                            list(t.key_cols), info["types"], **kw)
                    return _counted(up, f"red-{run_id}-{sch}.{tbl}")

                with ThreadPoolExecutor(max_workers=min(8, len(tables))) as ex:
                    red.counts["rows_out"] = sum(
                        ex.map(reduce_one, sorted(tables.items())))
            before = parquet_files(lake)
            with tr.span("apply_staged_batch", run_id, "merge",
                         prefix=red) as mrg:
                apply_staged_batch(spark, staging, registry, tables,
                                   f"trace-{run_id}", offsets=offsets,
                                   partial_tables=partials, **kw)
            _count_writes(mrg.counts, lake, before)
            shutil.rmtree(staging, ignore_errors=True)
        return Applied(None, tables)

    def fallback_ratio(self, fx: Fixture) -> float:
        # the generic decoder has no fast path to fall back from
        return 0.0


WORKLOADS = {w.name: w for w in (StreamTail(), MultiTableMinimal(),
                                 BulkReplay())}
