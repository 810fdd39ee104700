"""Multi-table CDC replay: one binlog stream → N lake tables.

The single-table path (cdc.replay) is specialized for the repo_files
schema; this module replays a dump whose transactions touch *arbitrary*
tables — the role of the reference's caller demultiplexing on
``TableMapEvent.SchemaName/TableName`` (/root/reference/rbr.go:18-24,
doc.go:47-56) — keyed by each table's PRIMARY KEY from the TABLE_MAP
optional metadata (SIMPLE_PRIMARY_KEY TLV, /root/reference/rbr.go:99-150
parses the same TLV stream).

Scale shape:

  * table discovery is a frame scan over chunk spans that emits only
    TABLE_MAP descriptors (bytes scanned ≫ rows emitted — no row decode,
    no shuffle): a header hop on the driver up to
    REGISTRY_DRIVER_MAX_BYTES of input, a distributed scan above it (a
    driver-side scan would serialize a large dump through one core)
  * each batch decodes ONCE (generic decoder) and is staged to parquet
    partitioned by (table_schema, table_name); per-table reductions then
    read their own partition directories — the decode is never re-run
    per table, and partition pruning makes each table's read touch only
    its own files
  * per-table reduction is a single argmax aggregation on the packed
    commit order (cdc.pipeline.pack_ord): one read of the table's staged
    partition, map-side partial aggregation discards losing rows before
    the shuffle — only winner rows ever shuffle
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, StringType, StructField,
                               StructType)

from ..decoder.chunks import (GENERIC_SPAN_TARGET, chunks_df,
                              decode_parallelism, iter_chunk_bytes,
                              manifest_wide_order, spans_df)
from ..decoder.generic import VALS_SCHEMA, decode_changes_vals
from ..lake.table import LakeTable
from .pipeline import pack_ord
from .replay import _batch_id, batch_plan, plan_batches

_REGISTRY_SCHEMA = StructType([
    StructField("table_schema", StringType(), False),
    StructField("table_name", StringType(), False),
    StructField("columns_json", StringType(), False),
    StructField("pk_json", StringType(), False),
    StructField("types_json", StringType(), False),
    StructField("ncol", IntegerType(), False),
])


def _registry_rows(spans):
    """One row per distinct TABLE_MAP across (data, is_head) byte spans
    (decoder.frames.table_map_bodies: the shared walk, rows frames
    length-skipped, no CRC)."""
    from ..decoder.frames import table_map_bodies
    from ..mysql.decode import Cur, parse_table_map
    rows: dict[tuple, tuple] = {}
    seen: set[bytes] = set()
    for data, is_head in spans:
        for key in table_map_bodies(data, is_head):
            if key in seen:
                continue
            seen.add(key)
            tme = parse_table_map(Cur(key))
            names = [c.name or f"@{i}"
                     for i, c in enumerate(tme.columns)]
            pk = [names[i] for i in tme.pk if i < len(names)]
            types = [[c.type, c.meta, int(c.unsigned), c.charset]
                     for c in tme.columns]
            rows[(tme.schema, tme.table, len(names))] = (
                tme.schema, tme.table, json.dumps(names),
                json.dumps(pk), json.dumps(types), len(names))
    return rows


def _registry_batch(rows):
    import pyarrow as pa
    cols = list(zip(*rows.values()))
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[0], pa.string()), pa.array(cols[1], pa.string()),
         pa.array(cols[2], pa.string()), pa.array(cols[3], pa.string()),
         pa.array(cols[4], pa.string()), pa.array(cols[5], pa.int32())],
        names=[f.name for f in _REGISTRY_SCHEMA.fields])


def _scan(batches):
    """mapInArrow worker: chunk spans, or raw file blobs → one row per
    distinct TABLE_MAP."""
    rows = _registry_rows((data, off == 0)
                          for _f, off, data in iter_chunk_bytes(batches))
    if rows:
        yield _registry_batch(rows)


def _fold_registry(rows) -> dict:
    reg: dict[tuple, dict] = {}
    for r in rows:
        k = (r.table_schema, r.table_name)
        cur = reg.get(k)
        if cur is None or r.ncol > len(cur["columns"]):
            reg[k] = {"columns": json.loads(r.columns_json),
                      "pk": json.loads(r.pk_json),
                      "types": json.loads(r.types_json)}
    return reg


def scan_table_registry(spark: SparkSession, chunks: DataFrame) -> dict:
    """Discover every table in the dump:
    {(schema, table): {columns, pk, types}}.

    Distributed; column additions are monotonic (SURVEY §1.2) so the
    widest TABLE_MAP per table carries its newest schema."""
    return _fold_registry(
        chunks.mapInArrow(_scan, _REGISTRY_SCHEMA).collect())


#: dumps at or below this many bytes have their registry scanned on the
#: driver (a sequential header hop, one chunk in memory at a time)
#: instead of via a Spark job — at small-batch sizes the job's planning
#: plus the Python-runner launch cost multiples of the scan itself.
#: Data-size derived, so a 100 TB dump still takes the distributed scan.
REGISTRY_DRIVER_MAX_BYTES = 64 << 20


def scan_table_registry_spans(spark: SparkSession, spans: list) -> dict:
    """Registry discovery over a driver-side span list: small dumps are
    header-hopped locally (bounded reads — one chunk's bytes at a time);
    larger dumps route to the distributed scan with byte-derived task
    sizing."""
    total = sum(int(s[3]) for s in spans)
    if total <= REGISTRY_DRIVER_MAX_BYTES:
        from types import SimpleNamespace

        def gen():
            for dump_dir, log_file, off, ln in spans:
                with open(os.path.join(dump_dir, log_file), "rb") as f:
                    f.seek(off)
                    yield f.read(int(ln)), off == 0

        return _fold_registry(
            SimpleNamespace(table_schema=t[0], table_name=t[1],
                            columns_json=t[2], pk_json=t[3],
                            types_json=t[4], ncol=t[5])
            for t in _registry_rows(gen()).values())
    cdf = spans_df(spark, spans)
    parts = decode_parallelism(spark, spans, target=GENERIC_SPAN_TARGET)
    if parts:
        cdf = cdf.repartition(parts)
    return scan_table_registry(spark, cdf)


def scan_table_registry_blobs(blobs: DataFrame) -> dict:
    """Registry discovery over a frame of raw file blobs (columns
    log_file, chunk_off, data): a small distributed frame scan — rows
    are length-skipped, only TABLE_MAPs parse."""
    return _fold_registry(
        blobs.select("log_file", "chunk_off", "data")
        .mapInArrow(_scan, _REGISTRY_SCHEMA).collect())


def spark_type_for(mysql_type: int, meta: int, unsigned: int) -> str:
    """MySQL column type → Spark SQL type for the lake table (the typed
    surface a downstream user queries; the reference hands callers typed
    Go values the same way — /root/reference/types.go:118-304).

    Cells arrive as the decoder's canonical strings, so every mapping
    here must be string-castable by Spark (ISO timestamps, exact-scale
    decimal strings...).  TIME stays micros-since-midnight (Spark has no
    time-of-day type); BIT/SET masks and ENUM ordinals stay integers;
    binary blobs stay hex strings."""
    from .. import constants as C
    # unsigned branch is uniform across the int family: every type's
    # unsigned range must fit the mapped Spark type (unsigned TINY 255 /
    # SHORT 65535 / INT24 16777215 all fit int; unsigned LONG needs
    # long; unsigned LONGLONG needs decimal(20,0))
    if mysql_type in (C.TYPE_TINY, C.TYPE_SHORT, C.TYPE_INT24):
        return "int"  # unsigned or not — max 2^24-1 < 2^31
    if mysql_type == C.TYPE_LONG:
        return "long" if unsigned else "int"
    if mysql_type == C.TYPE_LONGLONG:
        return "decimal(20,0)" if unsigned else "long"
    if mysql_type == C.TYPE_NEWDECIMAL:
        return f"decimal({meta & 0xFF},{meta >> 8})"
    if mysql_type == C.TYPE_FLOAT:
        return "float"
    if mysql_type == C.TYPE_DOUBLE:
        return "double"
    if mysql_type == C.TYPE_DATE:
        return "date"
    if mysql_type in (C.TYPE_DATETIME2, C.TYPE_TIMESTAMP2):
        return "timestamp"
    if mysql_type in (C.TYPE_TIME2, C.TYPE_SET, C.TYPE_BIT):
        return "long"
    if mysql_type in (C.TYPE_YEAR, C.TYPE_ENUM):
        return "int"
    return "string"


_META = ("log_file", "log_pos", "seq_in_tx")


def table_upserts(staged: DataFrame, columns: list[str], pk: list[str],
                  types: list[list] | None = None, *,
                  broadcast_winners: bool = True,
                  wide_order: bool = False) -> DataFrame:
    """Generic-event rows of ONE table → reduced upsert batch keyed by pk.

    All-declarative: cells come out of the decoder's ordinal
    ``array<string>`` via element_at (no JSON parse per image) and are
    cast to the lake's typed columns; the key-change tombstone explode of
    cdc.pipeline.with_key_change_tombstones generalizes to arbitrary
    keys; then a single-pass packed-order argmax (see the winner-search
    comment below).

    ``broadcast_winners`` is accepted and ignored: the single-pass
    argmax has no separate winner set to broadcast."""
    payload = [c for c in columns if c not in pk]
    a_cols = [f"_a_{c}" for c in columns]
    b_cols = [f"_b_{c}" for c in pk]
    cast_of = {}
    if types:
        for name, t in zip(columns, types):
            cast_of[name] = spark_type_for(t[0], t[1], t[2])

    def cell(src: str, name: str, i: int) -> F.Column:
        c = F.element_at(F.col(src), i + 1)
        typ = cast_of.get(name, "string")
        return c.cast(typ) if typ != "string" else c

    ev = staged.select(
        "op", "gtid", "ts_sec", *_META,
        *[cell("after_vals", c, i).alias(f"_a_{c}")
          for i, c in enumerate(columns)],
        *[cell("before_vals", c, columns.index(c)).alias(f"_b_{c}")
          for c in pk])

    out_cols = ["op", *pk, *payload, "gtid", "ts_sec", *_META]

    def as_struct(**over: F.Column) -> F.Column:
        fields = []
        for c in out_cols:
            if c in over:
                col = over[c]
            elif c in pk:
                # D events carry only the before-image key
                col = F.when(F.col("op") == "D", F.col(f"_b_{c}")) \
                    .otherwise(F.col(f"_a_{c}"))
            elif c in payload:
                col = F.col(f"_a_{c}")
            else:
                col = F.col(c)
            fields.append(col.alias(c))
        return F.struct(*fields)

    moved = F.col("op") == "U"
    key_changed = F.lit(False)
    for c in pk:
        key_changed = key_changed | ~F.col(f"_b_{c}").eqNullSafe(
            F.col(f"_a_{c}"))
    moved = moved & key_changed
    tomb = {"op": F.lit("D"),
            **{c: F.col(f"_b_{c}") for c in pk},
            **{c: F.lit(None).cast(cast_of.get(c, "string"))
               for c in payload}}
    arr = F.when(moved, F.array(as_struct(), as_struct(**tomb))) \
        .otherwise(F.array(as_struct()))
    events = ev.select(F.explode(arr).alias("r")).select("r.*")

    # winner search as ONE argmax aggregation: ``max(struct(_ord, row))``
    # is the per-key latest row because struct comparison is
    # lexicographic and ``_ord`` (the packed commit order, distinct per
    # event — only identical redelivered replicas tie, with identical
    # payloads) leads the struct.  Replaces the former max(_ord)
    # winner-set + join-back + dropDuplicates pipeline: the staged
    # parquet is read ONCE instead of twice, and two shuffles + a
    # checkpoint materialization collapse into one aggregation whose
    # map-side partial discards losing rows before the shuffle — the
    # bytes shuffled (per-task winner rows) match what the old plan's
    # dropDuplicates already shuffled.
    keyed = events.withColumn("_ord", pack_ord(wide=wide_order))
    out_fields = ["op", *payload, *_META, "gtid", "ts_sec"]
    agg = keyed.groupBy(*pk).agg(F.max(F.struct(
        F.col("_ord"), *[F.col(c) for c in out_fields])).alias("_w"))
    return agg.select(
        *pk, *[F.col("_w")[c].alias(c) for c in out_fields])


def table_upserts_minimal(staged: DataFrame, columns: list[str],
                          pk: list[str], types: list[list] | None = None, *,
                          broadcast_winners: bool = True,
                          wide_order: bool = False) -> DataFrame:
    """Generic-event rows of ONE table with MINIMAL (partial) row images →
    reduced upsert batch keyed by pk.

    Adapts an arbitrary primary key onto the verified per-column
    reduction (cdc.pipeline._minimal_core, semantics on
    reduce_changes_minimal) by PACKING the pk cells into one canonical
    JSON-array string — the core's composite key — and unpacking to the
    typed lake columns afterwards.  The reference surfaces the same
    columns-present subsets to its caller (/root/reference/rbr.go:283-303);
    here they drive a distributed per-column last-writer-wins.

    Presence comes from the decoder's ``before_present``/``after_present``
    bit-strings (null = full image).  A MINIMAL after-image carries only
    changed columns, so the row's key is read from the after image where
    present and the before image otherwise (the before/WHERE image always
    carries the pk).  Output: one row per touched key plus the patch
    metadata LakeTable.merge consumes — ``present_cols`` (csv of resolved
    REAL column names) and ``base_{pk}`` chain-origin keys.

    ``broadcast_winners`` is accepted and ignored: the per-column
    reduction has no separate winner set to broadcast."""
    from .pipeline import _minimal_core, with_key_change_tombstones

    payload = [c for c in columns if c not in pk]
    idx = {c: i for i, c in enumerate(columns)}
    P = "_c_"
    cast_of = {}
    if types:
        for name, t in zip(columns, types):
            cast_of[name] = spark_type_for(t[0], t[1], t[2])

    def acell(c: str) -> F.Column:
        return F.element_at("after_vals", idx[c] + 1)

    def bcell(c: str) -> F.Column:
        return F.element_at("before_vals", idx[c] + 1)

    def abit(c: str) -> F.Column:
        """Column present in the after image (partial images only)."""
        return F.substring("after_present", idx[c] + 1, 1) == "1"

    def key_cell(c: str) -> F.Column:
        return (F.when(F.col("op") == "D", bcell(c))
                .when(F.col("after_present").isNull() | abit(c), acell(c))
                .otherwise(bcell(c)))

    packed_key = F.to_json(F.array(*[key_cell(c) for c in pk]))
    packed_before = F.when(
        F.col("op") == "U",
        F.to_json(F.array(*[bcell(c) for c in pk])))
    # csv of present payload columns under the core's prefixed names;
    # null = full image (barrier); "" = key-only partial update
    pres_csv = F.when(
        (F.col("op") != "D") & F.col("after_present").isNotNull(),
        F.array_join(F.filter(F.array(*[
            F.when(abit(c), F.lit(P + c)) for c in payload]),
            lambda x: x.isNotNull()), ","))

    ev = staged.select(
        "op",
        packed_key.alias("repo"), F.lit("").alias("path"),
        packed_before.alias("before_repo"),
        F.when(F.col("op") == "U", F.lit("")).alias("before_path"),
        pres_csv.alias("present_cols"),
        *[acell(c).alias(P + c) for c in payload],
        *_META, "gtid", "ts_sec")
    # key-moving updates tombstone the old key; present_cols is nulled on
    # the tombstone (a delete is a full barrier); stray payload values on
    # the tombstone are inert (the melt excludes op='D')
    ev = with_key_change_tombstones(ev)
    up = _minimal_core(ev, [P + c for c in payload], F.col,
                       wide_order=wide_order)

    karr = F.from_json(F.col("repo"), "array<string>")
    barr = F.from_json(F.col("base_repo"), "array<string>")

    def typed(col: F.Column, c: str) -> F.Column:
        t = cast_of.get(c, "string")
        return col.cast(t) if t != "string" else col

    strip = F.array_join(
        F.transform(F.split("present_cols", ","),
                    lambda x: F.substring(x, len(P) + 1, 1 << 30)), ",")
    out = up.select(
        *[typed(F.element_at(karr, i + 1), k).alias(k)
          for i, k in enumerate(pk)],
        "op",
        *[typed(F.col(P + c), c).alias(c) for c in payload],
        F.when(F.col("present_cols").isNotNull(), strip)
        .alias("present_cols"),
        *[F.when(F.col("base_repo").isNotNull(),
                 typed(F.element_at(barr, i + 1), k)).alias(f"base_{k}")
          for i, k in enumerate(pk)],
        *_META, "gtid", "ts_sec")
    return out


#: staged-batch output file size goal (guide §6: 128 MB - 1 GB files)
STAGE_TARGET_BYTES = 128 << 20

#: one table's staged partition: the decoded rows minus the partition
#: columns — read with it, the per-table apply runs no schema-inference job
_STAGED_SCHEMA = StructType([f for f in VALS_SCHEMA.fields
                             if f.name not in ("table_schema", "table_name")])


def stage_events(events: DataFrame, staging: str,
                 est_bytes: int | None = None) -> set:
    """Write one decoded batch to parquet partitioned by (schema, table)
    with a BOUNDED file count.

    The decode output inherits one partition per chunk span, and a bare
    ``partitionBy`` write then emits (decode tasks × tables) tiny files;
    the per-file reader init in every downstream per-table job dominated
    the multi-table apply (measured 17× CPU on the 100k-change fixture:
    32 ~30 KiB files vs 1).  A deterministic salt-repartition clusters
    each table into ~input_bytes/128MB write tasks before the write (the
    REBALANCE-before-write pattern, guide §6), so file count scales with
    data volume, not with scan parallelism.  The salt is derived from
    (log_pos, seq_in_tx) — deterministic under task retry (guide §2.5),
    unlike a rand()-based key.

    Returns the set of (schema, table) pairs that staged MINIMAL
    (partial) row images in this batch, observed DURING the write — the
    per-table apply routes those through the per-column reduction, and
    collecting the set here saves it a separate scan+collect job over
    the staged parquet (one per batch)."""
    from pyspark.sql import Observation

    if est_bytes is None:
        width = max(1, events.rdd.getNumPartitions() // 16)
    else:
        width = max(1, int(est_bytes) // STAGE_TARGET_BYTES)
    salt = F.pmod(F.xxhash64("log_pos", "seq_in_tx"), F.lit(width))
    obs = Observation(f"stage-{os.path.basename(staging)}")
    partial = (F.col("after_present").isNotNull()
               | F.col("before_present").isNotNull())
    (events.filter(F.col("crc_ok"))
     .observe(obs, F.collect_set(F.when(partial, F.struct(
         "table_schema", "table_name"))).alias("partials"))
     .repartition(F.col("table_schema"), F.col("table_name"), salt)
     .write.partitionBy("table_schema", "table_name")
     .mode("overwrite").parquet(staging))
    return {(r["table_schema"], r["table_name"])
            for r in obs.get["partials"]}


def table_root(lake_root: str, schema: str, table: str) -> str:
    return os.path.join(lake_root, f"{schema}.{table}")


def ensure_tables(lake_root: str, registry: dict, *,
                  n_buckets: int = 8) -> dict[tuple, LakeTable]:
    """One typed lake table per registry entry (create = idempotent; a
    table discovered mid-stream is created on first appearance)."""
    tables: dict[tuple, LakeTable] = {}
    for (sch, tbl), info in sorted(registry.items()):
        pk = info["pk"] or info["columns"][:1]  # keyless: first column
        t = LakeTable(table_root(lake_root, sch, tbl), n_buckets=n_buckets,
                      key_cols=tuple(pk))
        types = {c: spark_type_for(ty[0], ty[1], ty[2])
                 for c, ty in zip(info["columns"], info["types"])}
        t.create(schema_cols=list(pk) +
                 [c for c in info["columns"] if c not in pk],
                 schema_types=types)
        tables[(sch, tbl)] = t
    return tables


def apply_staged_batch(spark: SparkSession, staging: str, registry: dict,
                       tables: dict, bid: str, *,
                       offsets: dict | None = None,
                       broadcast_winners: bool = True,
                       wide_order: bool = False,
                       partial_tables: set) -> None:
    """Merge one staged batch (parquet partitioned by schema/table) into
    every table — shared by batch replay and the streaming tail.

    Tables in ``partial_tables`` — the (schema, table) pairs with
    MINIMAL (partial) row images that stage_events observed during the
    staging write — route to the per-column reduction; FULL tables keep
    the cheap row-level winner search.  ``broadcast_winners`` is accepted
    and ignored: neither reduction has a winner set to broadcast."""

    def apply_table(item) -> None:
        (sch, tbl), t = item
        if bid in t.committed_batch_ids():
            return
        info = registry[(sch, tbl)]
        part = os.path.join(staging, f"table_schema={sch}",
                            f"table_name={tbl}")
        # a table with no row events in this batch (a batch of only
        # statement/DDL transactions or all-bad-CRC rows stages none at
        # all, and parquet can't infer a schema from an empty dir) still
        # commits the batch id with an empty merge
        if not os.path.isdir(part):
            types = {c: spark_type_for(ty[0], ty[1], ty[2])
                     for c, ty in zip(info["columns"], info["types"])}
            t.merge(spark, spark.range(0).selectExpr(
                *[f"cast(null as {types.get(c, 'string')}) as `{c}`"
                  for c in t.key_cols]).filter("false"),
                batch_id=bid, offsets=offsets)
            return
        pk = list(t.key_cols)
        upserts = (table_upserts_minimal if (sch, tbl) in partial_tables
                   else table_upserts)
        up = upserts(spark.read.schema(_STAGED_SCHEMA).parquet(part),
                     info["columns"], pk,
                     info["types"], wide_order=wide_order)
        t.merge(spark, up, batch_id=bid, offsets=offsets)

    # per-table applies are independent (own lake roots, own
    # snapshot logs) — run them as CONCURRENT Spark jobs so a
    # many-table stream isn't wall-clocked by a serial merge loop;
    # each table's own merges stay ordered (one worker per table
    # per batch, batches sequential)
    from concurrent.futures import ThreadPoolExecutor
    n_workers = min(8, max(1, len(tables)))
    if n_workers > 1:
        with ThreadPoolExecutor(max_workers=n_workers) as pool:
            list(pool.map(apply_table, sorted(tables.items())))
    else:
        for item in sorted(tables.items()):
            apply_table(item)


def stage_and_apply(spark: SparkSession, spans: list[tuple], staging: str,
                    registry: dict, tables: dict, bid: str, *,
                    wide_order: bool) -> None:
    """One multi-table batch of chunk spans — the body batch replay and
    the streaming tail share: ONE generic decode, sized and planned by
    cdc.replay.batch_plan, staged partitioned by table so every
    per-table reduction reads only its own partition dirs, then the
    per-table apply committing the batch's offsets; the staging dir is
    removed afterwards."""
    parts, offsets = batch_plan(spark, spans, GENERIC_SPAN_TARGET)
    events = decode_changes_vals(spans_df(spark, spans), partitions=parts)
    partials = stage_events(events, staging,
                            est_bytes=sum(int(s[3]) for s in spans))
    apply_staged_batch(spark, staging, registry, tables, bid,
                       offsets=offsets,
                       wide_order=wide_order,
                       partial_tables=partials)
    shutil.rmtree(staging, ignore_errors=True)


def replay_generic(spark: SparkSession, dump_dir: str, lake_root: str, *,
                   chunks_per_batch: int | None = None,
                   n_buckets: int = 8,
                   wide_order: bool | None = None) -> dict:
    """Replay a multi-table dump into one lake table per source table,
    with TYPED lake columns mapped from each TABLE_MAP's column types.

    Same exactly-once contract as cdc.replay.replay: deterministic
    batch_ids, per-table committed-batch skip, resumable mid-dump AND
    mid-batch (a crash between two tables' merges re-runs the batch; the
    already-committed table skips it).

    Every table reduces in one pass at every batch size: FULL tables
    with the packed-order argmax (table_upserts), MINIMAL tables with
    the per-column reduction (table_upserts_minimal).

    ``wide_order``: None derives it the way cdc.replay.replay does, from
    the manifest's ``max_tx_rows`` (decoder.chunks.manifest_wide_order)."""
    if wide_order is None:
        wide_order = manifest_wide_order(dump_dir)
    all_chunks = [tuple(r) for r in chunks_df(spark, dump_dir).collect()]
    # small dumps: header-hop the registry on the driver (no Spark job);
    # larger dumps: distributed scan with byte-derived task sizing
    registry = scan_table_registry_spans(spark, all_chunks)
    tables = ensure_tables(lake_root, registry, n_buckets=n_buckets)

    for i, spans in enumerate(plan_batches(all_chunks, chunks_per_batch)):
        bid = _batch_id(dump_dir, i, [s[1:] for s in spans])
        if all(bid in t.committed_batch_ids() for t in tables.values()):
            continue
        stage_and_apply(spark, spans,
                        os.path.join(lake_root, f".batch-{bid}"),
                        registry, tables, bid,
                        wide_order=wide_order)
    return tables
