"""Iceberg-semantics lake table on plain parquet + a JSON snapshot log.

The sandbox has no Iceberg/Delta jars (BASELINE.md env), so the engine
implements the required semantics itself (SURVEY §7 Phase 4):

  * atomic snapshot commits      — write data, write snapshot JSON, atomic
                                   rename of the CURRENT pointer
  * MERGE upserts, copy-on-write — only *touched buckets* are rewritten;
                                   untouched buckets carry forward by file
                                   reference (at 100 TB a merge touching 1%
                                   of keys rewrites ~1% of data)
  * idempotent commits           — keyed by batch_id; re-applying a batch
                                   is a no-op (generalizes the reference's
                                   seek+overwrite resume idempotence,
                                   /root/reference/dump.go:92-99)
  * schema evolution             — add-column, recorded per snapshot; files
                                   are read with the snapshot schema, so
                                   older files read new columns as null
  * time travel                  — read any retained snapshot
  * retention                    — expire_snapshots (role of
                                   /root/reference/local.go:76-93)

Layout:
    root/CURRENT                     -> "v<N>"
    root/snapshots/v<N>.json         {snapshot_id, parent, batch_id, schema,
                                      buckets: {bucket: [data files]},
                                      offsets, stats, committed_at}
    root/data/<commit-uuid>/bucket=<k>/*.parquet
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..cdc.pipeline import DATA_COLS, KEY_COLS

#: commit-order metadata persisted with every row: (column, type, default
#: for rows that arrive without it)
_META = (("op", "string", "I"), ("log_file", "string", ""),
         ("log_pos", "bigint", 0), ("seq_in_tx", "int", 0))
_META_COLS = tuple(c for c, _, _ in _META)


class CommitConflict(Exception):
    """Another writer committed a snapshot between this operation's read
    of CURRENT and its commit attempt (optimistic concurrency, the
    Iceberg commit model): the operation must re-read and retry."""


class LakeTable:
    def __init__(self, root: str, n_buckets: int = 32,
                 key_cols: tuple | list | None = None) -> None:
        self.root = root
        self.snap_dir = os.path.join(root, "snapshots")
        self.data_dir = os.path.join(root, "data")
        # key columns and bucket count are table properties: an existing
        # table's snapshot log wins over the constructor args (which then
        # only seed creation).  Resolving n_buckets snapshot-first is what
        # keeps old data files addressable: reopening with a different
        # bucket count would hash keys under a layout the files don't have
        # (stale rows surviving in untouched buckets, merged rows written
        # outside the registered set).
        self._key_cols = tuple(key_cols) if key_cols else None
        self._n_buckets_arg = n_buckets

    @property
    def key_cols(self) -> tuple:
        snap = self.snapshot()
        if snap and snap.get("key_cols"):
            return tuple(snap["key_cols"])
        return self._key_cols or KEY_COLS

    @property
    def n_buckets(self) -> int:
        snap = self.snapshot()
        if snap and snap.get("n_buckets"):
            return int(snap["n_buckets"])
        return self._n_buckets_arg

    # -- snapshot log -------------------------------------------------------

    def _current_pointer(self) -> str | None:
        p = os.path.join(self.root, "CURRENT")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return f.read().strip() or None

    def current_snapshot_id(self) -> int | None:
        cur = self._current_pointer()
        return int(cur[1:]) if cur else None

    def snapshot(self, snapshot_id: int | None = None) -> dict | None:
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
            if snapshot_id is None:
                return None
        p = os.path.join(self.snap_dir, f"v{snapshot_id}.json")
        with open(p) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        if not os.path.isdir(self.snap_dir):
            return []
        out = []
        for name in sorted(os.listdir(self.snap_dir),
                           key=lambda n: int(n[1:-5])):
            with open(os.path.join(self.snap_dir, name)) as f:
                out.append(json.load(f))
        return out

    def committed_batch_ids(self) -> set[str]:
        return {s["batch_id"] for s in self.snapshots() if s.get("batch_id")}

    def last_offsets(self) -> dict | None:
        """Checkpoint for resume: offsets of the latest committed batch."""
        snap = self.snapshot()
        return snap.get("offsets") if snap else None

    # -- create / read ------------------------------------------------------

    def create(self, schema_cols: list[str] | None = None,
               schema_types: dict[str, str] | None = None) -> None:
        """``schema_types``: optional {column: spark sql type string} — a
        typed lake surface (multi-table replay maps TABLE_MAP types);
        columns without an entry default to string."""
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        if self._current_pointer() is None:
            kc = self._key_cols or KEY_COLS
            default_schema = (list(kc) + [c for c in DATA_COLS if c not in kc]
                              if self._key_cols else list((*KEY_COLS, *DATA_COLS)))
            self._commit_snapshot({
                "snapshot_id": 0, "parent": None, "batch_id": None,
                "schema": list(schema_cols or default_schema),
                "schema_types": dict(schema_types or {}),
                "key_cols": list(kc),
                "n_buckets": self._n_buckets_arg,
                "buckets": {}, "offsets": None,
                "stats": {"rows": 0}, "committed_at": time.time(),
            })

    def schema_types(self) -> dict[str, str]:
        snap = self.snapshot()
        return dict((snap or {}).get("schema_types") or {})

    def _commit_snapshot(self, snap: dict) -> None:
        """Atomic snapshot commit with an optimistic-concurrency check:
        the new snapshot must descend from the CURRENT one (parent ==
        current id).  A concurrent writer that advanced CURRENT since
        this operation read it raises CommitConflict — the caller
        re-reads and retries (the Iceberg commit model; single-writer
        replay never hits this).

        The check-then-act race (both writers read the same CURRENT,
        both pass the parent check) is closed by the snapshot file
        itself: v{sid}.json is linked into place with O_EXCL semantics
        (os.link from a writer-private temp file), so exactly ONE writer
        can create a given snapshot id — the loser gets EEXIST and
        raises CommitConflict without touching CURRENT."""
        sid = snap["snapshot_id"]
        cur = self.current_snapshot_id()
        expected_parent = snap.get("parent")
        if cur is not None and expected_parent != cur:
            raise CommitConflict(
                f"snapshot v{sid} built on parent "
                f"{expected_parent}, but CURRENT is v{cur} — concurrent "
                "writer detected; re-read and retry")
        tmp = os.path.join(self.snap_dir,
                           f".v{sid}.json.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp")
        dst = os.path.join(self.snap_dir, f"v{sid}.json")
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            # atomic claim of the snapshot id: link fails with EEXIST if
            # another writer committed v{sid} first (rename would
            # silently clobber it)
            os.link(tmp, dst)
        except FileExistsError:
            raise CommitConflict(
                f"snapshot v{sid} already committed by a concurrent "
                "writer — re-read and retry") from None
        finally:
            os.unlink(tmp)
        ptmp = os.path.join(self.root, ".CURRENT.tmp")
        with open(ptmp, "w") as f:
            f.write(f"v{sid}")
            f.flush()
            os.fsync(f.fileno())
        os.rename(ptmp, os.path.join(self.root, "CURRENT"))

    def read(self, spark: SparkSession,
             snapshot_id: int | None = None) -> DataFrame:
        """Read the table at a snapshot (time travel when id given)."""
        snap = self.snapshot(snapshot_id)
        files = [f for fl in (snap or {}).get("buckets", {}).values() for f in fl]
        schema_cols = (snap or {}).get("schema") or list((*KEY_COLS, *DATA_COLS))
        types = dict((snap or {}).get("schema_types") or {})
        if not files:
            ddl = ", ".join(f"`{c}` {types.get(c, 'string')}"
                            for c in schema_cols)
            return spark.createDataFrame([], ddl)
        df = _read_lake_files(spark, files, schema_cols, types)
        # tombstones are persisted, filtered on read
        return df.filter(F.col("op") != "D").select(*schema_cols)

    # -- MERGE --------------------------------------------------------------

    def _bucket_col(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.key_cols),
                      F.lit(self.n_buckets)).cast("int")

    @staticmethod
    def _bucket_files(out_dir: str) -> dict[int, list[str]]:
        out: dict[int, list[str]] = {}
        if not os.path.isdir(out_dir):
            return out
        for d in sorted(os.listdir(out_dir)):
            if d.startswith("bucket="):
                b = int(d.split("=", 1)[1])
                bdir = os.path.join(out_dir, d)
                out[b] = [os.path.join(bdir, n) for n in sorted(os.listdir(bdir))
                          if n.endswith(".parquet")]
        return out

    def merge(self, spark: SparkSession, upserts: DataFrame, batch_id: str,
              offsets: dict | None = None,
              stats: dict | None = None) -> dict:
        """Apply a reduced upsert batch (one row per key, op in {I,U,D}).

        ``stats``: caller counts (e.g. replay's lineage totals) merged
        into the new snapshot's ``stats`` in the same commit.

        Copy-on-write at bucket granularity, computed in a SINGLE pass over
        the (expensive) upsert pipeline — no DataFrame cache (its columnar
        build can cost more than the pipeline itself).  The pass carries an
        ``Observation`` that collects the batch counts and its set of
        touched buckets:

          * empty table: write live rows straight to final bucket files.
          * incremental: stage the full batch (incl. tombstones) with ONE
            plain parquet write (``bucket`` is an ordinary column, so the
            file count follows the batch's own partitions); then merge
            = per-key argmax over old ∪ staged rows of the touched
            buckets, both read with the schema the table already knows
            (no footer-scan job).  The argmax groups by (bucket, key)
            after one ``repartition`` on bucket, so the rewrite runs ONE
            Exchange and still writes one file per touched bucket.

        Both bucket writes run ``_write_tasks`` tasks: hash partitioning
        on ``bucket`` puts each bucket in exactly one task, so a task
        holding several buckets still writes one file per bucket.

        A commit that loses the race to a concurrent writer removes its
        own data files before it raises ``CommitConflict``.
        """
        from pyspark.sql import Observation

        if batch_id in self.committed_batch_ids():
            return {"skipped": True, "batch_id": batch_id}

        snap = self.snapshot() or {"snapshot_id": -1, "buckets": {},
                                   "schema": list((*KEY_COLS, *DATA_COLS)),
                                   "stats": {"rows": 0}}
        old_buckets: dict[str, list[str]] = dict(snap.get("buckets", {}))
        schema_cols = list(snap.get("schema") or (*KEY_COLS, *DATA_COLS))
        schema_types = dict(snap.get("schema_types") or {})

        # key-move lineage columns: one per key column (single-table keys
        # (repo, path) yield the historical base_repo/base_path names)
        lineage_cols = tuple(f"base_{k}" for k in self.key_cols)
        # schema evolution: new columns in the batch widen the table schema
        # (their lake type comes from the upsert DataFrame's own dtype)
        new_cols = [c for c in upserts.columns
                    if c not in schema_cols and c not in
                    ("op", "before_repo", "before_path", "gtid", "ts_sec",
                     "log_file", "log_pos", "seq_in_tx", "extra_json",
                     "bucket", "present_cols", "base_repo", "base_path",
                     *lineage_cols)]
        schema_cols += new_cols
        up_types = {f.name: f.dataType.simpleString()
                    for f in upserts.schema.fields}
        for c in new_cols:
            schema_types.setdefault(c, up_types.get(c, "string"))

        up = upserts.withColumn("bucket", self._bucket_col())
        # commit-order metadata is persisted with every row: MERGE is itself
        # a last-writer-wins reduction, so batches may arrive out of order
        # (micro-batch file sources don't guarantee log order) and deletes
        # are persisted as tombstones, filtered on read.
        for c, typ, dflt in _META:
            if c not in up.columns:
                up = up.withColumn(c, F.lit(dflt).cast(typ))
        meta_cols = list(_META_COLS)
        up_cols = [c for c in schema_cols if c in up.columns]
        table_empty = not any(old_buckets.values())

        commit_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, commit_id)
        # not dot-prefixed: Spark treats such a path as hidden and warns
        # that all its paths were ignored on every read of it
        staging_dir = os.path.join(self.data_dir, f"staging-{commit_id}")
        obs = Observation(f"merge-{commit_id}")
        extra_sel = [c for c in ("present_cols", *lineage_cols)
                     if c in upserts.columns]
        src = (up.select(*up_cols, *meta_cols, *extra_sel, "bucket")
               .observe(obs, F.count(F.lit(1)).alias("n"),
                        F.sum(F.when(F.col("op") == "D", 1)
                              .otherwise(0)).alias("d"),
                        F.collect_set("bucket").alias("buckets")))
        try:
            if table_empty:
                # patches onto an empty table: unresolved columns are
                # null; present_cols is merge metadata, never persisted
                (src.drop(*extra_sel)
                 .repartition(_write_tasks(spark, self.n_buckets), "bucket")
                 .write.partitionBy("bucket").mode("overwrite")
                 .parquet(out_dir))
            else:
                src.write.mode("overwrite").parquet(staging_dir)
            metrics = obs.get
            touched = sorted(metrics["buckets"])
            if touched and not table_empty:
                self._rewrite_buckets(
                    spark, staging_dir, src.schema, out_dir, touched,
                    [f for b in touched for f in old_buckets.get(str(b), [])],
                    schema_cols, schema_types)
            by_bucket = self._bucket_files(out_dir)
            if not by_bucket:
                # an empty batch onto an empty table: a commit dir no
                # snapshot names would never be collected
                shutil.rmtree(out_dir, ignore_errors=True)
        except BaseException:
            # nothing references this commit's files yet
            shutil.rmtree(out_dir, ignore_errors=True)
            raise
        finally:
            shutil.rmtree(staging_dir, ignore_errors=True)

        new_buckets = dict(old_buckets)
        written = 0
        for b in touched:
            files = by_bucket.get(b, [])
            new_buckets[str(b)] = files
            written += len(files)

        # per-bucket stored-row counts from parquet footers (driver-side,
        # no Spark job): carried-forward buckets keep their old counts,
        # touched buckets are re-counted.  ``rows_stored`` (live rows +
        # persisted tombstones) is the denominator the tombstone-ratio
        # retention trigger needs — a cumulative table size, not the last
        # batch's upsert count.
        bucket_rows = dict(snap.get("bucket_rows", {}))
        for b in touched:
            bucket_rows[str(b)] = sum(_parquet_rows(f)
                                      for f in by_bucket.get(b, []))
        rows_stored = sum(bucket_rows.values())

        n_up, n_del = int(metrics["n"] or 0), int(metrics["d"] or 0)

        sid = snap["snapshot_id"] + 1
        new_snap = {
            "snapshot_id": sid,
            "parent": snap["snapshot_id"] if snap["snapshot_id"] >= 0 else None,
            "batch_id": batch_id,
            "schema": schema_cols,
            "schema_types": schema_types,
            "key_cols": list(self.key_cols),
            "n_buckets": self.n_buckets,
            "buckets": new_buckets,
            "bucket_rows": bucket_rows,
            "offsets": offsets,
            "stats": {"upserts": n_up, "deletes": n_del,
                      "rows_stored": rows_stored,
                      "touched_buckets": len(touched),
                      "data_files_written": written, **(stats or {})},
            "committed_at": time.time(),
        }
        self._commit_or_discard(new_snap, out_dir)
        return new_snap

    def _rewrite_buckets(self, spark: SparkSession, staging_dir: str,
                         staged_schema: StructType, out_dir: str,
                         touched: list[int], touched_files: list[str],
                         schema_cols: list[str],
                         schema_types: dict[str, str]) -> None:
        """Write the new files of the ``touched`` buckets — the staged
        batch merged with those buckets' current files, one file per
        bucket.  Both sides are read with known schemas: the staged files
        with the batch's own, the old files with the table's (batch dtypes
        first, then the snapshot's ``schema_types``)."""
        meta_cols = list(_META_COLS)
        all_cols = list(schema_cols) + meta_cols
        keys = list(self.key_cols)
        lineage_cols = tuple(f"base_{k}" for k in keys)
        extra_sel = [c for c in ("present_cols", *lineage_cols)
                     if c in staged_schema.names]
        # MINIMAL row images: the reduced batch carries ``present_cols``
        # (csv of resolved columns, null = fully resolved) and rows are
        # column PATCHES over the existing key — merge coalesces
        # unresolved columns from the old row instead of a winner search.
        # Requires in-log-order batches (replay/tail deliver them so);
        # identical re-delivery stays idempotent.
        patch_mode = "present_cols" in extra_sel
        types = {**schema_types, **{f.name: f.dataType.simpleString()
                                    for f in staged_schema.fields}}
        staged = spark.read.schema(staged_schema).parquet(staging_dir)
        staged = staged.select(
            *[F.col(c) if c in staged.columns
              else F.lit(None).cast(types.get(c, "string")).alias(c)
              for c in all_cols], *extra_sel, "bucket")
        n_out = _write_tasks(spark, len(touched))
        if touched_files and patch_mode:
            old = _read_lake_files(spark, touched_files, schema_cols, types)
            non_key = [c for c in all_cols if c not in keys]
            has_base = all(b in extra_sel for b in lineage_cols)
            s2 = staged.select(
                *keys, F.col("present_cols").alias("_s_present"),
                *([F.col(b).alias(f"_s_base_{i}")
                   for i, b in enumerate(lineage_cols)]
                  if has_base else []),
                *[F.col(c).alias(f"_s_{c}") for c in non_key])
            # persisted tombstones never donate column values
            joined = old.join(s2, on=keys, how="full_outer")
            if has_base:
                # key-move lineage: a staged row with base keys is a
                # MOVE-IN — unresolved columns inherit from the
                # chain-origin row (its bucket is always touched: its
                # own tombstone staged there) and NEVER from the old
                # row at the same key (the move-in proves that row is
                # a dead generation — MySQL requires the key free)
                base = old.filter(F.col("op") != "D").select(
                    *[F.col(k).alias(f"_b_key_{i}")
                      for i, k in enumerate(keys)],
                    *[F.col(c).alias(f"_ob_{c}") for c in non_key])
                cond = None
                for i in range(len(keys)):
                    eq = F.col(f"_s_base_{i}") == F.col(f"_b_key_{i}")
                    cond = eq if cond is None else cond & eq
                joined = joined.join(base, cond, "left")
            staged_hit = F.col("_s_op").isNotNull()
            pres_arr = F.split(F.col("_s_present"), ",")

            def resolve(c: str) -> F.Column:
                if c in ("op", *meta_cols):
                    return F.when(staged_hit, F.col(f"_s_{c}")) \
                        .otherwise(F.col(c)).alias(c)
                has = (F.col("_s_present").isNull()
                       | F.array_contains(pres_arr, F.lit(c)))
                out = F.when(staged_hit & has, F.col(f"_s_{c}"))
                if has_base:
                    out = out.when(staged_hit
                                   & F.col("_s_base_0").isNotNull(),
                                   F.col(f"_ob_{c}"))
                # unstaged old rows (incl. persisted tombstones, whose
                # payload is already null) pass through; a base-less
                # patch coalesces from the live old row at the key
                return out.otherwise(F.col(c)).alias(c)

            merged = (joined.select(*keys, *[resolve(c) for c in non_key])
                      .withColumn("bucket", self._bucket_col())
                      .repartition(n_out, "bucket"))
        elif touched_files:
            old = _read_lake_files(spark, touched_files, schema_cols, types)
            # MERGE = per-key last-writer-wins between the existing rows
            # (which carry their original commit order) and the batch, in
            # ONE argmax pass: max(struct(_ord, _src, row)) per key (no
            # winner join, no dropDuplicates).  The packed commit order
            # (cdc.pipeline.pack_ord) leads, so a batch delivered out of
            # log order still loses to newer rows; ``_src`` (0 old, 1
            # staged) breaks order ties in favour of the batch.  Rows
            # merged from non-CDC paths carry default offsets (log_file
            # "") and pack to 0 (lowest order) rather than erroring.
            # Grouping by (bucket, key) after the repartition on bucket
            # needs no second Exchange: hash partitioning on bucket
            # already clusters every (bucket, key) group, and it is the
            # layout the bucket write wants.
            from ..cdc.pipeline import pack_ord
            payload = [c for c in all_cols if c not in keys]
            combined = (old.withColumn("bucket", self._bucket_col())
                        .withColumn("_src", F.lit(0))
                        .unionByName(staged.select(*all_cols, "bucket")
                                     .withColumn("_src", F.lit(1)))
                        .withColumn("_ord", pack_ord(strict=False)))
            win = F.struct("_ord", "_src", *payload)
            merged = (combined.repartition(n_out, "bucket")
                      .groupBy("bucket", *keys).agg(F.max(win).alias("_w"))
                      .select(*[F.col(c) if c in keys
                                else F.col("_w")[c].alias(c)
                                for c in all_cols], "bucket"))
        else:
            merged = staged.drop(*extra_sel).repartition(n_out, "bucket")
        merged.write.partitionBy("bucket").mode("overwrite").parquet(out_dir)

    def _commit_or_discard(self, snap: dict, out_dir: str) -> None:
        """Commit ``snap``; if a concurrent writer won the race, remove
        this commit's data directory (no snapshot can reference it, and
        ``expire_snapshots`` only collects referenced files) and re-raise.
        ``_commit_snapshot`` raises ``CommitConflict`` only before it
        claims the snapshot id, so a committed directory is never
        removed."""
        try:
            self._commit_snapshot(snap)
        except CommitConflict:
            shutil.rmtree(out_dir, ignore_errors=True)
            raise

    def tombstone_stats(self) -> dict:
        """Cumulative tombstones persisted since the last compact — the
        retention signal (a compact rewrites everything, so its snapshot
        resets the counter)."""
        snaps = self.snapshots()
        dead = live = 0
        for s in snaps:
            if str(s.get("batch_id") or "").startswith("compact-"):
                dead = 0
            st = s.get("stats", {})
            dead += int(st.get("deletes") or 0)
            live = int(st.get("upserts") or live)
        return {"tombstones": dead, "commits": len(snaps) - 1}

    def maybe_compact(self, spark: SparkSession, *,
                      every_n_commits: int | None = None,
                      tombstone_ratio: float | None = None) -> dict | None:
        """Retention policy: compact when either trigger fires.

        ``every_n_commits``: commits since the last compact (bounds small-
        file growth).  ``tombstone_ratio``: persisted-tombstones vs rows in
        the latest merge (bounds delete-bloat; role of the reference's
        RemoveFirstFile retention loop, /root/reference/local.go:76-93,
        generalized to the lake sink)."""
        snaps = self.snapshots()
        since = 0
        for s in snaps[1:]:
            if str(s.get("batch_id") or "").startswith("compact-"):
                since = 0
            else:
                since += 1
        if every_n_commits and since >= every_n_commits:
            return self.compact(spark)
        if tombstone_ratio:
            ts = self.tombstone_stats()
            # rows_stored already counts persisted tombstones, so the ratio
            # is dead-rows / stored-rows directly
            base = max(self._approx_rows(), ts["tombstones"], 1)
            if ts["tombstones"] / base >= tombstone_ratio:
                return self.compact(spark)
        return None

    def _approx_rows(self) -> int:
        """Cumulative stored rows (live + tombstones) from the latest
        snapshot — tracked per bucket from parquet footers at every merge,
        NOT the last batch's upsert count."""
        snap = self.snapshot() or {}
        st = snap.get("stats", {})
        return int(st.get("rows_stored") or st.get("upserts")
                   or st.get("rows") or 0)

    def compact(self, spark: SparkSession, drop_tombstones: bool = True,
                target_buckets: int | None = None) -> dict:
        """Rewrite all buckets into one file set: drops delete tombstones
        (safe once no out-of-order data older than them can still arrive)
        and merges small files from many incremental commits."""
        snap = self.snapshot()
        if snap is None:
            raise ValueError("compact: table has no snapshots")
        files = [f for fl in snap["buckets"].values() for f in fl]
        schema_cols = snap["schema"]
        schema_types = dict(snap.get("schema_types") or {})
        commit_id = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, commit_id)
        try:
            if files:
                df = _read_lake_files(spark, files, schema_cols, schema_types)
                if drop_tombstones:
                    df = df.filter(F.col("op") != "D")
                df = df.withColumn("bucket", self._bucket_col())
                (df.repartition(target_buckets
                                or max(self.n_buckets // 2, 1), "bucket")
                 .write.partitionBy("bucket").mode("overwrite")
                 .parquet(out_dir))
            by_bucket = self._bucket_files(out_dir)
        except BaseException:
            shutil.rmtree(out_dir, ignore_errors=True)
            raise
        bucket_rows = {str(b): sum(_parquet_rows(f) for f in fl)
                       for b, fl in by_bucket.items()}
        new_snap = {
            "snapshot_id": snap["snapshot_id"] + 1,
            "parent": snap["snapshot_id"],
            "batch_id": f"compact-{commit_id}",
            "schema": schema_cols,
            "schema_types": schema_types,
            "key_cols": list(self.key_cols),
            "n_buckets": self.n_buckets,
            "buckets": {str(b): fl for b, fl in by_bucket.items()},
            "bucket_rows": bucket_rows,
            "offsets": snap.get("offsets"),
            "stats": {"compacted_from_files": len(files),
                      "rows_stored": sum(bucket_rows.values()),
                      "data_files_written": sum(map(len, by_bucket.values()))},
            "committed_at": time.time(),
        }
        self._commit_or_discard(new_snap, out_dir)
        return new_snap

    # -- retention ----------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 2) -> list[str]:
        """Drop old snapshots and GC data files no retained snapshot
        references (role of RemoveFirstFile in the reference's local.go:76-93).

        A dropped snapshot's commit directory (``data/<commit>``, the
        parent of its ``bucket=`` dirs) goes with it once no retained
        snapshot references a file under it.

        A ``data/`` entry no snapshot names is a writer's output that
        never committed.  It is swept once its mtime is older than the
        oldest retained snapshot's ``committed_at``: its writer read
        CURRENT before that commit, so its own commit must fail the
        parent check (a killed writer's dir would otherwise stay for
        good).  A newer one — a live writer's output or staging dir —
        is left alone."""
        snaps = self.snapshots()
        drop, keep = snaps[:-keep_last], snaps[-keep_last:]
        live = {f for s in keep for fl in s["buckets"].values() for f in fl}
        live_commits = {_commit_dir(f) for f in live}
        named = {os.path.basename(_commit_dir(f)) for s in snaps
                 for fl in s["buckets"].values() for f in fl}
        removed = []
        dropped_commits = set()
        for s in drop:
            for fl in s["buckets"].values():
                for f in fl:
                    dropped_commits.add(_commit_dir(f))
                    if f not in live and os.path.exists(f):
                        os.remove(f)
                        removed.append(f)
            os.remove(os.path.join(self.snap_dir, f"v{s['snapshot_id']}.json"))
        for d in sorted(dropped_commits - live_commits):
            # the rest is Spark's commit markers (_SUCCESS and .crc files)
            shutil.rmtree(d, ignore_errors=True)
        # a commit dir that still holds live files: prune its bucket dirs
        # whose files all expired
        for d in sorted(dropped_commits & live_commits):
            for sub in os.listdir(d):
                subf = os.path.join(d, sub)
                if sub.startswith("bucket=") and os.path.isdir(subf) \
                        and not any(n.endswith(".parquet")
                                    for n in os.listdir(subf)):
                    shutil.rmtree(subf, ignore_errors=True)
        oldest = keep[0].get("committed_at") if keep else None
        if oldest is None:
            return removed
        for name in sorted(os.listdir(self.data_dir)):
            d = os.path.join(self.data_dir, name)
            if (name not in named and os.path.isdir(d)
                    and os.path.getmtime(d) < oldest):
                removed += [os.path.join(p, n) for p, _, ns in os.walk(d)
                            for n in ns if n.endswith(".parquet")]
                shutil.rmtree(d, ignore_errors=True)
        return removed


def _commit_dir(data_file: str) -> str:
    """``data/<commit>`` of a lake data file ``data/<commit>/bucket=<k>/f``."""
    return os.path.dirname(os.path.dirname(data_file))


def _write_tasks(spark: SparkSession, n_buckets: int) -> int:
    """Task count of a bucket write: one per bucket up to the cluster's
    parallelism.  ``repartition(n, "bucket")`` over n bucket ids does not
    give each bucket its own task anyway (hashing leaves some tasks empty
    and others with several buckets); tasks beyond the cores only add
    task and committer overhead."""
    return max(1, min(n_buckets, spark.sparkContext.defaultParallelism))


def _read_lake_files(spark: SparkSession, files: list[str],
                     schema_cols: list[str],
                     types: dict[str, str]) -> DataFrame:
    """Read lake data files with the snapshot schema (``schema_cols``
    typed by ``types``, string by default, plus the meta columns) — an
    explicit schema launches no footer-scan job, where a ``mergeSchema``
    read launches one per call.  A column a file predates (schema
    evolution) reads as null; a meta column it predates takes the default
    ``merge`` stamps on rows that arrive without one (a null ``op`` would
    drop the row on read)."""
    meta = {c: (typ, dflt) for c, typ, dflt in _META
            if c not in schema_cols}
    cols = [(c, types.get(c, "string")) for c in schema_cols] \
        + [(c, typ) for c, (typ, _) in meta.items()]
    df = spark.read.schema(", ".join(f"`{c}` {typ}" for c, typ in cols)) \
        .parquet(*files)
    return df.select(
        *[F.coalesce(F.col(c), F.lit(meta[c][1]).cast(typ)).alias(c)
          if c in meta else F.col(c) for c, typ in cols])


def _parquet_rows(path: str) -> int:
    """Row count from the parquet footer — metadata-only, no data read.
    A missing or corrupt file raises: ``rows_stored`` feeds the
    tombstone-ratio retention trigger and must not undercount."""
    import pyarrow.parquet as pq
    return pq.ParquetFile(path).metadata.num_rows
