"""Distributed replay ↔ sequential oracle parity — the headline invariant
(BASELINE.json:6): after full replay the engine reproduces the reference-
semantics final state byte-for-byte (per-row sha256(content)), is resumable
from any checkpoint, and re-running is a no-op.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from binlog_spark.cdc.pipeline import reduce_changes, final_state, state_fingerprint
from binlog_spark.cdc.replay import replay
from binlog_spark.decoder.chunks import chunks_df, seek
from binlog_spark.decoder.kernel import decode_changes
from binlog_spark.lake.table import LakeTable
from binlog_spark.mysql import gen, oracle


@pytest.fixture(scope="module")
def dump_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dump"))
    gen.generate(d, gen.GenConfig(n_changes=8000, max_file_bytes=1 << 20),
                 chunk_target=128 * 1024)
    return d


@pytest.fixture(scope="module")
def oracle_digest(dump_dir):
    return oracle.state_digest(oracle.final_state(dump_dir))


def test_decode_counts_match_oracle(spark, dump_dir):
    events = decode_changes(chunks_df(spark, dump_dir))
    n_spark = events.count()
    n_oracle = sum(1 for _ in oracle.iter_change_records(dump_dir))
    assert n_spark == n_oracle
    assert events.filter(~F.col("crc_ok")).count() == 0


def test_reduce_matches_oracle_digest(spark, dump_dir, oracle_digest):
    events = decode_changes(chunks_df(spark, dump_dir))
    state = final_state(reduce_changes(events), extra_names=[])
    assert state_fingerprint(state) == oracle_digest


def test_full_replay_into_lake(spark, dump_dir, oracle_digest, tmp_path):
    root = str(tmp_path / "lake")
    table = replay(spark, dump_dir, root, chunks_per_batch=None, n_buckets=8)
    got = table.read(spark)
    assert state_fingerprint(got) == oracle_digest


def test_batched_replay_and_resume(spark, dump_dir, oracle_digest, tmp_path):
    """Replay in several batches; kill after batch k and resume — final
    state must be identical for every k (SURVEY §7 Phase 5 test)."""
    root = str(tmp_path / "lake_batched")
    table = replay(spark, dump_dir, root, chunks_per_batch=20, n_buckets=8)
    assert state_fingerprint(table.read(spark)) == oracle_digest
    n_snaps = len(table.snapshots())
    assert n_snaps > 2  # really was multi-batch
    # re-run: every batch already committed -> zero new snapshots
    table2 = replay(spark, dump_dir, root, chunks_per_batch=20, n_buckets=8)
    assert len(table2.snapshots()) == n_snaps
    # checkpoint offsets advance monotonically
    offs = [s["offsets"] for s in table.snapshots() if s.get("offsets")]
    assert offs == sorted(offs, key=lambda o: (o["log_file"], o["next_pos"]))


def test_replay_full_image_decodes_once(spark, dump_dir, oracle_digest,
                                        tmp_path, monkeypatch):
    """A FULL-image replay batch picks winners with the single-pass
    argmax the streaming tail runs: the key-only decode must never run,
    and a multi-batch replay still matches the oracle."""
    import binlog_spark.cdc.replay as R

    def no_key_pass(*a, **kw):
        raise AssertionError("FULL-image replay batch ran decode_keys")

    monkeypatch.setattr(R, "decode_keys", no_key_pass)
    table = replay(spark, dump_dir, str(tmp_path / "lake_once"),
                   chunks_per_batch=20, n_buckets=8, lineage=False)
    assert len(table.snapshots()) > 2
    assert state_fingerprint(table.read(spark)) == oracle_digest


def test_resume_from_partial(spark, dump_dir, oracle_digest, tmp_path):
    """Simulate a crash mid-replay: run only a prefix of batches, then
    resume with the full plan."""
    from binlog_spark.cdc.replay import plan_batches, _batch_id
    from binlog_spark.cdc.pipeline import reduce_changes as reduce_c
    root = str(tmp_path / "lake_partial")
    all_chunks = [tuple(r) for r in chunks_df(spark, dump_dir).collect()]
    batches = plan_batches(all_chunks, 25)
    # manually apply only the first half
    table = LakeTable(root, n_buckets=8)
    table.create()
    for i, spans in enumerate(batches[:len(batches) // 2]):
        bid = _batch_id(dump_dir, i, [s[1:] for s in spans])
        cdf = spark.createDataFrame(spans, "dump_dir string, log_file string,"
                                    " chunk_off long, chunk_len long")
        table.merge(spark, reduce_c(decode_changes(cdf)), batch_id=bid)
    partial_snaps = len(table.snapshots())
    assert partial_snaps == len(batches) // 2 + 1
    # resume via the public entry point
    table = replay(spark, dump_dir, root, chunks_per_batch=25, n_buckets=8)
    assert state_fingerprint(table.read(spark)) == oracle_digest


def test_merge_idempotent_same_batch_id(spark, dump_dir, tmp_path):
    root = str(tmp_path / "lake_idem")
    events = decode_changes(chunks_df(spark, dump_dir))
    upserts = reduce_changes(events)
    table = LakeTable(root, n_buckets=8)
    table.create()
    s1 = table.merge(spark, upserts, batch_id="b1")
    s2 = table.merge(spark, upserts, batch_id="b1")
    assert s2.get("skipped") is True
    assert table.current_snapshot_id() == s1["snapshot_id"]


def test_merge_order_tie_keeps_newer_batch(spark, tmp_path):
    """Rows without CDC order columns all pack to order 0: on that tie
    the incoming batch must replace the stored row, not lose to it."""
    cols = "repo string, path string, commit string, lang string, " \
        "content string"
    table = LakeTable(str(tmp_path / "lake_tie"), n_buckets=8)
    table.create()
    for tag in ("old", "new"):
        rows = [("r", f"p{i}", tag, "py", tag) for i in range(50)]
        table.merge(spark, spark.createDataFrame(rows, cols), batch_id=tag)
    got = table.read(spark).groupBy("commit", "content").count().collect()
    assert [tuple(r) for r in got] == [("new", "new", 50)]


def test_merge_out_of_order_batches(spark, tmp_path):
    """MERGE is a last-writer-wins reduction on the persisted commit
    order: applying replay's batches in REVERSE log order still yields
    the oracle state (the commit order outranks the batch tie-break)."""
    from binlog_spark.cdc.replay import plan_batches
    from binlog_spark.decoder.chunks import spans_df
    from binlog_spark.ops import binlog_demo
    dump = binlog_demo.ensure_fixture("sf0.001")  # 4000 changes, 12 chunks
    want = oracle.state_digest(oracle.final_state(dump))
    spans = [tuple(r) for r in chunks_df(spark, dump).collect()]
    batches = plan_batches(spans, 3)
    assert len(batches) >= 3
    table = LakeTable(str(tmp_path / "lake_ooo"), n_buckets=8)
    table.create()
    for i, batch in reversed(list(enumerate(batches))):
        upserts = reduce_changes(decode_changes(spans_df(spark, batch)))
        table.merge(spark, upserts, batch_id=f"ooo-{i}")
    assert state_fingerprint(table.read(spark)) == want


_MERGE_COLS = ("repo string, path string, commit string, lang string, "
               "content string, op string, log_file string, log_pos bigint, "
               "seq_in_tx int")


def _merge_batch(spark, rows):
    """A reduced batch shaped like ``reduce_changes`` output: one row per
    key, produced by an aggregation (so its plan ends in a shuffle)."""
    df = spark.createDataFrame(rows, _MERGE_COLS)
    return df.groupBy("repo", "path").agg(
        *[F.max(c).alias(c) for c in ("commit", "lang", "content", "op",
                                      "log_file", "log_pos", "seq_in_tx")])


def _bucket_of(spark, keys, n_buckets):
    df = spark.createDataFrame(keys, "repo string, path string")
    return {(r.repo, r.path): r.b for r in df.select(
        "repo", "path",
        F.pmod(F.xxhash64("repo", "path"), F.lit(n_buckets)).alias("b"))
        .collect()}


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """Copy-on-write at bucket granularity: a second FULL merge rewrites
    exactly the buckets its keys hash to (one file each); every other
    bucket keeps its exact file paths.  An empty batch commits without
    rewriting any bucket, and no staging directory outlives a merge."""
    import os
    n_buckets = 8
    keys = [("r", f"p{i}") for i in range(200)]
    fresh = [("r", f"new{i}") for i in range(60)]
    bucket = _bucket_of(spark, keys + fresh, n_buckets)
    table = LakeTable(str(tmp_path / "lake_cow"), n_buckets=n_buckets)
    table.create()
    table.merge(spark, _merge_batch(spark, [
        (*k, "c0", "py", "v0", "I", "bin.000001", 100 + i, 0)
        for i, k in enumerate(keys)]), batch_id="b0")
    first = table.snapshot()
    assert sorted(map(int, first["buckets"])) == list(range(n_buckets))

    hit = {1, 4, 6}
    upd = [k for k in keys if bucket[k] in hit][:12]
    gone = [k for k in keys if bucket[k] in hit][12:15]
    new = [k for k in fresh if bucket[k] in hit][:3]
    rows = ([(*k, "c1", "py", "v1", "U", "bin.000002", 100 + i, 0)
             for i, k in enumerate(upd)]
            + [(*k, None, None, None, "D", "bin.000002", 500 + i, 0)
               for i, k in enumerate(gone)]
            + [(*k, "c1", "py", "v1", "I", "bin.000002", 900 + i, 0)
               for i, k in enumerate(new)])
    assert {bucket[k] for k in upd + gone + new} == hit
    second = table.merge(spark, _merge_batch(spark, rows), batch_id="b1")
    st = second["stats"]
    assert st["touched_buckets"] == st["data_files_written"] == len(hit)
    assert (st["upserts"], st["deletes"]) == (len(rows), len(gone))
    for b, files in first["buckets"].items():
        if int(b) in hit:
            assert len(second["buckets"][b]) == 1
            assert not set(second["buckets"][b]) & set(files)
        else:
            assert second["buckets"][b] == files
    got = {(r.repo, r.path): r.commit for r in table.read(spark).collect()}
    want = {k: "c0" for k in keys if k not in gone}
    want.update({k: "c1" for k in upd + new})
    assert got == want

    n_dirs = len(os.listdir(table.data_dir))
    third = table.merge(spark, _merge_batch(spark, []), batch_id="b2")
    assert third["buckets"] == second["buckets"]
    assert (third["stats"]["touched_buckets"],
            third["stats"]["data_files_written"]) == (0, 0)
    assert len(os.listdir(table.data_dir)) == n_dirs
    assert not [d for d in os.listdir(table.data_dir)
                if d.startswith("staging-")]


def test_incremental_merge_runs_four_jobs(spark, tmp_path):
    """An incremental FULL merge of a reduced batch runs 4 Spark jobs:
    the staging write (the batch's shuffle + the write) and the bucket
    rewrite (one Exchange + the write).  A footer-scan read or a second
    Exchange would add a job."""
    table = LakeTable(str(tmp_path / "lake_jobs"), n_buckets=8)
    table.create()
    table.merge(spark, _merge_batch(spark, [
        ("r", f"p{i}", "c0", "py", "v0", "I", "bin.000001", 100 + i, 0)
        for i in range(200)]), batch_id="b0")
    batch = _merge_batch(spark, [
        ("r", f"p{i}", "c1", "py", "v1", "U", "bin.000002", 100 + i, 0)
        for i in range(0, 200, 7)])
    sc = spark.sparkContext
    group = f"merge-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "incremental merge")
    try:
        snap = table.merge(spark, batch, batch_id="b1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert snap["stats"]["touched_buckets"] > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_time_travel(spark, dump_dir, tmp_path):
    root = str(tmp_path / "lake_tt")
    table = replay(spark, dump_dir, root, chunks_per_batch=40, n_buckets=8)
    snaps = table.snapshots()
    assert len(snaps) >= 3
    mid = snaps[1]["snapshot_id"]
    n_mid = table.read(spark, snapshot_id=mid).count()
    n_cur = table.read(spark).count()
    assert n_mid <= n_cur or snaps[1]["stats"].get("deletes", 0) >= 0
    # snapshot 0 is the empty table
    assert table.read(spark, snapshot_id=0).count() == 0


def test_seek_predicate(spark, dump_dir):
    chunks = chunks_df(spark, dump_dir)
    first = chunks.orderBy("log_file", "chunk_off").first()
    rest = seek(chunks, first.log_file, first.chunk_off + first.chunk_len)
    assert rest.count() == chunks.count() - 1


def test_lineage_written(spark, dump_dir, tmp_path):
    import os
    root = str(tmp_path / "lake_lin")
    replay(spark, dump_dir, root, chunks_per_batch=None, n_buckets=8)
    lin_dir = os.path.join(root, "lineage")
    assert os.path.isdir(lin_dir) and len(os.listdir(lin_dir)) >= 1
    lin = spark.read.parquet(os.path.join(lin_dir, "*"))
    n_changes = sum(r.events_decoded for r in lin.collect())
    n_oracle = sum(1 for _ in oracle.iter_change_records(dump_dir))
    assert n_changes == n_oracle


def test_lineage_counts_reach_the_snapshot(spark, tmp_path):
    """Each batch's lineage totals (events decoded, events quarantined
    for a bad CRC) are part of that batch's committed snapshot file."""
    import json
    import os

    from binlog_spark import constants as C
    from binlog_spark.mysql.decode import decode_chunk, iter_frames
    d = str(tmp_path / "dump")
    gen.generate(d, gen.GenConfig(n_changes=600, seed=31,
                                  max_file_bytes=1 << 20),
                 chunk_target=64 * 1024)
    with open(os.path.join(d, "manifest.json")) as f:
        chunks = json.load(f)["chunks"]
    path = os.path.join(d, chunks[0][0])
    data = bytearray(open(path, "rb").read())
    rows = [fr.start for fr, _ in iter_frames(bytes(data), has_magic=True)
            if fr.event_type in C.ROWS_EVENTS]
    data[rows[len(rows) // 2] + 40] ^= 0x01  # stays ASCII
    with open(path, "wb") as f:
        f.write(data)
    want = {"events_decoded": 0, "events_quarantined": 0}
    for log_file, off, ln in chunks:
        with open(os.path.join(d, log_file), "rb") as f:
            f.seek(off)
            recs = decode_chunk(f.read(ln), log_file, has_magic=off == 0)
        want["events_decoded"] += len(recs)
        want["events_quarantined"] += sum(not r.crc_ok for r in recs)
    assert want["events_quarantined"] > 0

    root = str(tmp_path / "lake")
    replay(spark, d, root, chunks_per_batch=3, n_buckets=4)
    snap_dir = os.path.join(root, "snapshots")
    got = {"events_decoded": 0, "events_quarantined": 0}
    n_batches = 0
    for name in os.listdir(snap_dir):
        with open(os.path.join(snap_dir, name)) as f:
            snap = json.load(f)
        if snap.get("batch_id"):
            n_batches += 1
            for k in got:
                got[k] += snap["stats"][k]
    assert n_batches > 1
    assert got == want


def _write_stage_tasks(sc, group: str) -> int:
    """Tasks of the result stage of a job group's last job — the stage
    that writes the bucket files."""
    st = sc.statusTracker()
    job = st.getJobInfo(max(st.getJobIdsForGroup(group)))
    return st.getStageInfo(max(job.stageIds)).numTasks


def test_bucket_writes_sized_by_cores(spark, tmp_path):
    """Both bucket writes (empty table, touched-bucket rewrite) run at
    most defaultParallelism tasks, and still write one file per touched
    bucket."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    n_buckets = 32
    assert n_buckets > cores
    table = LakeTable(str(tmp_path / "lake_tasks"), n_buckets=n_buckets)
    table.create()
    batches = [
        [("r", f"p{i}", "c0", "py", "v0", "I", "bin.000001", 100 + i, 0)
         for i in range(400)],
        [("r", f"p{i}", "c1", "py", "v1", "U", "bin.000002", 100 + i, 0)
         for i in range(0, 400, 3)]]
    for n, rows in enumerate(batches):
        group = f"bucket-write-{tmp_path.name}-{n}"
        sc.setJobGroup(group, "merge")
        try:
            snap = table.merge(spark, _merge_batch(spark, rows),
                               batch_id=f"b{n}")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        st = snap["stats"]
        assert st["touched_buckets"] > cores
        assert st["data_files_written"] == st["touched_buckets"]
        assert all(len(snap["buckets"][str(b)]) == 1
                   for b in range(n_buckets) if str(b) in snap["buckets"])
        assert _write_stage_tasks(sc, group) <= cores
    got = {(r.repo, r.path): r.commit for r in table.read(spark).collect()}
    assert got == {("r", f"p{i}"): "c1" if i % 3 == 0 else "c0"
                   for i in range(400)}


def test_expire_removes_dropped_commit_dirs(spark, dump_dir, oracle_digest,
                                            tmp_path):
    """After expire_snapshots(keep_last=1) the data dir holds only the
    commit dirs the retained snapshot references — a dropped snapshot's
    commit dir goes with its Spark commit markers — while a dir no
    snapshot names (a live writer's output) survives."""
    import os
    root = str(tmp_path / "lake_expire")
    n_chunks = chunks_df(spark, dump_dir).count()
    table = replay(spark, dump_dir, root, n_buckets=8,
                   chunks_per_batch=-(-n_chunks // 3))
    assert len(table.snapshots()) == 4  # create + 3 batches
    live_writer = os.path.join(table.data_dir, "0123456789ab", "_temporary")
    os.makedirs(live_writer)
    table.expire_snapshots(keep_last=1)
    kept = table.snapshot()
    commits = {os.path.dirname(os.path.dirname(f))
               for fl in kept["buckets"].values() for f in fl}
    left = {os.path.join(table.data_dir, d)
            for d in os.listdir(table.data_dir)}
    assert left - commits == {os.path.dirname(live_writer)}
    assert os.path.isdir(live_writer)
    assert state_fingerprint(table.read(spark)) == oracle_digest
