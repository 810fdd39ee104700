"""Dump-sink staging (A31 analogue) and lake compaction."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from binlog_spark.cdc.pipeline import state_fingerprint
from binlog_spark.cdc.replay import replay
from binlog_spark.decoder.chunks import chunks_df
from binlog_spark.decoder.kernel import decode_changes
from binlog_spark.decoder.staging import stage_dump, staged_chunks
from binlog_spark.mysql import gen, oracle


@pytest.fixture(scope="module")
def dump_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stgdump"))
    gen.generate(d, gen.GenConfig(n_changes=5000, max_file_bytes=512 << 10),
                 chunk_target=128 * 1024)
    return d


def test_staged_decode_parity(spark, dump_dir, tmp_path):
    """Decoding from the staged parquet chunk table produces the same
    events as decoding straight from the dump files."""
    out = str(tmp_path / "staged")
    res = stage_dump(spark, dump_dir, out)
    assert res["staged_spans"] > 0
    direct = decode_changes(chunks_df(spark, dump_dir))
    via_parquet = decode_changes(staged_chunks(spark, out))
    assert direct.count() == via_parquet.count()
    a = {(r.gtid, r.seq_in_tx): (r.op, r.repo, r.path, r.commit)
         for r in direct.collect()}
    b = {(r.gtid, r.seq_in_tx): (r.op, r.repo, r.path, r.commit)
         for r in via_parquet.collect()}
    assert a == b


def test_stage_resume_skips_complete_files(spark, dump_dir, tmp_path):
    out = str(tmp_path / "staged2")
    stage_dump(spark, dump_dir, out)
    res = stage_dump(spark, dump_dir, out)
    assert res["staged_spans"] == 0
    assert res["skipped_files"] > 0


def test_compact_preserves_state(spark, dump_dir, tmp_path):
    root = str(tmp_path / "clake")
    table = replay(spark, dump_dir, root, chunks_per_batch=20, n_buckets=8)
    before = state_fingerprint(table.read(spark))
    n_files_before = sum(len(fl) for fl in
                         table.snapshot()["buckets"].values())
    snap = table.compact(spark)
    assert state_fingerprint(table.read(spark)) == before
    n_files_after = sum(len(fl) for fl in snap["buckets"].values())
    assert n_files_after <= n_files_before
    # tombstones gone: raw rows == visible rows
    raw = spark.read.option("mergeSchema", "true").parquet(
        *[f for fl in snap["buckets"].values() for f in fl])
    assert raw.count() == table.read(spark).count()


def test_retention_policy_autocompacts(spark, dump_dir, tmp_path):
    """compact_every: replay compacts mid-stream and still matches the
    sequential oracle; tombstones are dropped by the final compact."""
    root = str(tmp_path / "rlake")
    table = replay(spark, dump_dir, root, chunks_per_batch=10, n_buckets=8,
                   compact_every=3)
    batches = [s for s in table.snapshots() if s.get("batch_id")]
    compacts = [s for s in batches
                if str(s["batch_id"]).startswith("compact-")]
    assert compacts, "policy never fired"
    # non-compact commits between consecutive compacts never exceed the bound
    run = 0
    for s in batches:
        if str(s["batch_id"]).startswith("compact-"):
            run = 0
        else:
            run += 1
            assert run <= 3
    want = oracle.state_digest(oracle.final_state(dump_dir))
    assert state_fingerprint(table.read(spark)) == want


def test_retention_tombstone_ratio(spark, dump_dir, tmp_path):
    root = str(tmp_path / "rlake2")
    table = replay(spark, dump_dir, root, chunks_per_batch=10, n_buckets=8)
    stats = table.tombstone_stats()
    assert stats["tombstones"] >= 0 and stats["commits"] > 0
    # ratio=0+epsilon with any tombstones → compacts; state preserved
    before = state_fingerprint(table.read(spark))
    snap = table.maybe_compact(spark, tombstone_ratio=1e-9)
    if stats["tombstones"]:
        assert snap is not None
        assert table.tombstone_stats()["tombstones"] == 0
    assert state_fingerprint(table.read(spark)) == before


def test_stored_row_count_fails_loud(tmp_path):
    """``rows_stored`` is the tombstone-ratio trigger's denominator: a
    corrupt or missing data file must raise, never count as 0 rows."""
    import pyarrow as pa

    from binlog_spark.lake.table import _parquet_rows
    bad = tmp_path / "part-00000.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        _parquet_rows(str(bad))
    with pytest.raises(FileNotFoundError):
        _parquet_rows(str(tmp_path / "gone.parquet"))


def test_concurrent_commit_conflict_detected(tmp_path):
    """Optimistic concurrency (the Iceberg commit model): a snapshot
    built on a stale parent must be rejected, not silently clobber the
    other writer's commit."""
    from binlog_spark.lake.table import CommitConflict, LakeTable
    t = LakeTable(str(tmp_path / "cc"), n_buckets=4,
                  key_cols=("repo", "path"))
    t.create()
    base = t.snapshot()
    winner = {**base, "snapshot_id": 1, "parent": 0, "batch_id": "w"}
    t._commit_snapshot(winner)
    stale = {**base, "snapshot_id": 1, "parent": 0, "batch_id": "loser"}
    import pytest as _pytest
    with _pytest.raises(CommitConflict):
        t._commit_snapshot(stale)
    assert t.snapshot()["batch_id"] == "w"


def test_commit_race_same_snapshot_id(tmp_path, monkeypatch):
    """The check-then-act RACE (both writers read the same CURRENT and
    both pass the parent check): the snapshot file's exclusive-create
    claim must fail the second writer instead of last-write-wins
    clobbering the first commit."""
    from binlog_spark.lake.table import CommitConflict, LakeTable
    t = LakeTable(str(tmp_path / "race"), n_buckets=4,
                  key_cols=("repo", "path"))
    t.create()
    base = t.snapshot()
    t._commit_snapshot({**base, "snapshot_id": 1, "parent": 0,
                        "batch_id": "w"})
    # the loser read CURRENT before the winner's commit landed — stub the
    # re-read so the parent check passes and only the O_EXCL claim stands
    monkeypatch.setattr(LakeTable, "current_snapshot_id", lambda self: 0)
    import pytest as _pytest
    with _pytest.raises(CommitConflict):
        t._commit_snapshot({**base, "snapshot_id": 1, "parent": 0,
                            "batch_id": "loser"})
    monkeypatch.undo()
    assert t.snapshot()["batch_id"] == "w"


def test_commit_race_parallel_writers(tmp_path):
    """8 genuinely concurrent writers racing the same parent: exactly one
    commits; CURRENT points at the winner's snapshot."""
    import threading

    from binlog_spark.lake.table import CommitConflict, LakeTable
    t = LakeTable(str(tmp_path / "race8"), n_buckets=4,
                  key_cols=("repo", "path"))
    t.create()
    base = t.snapshot()
    results: list[str] = []
    lock = threading.Lock()
    start = threading.Barrier(8)

    def writer(i: int) -> None:
        start.wait()
        try:
            t._commit_snapshot({**base, "snapshot_id": 1, "parent": 0,
                                "batch_id": f"w{i}"})
            with lock:
                results.append(f"w{i}")
        except CommitConflict:
            pass

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(results) == 1
    assert t.snapshot()["batch_id"] == results[0]


def test_lost_merge_race_leaves_no_orphan_data(spark, tmp_path):
    """A MERGE whose commit loses to a concurrent writer must not leave
    its data files behind: no snapshot references them, so
    ``expire_snapshots`` would never collect them.  The winner's snapshot
    stays intact."""
    import os

    from binlog_spark.lake.table import CommitConflict, LakeTable
    cols = "repo string, path string, commit string, lang string, " \
        "content string"

    def batch(tag: str):
        return spark.createDataFrame(
            [("r", f"p{i}", tag, "py", tag) for i in range(40)], cols)

    root = str(tmp_path / "orphan")
    loser = LakeTable(root, n_buckets=4)
    loser.create()
    loser.merge(spark, batch("seed"), batch_id="seed")
    winner = LakeTable(root, n_buckets=4)
    commit = LakeTable._commit_snapshot

    def race(snap: dict) -> None:
        # the other writer commits after the loser wrote its bucket
        # files, before the loser claims its snapshot id
        winner.merge(spark, batch("won"), batch_id="won")
        commit(loser, snap)

    loser._commit_snapshot = race
    with pytest.raises(CommitConflict):
        loser.merge(spark, batch("lost"), batch_id="lost")

    snap = winner.snapshot()
    assert snap["batch_id"] == "won"
    got = winner.read(spark).groupBy("commit").count().collect()
    assert [tuple(r) for r in got] == [("won", 40)]
    data_dir = os.path.join(root, "data")
    referenced = {os.path.relpath(f, data_dir).split(os.sep)[0]
                  for s in winner.snapshots()
                  for fl in s["buckets"].values() for f in fl}
    assert set(os.listdir(data_dir)) == referenced


def test_expire_sweeps_killed_writer_data(spark, tmp_path):
    """A writer killed between its bucket write and its snapshot commit
    leaves a ``data/<commit>`` dir no snapshot names.  Once it is older
    than the oldest retained commit, ``expire_snapshots`` removes it; a
    fresh unnamed dir (a live writer's output) stays, and so does every
    dir a retained snapshot names."""
    import os
    import time

    from binlog_spark.lake.table import LakeTable
    cols = "repo string, path string, commit string, lang string, " \
        "content string"

    def batch(tag: str):
        return spark.createDataFrame(
            [("r", f"p{i}", tag, "py", tag) for i in range(40)], cols)

    t = LakeTable(str(tmp_path / "killed"), n_buckets=4)
    t.create()
    t.merge(spark, batch("a"), batch_id="a")
    killed = os.path.join(t.data_dir, "0000deadbeef")
    os.makedirs(os.path.join(killed, "bucket=1"))
    with open(os.path.join(killed, "bucket=1", "part-0.parquet"), "wb") as f:
        f.write(b"PAR1")
    old = time.time() - 3600
    os.utime(killed, (old, old))
    t.merge(spark, batch("b"), batch_id="b")
    live = os.path.join(t.data_dir, "0000feedface", "_temporary")
    os.makedirs(live)

    removed = t.expire_snapshots(keep_last=1)
    assert not os.path.exists(killed)
    assert os.path.join(killed, "bucket=1", "part-0.parquet") in removed
    assert os.path.isdir(live)
    named = {os.path.relpath(f, t.data_dir).split(os.sep)[0]
             for fl in t.snapshot()["buckets"].values() for f in fl}
    assert set(os.listdir(t.data_dir)) == named | {"0000feedface"}
    got = t.read(spark).groupBy("commit").count().collect()
    assert [tuple(r) for r in got] == [("b", 40)]
