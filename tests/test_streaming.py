"""Structured Streaming tail: incremental file pickup, checkpoint resume,
and exactly-once application into the lake."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, "/root/repo")

from binlog_spark.cdc.pipeline import state_fingerprint
from binlog_spark.lake.table import LakeTable
from binlog_spark.mysql import gen, oracle
from binlog_spark.streaming.tail import stream_apply


@pytest.fixture(scope="module")
def dump_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sdump"))
    gen.generate(d, gen.GenConfig(n_changes=6000, max_file_bytes=256 << 10),
                 chunk_target=128 * 1024)
    return d


def _run_drain(spark, src, root, ckpt):
    q = stream_apply(spark, src, root, ckpt, n_buckets=8,
                     available_now=True)
    q.awaitTermination(300)
    return LakeTable(root, n_buckets=8)


def test_stream_drain_matches_oracle(spark, dump_dir, tmp_path):
    want = oracle.state_digest(oracle.final_state(dump_dir))
    root = str(tmp_path / "slake")
    ckpt = str(tmp_path / "sckpt")
    table = _run_drain(spark, dump_dir, root, ckpt)
    assert state_fingerprint(table.read(spark)) == want


def test_stream_full_image_batch_decodes_once(spark, dump_dir, tmp_path,
                                              monkeypatch):
    """A FULL-image micro-batch reduces with the single-pass argmax: the
    key-only decode must never run, and the drain still matches the
    oracle."""
    import binlog_spark.cdc.replay as R

    def no_key_pass(*a, **kw):
        raise AssertionError("FULL-image stream batch ran decode_keys")

    monkeypatch.setattr(R, "decode_keys", no_key_pass)
    want = oracle.state_digest(oracle.final_state(dump_dir))
    table = _run_drain(spark, dump_dir, str(tmp_path / "slake1"),
                       str(tmp_path / "sckpt1"))
    assert len(table.snapshots()) > 2  # several micro-batches merged
    assert state_fingerprint(table.read(spark)) == want


def test_stream_incremental_pickup_and_resume(spark, dump_dir, tmp_path):
    """Stage half the files, drain, stage the rest, drain with the SAME
    checkpoint — final state equals the full-replay state and already-
    processed files are not re-applied."""
    files = oracle.list_files(dump_dir)
    assert len(files) >= 4
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    root = str(tmp_path / "slake2")
    ckpt = str(tmp_path / "sckpt2")
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(os.path.join(dump_dir, f), os.path.join(staged, f))
    table = _run_drain(spark, staged, root, ckpt)
    n_snaps_half = len(table.snapshots())
    assert n_snaps_half > 1
    for f in files[half:]:
        shutil.copy(os.path.join(dump_dir, f), os.path.join(staged, f))
    table = _run_drain(spark, staged, root, ckpt)
    want = oracle.state_digest(oracle.final_state(dump_dir))
    assert state_fingerprint(table.read(spark)) == want
    # third drain with nothing new: no extra snapshots
    n = len(table.snapshots())
    table = _run_drain(spark, staged, root, ckpt)
    assert len(table.snapshots()) == n


def test_stream_schema_evolution(spark, tmp_path):
    """Mid-stream ALTER TABLE: the micro-batch TABLE_MAP scan (no
    pipeline-executing probe) must still discover the new column and the
    streamed lake state must match the oracle digest including extras."""
    d = str(tmp_path / "evodump")
    gen.generate(d, gen.GenConfig(n_changes=4000, evolve_at=2000,
                                  max_file_bytes=256 << 10),
                 chunk_target=128 * 1024)
    root = str(tmp_path / "evolake")
    ckpt = str(tmp_path / "evockpt")
    table = _run_drain(spark, d, root, ckpt)
    got = table.read(spark)
    assert "branch" in got.columns
    assert state_fingerprint(got) == \
        oracle.state_digest(oracle.final_state(d))
