"""Streaming tails take each micro-batch as whole-file chunk spans.

The stream source lists file names and lengths only; a micro-batch's
TABLE_MAP registry and schema extras come from
cdc.multi.scan_table_registry_spans (a driver header hop up to
REGISTRY_DRIVER_MAX_BYTES, a distributed span scan above it), never from
a scan of file blobs.  Both routes must give the oracle state, and every
commit records the batch's offsets.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import binlog_spark.cdc.multi as M
import binlog_spark.cdc.pipeline as P
import binlog_spark.streaming.tail as tail
from binlog_spark.cdc.multi import table_root
from binlog_spark.cdc.pipeline import state_fingerprint
from binlog_spark.lake.table import LakeTable
from binlog_spark.mysql import gen, oracle
from binlog_spark.mysql.gen_multi import apply_multi, generate_multi
from binlog_spark.streaming.tail import stream_apply, stream_apply_multi


@pytest.fixture
def no_blob_scans(monkeypatch):
    """Blob scans raise; the distributed span scan is counted."""
    def boom(*a, **kw):
        raise AssertionError("a streaming tail scanned file blobs")

    for mod in (P, M, tail):
        for name in ("scan_extra_columns_blobs",
                     "scan_table_registry_blobs"):
            monkeypatch.setattr(mod, name, boom, raising=False)
    calls = {"distributed": 0}
    real = M.scan_table_registry

    def counted(spark, chunks):
        calls["distributed"] += 1
        return real(spark, chunks)

    monkeypatch.setattr(M, "scan_table_registry", counted)
    return calls


def _last_file_offsets(dump_dir: str) -> dict:
    last = oracle.list_files(dump_dir)[-1]
    return {"log_file": last,
            "next_pos": os.path.getsize(os.path.join(dump_dir, last))}


def _drain(spark, dump_dir, root, ckpt, **kw) -> LakeTable:
    q = stream_apply(spark, dump_dir, root, ckpt, n_buckets=8,
                     available_now=True, **kw)
    q.awaitTermination(300)
    assert q.exception() is None
    return LakeTable(root)


@pytest.mark.parametrize("minimal", [False, True], ids=["full-alter",
                                                        "minimal"])
def test_stream_spans_driver_and_distributed_scan(spark, tmp_path,
                                                  monkeypatch,
                                                  no_blob_scans, minimal):
    d = str(tmp_path / "dump")
    cfg = (gen.GenConfig(n_changes=3000, minimal_images=True,
                         max_file_bytes=256 << 10) if minimal else
           gen.GenConfig(n_changes=4000, evolve_at=2000,
                         max_file_bytes=256 << 10))
    gen.generate(d, cfg, chunk_target=128 * 1024)
    want = oracle.state_digest(oracle.final_state(d))

    driver = _drain(spark, d, str(tmp_path / "lake_d"),
                    str(tmp_path / "ckpt_d"), minimal_images=minimal)
    assert no_blob_scans["distributed"] == 0
    assert state_fingerprint(driver.read(spark)) == want
    if not minimal:
        assert "branch" in driver.read(spark).columns
    assert driver.last_offsets() == _last_file_offsets(d)
    assert all(s["offsets"] for s in driver.snapshots()[1:])

    monkeypatch.setattr(M, "REGISTRY_DRIVER_MAX_BYTES", 0)
    dist = _drain(spark, d, str(tmp_path / "lake_x"),
                  str(tmp_path / "ckpt_x"), minimal_images=minimal)
    assert no_blob_scans["distributed"] > 0
    assert state_fingerprint(dist.read(spark)) == want
    assert dist.read(spark).columns == driver.read(spark).columns


def test_stream_multi_spans_driver_and_distributed_scan(spark, tmp_path,
                                                        monkeypatch,
                                                        no_blob_scans):
    d = str(tmp_path / "dump")
    generate_multi(d, n_changes=2000, seed=23, minimal_images=True)
    want = apply_multi(d)

    def drain(tag: str) -> str:
        lake = str(tmp_path / f"mlake_{tag}")
        q = stream_apply_multi(spark, d, lake, str(tmp_path / f"mckpt_{tag}"),
                               n_buckets=4, available_now=True)
        q.awaitTermination(300)
        assert q.exception() is None
        for (sch, tbl), rows in want.items():
            t = LakeTable(table_root(lake, sch, tbl))
            pk = list(t.key_cols)
            got = {tuple(r[c] for c in pk): r.asDict()
                   for r in t.read(spark).collect()}
            assert got == rows, (tag, sch, tbl)
        return lake

    lake = drain("driver")
    assert no_blob_scans["distributed"] == 0
    offsets = [LakeTable(table_root(lake, *k)).last_offsets() for k in want]
    assert _last_file_offsets(d) in offsets

    monkeypatch.setattr(M, "REGISTRY_DRIVER_MAX_BYTES", 0)
    drain("dist")
    assert no_blob_scans["distributed"] > 0


@pytest.mark.parametrize("multi", [False, True], ids=["single", "multi"])
def test_pointer_only_micro_batch_commits_nothing(spark, tmp_path, multi):
    """A micro-batch that lists only `.next` pointer files has no spans:
    it must not raise, and it commits no snapshot to any lake table."""
    d = str(tmp_path / "dump")
    if multi:
        generate_multi(d, n_changes=1500, seed=29)
    else:
        gen.generate(d, gen.GenConfig(n_changes=1500,
                                      max_file_bytes=256 << 10),
                     chunk_target=128 * 1024)
    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for f in oracle.list_files(d):
        shutil.copy(os.path.join(d, f), os.path.join(staged, f))
    lake, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")

    def drain() -> tuple[dict, int]:
        fn = stream_apply_multi if multi else stream_apply
        q = fn(spark, staged, lake, ckpt, n_buckets=4, available_now=True)
        q.awaitTermination(300)
        assert q.exception() is None
        roots = ([os.path.join(lake, n) for n in sorted(os.listdir(lake))
                  if not n.startswith(".")] if multi else [lake])
        return ({r: LakeTable(r).current_snapshot_id() for r in roots},
                sum(p.numInputRows for p in q.recentProgress))

    before, _ = drain()
    assert before and all(v for v in before.values())
    pointers = [n for n in os.listdir(d)
                if n.startswith("binlog.") and n.endswith(".next")]
    for n in pointers:
        shutil.copy(os.path.join(d, n), os.path.join(staged, n))
    if not pointers:
        # a one-file dump: the pointer its writer leaves on rotation
        last = oracle.list_files(d)[-1]
        pointers = [f"{last}.next"]
        with open(os.path.join(staged, pointers[0]), "w") as f:
            f.write("binlog.999999")
    after, listed = drain()
    assert listed == len(pointers)  # the pointer-only batch did run
    assert after == before
