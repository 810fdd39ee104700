"""Schema evolution: a TABLE_MAP column addition mid-stream must flow
decoder → reduce → MERGE, widening the lake schema (SURVEY §1.2: the
TABLE_MAP *is* the evolution mechanism; BASELINE.json:6)."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from binlog_spark.cdc.pipeline import (final_state, reduce_changes,
                                       scan_extra_columns,
                                       state_fingerprint)
from binlog_spark.cdc.replay import replay
from binlog_spark.decoder.chunks import chunks_df
from binlog_spark.decoder.kernel import decode_changes
from binlog_spark.mysql import gen, oracle


@pytest.fixture(scope="module")
def evolved_dump(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("evodump"))
    gen.generate(d, gen.GenConfig(n_changes=6000, evolve_at=3000,
                                  max_file_bytes=1 << 20),
                 chunk_target=128 * 1024)
    return d


@pytest.fixture(scope="module")
def evolved_digest(evolved_dump):
    return oracle.state_digest(oracle.final_state(evolved_dump))


def test_decoder_carries_extras(spark, evolved_dump):
    from pyspark.sql import functions as F
    events = decode_changes(chunks_df(spark, evolved_dump))
    with_extra = events.filter(F.col("extra_json").isNotNull())
    n = with_extra.count()
    assert n > 0
    sample = with_extra.select("extra_json").first()[0]
    assert '"branch"' in sample


def test_reduce_promotes_extras_and_matches_oracle(spark, evolved_dump,
                                                   evolved_digest):
    cdf = chunks_df(spark, evolved_dump)
    extra = scan_extra_columns([tuple(r) for r in cdf.collect()])
    state = final_state(reduce_changes(decode_changes(cdf)),
                        extra_names=extra)
    assert "branch" in state.columns
    assert state_fingerprint(state) == evolved_digest


def test_lake_schema_widens(spark, evolved_dump, evolved_digest, tmp_path):
    root = str(tmp_path / "evolake")
    table = replay(spark, evolved_dump, root, chunks_per_batch=15,
                   n_buckets=8)
    snaps = table.snapshots()
    schemas = [tuple(s["schema"]) for s in snaps]
    assert schemas[0] == ("repo", "path", "commit", "lang", "content")
    assert schemas[-1] == ("repo", "path", "commit", "lang", "content",
                           "branch")
    # the widening happened at some mid-replay snapshot, not the first
    first_wide = next(i for i, s in enumerate(schemas) if "branch" in s)
    assert first_wide > 0
    got = table.read(spark)
    assert "branch" in got.columns
    assert state_fingerprint(got) == evolved_digest


def test_time_travel_pre_evolution(spark, evolved_dump, tmp_path):
    root = str(tmp_path / "evolake_tt")
    table = replay(spark, evolved_dump, root, chunks_per_batch=15,
                   n_buckets=8)
    snaps = table.snapshots()
    narrow = next(s for s in snaps
                  if s["snapshot_id"] > 0 and "branch" not in s["schema"])
    old = table.read(spark, snapshot_id=narrow["snapshot_id"])
    assert "branch" not in old.columns
    assert old.count() > 0
