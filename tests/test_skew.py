"""Hot-key skew: one key receives most updates (SURVEY §7 hard-parts #5).

The winner search is max(BIGINT) with map-side combine, so a hot key's
updates collapse to one (key, long) per map task before the shuffle —
parity must hold without any salting."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from binlog_spark.cdc.pipeline import final_state, reduce_changes, \
    state_fingerprint
from binlog_spark.decoder.chunks import chunks_df
from binlog_spark.decoder.kernel import decode_changes, decode_keys
from binlog_spark.mysql import gen, oracle


@pytest.fixture(scope="module")
def hot_dump(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hotdump"))
    gen.generate(d, gen.GenConfig(n_changes=6000, hot_key_ratio=0.8,
                                  key_move_ratio=0.0,  # pure hot-key skew
                                  max_file_bytes=2 << 20),
                 chunk_target=128 * 1024)
    return d


def test_fixture_is_actually_skewed(spark, hot_dump):
    ev = decode_changes(chunks_df(spark, hot_dump))
    top = (ev.groupBy("repo", "path").count()
           .orderBy(F.desc("count")).first())
    assert top["count"] > 500, f"hot key only has {top['count']} events"


def test_skewed_parity(spark, hot_dump):
    want = oracle.state_digest(oracle.final_state(hot_dump))
    cdf = chunks_df(spark, hot_dump)
    ev = decode_changes(cdf)
    keys = decode_keys(cdf)
    got = state_fingerprint(final_state(
        reduce_changes(ev, key_events=keys), extra_names=[]))
    assert got == want


def test_shuffle_winner_join_parity(spark, hot_dump):
    """broadcast_winners=False (the driver-memory escape hatch for
    batches with huge key counts) must produce the same state through a
    shuffle join instead of a broadcast."""
    want = oracle.state_digest(oracle.final_state(hot_dump))
    cdf = chunks_df(spark, hot_dump)
    got = state_fingerprint(final_state(
        reduce_changes(decode_changes(cdf), key_events=decode_keys(cdf),
                       broadcast_winners=False), extra_names=[]))
    assert got == want
