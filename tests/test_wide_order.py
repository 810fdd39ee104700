"""Wide DECIMAL order key: transactions beyond the 32767 seq clamp.

The packed-BIGINT order key clamps seq_in_tx at 32767 (15 bits), so a
single transaction with >32k updates to ONE key would tie-break
arbitrarily among the clamped rows.  The reference streams rows lazily
and has no such limit (/root/reference/rbr.go:308-350); pack_ord
``wide=True`` (DECIMAL(38,0), no clamp) restores exact order, and
replay and the streaming tail auto-enable it from the dump manifest's
``max_tx_rows``.

Every payload string DECREASES in log order: the winner structs break
order ties on the payload, so under the clamp the tie would pick an
EARLIER row — a narrow-order reduction cannot pass these tests by luck.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from binlog_spark.cdc.pipeline import state_fingerprint
from binlog_spark.cdc.replay import replay
from binlog_spark.decoder.chunks import read_manifest
from binlog_spark.lake.table import LakeTable
from binlog_spark.mysql import gen, oracle
from binlog_spark.mysql.gen import Change, StaticScript
from binlog_spark.streaming.tail import stream_apply

N = 33_000


def _desc(prefix: str, i: int) -> str:
    """Row ``i``'s value: lexicographically decreasing in ``i``."""
    return f"{prefix}{N - i:06d}"


@pytest.fixture(scope="module")
def mega_dump(tmp_path_factory):
    """33k sequential updates to one key inside ONE transaction."""
    changes = [Change("I" if i == 0 else "U", "org/w", "big.py",
                      _desc("c", i), "py", _desc("v", i))
               for i in range(N)]
    d = str(tmp_path_factory.mktemp("widedump"))
    cfg = gen.GenConfig(n_changes=N, rows_per_event=256, events_per_tx=200,
                        stmt_events=False, content_min=2, content_max=8)
    gen.generate(d, cfg, chunk_target=1 << 20, script=StaticScript(changes))
    assert read_manifest(d)["max_tx_rows"] > 32767  # the auto-enable trigger
    return d


#: MINIMAL fixture: content changes only in even blocks of this many rows
BLOCK = 128
LAST_CONTENT_ROW = max(i for i in range(N) if (i // BLOCK) % 2 == 0)


@pytest.fixture(scope="module")
def mega_minimal_dump(tmp_path_factory):
    """The same >32k-row single-key transaction under
    binlog_row_image=MINIMAL.  Every update changes commit; content
    changes only in even BLOCK-row blocks, so the generator's MINIMAL
    bitmap (present iff value changed) omits content in the odd ones —
    the column winners land on different events (commit at N-1,
    content at LAST_CONTENT_ROW).  A block shares one bitmap and so
    packs into one rows event: rows of one event share log_pos, the
    case the seq clamp ties."""
    changes = [Change("I", "org/w", "big.py", _desc("c", 0), "py",
                      _desc("v", 0))]
    content = _desc("v", 0)
    for i in range(1, N):
        if (i // BLOCK) % 2 == 0:
            content = _desc("v", i)
        changes.append(Change("U", "org/w", "big.py", _desc("c", i), "py",
                              content))
    d = str(tmp_path_factory.mktemp("wmindump"))
    # every bitmap change flushes an event, so the tx cap (in events)
    # must exceed the event count for the whole run to stay in ONE
    # transaction
    cfg = gen.GenConfig(n_changes=N, rows_per_event=256,
                        events_per_tx=N + 10,
                        stmt_events=False, content_min=2, content_max=8,
                        minimal_images=True)
    gen.generate(d, cfg, chunk_target=1 << 20, script=StaticScript(changes))
    assert read_manifest(d)["max_tx_rows"] > 32767
    return d


def _assert_last_writes_win(spark, table, dump, content_row: int) -> None:
    state = table.read(spark)
    assert state_fingerprint(state) == \
        oracle.state_digest(oracle.final_state(dump))
    rows = state.collect()
    assert len(rows) == 1
    assert rows[0].commit == _desc("c", N - 1)
    assert rows[0].content == _desc("v", content_row)


def _stream(spark, dump, tmp_path, **kw) -> LakeTable:
    root = str(tmp_path / "slake")
    q = stream_apply(spark, dump, root, str(tmp_path / "sckpt"),
                     n_buckets=4, **kw)
    q.awaitTermination(600)
    assert q.exception() is None
    return LakeTable(root, n_buckets=4)


def test_mega_tx_replays_to_oracle_parity(spark, mega_dump, tmp_path):
    """The last write must win exactly (auto-widened order), matching
    the sequential oracle."""
    table = replay(spark, mega_dump, str(tmp_path / "widelake"),
                   n_buckets=4, lineage=False)
    _assert_last_writes_win(spark, table, mega_dump, N - 1)


def test_mega_tx_minimal_images_replays_to_oracle_parity(
        spark, mega_minimal_dump, tmp_path):
    """The per-column reduction's wide path (the (_pos, _ord) decimal
    pair of _minimal_core) must pick the exact last write per column."""
    table = replay(spark, mega_minimal_dump, str(tmp_path / "wminlake"),
                   n_buckets=4, lineage=False, minimal_images=True)
    _assert_last_writes_win(spark, table, mega_minimal_dump,
                            LAST_CONTENT_ROW)


def test_stream_mega_tx_matches_oracle(spark, mega_dump, tmp_path):
    """The streaming tail reads the same manifest rule as replay: a
    stream of the same dump reaches the same (oracle) state."""
    _assert_last_writes_win(spark, _stream(spark, mega_dump, tmp_path),
                            mega_dump, N - 1)


def test_stream_mega_tx_minimal_images_matches_oracle(
        spark, mega_minimal_dump, tmp_path):
    table = _stream(spark, mega_minimal_dump, tmp_path, minimal_images=True)
    _assert_last_writes_win(spark, table, mega_minimal_dump,
                            LAST_CONTENT_ROW)


def test_wide_pack_orders_beyond_clamp(spark):
    """Narrow pack ties all seq >= 32767; wide pack keeps exact order."""
    from pyspark.sql import functions as F

    from binlog_spark.cdc.pipeline import pack_ord
    df = spark.createDataFrame(
        [("binlog.000001", 1000, 32767), ("binlog.000001", 1000, 40000)],
        "log_file string, log_pos long, seq_in_tx int")
    narrow = [r._ord for r in df.select(pack_ord()).collect()]
    assert narrow[0] == narrow[1]  # the clamp tie
    wide = [r._ord for r in df.select(pack_ord(wide=True)).collect()]
    assert wide[0] < wide[1]
    # non-strict wide: invalid offsets pack to decimal 0, never null
    bad = spark.createDataFrame(
        [("nonnumeric", -5, 1)],
        "log_file string, log_pos long, seq_in_tx int")
    v = bad.select(pack_ord(strict=False, wide=True)).first()._ord
    assert int(v) == 0
    # the narrow non-strict path must also tolerate "" log_file (pre-CDC
    # lake rows) under ANSI mode instead of raising a cast error
    empty = spark.createDataFrame(
        [("", 0, 0)], "log_file string, log_pos long, seq_in_tx int")
    assert empty.select(pack_ord(strict=False)).first()._ord == 0
