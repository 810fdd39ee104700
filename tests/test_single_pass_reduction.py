"""Regression pins for the round-6 single-pass argmax reductions.

Three properties the rewrite depends on:

  * the probe-less ``reduce_changes`` plan (one argmax pass) must equal
    the key-probe late-materialization plan on the same stream — both
    winner searches select by the same packed order, so any divergence
    is a bug in one of them;
  * the minimal reduction's barrier check runs AFTER the per-column
    argmax (max commutes with the ``eff >= barrier`` filter because max
    is a selection) — the delete-masks-stale-columns case is the one
    where the post-check must actually fire;
  * ``table_upserts``'s ``max(struct(_ord, row))`` is the per-key
    latest row, including the key-move tombstone at the old key.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from binlog_spark.cdc.pipeline import (reduce_changes,
                                       reduce_changes_minimal)
from binlog_spark.decoder.kernel import CHANGE_SCHEMA, decode_changes, \
    decode_keys


def _rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def test_nokeys_plan_equals_keyed_plan(spark):
    """The argmax plan (no probe) and the late-materialization plan
    (key probe + winner join) must produce identical rows on a fixture
    with inserts, updates, deletes and key moves."""
    from binlog_spark.decoder.chunks import chunks_df
    from binlog_spark.ops import binlog_demo
    dump = binlog_demo.ensure_fixture("/root/testdata/sf0.001")
    cdf = chunks_df(spark, dump)
    ev = decode_changes(cdf)
    keys = decode_keys(cdf)
    nokeys = _rows_of(reduce_changes(ev))
    keyed = _rows_of(reduce_changes(ev, key_events=keys))
    assert nokeys == keyed
    # the wide-order argmax variant selects the same winners
    assert _rows_of(reduce_changes(ev, wide_order=True)) == keyed


def _ev_df(spark, rows):
    cols = [f.name for f in CHANGE_SCHEMA.fields]
    filled = []
    for r in rows:
        base = {"op": "I", "repo": None, "path": None, "commit": None,
                "lang": None, "content": None, "extra_json": None,
                "before_repo": None, "before_path": None, "gtid": "g:1",
                "seq_in_tx": 0, "log_file": "binlog.000001", "log_pos": 0,
                "ts_sec": 1, "crc_ok": True, "present_cols": None}
        base.update(r)
        filled.append(tuple(base[c] for c in cols))
    return spark.createDataFrame(filled, CHANGE_SCHEMA)


def test_delete_barrier_masks_stale_columns(spark):
    """I(full) → partial U{commit} → D → partial U{lang}: the delete
    out-ranks every candidate for commit/content, so the surviving row
    is a PATCH resolving only lang — the post-aggregation barrier check
    must kill the stale pre-delete winners."""
    ev = _ev_df(spark, [
        {"op": "I", "repo": "r", "path": "p", "commit": "c0", "lang": "l0",
         "content": "x0", "log_pos": 100},
        {"op": "U", "repo": "r", "path": "p", "before_repo": "r",
         "before_path": "p", "commit": "c1", "present_cols": "commit",
         "log_pos": 200},
        {"op": "D", "repo": "r", "path": "p", "log_pos": 300},
        {"op": "U", "repo": "r", "path": "p", "before_repo": "r",
         "before_path": "p", "lang": "l2", "present_cols": "lang",
         "log_pos": 400},
    ])
    out = {(r.repo, r.path): r.asDict()
           for r in reduce_changes_minimal(ev).collect()}
    row = out[("r", "p")]
    assert row["op"] == "U"
    assert row["lang"] == "l2"
    assert row["commit"] is None and row["content"] is None
    assert row["present_cols"] == "lang"  # a patch: only lang resolved


def test_full_image_after_delete_resolves_all(spark):
    """A full image past the delete is itself a candidate for every
    column at the barrier's own order — nothing may be masked."""
    ev = _ev_df(spark, [
        {"op": "I", "repo": "r", "path": "p", "commit": "c0", "lang": "l0",
         "content": "x0", "log_pos": 100},
        {"op": "D", "repo": "r", "path": "p", "log_pos": 200},
        {"op": "I", "repo": "r", "path": "p", "commit": "c2", "lang": "l2",
         "content": "x2", "log_pos": 300},
    ])
    out = {(r.repo, r.path): r.asDict()
           for r in reduce_changes_minimal(ev).collect()}
    row = out[("r", "p")]
    assert row["op"] == "I"
    assert (row["commit"], row["lang"], row["content"]) == ("c2", "l2", "x2")
    assert row["present_cols"] is None  # fully resolved


def test_per_column_winners_are_independent(spark):
    """Two partial updates touching different columns: each column's
    winner is its own latest-present event, not the row's last event."""
    ev = _ev_df(spark, [
        {"op": "I", "repo": "r", "path": "p", "commit": "c0", "lang": "l0",
         "content": "x0", "log_pos": 100},
        {"op": "U", "repo": "r", "path": "p", "before_repo": "r",
         "before_path": "p", "commit": "c1", "present_cols": "commit",
         "log_pos": 200},
        {"op": "U", "repo": "r", "path": "p", "before_repo": "r",
         "before_path": "p", "lang": "l2", "present_cols": "lang",
         "log_pos": 300},
    ])
    out = {(r.repo, r.path): r.asDict()
           for r in reduce_changes_minimal(ev).collect()}
    row = out[("r", "p")]
    assert (row["commit"], row["lang"], row["content"]) == ("c1", "l2", "x0")
    assert row["present_cols"] is None  # all three columns resolved
    assert row["log_pos"] == 300  # top event's commit order


def test_table_upserts_argmax_and_move_tombstone(spark):
    """Latest row per pk wins; a key-moving update deletes the old key."""
    from binlog_spark.cdc.multi import table_upserts
    from binlog_spark.decoder.generic import VALS_SCHEMA
    rows = [
        {"op": "I", "table_schema": "s", "table_name": "t",
         "before_vals": None, "after_vals": ["1", "a1", "b1"],
         "before_present": None, "after_present": None, "gtid": "g:1",
         "seq_in_tx": 0, "log_file": "binlog.000001", "log_pos": 100,
         "ts_sec": 1, "crc_ok": True},
        {"op": "U", "table_schema": "s", "table_name": "t",
         "before_vals": ["1", "a1", "b1"], "after_vals": ["2", "a2", "b2"],
         "before_present": None, "after_present": None, "gtid": "g:2",
         "seq_in_tx": 0, "log_file": "binlog.000001", "log_pos": 200,
         "ts_sec": 2, "crc_ok": True},
        {"op": "U", "table_schema": "s", "table_name": "t",
         "before_vals": ["2", "a2", "b2"], "after_vals": ["2", "a3", "b2"],
         "before_present": None, "after_present": None, "gtid": "g:3",
         "seq_in_tx": 0, "log_file": "binlog.000001", "log_pos": 300,
         "ts_sec": 3, "crc_ok": True},
    ]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in VALS_SCHEMA.fields) for r in rows],
        VALS_SCHEMA)
    out = {r.k: r.asDict()
           for r in table_upserts(df, ["k", "a", "b"], ["k"]).collect()}
    assert out["1"]["op"] == "D"  # move-out tombstone at the old key
    assert out["1"]["a"] is None
    assert out["2"]["op"] == "U" and out["2"]["a"] == "a3"
    assert out["2"]["log_pos"] == 300
