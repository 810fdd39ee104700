"""Multi-table replay × MINIMAL row images (round-3 VERDICT item 4).

binlog_row_image=MINIMAL on arbitrary TABLE_MAP schemas: UPDATE
before-images carry the pk only, after-images only the changed columns
(a pure key move carries just the new key cells), DELETEs pk-only WHERE
images — the subsets /root/reference/rbr.go:283-303 surfaces.  The
generic path packs each table's pk onto the verified per-column
reduction (cdc.pipeline._minimal_core) and must reproduce the
sequential oracle exactly; a FULL-image table in the same batch keeps
the row-level winner search (per-table routing).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from binlog_spark.cdc.multi import (replay_generic, table_upserts_minimal,
                                    table_root)
from binlog_spark.decoder.chunks import chunks_df
from binlog_spark.decoder.generic import decode_changes_vals
from binlog_spark.lake.table import LakeTable
from binlog_spark.mysql.gen_multi import TABLES, apply_multi, generate_multi


@pytest.fixture(scope="module")
def dump(tmp_path_factory):
    d = tmp_path_factory.mktemp("multimindump")
    generate_multi(str(d), n_changes=2500, seed=13, minimal_images=True)
    return str(d)


@pytest.fixture(scope="module")
def oracle_state(dump):
    return apply_multi(dump)


def _lake_state(spark, t: LakeTable) -> dict:
    pk = list(t.key_cols)
    out = {}
    for r in t.read(spark).collect():
        out[tuple(r[c] for c in pk)] = {c: r[c] for c in r.asDict()}
    return out


def test_vals_decoder_emits_presence(spark, dump):
    ev = decode_changes_vals(chunks_df(spark, dump))
    # MINIMAL updates: partial after image, pk-only before image
    u = ev.filter(F.col("op") == "U")
    assert u.filter(F.col("after_present").isNotNull()).count() > 0
    assert u.filter(F.col("before_present").isNotNull()).count() > 0
    # inserts stay full images (null presence)
    assert ev.filter((F.col("op") == "I")
                     & F.col("after_present").isNotNull()).count() == 0
    # vals arrays stay full-length with None at absent ordinals
    row = (u.filter(F.col("after_present").isNotNull())
           .filter(F.col("table_name") == "users").first())
    assert len(row.after_vals) == len(TABLES["users"][0])
    present = [i for i, b in enumerate(row.after_present) if b == "1"]
    absent = [i for i in range(len(row.after_vals)) if i not in present]
    assert all(row.after_vals[i] is None for i in absent)


def test_replay_minimal_matches_sequential_oracle(spark, dump,
                                                  oracle_state, tmp_path):
    lake = str(tmp_path / "lake")
    tables = replay_generic(spark, dump, lake, chunks_per_batch=8)
    assert set(tables) == set(oracle_state)
    for tkey, want in oracle_state.items():
        got = _lake_state(spark, tables[tkey])
        assert len(got) == len(want), tkey
        assert got == want, tkey


def test_replay_minimal_is_idempotent(spark, dump, oracle_state, tmp_path):
    lake = str(tmp_path / "lake2")
    replay_generic(spark, dump, lake, chunks_per_batch=8)
    t = LakeTable(table_root(lake, "inventory", "users"))
    sid = t.current_snapshot_id()
    replay_generic(spark, dump, lake, chunks_per_batch=8)
    assert t.current_snapshot_id() == sid
    assert _lake_state(spark, t) == oracle_state[("inventory", "users")]


def test_minimal_shuffle_winner_join(spark, dump, oracle_state, tmp_path):
    """Large batches (64 chunks, the shape the former shuffle-join escape
    hatch covered) must agree with the sequential oracle."""
    lake = str(tmp_path / "lake3")
    tables = replay_generic(spark, dump, lake, chunks_per_batch=64)
    for tkey, want in oracle_state.items():
        assert _lake_state(spark, tables[tkey]) == want, tkey


def test_composite_pk_partial_key_move(spark, tmp_path):
    """order_lines has a composite (order_id, line_no) pk; a MINIMAL key
    move changes both cells while the payload rides from the origin row
    via base_{pk} lineage."""
    d = str(tmp_path / "dump")
    generate_multi(d, n_changes=4000, seed=29, minimal_images=True)
    want = apply_multi(d)[("inventory", "order_lines")]
    lake = str(tmp_path / "lake")
    tables = replay_generic(spark, d, lake, chunks_per_batch=16)
    got = _lake_state(spark, tables[("inventory", "order_lines")])
    assert got == want


def test_empty_staged_batch_commits(spark, dump, tmp_path):
    """A batch of only statement/DDL transactions stages ZERO row events
    (a partitioned parquet dir with no part files): every table must
    still commit the batch id via an empty merge instead of crashing on
    schema inference, and leave no data behind."""
    import os

    from binlog_spark.cdc.multi import (apply_staged_batch, ensure_tables,
                                        scan_table_registry)
    reg = scan_table_registry(spark, chunks_df(spark, dump))
    lake = str(tmp_path / "lake")
    tables = ensure_tables(lake, reg, n_buckets=2)
    staging = str(tmp_path / "staging")
    os.makedirs(staging)
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    apply_staged_batch(spark, staging, reg, tables, "empty-batch",
                       partial_tables=set())
    for t in tables.values():
        assert "empty-batch" in t.committed_batch_ids()
        # the empty write names no file, so it must leave no commit dir
        # behind (expire_snapshots only removes dirs snapshots name)
        assert os.listdir(t.data_dir) == []


def test_table_upserts_minimal_unit(spark, dump):
    """Direct unit check of the adapter: one table's staged rows reduce to
    one row per touched key with patch metadata."""
    from binlog_spark.cdc.multi import scan_table_registry
    cdf = chunks_df(spark, dump)
    ev = (decode_changes_vals(cdf)
          .filter(F.col("crc_ok") & (F.col("table_name") == "users")))
    info = scan_table_registry(spark, cdf)[("inventory", "users")]
    up = table_upserts_minimal(ev, info["columns"], info["pk"],
                               info["types"])
    rows = up.collect()
    keys = [r.id for r in rows]
    assert len(keys) == len(set(keys))
    assert {"id", "op", "name", "email", "present_cols",
            "base_id"} <= set(up.columns)
    # patches name only the columns the batch resolved
    patched = [r for r in rows if r.present_cols is not None]
    for r in patched[:20]:
        assert set(r.present_cols.split(",")) <= ({"name", "email"} | {""})
