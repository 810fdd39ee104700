"""Key reuse after delete × MINIMAL row images — the round-3 advisor bug.

MySQL reuses deleted PKs, so a partial move-in can land on a key whose
in-batch history holds a DEAD row generation (``I(X) … D(X) … partial U
moving O→X``).  Raw log order can't reduce that: the dead generation's
delete would barrier-kill the moved row's column values, and barrier
presence would mis-classify the move-in as a full image of NULLs.  The
sequential oracle (mysql/oracle.apply_records) inherits the unchanged
columns from the old key; the distributed reduction must match it.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

from binlog_spark.cdc.pipeline import state_fingerprint
from binlog_spark.cdc.replay import replay
from binlog_spark.mysql import gen, oracle
from binlog_spark.mysql.gen import Change, StaticScript


def _gen_static(tmp_path, name, changes, chunk_target=1 << 20, **cfg_kw):
    d = str(tmp_path / name)
    cfg = gen.GenConfig(n_changes=len(changes), minimal_images=True,
                        stmt_events=False, **cfg_kw)
    gen.generate(d, cfg, chunk_target=chunk_target,
                 script=StaticScript(changes))
    return d


def _replay_digest(spark, dump, tmp_path, name, **kw):
    root = str(tmp_path / name)
    table = replay(spark, dump, root, n_buckets=4, lineage=False,
                   minimal_images=True, **kw)
    return state_fingerprint(table.read(spark)), table


def I(r, p, c, lang="py", content="body"):  # noqa: E743
    return Change("I", r, p, c, lang, content)


def test_move_into_reused_key_single_batch(spark, tmp_path):
    """I(X)…D(X)…partial U(O→X): X inherits O's unchanged columns even
    though a (dead) delete barrier sits between the remapped origin events
    and the move-in."""
    changes = [
        I("org/a", "origin.py", "c-origin", lang="go", content="keep-me"),
        I("org/a", "target.py", "c-dead", lang="rb", content="dead-body"),
        Change("D", "org/a", "target.py"),
        # partial move-in: only commit changes; lang/content must come
        # from the origin row, NOT null, NOT the dead target row's
        Change("U", "org/a", "target.py", "c-moved", "go", "keep-me",
               before_repo="org/a", before_path="origin.py"),
    ]
    dump = _gen_static(tmp_path, "reuse1", changes)
    want_state = oracle.final_state(dump)
    row = want_state[("org/a", "target.py")]
    assert row["content"] == "keep-me" and row["lang"] == "go"

    got, table = _replay_digest(spark, dump, tmp_path, "reuse1_lake")
    assert got == oracle.state_digest(want_state)
    live = {(r.repo, r.path): r for r in table.read(spark).collect()}
    assert live[("org/a", "target.py")].content == "keep-me"
    assert live[("org/a", "target.py")].commit == "c-moved"


def test_move_into_reused_key_origin_in_prior_batch(spark, tmp_path):
    """Same shape but the origin row was created in an earlier batch:
    the MERGE must coalesce from the chain-origin lake row, not the dead
    same-key row."""
    changes = [
        I("org/b", "origin.py", "c-origin", lang="go", content="old-body"),
        I("org/b", "filler1.py", "c-f1"),
        I("org/b", "filler2.py", "c-f2"),
        I("org/b", "filler3.py", "c-f3"),
        # --- later batch territory ---
        I("org/b", "target.py", "c-dead", lang="rb", content="dead"),
        Change("D", "org/b", "target.py"),
        Change("U", "org/b", "target.py", "c-moved", "go", "old-body",
               before_repo="org/b", before_path="origin.py"),
    ]
    dump = _gen_static(tmp_path, "reuse2", changes, chunk_target=1,
                       events_per_tx=1, rows_per_event=1)
    # one chunk per tx so chunks_per_batch splits origin from the move
    got, table = _replay_digest(spark, dump, tmp_path, "reuse2_lake",
                                chunks_per_batch=2)
    assert len(table.snapshots()) > 2
    assert got == oracle.state_digest(oracle.final_state(dump))
    live = {(r.repo, r.path): r for r in table.read(spark).collect()}
    assert live[("org/b", "target.py")].content == "old-body"
    assert ("org/b", "origin.py") not in live


def test_move_chain_through_dead_generations(spark, tmp_path):
    """O1→O2→X where both O2 and X carried dead generations, with a patch
    mid-chain: flattened order alone would let a dead D kill live chain
    values."""
    changes = [
        I("org/c", "o1.py", "c1", lang="go", content="chain-body"),
        I("org/c", "o2.py", "c-deadA", lang="rb", content="deadA"),
        Change("D", "org/c", "o2.py"),
        # move O1 -> O2 (only commit changes)
        Change("U", "org/c", "o2.py", "c2", "go", "chain-body",
               before_repo="org/c", before_path="o1.py"),
        # in-place patch at O2: lang changes
        Change("U", "org/c", "o2.py", "c2", "ts", "chain-body"),
        I("org/c", "x.py", "c-deadB", lang="c", content="deadB"),
        Change("D", "org/c", "x.py"),
        # move O2 -> X (only commit changes)
        Change("U", "org/c", "x.py", "c3", "ts", "chain-body",
               before_repo="org/c", before_path="o2.py"),
    ]
    dump = _gen_static(tmp_path, "reuse3", changes)
    want = oracle.final_state(dump)
    assert want[("org/c", "x.py")]["content"] == "chain-body"
    assert want[("org/c", "x.py")]["lang"] == "ts"
    got, table = _replay_digest(spark, dump, tmp_path, "reuse3_lake")
    assert got == oracle.state_digest(want)
    live = {(r.repo, r.path): r for r in table.read(spark).collect()}
    assert set(live) == {("org/c", "x.py")}
    assert live[("org/c", "x.py")].lang == "ts"
    assert live[("org/c", "x.py")].content == "chain-body"


def test_insert_reuses_deleted_key(spark, tmp_path):
    """Plain reuse: D(X) then a fresh full I(X) later in the same batch —
    the full image must win, not the tombstone."""
    changes = [
        I("org/d", "x.py", "c-old", content="old"),
        Change("D", "org/d", "x.py"),
        I("org/d", "x.py", "c-new", content="new"),
    ]
    dump = _gen_static(tmp_path, "reuse4", changes)
    got, table = _replay_digest(spark, dump, tmp_path, "reuse4_lake")
    assert got == oracle.state_digest(oracle.final_state(dump))
    live = {(r.repo, r.path): r for r in table.read(spark).collect()}
    assert live[("org/d", "x.py")].commit == "c-new"


@pytest.fixture(scope="module")
def reuse_dump(tmp_path_factory):
    """Randomized MINIMAL fixture with aggressive key reuse + moves —
    the adversarial sweep over interleavings no hand-written case pins."""
    d = str(tmp_path_factory.mktemp("reusedump"))
    gen.generate(d, gen.GenConfig(
        n_changes=4000, minimal_images=True, key_reuse_ratio=0.5,
        key_move_ratio=0.2, n_repos=12, max_file_bytes=1 << 20,
        content_max=512),
        chunk_target=128 * 1024)
    return d


def test_randomized_reuse_matches_oracle(spark, reuse_dump, tmp_path):
    want = oracle.state_digest(oracle.final_state(reuse_dump))
    got, table = _replay_digest(spark, reuse_dump, tmp_path, "rr_lake",
                                chunks_per_batch=6)
    assert len(table.snapshots()) > 2
    assert got == want


def test_randomized_reuse_no_broadcast(spark, reuse_dump, tmp_path):
    """The whole dump as one batch (the huge-batch shape that once needed
    a shuffle-join escape hatch) must produce the identical digest."""
    want = oracle.state_digest(oracle.final_state(reuse_dump))
    got, _ = _replay_digest(spark, reuse_dump, tmp_path, "rrnb_lake",
                            chunks_per_batch=None)
    assert got == want


def test_randomized_reuse_distributed_closure(spark, reuse_dump, tmp_path,
                                              monkeypatch):
    """Force the >cap distributed closure arm (cap=0): identical digest
    to the default driver-side closure over the same adversarial dump."""
    import binlog_spark.cdc.pipeline as P
    monkeypatch.setattr(P, "DRIVER_CLOSURE_CAP", 0)
    want = oracle.state_digest(oracle.final_state(reuse_dump))
    got, _ = _replay_digest(spark, reuse_dump, tmp_path, "rrdist_lake",
                            chunks_per_batch=6)
    assert got == want


def test_move_free_fast_path(spark, tmp_path):
    """A batch with zero key-moves takes the lineage-free fast path
    (no remap joins, no origin) and must still match the oracle."""
    changes = [
        I("org/e", "a.py", "c1", content="one"),
        # commit-only patch (unchanged cols absent from the after image)
        Change("U", "org/e", "a.py", "c2", "py", "one"),
        I("org/e", "b.py", "c3", content="three"),
        Change("D", "org/e", "b.py"),
        I("org/e", "c.py", "c4", content="four"),
        Change("U", "org/e", "c.py", "c5", "go", "four"),
    ]
    dump = _gen_static(tmp_path, "nomove", changes)
    got, table = _replay_digest(spark, dump, tmp_path, "nomove_lake")
    assert got == oracle.state_digest(oracle.final_state(dump))
    live = {(r.repo, r.path): r for r in table.read(spark).collect()}
    assert live[("org/e", "a.py")].commit == "c2"
    assert live[("org/e", "a.py")].content == "one"
    assert ("org/e", "b.py") not in live
    assert live[("org/e", "c.py")].lang == "go"
    assert live[("org/e", "c.py")].content == "four"


def test_driver_closure_long_chain_and_cycle():
    """_close_moves_driver follows chains of any length — the distributed
    arm's 15-hop cap does not apply — and terminates on apparent cycles
    (each hop strictly raises in_ord, so revisiting a key consumes a
    later window; no infinite loop is reachable)."""
    from collections import namedtuple

    from binlog_spark.cdc.pipeline import _close_moves_driver
    E = namedtuple("E", "f_r f_p lo_ord m_ord t_r t_p")
    # k0 -> k1 -> ... -> k40: 40 hops, one chain
    edges = [E("r", f"k{i}", -1, 100 + i, "r", f"k{i + 1}")
             for i in range(40)]
    remap, min_in, origin = _close_moves_driver(edges)
    # every edge resolves to the chain's final key and arrival order
    # remap rows: (f_r, f_p, m_ord, t_r, t_p, in_ord, lo_ord, arr_ord)
    assert all((r[3], r[4], r[5]) == ("r", "k40", 139) for r in remap)
    assert min_in == [("r", "k40", 139)]
    assert origin == [("r", "k40", "r", "k0")]
    # a↔b ping-pong: every hop consumes a strictly-later window, so the
    # walk terminates at the last move's target rather than looping
    cyc = [E("r", "a", -1, 10, "r", "b"), E("r", "b", -1, 20, "r", "a"),
           E("r", "a", 10, 30, "r", "b"), E("r", "b", 20, 40, "r", "a")]
    remap, min_in, origin = _close_moves_driver(cyc)
    assert all((r[3], r[4], r[5]) == ("r", "a", 40) for r in remap)
    assert origin == [("r", "a", "r", "a")]


def test_distributed_closure_20_hop_chain(spark, tmp_path, monkeypatch):
    """A 20-hop in-batch move chain through the DISTRIBUTED closure arm
    (cap=0): the round-4 build poisoned any chain beyond 15 hops; the
    composition now continues in 14-round blocks until convergence (the
    strictly-increasing in_ord invariant bounds every chain), so this
    must replay to oracle parity instead of raising."""
    import binlog_spark.cdc.pipeline as P
    monkeypatch.setattr(P, "DRIVER_CLOSURE_CAP", 0)
    changes = [I("org/h", "k0.py", "c0", lang="go", content="keep-me")]
    for i in range(20):
        # move k{i} -> k{i+1}, commit-only partial image: lang/content
        # must ride the whole 20-hop chain from the origin row
        changes.append(Change("U", "org/h", f"k{i + 1}.py", f"c{i + 1}",
                              "go", "keep-me",
                              before_repo="org/h",
                              before_path=f"k{i}.py"))
    dump = _gen_static(tmp_path, "hop20", changes)
    want = oracle.state_digest(oracle.final_state(dump))
    got, table = _replay_digest(spark, dump, tmp_path, "hop20_lake")
    assert got == want
    live = {(r.repo, r.path): r for r in table.read(spark).collect()}
    assert set(live) == {("org/h", "k20.py")}
    assert live[("org/h", "k20.py")].commit == "c20"
    assert live[("org/h", "k20.py")].content == "keep-me"
