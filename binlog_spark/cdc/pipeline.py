"""CDC semantics over the decoded change-event DataFrame.

All-declarative (Catalyst-optimizable) implementations of the stages the
reference leaves to its caller loop (/root/reference/doc.go:33-66), designed
for the shuffle profile at 10^10 events:

  * GTID dedup           — subsumed by the winner search: redelivered
                           replicas share their packed commit order
  * last-writer-wins     — ``max_by`` aggregation (partial/map-side combine;
                           cheaper than a window sort at scale; a hot key
                           collapses to one row per map task)
  * key-change handling  — updates whose key moved emit a tombstone at the
                           old key (generalizes /root/reference/rbr.go:344-349)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: commit-order sort key within the replicated stream: file, then position,
#: then row order within the transaction (/root/reference/binlog.go:23-26).
ORDER_COLS = ("log_file", "log_pos", "seq_in_tx")

KEY_COLS = ("repo", "path")
DATA_COLS = ("commit", "lang", "content")


def _order_struct() -> F.Column:
    return F.struct(*[F.col(c) for c in ORDER_COLS])


def quarantine_bad_crc(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split off CRC-failed rows — never silently dropped (SURVEY A28)."""
    return events.filter(F.col("crc_ok")), events.filter(~F.col("crc_ok"))


def with_key_change_tombstones(events: DataFrame) -> DataFrame:
    """An UPDATE that moved the row's key must delete the old key too.

    Implemented as a per-row array explode — a union of a filtered branch
    would make Catalyst execute the (expensive) upstream decode twice."""
    cols = events.columns
    moved = ((F.col("op") == "U")
             & F.col("before_repo").isNotNull()
             & ((F.col("before_repo") != F.col("repo"))
                | (F.col("before_path") != F.col("path"))))

    def as_struct(**over: F.Column) -> F.Column:
        return F.struct(*[(over.get(c, F.col(c))).alias(c) for c in cols])

    null_s = F.lit(None).cast("string")
    over = {"op": F.lit("D"), "repo": F.col("before_repo"),
            "path": F.col("before_path")}
    for c in ("commit", "lang", "content", "extra_json", "present_cols"):
        if c in cols:
            over[c] = null_s
    arr = F.when(moved, F.array(as_struct(), as_struct(**over))) \
        .otherwise(F.array(as_struct()))
    return events.select(F.explode(arr).alias("r")).select("r.*")


#: packed commit-order key: file_no(18b) | log_pos(30b) | seq(15b) = 63 bits
#: — lets the winner search run as max(BIGINT) in a codegen'd
#: HashAggregate with map-side combine (any var-length aggregation buffer
#: forces SortAggregate in Spark).  Bounds: ≤262k binlog files, ≤1 GiB per
#: file, seq clamped at 32767 (ties beyond that break arbitrarily — only
#: reachable for >32k-row single-key transactions).
def pack_ord(*, strict: bool = True, wide: bool = False) -> F.Column:
    """``strict=True`` (the CDC pipeline): plain branch-free arithmetic —
    the bounds (numeric log_file suffix, file offsets < 2^30, file number
    < 2^18) are enforced ONCE PER CHUNK at read time
    (decoder.chunks.check_span_bounds raises before any row decodes), so
    the per-row expression stays inside whole-stage codegen (a per-row
    raise_error branch cost ~60% of the reduce).  ``strict=False`` (lake
    MERGE over rows that may predate CDC metadata): invalid offsets pack
    to 0, the lowest order, so such rows lose to any real CDC row but are
    never dropped via a null key.

    ``wide=True``: DECIMAL(38,0) order ``(file_no‖log_pos)·2^32 + seq``
    with NO seq clamp, for single transactions beyond 32767 rows on one
    key (the reference streams rows lazily and has no such limit —
    /root/reference/rbr.go:308-350).  Decimal aggregation buffers are
    fixed-width, so the winner search stays a HashAggregate; the replay
    and streaming entry points auto-enable this when the dump's manifest
    records ``max_tx_rows > 32767`` (decoder.chunks.manifest_wide_order),
    and callers of foreign dumps opt in via
    ``reduce_changes(..., wide_order=True)``."""
    raw_no = F.regexp_extract("log_file", r"(\d+)$", 1)
    # non-strict rows may carry a non-numeric log_file (pre-CDC lake
    # rows default to ""): try_cast yields null instead of an ANSI cast
    # error, and the validity branch packs those to 0
    file_no = raw_no.cast("long") if strict else raw_no.try_cast("long")
    if wide:
        hi = (F.shiftleft(file_no, 30) + F.col("log_pos")) \
            .cast("decimal(20,0)")
        packed = (hi * F.lit(4294967296).cast("decimal(20,0)")
                  + F.col("seq_in_tx").cast("long")).cast("decimal(38,0)")
        if strict:
            return packed.alias("_ord")
        valid = (file_no.isNotNull() & (file_no < F.lit(1 << 18))
                 & (F.col("log_pos") >= 0)
                 & (F.col("log_pos") < F.lit(1 << 30)))
        return F.when(valid, packed) \
            .otherwise(F.lit(0).cast("decimal(38,0)")).alias("_ord")
    seq = F.least(F.col("seq_in_tx").cast("long"), F.lit(32767))
    packed = (F.shiftleft(file_no, 45)
              + F.shiftleft(F.col("log_pos"), 15) + seq)
    if strict:
        return packed.alias("_ord")
    valid = (file_no.isNotNull() & (file_no < F.lit(1 << 18))
             & (F.col("log_pos") >= 0) & (F.col("log_pos") < F.lit(1 << 30)))
    return F.when(valid, packed).otherwise(F.lit(0).cast("long")).alias("_ord")


_OUT_COLS = (*KEY_COLS, "op", *DATA_COLS, "extra_json", *ORDER_COLS,
             "gtid", "ts_sec")


def last_writer_wins(events: DataFrame, *,
                     key_events: DataFrame | None = None,
                     broadcast_winners: bool = True,
                     wide_order: bool = False) -> DataFrame:
    """Reduce the change stream to one winning record per (repo, path).

    Every entry point (replay, the streaming tail, bench.py) takes the
    argmax plan (no ``key_events``) at every batch size.  The keyed plan
    stays only for perfbench's traced single-table pass, which still
    passes ``key_events`` and ``broadcast_winners``.

    Two plans, chosen by whether a cheap key-only probe exists:

    With ``key_events`` (a key-only decode of the same chunks,
    decoder.kernel.decode_keys — late materialization): the winner
    *order* per key is found with ``max(_ord)`` over the probe — a
    codegen'd HashAggregate with map-side combine and a tiny shuffle of
    (key, long) — and the full payload is selected by joining the
    winners back against the stream, so losing payload rows are dropped
    by a hash probe without ever aggregating or re-shuffling them.
    This is the right plan for replica-storm delivery (many identical
    copies of each event): the global winner set is tiny while per-task
    partial winners would be ~one per replica.
    ``broadcast_winners``: the winner set is (key, long) — broadcast by
    default so the payload stream is *never shuffled*; disable for
    batches whose key count exceeds driver memory (the join then
    shuffles).

    Without ``key_events``: the winner search would otherwise run on
    the FULL decode subtree — executing the expensive decode twice.  A
    single argmax pass is strictly better there:
    ``max(struct(_ord, row))`` per key is the latest row (struct
    comparison is lexicographic and the packed ``_ord`` — distinct per
    event; only identical redelivered replicas tie — leads the struct),
    decoding once, with map-side partial aggregation discarding losing
    rows before the shuffle.  The old join plan's dropDuplicates
    shuffled the same winner rows, so no extra payload bytes move.

    Hot keys need no salting in either plan: map-side combine collapses
    a hot key's updates to one row per task.
    """
    if key_events is None:
        full = events.withColumn("_ord", pack_ord(wide=wide_order))
        out_fields = [c for c in _OUT_COLS if c not in KEY_COLS]
        w = F.struct(F.col("_ord"), *[F.col(c) for c in out_fields])
        agg = full.groupBy(*KEY_COLS).agg(F.max(w).alias("_w"))
        return agg.select(
            *KEY_COLS, *[F.col("_w")[c].alias(c) for c in out_fields])
    keys = key_events.withColumn("_ord", pack_ord(wide=wide_order))
    winners = keys.groupBy(*KEY_COLS).agg(F.max("_ord").alias("_ord"))
    if broadcast_winners:
        # as a bare broadcast child the winner agg's FINAL step runs as
        # ONE collect task merging every map task's combine output
        # (measured 2-4 s serial at sf0.1); the lazy local checkpoint
        # materializes the aggregation distributed and the broadcast
        # builds from its blocks instead
        winners = F.broadcast(winners.localCheckpoint(eager=False))
    full = events.withColumn("_ord", pack_ord(wide=wide_order))
    joined = full.join(winners, on=[*KEY_COLS, "_ord"], how="inner")
    # identical redelivered replicas share (key, _ord): keep one
    return (joined.dropDuplicates(list(KEY_COLS))
            .select(*_OUT_COLS))


def reduce_changes(events: DataFrame, *,
                   key_events: DataFrame | None = None,
                   broadcast_winners: bool = True,
                   wide_order: bool = False) -> DataFrame:
    """Full reduction: quarantine → tombstones → last-writer-wins.

    Output: one row per touched key with ``op`` in {I,U,D} — exactly the
    upsert batch the lake MERGE consumes.

    No GTID dedup pass: at-least-once redelivery produces byte-identical
    records with identical (log_file, log_pos, seq_in_tx) order keys, so
    the winner search already yields the same result — a dropDuplicates
    would add a second full shuffle of the event stream for no semantic
    gain (this is the exactly-once argument: identical-replica
    idempotence here, batch-id idempotence at the sink)."""
    good, _bad = quarantine_bad_crc(events)
    good = with_key_change_tombstones(good)
    if key_events is not None:
        key_good = key_events.filter(F.col("crc_ok"))
        key_good = with_key_change_tombstones(key_good)
    else:
        key_good = None
    return last_writer_wins(good, key_events=key_good,
                            broadcast_winners=broadcast_winners,
                            wide_order=wide_order)


def reduce_changes_minimal(events: DataFrame,
                           extra_names: list[str] | None = None,
                           *, key_events: DataFrame | None = None,
                           wide_order: bool = False
                           ) -> DataFrame:
    """Reduction for streams with MINIMAL row images: partial after-images
    PATCH columns instead of replacing the row, so last-writer-wins runs
    PER COLUMN, not per row.

    Per key: a *barrier* is any full-image event (I, full U) or a delete —
    column values from before the latest barrier are dead.  Each payload
    column's winner is the latest event at-or-after the barrier where the
    column was present.  Computed in ONE aggregation pass over the
    stream (per-column ``max(struct(order, value))`` argmaxes + the
    barrier max, checked against each other after the aggregation —
    equivalent because max is a selection); map-side partial aggregation
    means only winning cells reach the shuffle.  No driver state.

    Key-moving partial UPDATEs inherit the unchanged columns of the row
    at the OLD key (the physical row keeps them in MySQL): events that
    precede a move-out are remapped to the chain's final key.  The move
    EDGE set (one row per key-moving update — tiny vs the stream) is
    closed exactly on the driver for batches up to DRIVER_CLOSURE_CAP
    edges (chains of any length, cycle-checked); a larger batch falls
    back to the distributed time-windowed edge composition (plain
    joins, composed until convergence, no driver state), and
    the reduced row carries ``base_repo/base_path``
    so the MERGE can coalesce from the origin row (whose bucket is always
    touched — its own tombstone stages there).

    MySQL reuses deleted keys, so a key's in-batch history can hold DEAD
    row generations next to the history of the row that finally lives
    there (e.g. ``I(X) … D(X) … partial U moving O→X``: the sequential
    apply inherits X's unchanged columns from O's row, and X's own dead
    I/D must contribute nothing — see mysql/oracle.apply_records).  Raw
    log order can't express that (the dead D at X would barrier-kill the
    remapped O values it precedes), so every event is classified dead or
    physical first and ranked by an *effective* order:

      * a native event at a move-target key is DEAD if it precedes the
        first move-in (it belongs to a prior row generation — the move-in
        proves that generation was deleted);
      * a remapped event is DEAD if its source-key window has its own
        move-in and the event precedes it (the old row that occupied the
        key before the tracked row arrived);
      * dead events are excluded from the column-winner and barrier
        argmaxes;
      * effective order = the (arrival position, own order) pair,
        compared lexicographically — remapped events rank at their
        chain's arrival at the final key (just before the move-in
        event), natives at their own position.

    Output matches reduce_changes plus ``present_cols``: null = the row
    fully resolved within this batch; else a csv of the columns this
    batch resolved — LakeTable.merge coalesces the rest from the
    chain-origin row (``base_repo/base_path`` set) or the existing row at
    the same key.  ``is-patch`` is derived from whether every payload
    column actually resolved, not from barrier presence (a dead barrier
    must not mask an unresolved move-in).  Batches must arrive in log
    order (true for replay and the streaming tail; idempotent re-delivery
    of the same batch is safe).

    ``key_events``: optionally a cheap key-only decode of the same
    chunks (decoder.kernel.decode_keys) — the key-move EDGE probe runs
    on it instead of the full decode, so payload bytes are decoded
    exactly once (inside the single reduction pass)."""
    payload = ["commit", "lang", "content", *(extra_names or [])]
    good, _bad = quarantine_bad_crc(events)
    good = with_key_change_tombstones(good)
    key_good = (key_events.filter(F.col("crc_ok"))
                if key_events is not None else None)

    def value_of(c: str) -> F.Column:
        if c in DATA_COLS:
            return F.col(c)
        return F.get_json_object("extra_json", f"$.{c}")

    return _minimal_core(good, payload, value_of,
                         key_good=key_good, wide_order=wide_order)


#: the byte rule perfbench's traced single-table pass uses to pick the
#: keyed plan's winner join (broadcast at or above this much binlog
#: input).  No entry point reads it: every FULL batch takes the argmax.
BROADCAST_WINNERS_MIN_BYTES = 256 << 20

#: key-move edge sets at or below this size are closed on the driver
#: (exact chain-following, any length, cycle-checked) instead of via the
#: 14-round distributed composition.  Edges are one row per KEY-MOVING
#: update — a tiny fraction of any real change stream — so ~every batch
#: takes this path; the distributed closure remains for the pathological
#: batch whose move set alone outgrows driver memory.
DRIVER_CLOSURE_CAP = 100_000


def _close_moves_driver(edge_rows: list) -> tuple[list, list, list]:
    """Exact closure of the key-move edge set on the driver.

    Input rows carry (f_r, f_p, lo_ord, m_ord, t_r, t_p) — one edge per
    key-moving update, windowed by the source key's previous move-out
    (lo_ord).  Mirrors the distributed time-constrained composition in
    ``_apply_moves_distributed`` (a chain continues through the target
    key's first move-out strictly inside (h_lo, h_m)) but follows chains
    of ANY length and detects true cycles exactly, so the 15-hop batch
    limit does not apply on this path.

    Returns (remap_rows, min_in_rows, origin_rows):
      * remap:  (r_r, r_p, m_ord, t_r, t_p, in_ord, lo_ord, arr_ord) —
        events at a moved-from key inside (lo_ord, m_ord) follow the
        chain to (t_r, t_p); arr_ord = the latest move-in INTO the source
        key inside the window (events before it are a dead generation);
      * min_in: (n_r, n_p, _min_in) — first chain arrival per final key;
      * origin: (repo, path, base_repo_m, base_path_m) — the chain start
        of the latest arrival per final key.
    """
    import bisect
    by_src: dict = {}
    by_tgt: dict = {}
    for e in edge_rows:
        by_src.setdefault((e.f_r, e.f_p), []).append(e)
        by_tgt.setdefault((e.t_r, e.t_p), []).append(e.m_ord)
    for k, v in by_src.items():
        v.sort(key=lambda e: e.m_ord)
    src_ords = {k: [e.m_ord for e in v] for k, v in by_src.items()}
    for v in by_tgt.values():
        v.sort()

    n = len(edge_rows)
    fin = []  # (f_r, f_p, lo_ord, m_ord, t_r, t_p, in_ord)
    for e in edge_rows:
        t_r, t_p, in_ord = e.t_r, e.t_p, e.m_ord
        hops = 0
        while True:
            lst = by_src.get((t_r, t_p))
            if not lst:
                break
            i = bisect.bisect_right(src_ords[(t_r, t_p)], in_ord)
            if i >= len(lst) or not (lst[i].lo_ord < in_ord
                                     < lst[i].m_ord):
                break
            t_r, t_p, in_ord = lst[i].t_r, lst[i].t_p, lst[i].m_ord
            hops += 1
            # invariant guard: each hop strictly raises in_ord and
            # consumes one window, so > n hops is unreachable unless the
            # edge set itself is inconsistent
            if hops > n:
                raise ValueError(
                    "reduce_changes_minimal: key-move closure exceeded "
                    "the edge count; inconsistent move edge set")
        fin.append((e.f_r, e.f_p, e.lo_ord, e.m_ord, t_r, t_p, in_ord))

    remap = []
    for (f_r, f_p, lo_ord, m_ord, t_r, t_p, in_ord) in fin:
        arr = None
        ords = by_tgt.get((f_r, f_p))
        if ords:
            i = bisect.bisect_left(ords, m_ord)  # move-ins strictly < m_ord
            if i > 0 and ords[i - 1] > lo_ord:
                arr = ords[i - 1]
        remap.append((f_r, f_p, m_ord, t_r, t_p, in_ord, lo_ord, arr))

    min_in: dict = {}
    win: dict = {}  # final key -> (in_ord, (m_ord, f_r, f_p))
    for (f_r, f_p, lo_ord, m_ord, t_r, t_p, in_ord) in fin:
        k = (t_r, t_p)
        if k not in min_in or in_ord < min_in[k]:
            min_in[k] = in_ord
        start = (m_ord, f_r, f_p)
        if (k not in win or in_ord > win[k][0]
                or (in_ord == win[k][0] and start < win[k][1])):
            win[k] = (in_ord, start)
    min_in_rows = [(k[0], k[1], v) for k, v in min_in.items()]
    origin_rows = [(k[0], k[1], v[1][1], v[1][2]) for k, v in win.items()]
    return remap, min_in_rows, origin_rows


def _minimal_core(good: DataFrame, payload: list[str], value_of,
                  *, key_good: DataFrame | None = None,
                  wide_order: bool = False) -> DataFrame:
    """Schema-generic per-column MINIMAL reduction (semantics documented
    on reduce_changes_minimal).  ``good`` is the quarantined, tombstoned
    event stream with columns (repo, path) as the — possibly packed —
    key, (before_repo, before_path) as the pre-image key, ``op``,
    ``present_cols`` (csv over ``payload`` names, null = full image),
    ORDER_COLS, gtid, ts_sec.  ``value_of(col)`` yields each payload
    column's value expression.  The multi-table path adapts arbitrary
    primary keys onto this core by packing pk cells into the ``repo``
    column (cdc.multi.table_upserts_minimal).

    ``wide_order``: DECIMAL(38,0) order with no seq clamp, for single
    transactions beyond 32767 rows on one key (the reference streams
    rows lazily and has no such limit, /root/reference/rbr.go:308-350).
    The winner argmaxes compare the ``(_pos, _ord)`` struct
    lexicographically, which is order-type agnostic — narrow (long) and
    wide (decimal) share the same single-pass code."""
    # NO persist of the decoded stream: a payload-string columnar cache
    # build costs more than recomputing the decode (measured round 1 and
    # again round 4 — 153 core-sec for a 40k-change batch).  The stream
    # is consumed by exactly ONE aggregation pass below, and the
    # key-move EDGE probe runs on ``key_good`` (a length-skipping
    # key-only decode, ~3-4× cheaper) when provided.
    ev = good.withColumn("_ord", pack_ord(wide=wide_order))
    ord_type = "decimal(38,0)" if wide_order else "long"

    # --- key-move lineage ---------------------------------------------------
    moved = ((F.col("op") == "U") & F.col("before_repo").isNotNull()
             & ((F.col("before_repo") != F.col("repo"))
                | (F.col("before_path") != F.col("path"))))
    key_src = (key_good.withColumn("_ord", pack_ord(wide=wide_order))
               if key_good is not None else ev)
    moves = (key_src.filter(moved)
             .select(F.col("before_repo").alias("f_r"),
                     F.col("before_path").alias("f_p"),
                     F.col("repo").alias("t_r"),
                     F.col("path").alias("t_p"),
                     F.col("_ord").alias("m_ord")))
    # each edge gets its key-reuse window: (lo_ord, m_ord) = events at the
    # source key between its previous move-out and this one belong to the
    # row THIS edge moved (MySQL reuses vacated keys, so one key can be a
    # move source many times)
    from pyspark.sql.window import Window
    edges = moves.withColumn("lo_ord", F.coalesce(
        F.lag("m_ord").over(
            Window.partitionBy("f_r", "f_p").orderBy("m_ord")),
        F.lit(-1)))
    # probe the edge set with ONE action.  Almost every real batch lands
    # in the first two arms: zero key-moves (skip the lineage machinery
    # outright) or a small edge set (exact driver-side closure, no join
    # rounds, no hop cap) — and on those arms the edge set is referenced
    # exactly once more, so the former count-then-collect on a lazy
    # localCheckpoint paid an extra job plus the checkpoint's AQE
    # finalization (profiled at 0.2-0.8 s of driver time per table, per
    # batch) for nothing.  collect directly and count the rows; the
    # pathological over-cap edge set is bounded by
    # spark.driver.maxResultSize (its rows are a few dozen bytes) and is
    # discarded immediately; a batch so large that even the collect is
    # refused routes to the distributed arm via the size error.
    try:
        probe = edges.collect()
        n_edges = len(probe)
    except Exception as e:  # result-size refusal only; real errors re-raise
        if "maxResultSize" not in str(e):
            raise
        probe, n_edges = [], DRIVER_CLOSURE_CAP + 1
    if n_edges > DRIVER_CLOSURE_CAP:
        probe = []
        # the distributed composition below references the edge set once
        # per hop round: truncate the plan so each reference doesn't
        # re-embed (and re-analyze) the whole decode subtree.  Lazy local
        # checkpoint: blocks materialize with the first action and are
        # reclaimed by the ContextCleaner when the batch's DataFrames go
        # out of scope; not recomputable after executor loss — a lost
        # block fails the batch, which the idempotent replay/merge
        # retries.
        edges = edges.localCheckpoint(eager=False)
    spark = good.sparkSession
    if n_edges == 0:
        # move-free batch: no remap, nothing dead, no origin keys —
        # straight to the single reduction pass over the stream
        remap = min_in = origin = None
        ev = (ev.withColumn("_in", F.lit(None).cast(ord_type))
              .withColumn("_dead", F.lit(False)))
    elif n_edges <= DRIVER_CLOSURE_CAP:
        from ..session import local_df
        remap_rows, min_in_rows, origin_rows = _close_moves_driver(probe)
        remap = F.broadcast(local_df(
            spark, remap_rows,
            f"r_r string, r_p string, m_ord {ord_type},"
            f" t_r string, t_p string, in_ord {ord_type},"
            f" lo_ord {ord_type}, arr_ord {ord_type}"))
        min_in = F.broadcast(local_df(
            spark, min_in_rows,
            f"n_r string, n_p string, _min_in {ord_type}"))
        origin = F.broadcast(local_df(
            spark, origin_rows,
            "repo string, path string, base_repo_m string,"
            " base_path_m string"))
    else:
        # terminal closure by TIME-CONSTRAINED edge composition: a chain
        # may only continue through the target key's first move-out AFTER
        # the arrival (h_lo < in_ord < h_m) — without the window check, a
        # later move-in to a vacated key would compose with that key's
        # EARLIER move-out and route the wrong row's history.  Each round
        # composes one hop against the FIXED (checkpointed) edge table —
        # the window predicate can't ride a fin⋈fin doubling, so the
        # budget is linear: rounds run in blocks of 14 with ONE
        # convergence probe per block and continue until no chain can
        # extend.  Termination needs no hop cap: a hop's new in_ord is
        # the matched edge's m_ord and the window demands in_ord < h_m,
        # so in_ord strictly increases and every chain is bounded by the
        # (finite, fixed) edge count — same invariant the driver-side
        # closure relies on (_close_moves_driver).  The generous round
        # bound below only trips on a violated invariant, never on a
        # legal stream.  (Chains of any length are also handled exactly
        # on the driver path above; this arm only runs for >100k-edge
        # batches.)  Its joins carry no broadcast hint: the arm exists
        # because the edge set is too big for the driver; AQE still
        # broadcasts a side that turns out small.
        fin = edges.select("f_r", "f_p", "lo_ord", "m_ord", "t_r", "t_p",
                           F.col("m_ord").alias("in_ord"))
        hop = edges.select(F.col("f_r").alias("h_f_r"),
                           F.col("f_p").alias("h_f_p"),
                           F.col("lo_ord").alias("h_lo"),
                           F.col("m_ord").alias("h_m"),
                           F.col("t_r").alias("h_t_r"),
                           F.col("t_p").alias("h_t_p"))

        def _hop_cond() -> F.Column:
            return ((F.col("t_r") == F.col("h_f_r"))
                    & (F.col("t_p") == F.col("h_f_p"))
                    & (F.col("h_lo") < F.col("in_ord"))
                    & (F.col("in_ord") < F.col("h_m")))

        rounds = 0
        while True:
            for _ in range(14):
                fin = (fin.join(hop, _hop_cond(), "left")
                       .select("f_r", "f_p", "lo_ord", "m_ord",
                               F.coalesce("h_t_r", "t_r").alias("t_r"),
                               F.coalesce("h_t_p", "t_p").alias("t_p"),
                               F.coalesce("h_m", "in_ord").alias("in_ord")))
            rounds += 14
            # truncate the 14-join lineage before probing/continuing
            fin = fin.localCheckpoint(eager=False)
            if fin.join(hop, _hop_cond(), "inner").isEmpty():
                break
            # a legal chain is bounded by the edge count (each hop
            # strictly raises in_ord and consumes one window), so the
            # round budget scales with the edge set instead of a fixed
            # constant — a long-but-legal chain converges, only a
            # violated invariant can exhaust this (ADVICE r5)
            if rounds >= max(1400, n_edges + 14):
                raise RuntimeError(
                    "reduce_changes_minimal: key-move composition still "
                    f"unconverged after {rounds} hops over {n_edges} "
                    "edges — a chain cannot legally be longer than the "
                    "edge count (each hop strictly raises in_ord), so "
                    "the edge set is inconsistent; refusing to "
                    "mis-route.  If this batch is legitimate, replay "
                    "with a smaller chunks_per_batch so the edge set "
                    "fits the exact driver-side closure")
        # remap: events at a moved-from key inside the edge's window
        # follow the chain to the final key
        remap = fin.select(F.col("f_r").alias("r_r"),
                           F.col("f_p").alias("r_p"), "t_r", "t_p",
                           "m_ord", "in_ord", "lo_ord")
        # per source-key window: the move-in that delivered the tracked
        # row to this key (if any) — events before it belong to the
        # key's prior, now-dead row generation
        mt = moves.select(F.col("t_r").alias("mt_r"),
                          F.col("t_p").alias("mt_p"),
                          F.col("m_ord").alias("mt_ord"))
        remap = (remap.join(mt,
                            (F.col("mt_r") == F.col("r_r"))
                            & (F.col("mt_p") == F.col("r_p"))
                            & (F.col("mt_ord") > F.col("lo_ord"))
                            & (F.col("mt_ord") < F.col("m_ord")), "left")
                 .groupBy("r_r", "r_p", "m_ord")
                 .agg(F.first("t_r").alias("t_r"),
                      F.first("t_p").alias("t_p"),
                      F.first("in_ord").alias("in_ord"),
                      F.first("lo_ord").alias("lo_ord"),
                      F.max("mt_ord").alias("arr_ord")))
        # first arrival per final key: native events before it belong to
        # the key's prior row generation (the move-in proves it was
        # deleted)
        min_in = (fin.groupBy(F.col("t_r").alias("n_r"),
                             F.col("t_p").alias("n_p"))
                  .agg(F.min("in_ord").alias("_min_in")))
        # origin per final key: the chain start of the LATEST arrival (an
        # earlier chain at the same key is a dead generation); the start
        # is the winning chain's earliest move-out window
        win = fin.groupBy("t_r", "t_p").agg(F.max("in_ord").alias("in_ord"))
        origin = (
            fin.join(win, on=["t_r", "t_p", "in_ord"], how="inner")
            .groupBy(F.col("t_r").alias("repo"),
                     F.col("t_p").alias("path"))
            .agg(F.min(F.struct(F.col("m_ord"),
                                F.col("f_r"), F.col("f_p"))).alias("w"))
            .select("repo", "path", F.col("w.f_r").alias("base_repo_m"),
                    F.col("w.f_p").alias("base_path_m")))
    if remap is not None:
        ev = (ev.join(remap,
                      (F.col("repo") == F.col("r_r"))
                      & (F.col("path") == F.col("r_p"))
                      & (F.col("_ord") < F.col("m_ord"))
                      & (F.col("_ord") > F.col("lo_ord")), "left")
              .withColumn("_in", F.col("in_ord"))
              .withColumn("_dead", F.col("arr_ord").isNotNull()
                          & (F.col("_ord") < F.col("arr_ord")))
              .withColumn("repo", F.coalesce("t_r", "repo"))
              .withColumn("path", F.coalesce("t_p", "path"))
              .drop("r_r", "r_p", "t_r", "t_p", "m_ord", "lo_ord",
                    "in_ord", "arr_ord"))
        ev = (ev.join(min_in,
                      (F.col("repo") == F.col("n_r"))
                      & (F.col("path") == F.col("n_p")), "left")
              .withColumn("_dead", F.col("_dead")
                          | (F.col("_in").isNull()
                             & F.col("_min_in").isNotNull()
                             & (F.col("_ord") < F.col("_min_in"))))
              .drop("n_r", "n_p", "_min_in"))
    # effective order = (arrival position, own order), compared
    # LEXICOGRAPHICALLY as a struct: remapped events rank at their
    # chain's arrival at the final key, natives at their own position.
    # The struct compare subsumes both the narrow (former packed
    # pos·2^63+ord DECIMAL — identical ordering since 0 ≤ _ord < 2^63)
    # and the wide DECIMAL order (former two-stage max-pos-then-max-ord
    # searches — identical by definition of lexicographic max), so the
    # two winner-search code paths collapse into one.
    ev = ev.withColumn("_pos", F.coalesce(F.col("_in"), F.col("_ord")))

    # ONE aggregation pass replaces the former melt → barrier join →
    # per-(key,col) winner search → value join-back → pivot → top join
    # pipeline (r6: each of those was a shuffle, an adaptive stage and a
    # codegen unit; at real batch sizes they were extra passes over the
    # stream, and at the bench fixture sizes their per-stage fixed cost
    # WAS the query).  Correctness: max is a *selection*, so filtering
    # candidates to ``eff >= barrier`` before the max is equivalent to
    # taking the unfiltered max and testing it against the barrier
    # afterwards — if the max passes the filter it is the filtered max,
    # and if it fails no candidate passes (the latest alive barrier can
    # only out-rank every candidate when it is a DELETE; a full-image
    # barrier is itself a candidate for every column).  The
    # lexicographic ``max(struct(_pos, _ord, v))`` is the argmax by
    # (_pos, _ord): pairs are distinct per event — only identical
    # redelivered replicas tie, and their payloads are byte-identical.
    # Scale shape: one pass over the stream with map-side partial
    # aggregation — one row per key per task reaches the shuffle,
    # carrying the winning cells only, never the losing payload bytes.
    # (The former plan also needed the stream materialized into a local
    # checkpoint because ~6 sub-plans re-read it; a single pass makes
    # that materialization pointless and it is gone.)
    dead = F.col("_dead")
    is_barrier = (F.col("op") == "D") | F.col("present_cols").isNull()
    pres_arr = F.split("present_cols", ",")
    aggs = [
        # the key's latest event (op + commit-order metadata) over ALL
        # events incl. dead generations — argmax by _ord (first field;
        # every dead event is out-ranked by an alive move-in at the same
        # key, so this equals the old top-of-ev search)
        F.max(F.struct(
            F.col("_ord"), F.col("op"), *[F.col(c) for c in ORDER_COLS],
            F.col("gtid"), F.col("ts_sec"))).alias("_top"),
        # latest alive barrier (full image or delete)
        F.max(F.when(is_barrier & ~dead,
                     F.struct(F.col("_pos").alias("_pos"),
                              F.col("_ord").alias("_ord")))).alias("_bar"),
    ]
    for c in payload:
        present = (F.col("present_cols").isNull()
                   | F.array_contains(pres_arr, F.lit(c)))
        aggs.append(F.max(F.when(
            ~dead & (F.col("op") != "D") & present,
            F.struct(F.col("_pos").alias("_pos"),
                     F.col("_ord").alias("_ord"),
                     value_of(c).alias("v")))).alias(f"_w_{c}"))
    out = ev.groupBy(*KEY_COLS).agg(*aggs)

    if origin is not None:
        out = out.join(origin, on=list(KEY_COLS), how="left")
    else:
        out = (out.withColumn("base_repo_m", F.lit(None).cast("string"))
               .withColumn("base_path_m", F.lit(None).cast("string")))

    neg1 = F.lit(-1).cast(ord_type)
    bar = F.coalesce(F.col("_bar"),
                     F.struct(neg1.alias("_pos"), neg1.alias("_ord")))

    def resolved(c: str) -> F.Column:
        w = F.col(f"_w_{c}")
        return w.isNotNull() & (F.struct(w["_pos"].alias("_pos"),
                                         w["_ord"].alias("_ord")) >= bar)

    resolved_csv = F.array_join(F.filter(F.array(*[
        F.when(resolved(c), F.lit(c)) for c in payload]),
        lambda x: x.isNotNull()), ",")
    # a patch = some payload column did NOT resolve within this batch —
    # never inferred from barrier presence (a dead generation's barrier
    # must not turn a partial move-in into a full image of NULLs)
    unresolved_any = None
    for c in payload:
        miss = ~resolved(c)
        unresolved_any = miss if unresolved_any is None \
            else (unresolved_any | miss)
    is_patch = (F.col("_top")["op"] != "D") & unresolved_any
    out = out.select(
        *KEY_COLS, F.col("_top")["op"].alias("op"),
        *[F.when(resolved(c), F.col(f"_w_{c}")["v"]).alias(c)
          for c in payload],
        F.when(is_patch, resolved_csv)
        .otherwise(F.lit(None).cast("string")).alias("present_cols"),
        # the chain-origin key: MERGE inherits unresolved columns from
        # the row that lived there (null = no move lineage / fully
        # resolved)
        F.when(is_patch, F.col("base_repo_m")).alias("base_repo"),
        F.when(is_patch, F.col("base_path_m")).alias("base_path"),
        *[F.col("_top")[c].alias(c) for c in ORDER_COLS],
        F.col("_top")["gtid"].alias("gtid"),
        F.col("_top")["ts_sec"].alias("ts_sec"))
    return out


def flatten_extras(upserts: DataFrame,
                   names: list[str]) -> tuple[DataFrame, list[str]]:
    """Promote schema-evolution extras (the ``extra_json`` map) to real
    columns.

    ``names`` come from a TABLE_MAP scan — ``scan_extra_columns`` on the
    driver (milliseconds) or ``registry_extra_columns`` of a batch's
    registry — never from executing the upsert pipeline."""
    if "extra_json" not in upserts.columns:
        return upserts, []
    for n in names:
        upserts = upserts.withColumn(
            n, F.get_json_object("extra_json", f"$.{n}"))
    return upserts.drop("extra_json"), names


BASE_COLS = (*KEY_COLS, *DATA_COLS)


def scan_extra_columns(spans: list[tuple]) -> list[str]:
    """Driver-side schema discovery: parse the newest TABLE_MAP in the
    batch — column additions are monotonic (SURVEY §1.2), so it carries
    the batch's widest schema.  Walks chunk spans from the END because a
    trailing chunk may hold only a ROTATE/format event and no TABLE_MAP
    at all; each chunk's TABLE_MAPs come from the shared frame walk
    (decoder.frames.table_map_bodies).  Milliseconds vs executing the
    distributed pipeline for a name probe."""
    import os

    from ..decoder.frames import table_map_bodies
    from ..mysql.decode import Cur, parse_table_map
    for dump_dir, log_file, off, ln in reversed(spans):
        with open(os.path.join(dump_dir, log_file), "rb") as f:
            f.seek(off)
            data = f.read(ln)
        last_tme = None
        for last_tme in table_map_bodies(data, off == 0):
            pass
        if last_tme is not None:
            tme = parse_table_map(Cur(last_tme))
            return sorted({c.name for c in tme.columns
                           if c.name and c.name not in BASE_COLS})
    return []


def registry_extra_columns(registry: dict) -> list[str]:
    """Schema-evolution extras of a TABLE_MAP registry
    (cdc.multi.scan_table_registry_spans or _blobs): the widest table's
    columns minus the base and unnamed ones — column additions are
    monotonic, so the widest TABLE_MAP is the newest."""
    if not registry:
        return []
    names = max((t["columns"] for t in registry.values()), key=len)
    # the registry names an unnamed column by its ordinal, "@i"
    return sorted({n for i, n in enumerate(names)
                   if n != f"@{i}" and n not in BASE_COLS})


def scan_extra_columns_blobs(blobs: DataFrame) -> list[str]:
    """Schema discovery for a frame of raw file blobs (columns log_file,
    chunk_off, data): registry_extra_columns of a small distributed
    frame scan (cdc.multi.scan_table_registry_blobs)."""
    from .multi import scan_table_registry_blobs
    return registry_extra_columns(scan_table_registry_blobs(blobs))


def final_state(upserts: DataFrame,
                extra_names: list[str]) -> DataFrame:
    """Terminal state of an empty-start replay: drop tombstones, promote
    schema-evolution extras named by ``extra_names`` (the driver-side
    TABLE_MAP scan, scan_extra_columns; see flatten_extras)."""
    flat, extras = flatten_extras(upserts, names=extra_names)
    return (flat.filter(F.col("op") != "D")
            .select(*KEY_COLS, *DATA_COLS, *extras))


def state_fingerprint(state: DataFrame) -> str:
    """Order-insensitive digest of a (repo, path, commit, lang, content)
    state DF — the distributed twin of mysql.oracle.state_digest: per-row
    sha256 over the same canonical serialization, SUMMED in two 60-bit
    lanes.  A sum commutes, so this is one aggregate over the table (map-
    side combine, one scalar to the driver) instead of an ordered collect
    — fingerprinting a 100 TB table costs a scan, not driver memory."""
    base = ("repo", "path", "commit", "lang", "content")
    extra_cols = sorted(c for c in state.columns if c not in base)
    if extra_cols:
        extras = F.array_join(F.filter(F.array(*[
            F.when(F.col(c).isNotNull(),
                   F.concat(F.lit(f"{c}="), F.col(c).cast("string")))
            for c in extra_cols]), lambda x: x.isNotNull()), "\x1e")
    else:
        extras = F.lit("")
    line = F.concat_ws(
        "\x1f", F.col("repo"), F.col("path"),
        F.coalesce(F.col("commit"), F.lit("")),
        F.coalesce(F.col("lang"), F.lit("")),
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256),
        extras)
    h = F.sha2(line, 256)
    row = state.select(
        F.sum(F.conv(F.substring(h, 1, 15), 16, 10)
              .cast("decimal(38,0)")).alias("a"),
        F.sum(F.conv(F.substring(h, 17, 15), 16, 10)
              .cast("decimal(38,0)")).alias("b"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    a = int(row.a or 0) % (1 << 120)
    b = int(row.b or 0) % (1 << 120)
    return f"{row.n:x}:{a:030x}:{b:030x}"
