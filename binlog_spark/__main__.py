"""CLI — the engine's counterpart of the reference's `binlog view|dump`
(/root/reference/cmd/binlog/main.go:44-124).

    python -m binlog_spark view DIR [--limit N]
    python -m binlog_spark statements DIR [--limit N] # statement events
    python -m binlog_spark stage DIR OUT              # dump sink (A31)
    python -m binlog_spark replay DIR LAKE [...]      # batch replay
    python -m binlog_spark replay-multi DIR LAKEROOT  # 1 stream -> N tables
    python -m binlog_spark stream DIR LAKE CKPT [...] # streaming tail
    python -m binlog_spark status LAKE                # MasterStatus (A7/A8)
    python -m binlog_spark compact LAKE
    python -m binlog_spark vacuum LAKE [--keep N]
"""

from __future__ import annotations

import argparse
import json
import sys


def cmd_view(args) -> None:
    """Pretty-print decoded change records as JSON lines
    (role of /root/reference/cmd/binlog/main.go:196-265)."""
    import os
    from .mysql import oracle
    if not os.path.isdir(args.dir):
        sys.exit(f"binlog_spark view: no such directory: {args.dir}")
    if not oracle.list_files(args.dir):
        sys.exit(f"binlog_spark view: no binlog chain (.next) in {args.dir}")
    n = 0
    for r in oracle.iter_change_records(args.dir):
        rec = {"op": r.op, "table": f"{r.table_schema}.{r.table_name}",
               "gtid": r.gtid, "seq": r.seq_in_tx,
               "offset": f"{r.log_file}:{r.log_pos}", "ts": r.ts,
               "crc_ok": r.crc_ok}
        names = r.columns or ()
        if r.after is not None:
            rec["after"] = dict(zip(names, r.after)) if names else r.after
        if r.before is not None and r.op != "U":
            rec["before"] = dict(zip(names, r.before)) if names else r.before
        print(json.dumps(rec, default=str))
        n += 1
        if args.limit and n >= args.limit:
            break


def cmd_statements(args) -> None:
    """Decode the statement-event side channel (QUERY/BEGIN/DDL,
    ROWS_QUERY, INTVAR, RAND, USER_VAR, INCIDENT) to JSON lines
    (reference parity: /root/reference/events.go:211-338)."""
    import os
    from .decoder.statements import decode_span_statements
    from .mysql import oracle
    if not os.path.isdir(args.dir):
        sys.exit(f"binlog_spark statements: no such directory: {args.dir}")
    n = 0
    for name in oracle.list_files(args.dir):
        with open(os.path.join(args.dir, name), "rb") as f:
            data = f.read()
        cols = decode_span_statements(data, name, has_magic=True)
        for i in range(len(cols["stmt_type"])):
            print(json.dumps({k: cols[k][i] for k in cols
                              if cols[k][i] is not None}))
            n += 1
            if args.limit and n >= args.limit:
                return


def _spark(args):
    from .session import get_spark_shipped
    return get_spark_shipped("binlog-spark-cli", cores=args.cores)


def cmd_stage(args) -> None:
    from .decoder.staging import stage_dump
    spark = _spark(args)
    print(json.dumps(stage_dump(spark, args.dir, args.out)))


def cmd_replay(args) -> None:
    from .cdc.replay import replay_throughput
    spark = _spark(args)
    res = replay_throughput(spark, args.dir, args.lake,
                            chunks_per_batch=args.batch_chunks,
                            n_buckets=args.buckets,
                            minimal_images=args.minimal)
    print(json.dumps(res))


def cmd_replay_multi(args) -> None:
    from .cdc.multi import replay_generic
    spark = _spark(args)
    tables = replay_generic(spark, args.dir, args.lake,
                            chunks_per_batch=args.batch_chunks,
                            n_buckets=args.buckets)
    out = {f"{sch}.{tbl}": {"root": t.root,
                            "key_cols": list(t.key_cols),
                            "snapshot": t.current_snapshot_id(),
                            "rows": t.read(spark).count()}
           for (sch, tbl), t in sorted(tables.items())}
    print(json.dumps(out))


def cmd_stream_multi(args) -> None:
    from .streaming.tail import stream_apply_multi
    spark = _spark(args)
    q = stream_apply_multi(spark, args.dir, args.lake, args.checkpoint,
                           n_buckets=args.buckets,
                           available_now=not args.follow,
                           on_batch=lambda b, snaps: print(
                               json.dumps({"batch": b, "snapshots": {
                                   f"{s}.{t}": sid
                                   for (s, t), sid in snaps.items()}}),
                               flush=True))
    q.awaitTermination()


def cmd_stream(args) -> None:
    from .streaming.tail import stream_apply
    spark = _spark(args)
    q = stream_apply(spark, args.dir, args.lake, args.checkpoint,
                     n_buckets=args.buckets,
                     available_now=not args.follow,
                     on_batch=lambda b, s: print(
                         json.dumps({"batch": b,
                                     "snapshot": s.get("snapshot_id"),
                                     "stats": s.get("stats")}), flush=True))
    q.awaitTermination()


def cmd_status(args) -> None:
    """MasterStatus analogue: last committed offsets + snapshot info."""
    from .lake.table import LakeTable
    t = LakeTable(args.lake)
    snaps = t.snapshots()
    if not snaps:
        print(json.dumps({"snapshots": 0}))
        return
    cur = snaps[-1]
    print(json.dumps({
        "snapshots": len(snaps),
        "current_snapshot": cur["snapshot_id"],
        "offsets": cur.get("offsets"),
        "schema": cur["schema"],
        "stats": cur.get("stats"),
        "committed_batch_ids": len(t.committed_batch_ids()),
    }))


def cmd_compact(args) -> None:
    from .lake.table import LakeTable
    spark = _spark(args)
    snap = LakeTable(args.lake, n_buckets=args.buckets).compact(spark)
    print(json.dumps({"snapshot": snap["snapshot_id"],
                      "stats": snap["stats"]}))


def cmd_vacuum(args) -> None:
    from .lake.table import LakeTable
    removed = LakeTable(args.lake).expire_snapshots(keep_last=args.keep)
    print(json.dumps({"removed_files": len(removed)}))


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="binlog_spark")
    p.add_argument("--cores", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("view", help="decode a dump dir to JSON lines")
    v.add_argument("dir")
    v.add_argument("--limit", type=int, default=0)
    v.set_defaults(fn=cmd_view)

    se = sub.add_parser("statements",
                        help="decode statement events to JSON lines")
    se.add_argument("dir")
    se.add_argument("--limit", type=int, default=0)
    se.set_defaults(fn=cmd_statements)

    s = sub.add_parser("stage", help="stage dump dir -> parquet chunk table")
    s.add_argument("dir")
    s.add_argument("out")
    s.set_defaults(fn=cmd_stage)

    r = sub.add_parser("replay", help="batch replay dump dir -> lake table")
    r.add_argument("dir")
    r.add_argument("lake")
    r.add_argument("--batch-chunks", type=int, default=None)
    r.add_argument("--buckets", type=int, default=32)
    r.add_argument("--minimal", action="store_true",
                   help="dump was written with binlog_row_image=MINIMAL"
                        " (partial images patch per column)")
    r.set_defaults(fn=cmd_replay)

    rm = sub.add_parser("replay-multi",
                        help="demux one dump into one lake table per source"
                             " table (PK from TABLE_MAP metadata)")
    rm.add_argument("dir")
    rm.add_argument("lake")
    rm.add_argument("--batch-chunks", type=int, default=None)
    rm.add_argument("--buckets", type=int, default=8)
    rm.set_defaults(fn=cmd_replay_multi)

    st = sub.add_parser("stream", help="stream staging dir -> lake table")
    st.add_argument("dir")
    st.add_argument("lake")
    st.add_argument("checkpoint")
    st.add_argument("--buckets", type=int, default=32)
    st.add_argument("--follow", action="store_true",
                    help="keep tailing (default: drain available and stop)")
    st.set_defaults(fn=cmd_stream)

    sm = sub.add_parser("stream-multi",
                        help="stream staging dir -> one lake table per"
                             " source table")
    sm.add_argument("dir")
    sm.add_argument("lake")
    sm.add_argument("checkpoint")
    sm.add_argument("--buckets", type=int, default=8)
    sm.add_argument("--follow", action="store_true",
                    help="keep tailing (default: drain available and stop)")
    sm.set_defaults(fn=cmd_stream_multi)

    q = sub.add_parser("status", help="lake offsets + snapshot info")
    q.add_argument("lake")
    q.set_defaults(fn=cmd_status)

    c = sub.add_parser("compact", help="rewrite buckets, drop tombstones")
    c.add_argument("lake")
    c.add_argument("--buckets", type=int, default=32)
    c.set_defaults(fn=cmd_compact)

    vac = sub.add_parser("vacuum", help="expire old snapshots + GC files")
    vac.add_argument("lake")
    vac.add_argument("--keep", type=int, default=2)
    vac.set_defaults(fn=cmd_vacuum)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
