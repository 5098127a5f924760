"""CLI entry point — run the engine under spark-submit or plain python.

    spark-submit --py-files mysql_cdc_spark.zip -m mysql_cdc_spark ...   # cluster
    python -m mysql_cdc_spark replay --binlog-dir D --store-dir S        # local

Subcommands:
    replay     bounded catch-up replay (exactly-once, resumable)
    tail       continuous tail (poll loop; --idle-polls bounds the sandbox run)
    bootstrap  seed a fresh store from a consistent base-table snapshot
               (parquet path) at a source position, then `replay` catches up
    state      print the current merged table state row count + sample
    ledger     print the checkpoint ledger (GTID set, positions, metrics)
    purge      right-to-be-forgotten removal (state + history + files)
    compact    rewrite a bucketed store's position-delete chains
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mysql_cdc_spark")
    p.add_argument("--master", default=None, help="Spark master (default: local[N] from SPARK_GRAFT_CPUS)")
    sub = p.add_subparsers(dest="cmd", required=True)

    for name in ("replay", "tail"):
        sp = sub.add_parser(name)
        sp.add_argument("--binlog-dir", required=True)
        sp.add_argument("--store-dir", required=True)
        sp.add_argument("--files-per-batch", type=int, default=None)
        sp.add_argument("--salt-buckets", type=int, default=0)
        if name == "tail":
            sp.add_argument("--poll-interval", type=float, default=5.0)
            sp.add_argument("--idle-polls", type=int, default=0,
                            help="stop after N idle polls (0 = run until killed)")

    sp = sub.add_parser("bootstrap")
    sp.add_argument("--binlog-dir", required=True)
    sp.add_argument("--store-dir", required=True)
    sp.add_argument("--base", required=True, help="parquet path of the consistent base-table snapshot")
    group = sp.add_mutually_exclusive_group(required=True)
    group.add_argument("--at-position", nargs=2, metavar=("FILE", "POS"),
                       help="snapshot position: binlog file + byte position")
    group.add_argument("--at-gtid", help="snapshot GTID set text")
    group.add_argument("--at-end", action="store_true",
                       help="snapshot is current: cover everything present now")

    for name in ("state", "ledger"):
        sp = sub.add_parser(name)
        sp.add_argument("--store-dir", required=True)
        if name == "state":
            sp.add_argument("--binlog-dir", default=".")
            sp.add_argument("--limit", type=int, default=10)

    sp = sub.add_parser(
        "purge",
        help="right-to-be-forgotten: remove matching rows from state, "
        "history, and (default) every retained file",
    )
    sp.add_argument("--binlog-dir", required=True)
    sp.add_argument("--store-dir", required=True)
    sp.add_argument("--predicate", required=True,
                    help="SQL boolean over the table's columns, e.g. "
                    "\"conv_id IN ('c1','c2')\"")
    sp.add_argument("--no-erase", action="store_true",
                    help="defer physical erasure to routine gc (keeps "
                    "time travel; purged rows remain in old snapshots)")

    sp = sub.add_parser(
        "compact",
        help="rewrite a bucketed store's position-delete chains into "
        "plain bucket dirs",
    )
    sp.add_argument("--binlog-dir", required=True)
    sp.add_argument("--store-dir", required=True)
    sp.add_argument("--min-deltas", type=int, default=1)

    args = p.parse_args(argv)

    if args.cmd == "ledger":
        from .pipeline.ledger import Ledger

        for e in Ledger(args.store_dir).entries():
            print(e.to_json())
        return 0

    from .session import get_spark

    spark = get_spark(app_name=f"mysql_cdc_spark.{args.cmd}", master=args.master)

    if args.cmd == "state":
        from .pipeline.replay import Replayer

        rep = Replayer(spark, args.binlog_dir, args.store_dir)
        df = rep.read_state()
        print(json.dumps({"rows": df.count()}))
        df.show(args.limit, truncate=60)
        return 0

    from .pipeline.replay import Replayer

    if args.cmd == "bootstrap":
        from .pipeline.start import FromEnd, FromGtid, FromPosition

        if args.at_position:
            at = FromPosition(args.at_position[0], int(args.at_position[1]))
        elif args.at_gtid:
            at = FromGtid(args.at_gtid)
        else:
            at = FromEnd()
        rep = Replayer(spark, args.binlog_dir, args.store_dir)
        version = rep.bootstrap(spark.read.parquet(args.base), at=at)
        entry = rep.ledger.last()
        print(
            json.dumps(
                {
                    "snapshot_version": version,
                    "rows": entry.metrics.get("bootstrap_rows"),
                    "max_file": entry.max_file,
                    "max_pos": entry.max_pos,
                }
            )
        )
        return 0

    if args.cmd == "purge":
        rep = Replayer(spark, args.binlog_dir, args.store_dir)
        before = rep.ledger.current_snapshot_version()
        version = rep.purge_keys(args.predicate, erase=not args.no_erase)
        entry = rep.ledger.last()
        print(
            json.dumps(
                {
                    "snapshot_version": version,
                    "rows_purged": (
                        entry.metrics.get("rows_purged", 0)
                        if version != before
                        else 0
                    ),
                    "erased": not args.no_erase and version != before,
                }
            )
        )
        return 0

    if args.cmd == "compact":
        rep = Replayer(spark, args.binlog_dir, args.store_dir)
        before = rep.ledger.current_snapshot_version()
        version = rep.compact(min_deltas=args.min_deltas)
        print(
            json.dumps(
                {"snapshot_version": version, "compacted": version != before}
            )
        )
        return 0

    rep = Replayer(
        spark, args.binlog_dir, args.store_dir, salt_buckets=args.salt_buckets
    )
    if args.cmd == "replay":
        res = rep.replay(files_per_batch=args.files_per_batch)
        print(
            json.dumps(
                {
                    "batches": len(res.batches),
                    "events": res.events,
                    "seconds": round(res.seconds, 2),
                    "events_per_sec": round(res.events_per_sec, 1),
                }
            )
        )
    else:  # tail
        from .streaming import tail as tail_fn

        res = tail_fn(
            rep,
            blocking=True,
            poll_interval_s=args.poll_interval,
            max_idle_polls=args.idle_polls or 10**9,
            files_per_batch=args.files_per_batch,
            heartbeat=lambda poll, r: print(
                json.dumps({"poll": poll, "events": r.events}), file=sys.stderr
            ),
        )
        print(json.dumps({"polls": res.polls, "events": res.events}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
