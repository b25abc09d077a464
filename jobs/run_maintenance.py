#!/usr/bin/env python
"""spark-submit entrypoint for table-layout maintenance (see
kube_etl_spark/plans/layout.py):

    run_maintenance.py compact --input <dir> --output <dir> [--target-rows N]
    run_maintenance.py zorder  --input <dir> --output <dir> --by colA,colB [--files N]
    run_maintenance.py gc      --state <dir> --before-seq N [--seq-col seq] [--lease]

compact bin-packs a small-file-exploded directory; zorder rewrites a
table clustered by the Morton value of two key columns so parquet
min/max stats prune 2-d predicates; gc purges a StateTable's delete
tombstones below a seq horizon (the compaction valve for the dedup
indexes' sigs/bands/pairs tables, whose tombstones otherwise grow with
every re-crawl and compliance delete). StateTable.open_for_purge
detects the layout — a symlink is the flat publish, a directory of
bucket-* symlinks the bucketed one (only tombstone-bearing buckets are
rewritten). Choose the horizon from the stream checkpoint's committed
batch id (seq = 4·batch_id + phase): purging below a seq that a replay
could still carry re-opens the resurrection window merge_batch closes.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("compact")
    c.add_argument("--input", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--target-rows", type=int, default=1_000_000)
    z = sub.add_parser("zorder")
    z.add_argument("--input", required=True)
    z.add_argument("--output", required=True)
    z.add_argument("--by", required=True, help="two comma-separated columns")
    z.add_argument("--files", type=int, default=8)
    g = sub.add_parser("gc")
    g.add_argument("--state", required=True)
    g.add_argument("--before-seq", type=int, required=True)
    g.add_argument("--seq-col", default="seq")
    g.add_argument(
        "--lease",
        action="store_true",
        help="acquire the state's writer lease (<state>.lease) for the "
        "purge — REQUIRED when the owning job may be live: an unfenced "
        "purge rewrite races the owner's merges (both publish via the "
        "same pointer swap and each side's GC can delete the other's "
        "fresh version). Without it, only run gc while the owner is "
        "stopped.",
    )
    p = sub.add_parser(
        "prune-landing",
        help="delete landing-zone files the syncer stream has COMMITTED "
        "(checkpoint sources/commits logs) — the retention valve that "
        "keeps relist_delta_rows' landing scan O(unmerged backlog) "
        "instead of O(deployment age). Safe against a live stream: a "
        "file source never re-lists committed files.",
    )
    p.add_argument("--landing", required=True)
    p.add_argument("--checkpoint", required=True)
    args = ap.parse_args(argv)

    if args.cmd == "prune-landing":  # pure-filesystem: no SparkSession
        from kube_etl_spark.streaming.kubeapi import prune_committed_landing

        n = prune_committed_landing(args.checkpoint, args.landing)
        print(json.dumps({"cmd": args.cmd, "deleted_files": n}))
        return

    from pyspark.sql import SparkSession

    from kube_etl_spark.plans.layout import compact, zorder_write
    from kube_etl_spark.session import configure

    owned = SparkSession.getActiveSession() is None
    spark = configure(
        SparkSession.builder.appName("kube-etl-maintenance").getOrCreate()
    )
    if args.cmd == "gc":
        from kube_etl_spark.streaming.cdc import StateTable

        # normalize: islink('dir/') is False for a symlink (the slash
        # forces traversal), so a trailing slash would bounce a valid
        # flat state with 'neither ...' (review r9)
        args.state = args.state.rstrip("/") or args.state

        # the purge is key-agnostic (dir-driven, filters only __op/seq),
        # so gc opens purge-only handles whose key/bucket-dependent
        # surfaces raise instead of operating under placeholders
        # (ADVICE r8 — a live merge/probe surface under a placeholder
        # bucket expression was one call from silent misrouting)
        lease = None
        if args.lease:
            from kube_etl_spark.streaming.lease import WriterLease

            lease = WriterLease(args.state.rstrip("/") + ".lease", owner="gc")
            if not lease.acquire():
                raise SystemExit(
                    f"state {args.state} is leased by a live writer — stop "
                    "the owning job before running gc (a concurrent purge "
                    "rewrite would race its merges)"
                )
        try:
            try:
                table = StateTable.open_for_purge(
                    spark, args.state, seq_col=args.seq_col, lease=lease
                )
            except ValueError as e:  # neither layout at --state
                raise SystemExit(str(e)) from None
            table.purge_tombstones(args.before_seq)
            live = table.read()
            out = {
                "state": args.state,
                "before_seq": args.before_seq,
                "live_rows": live.count() if live is not None else 0,
            }
        finally:
            if lease is not None:
                lease.release()
    elif args.cmd == "compact":
        out = compact(spark, args.input, args.output, target_rows=args.target_rows)
    else:
        col_a, col_b = args.by.split(",")
        df = spark.read.parquet(args.input)
        zorder_write(df, args.output, col_a, col_b, n_files=args.files)
        out = {"zordered": df.count(), "by": [col_a, col_b], "files": args.files}
    print(json.dumps({"cmd": args.cmd, **out}))
    if owned:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
