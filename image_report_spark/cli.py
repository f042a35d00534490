"""CLI entry points (graft of the reference's argparse surface,
utils.py:91-207, with validation-by-SystemExit and derived defaults).

Subcommands (SURVEY.md §3.4): ``--help`` lists each with what it does.

Run via ``spark-submit --py-files engine.zip -m`` or plain ``python -m
image_report_spark.cli`` (local mode). The module is pure ``--py-files``
deployable: no native deps, no catalog service.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

from image_report_spark.config import EngineConfig, get_selected_metrics


def build_session(master: str | None, shuffle_partitions: int) -> SparkSession:
    b = SparkSession.builder.appName("image_report_spark")
    if master:
        b = b.master(master)
    return (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # PySpark 4's per-API-call error enrichment walks the Python stack
        # (inspect.currentframe loop) on EVERY DataFrame method to record a
        # user call site — measured ~0.3-0.5 s of pure driver time per apply
        # batch (plus a one-time IPython import). Batch engines want it off.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # touched-partition reads pass O(100) explicit file paths; above
        # this threshold Spark launches a distributed file-listing JOB per
        # read (default 32 paths) — driver-side stat of local/object-store
        # paths is faster than a job round-trip at any realistic manifest
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="image_report_spark")
    p.add_argument("--master", default=None, help="Spark master (default: inherit)")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("init", help="create an empty Icelite transcript table")
    sp.add_argument("--table", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--buckets", type=int, default=32)

    sp = sub.add_parser("apply", help="tail a change-log dir and merge unapplied batches")
    sp.add_argument("--table", required=True)
    sp.add_argument("--log", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--batches", type=int, default=None, help="max batches this run")
    sp.add_argument("--metrics", default="basic",
                    help="selector: basic|all|none|counts,-applied,... ")
    sp.add_argument("--on-error", choices=["quarantine", "fail"], default="quarantine")
    sp.add_argument("--update-missing", choices=["upsert", "quarantine"], default="upsert")
    sp.add_argument("--buckets", type=int, default=32)
    sp.add_argument("--grouped-resolve", action="store_true")
    sp.add_argument("--dedup-window", type=int, default=4)
    sp.add_argument("--write-mode", choices=["cow", "mor"], default="cow",
                    help="cow rewrites touched partitions; mor appends "
                         "delta files and defers the merge to read time "
                         "(fold them back with the `compact` subcommand)")
    sp.add_argument("--compact-delta-ratio", type=float, default=None,
                    help="mor auto-compaction: compact a touched partition "
                         "in the same apply once its delta bytes exceed "
                         "this fraction of its base bytes (default: manual "
                         "compaction only)")
    sp.add_argument("--no-append-fastpath", action="store_true",
                    help="disable the COW append fast-path (insert-only "
                         "partitions with provably disjoint keys append a "
                         "new file instead of rewriting the partition)")

    sp = sub.add_parser("compact", help="fold merge-on-read delta files into base files")
    sp.add_argument("--table", required=True)
    sp.add_argument("--partitions", type=int, nargs="*", default=None,
                    help="compact only these bucket ids (default: all dirty)")

    sp = sub.add_parser("replay-verify", help="rebuild from LSN 0 and diff vs the live table")
    sp.add_argument("--table", required=True)
    sp.add_argument("--log", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--scratch", required=True)

    sp = sub.add_parser("verify", help="re-hash sealed partitions' files vs the manifest")
    sp.add_argument("--table", required=True)

    sp = sub.add_parser("expire", help="drop old snapshots + unreferenced data files")
    sp.add_argument("--table", required=True)
    sp.add_argument("--keep-last", type=int, default=1)

    sp = sub.add_parser("stream", help="Structured-Streaming WAL tail (availableNow or continuous)")
    sp.add_argument("--table", required=True)
    sp.add_argument("--log", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--stream-checkpoint", required=True)
    sp.add_argument("--buckets", type=int, default=32)
    sp.add_argument("--continuous", action="store_true",
                    help="keep tailing (default: drain backlog and stop)")

    sp = sub.add_parser("sql", help="query the table (view `t`), time-travel via --snapshot")
    sp.add_argument("--table", required=True)
    sp.add_argument("--snapshot", type=int, default=None,
                    help="time-travel: query this snapshot id")
    sp.add_argument("--limit", type=int, default=100)
    sp.add_argument("query", help="SQL over the table registered as view `t`")

    sp = sub.add_parser("history", help="snapshot lineage + per-batch ledgers")
    sp.add_argument("--table", required=True)

    sp = sub.add_parser("changes", help="incremental change feed between two snapshots")
    sp.add_argument("--table", required=True)
    sp.add_argument("--from-snapshot", type=int, required=True)
    sp.add_argument("--to-snapshot", type=int, default=None)
    sp.add_argument("--limit", type=int, default=100)

    sp = sub.add_parser("gen", help="synthesize a deterministic change log (fixtures)")
    sp.add_argument("--out", required=True)
    sp.add_argument("--seed", type=int, default=0)
    sp.add_argument("--convs", type=int, default=200)
    sp.add_argument("--max-turns", type=int, default=20)
    sp.add_argument("--batches", type=int, default=8)
    sp.add_argument("--fmt", choices=["parquet", "jsonl"], default="parquet")
    sp.add_argument("--dup-frac", type=float, default=0.0)
    sp.add_argument("--late-frac", type=float, default=0.0)
    sp.add_argument("--malformed-frac", type=float, default=0.0)
    sp.add_argument("--hot-keys", type=int, default=0)
    sp.add_argument("--hot-frac", type=float, default=0.0)
    sp.add_argument("--evolve", action="store_true")

    args = p.parse_args(argv)
    # validation by SystemExit (graft of reference range checks)
    if getattr(args, "buckets", 1) < 1:
        p.error("--buckets must be >= 1")
    if getattr(args, "metrics", None) is not None:
        try:
            get_selected_metrics(args.metrics)
        except ValueError as e:
            p.error(str(e))
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    if args.cmd == "gen":
        from image_report_spark.fixtures import ChangeLogGenerator

        gen = ChangeLogGenerator(
            seed=args.seed, n_convs=args.convs, max_turns=args.max_turns,
            n_batches=args.batches, dup_frac=args.dup_frac,
            late_frac=args.late_frac, malformed_frac=args.malformed_frac,
            hot_keys=args.hot_keys, hot_frac=args.hot_frac, evolve=args.evolve,
        )
        paths = gen.write_log(args.out, fmt=args.fmt)
        print(json.dumps({"batches": len(paths), "events": len(gen.events())}))
        return 0

    spark = build_session(args.master, args.shuffle_partitions)
    from image_report_spark.engine import CdcEngine

    if args.cmd == "init":
        CdcEngine.init(spark, args.table, args.checkpoint,
                       config=EngineConfig(num_buckets=args.buckets))
        print(json.dumps({"table": args.table, "status": "created"}))
        return 0

    if args.cmd == "apply":
        cfg = EngineConfig(
            num_buckets=args.buckets,
            shuffle_partitions=args.shuffle_partitions,
            on_error=args.on_error,
            update_missing=args.update_missing,
            metrics=args.metrics,
            grouped_resolve=args.grouped_resolve,
            write_mode=args.write_mode,
            cow_append_fastpath=not args.no_append_fastpath,
            mor_compact_delta_ratio=args.compact_delta_ratio,
        )
        eng = CdcEngine.init(spark, args.table, args.checkpoint, config=cfg,
                             dedup_window_batches=args.dedup_window)
        reports = eng.run(args.log, max_batches=args.batches)
        ok = all(r.conservation_ok() for r in reports if not r.skipped)
        for r in reports:
            print(json.dumps(r.ledger(cfg.selected_metrics) | {"skipped": r.skipped}))
        # exit 1 if any batch failed its invariant (graft of ir:614-615)
        return 0 if ok else 1

    if args.cmd == "sql":
        from image_report_spark.plans.icelite import IceliteTable

        t = IceliteTable(spark, args.table)
        t.read(snapshot_id=args.snapshot).createOrReplaceTempView("t")
        rows = spark.sql(args.query).limit(args.limit).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        return 0

    if args.cmd == "history":
        from image_report_spark.plans.icelite import IceliteTable

        for entry in IceliteTable(spark, args.table).history():
            print(json.dumps(entry, default=str))
        return 0

    if args.cmd == "changes":
        from image_report_spark.plans.icelite import IceliteTable

        t = IceliteTable(spark, args.table)
        df = t.changes_between(args.from_snapshot, args.to_snapshot)
        for r in df.limit(args.limit).collect():
            print(json.dumps(r.asDict(), default=str))
        return 0

    if args.cmd == "compact":
        eng = CdcEngine(spark, args.table)
        print(json.dumps(eng.compact(partitions=args.partitions)))
        return 0

    if args.cmd == "expire":
        from image_report_spark.plans.icelite import IceliteTable

        t = IceliteTable(spark, args.table)
        deleted = t.expire_snapshots(keep_last=args.keep_last)
        print(json.dumps({"deleted_files": deleted,
                          "snapshots": t.snapshots()}))
        return 0

    if args.cmd == "stream":
        from image_report_spark.streaming.tail import stream_apply

        eng = CdcEngine.init(spark, args.table, args.checkpoint,
                             config=EngineConfig(num_buckets=args.buckets))
        q = stream_apply(eng, args.log, args.stream_checkpoint,
                         available_now=not args.continuous)
        q.awaitTermination()
        print(json.dumps({"table": args.table,
                          "batches_applied": eng.checkpoint.applied_batches()}))
        return 0

    if args.cmd == "replay-verify":
        eng = CdcEngine(spark, args.table, args.checkpoint)
        report = eng.replay_verify(args.log, args.scratch)
        print(json.dumps(report))
        return 0 if report["ok"] else 1

    if args.cmd == "verify":
        report = CdcEngine(spark, args.table).verify()
        print(json.dumps(report))
        return 0 if report["ok"] else 1

    return 2


if __name__ == "__main__":
    sys.exit(main())
