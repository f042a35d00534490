"""Decompose an update-heavy COW merge batch (guide §1.4 noop isolation).

Builds the bench's exact table state after batches 0-3 (1 M incumbent rows,
128 buckets), then times the pieces of a b4-shaped merge with the noop sink:

  incumbent_scan   full-width scan of all rewrite partitions
  fused_resolve    union + repartition(_p) + window + rn==1 filter (no write)
  narrow_resolve   same, but incumbent carries ONLY (key, ts, lsn, op)
  survivors        incumbent scan + broadcast left_anti on batch keys + row hash
  fused_write      the real write_partition_files into a throwaway dir
  apply_batch      the engine's real fused path end to end (reference wall)

Usage: python BENCH/merge_probe.py [--repeat N]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_spark


def t(fn, reps):
    out = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn()
        out.append(round(time.monotonic() - t0, 3))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--events", type=int, default=2_000_000)
    args = ap.parse_args()

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from image_report_spark.benchgen import write_bench_log
    from image_report_spark.config import EngineConfig
    from image_report_spark.engine import CdcEngine, _live_row_hash
    from image_report_spark.plans.icelite import PART_COL
    from image_report_spark.sources.changelog import ChangeLogSource

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    scratch = os.path.join("/dev/shm", f"irs-probe-{uuid.uuid4().hex[:8]}")
    log_dir = os.path.join(scratch, "log")
    try:
        write_bench_log(log_dir, args.events, n_batches=8, seed=0)
        eng = CdcEngine.init(
            spark,
            os.path.join(scratch, "table"),
            os.path.join(scratch, "checkpoint"),
            config=EngineConfig(num_buckets=128, shuffle_partitions=max(cpus * 2, 8)),
        )
        eng.run(log_dir, max_batches=4)

        source = ChangeLogSource(spark, log_dir)
        batches = dict(source.list_batches())
        raw = source.read_batch(batches[4])
        snap = eng.table.snapshot()
        logical = eng.table.logical_schema(snap)
        num_buckets = eng.table.num_buckets(snap)
        payload_cols = [f.name for f in logical.fields]
        checksum_cols = snap.get("checksum_columns") or payload_cols
        from image_report_spark.plans.icelite import partition_expr

        malformed = (
            F.col("lsn").isNull() | F.col("op").isNull() | ~F.col("op").isin("I", "U", "D")
        )
        good = raw.filter(~malformed)
        touched = list(range(num_buckets))
        incumbent = eng._read_physical(
            {e["partition"]: e for e in snap["manifest"]}, touched, logical
        ).withColumn("_src", F.lit(0))
        evt = (
            good.withColumn(PART_COL, partition_expr(num_buckets))
            .select(
                F.col(PART_COL),
                *[F.col(c) for c in payload_cols],
                F.col("lsn").alias("_lsn"),
                F.col("op").alias("_op"),
            )
            .withColumn("_src", F.lit(1))
        )

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        keyw = Window.partitionBy(PART_COL, "conv_id", "turn_idx")
        order = keyw.orderBy(
            F.col("ts").desc_nulls_last(),
            F.col("_lsn").desc_nulls_last(),
            F.col("_src").asc(),
        )

        def fused(inc, ev):
            u = inc.unionByName(ev).repartition(F.col(PART_COL))
            return u.withColumn("_rn", F.row_number().over(order)).filter(
                F.col("_rn") == 1
            )

        narrow_cols = [PART_COL, "conv_id", "turn_idx", "ts", "_lsn", "_op", "_src"]
        res = {}
        sc = spark.sparkContext
        sc.setJobDescription("probe incumbent_scan")
        res["incumbent_scan"] = t(lambda: noop(incumbent), args.repeat)
        sc.setJobDescription("probe fused_resolve")
        res["fused_resolve"] = t(lambda: noop(fused(incumbent, evt)), args.repeat)
        sc.setJobDescription("probe narrow_resolve")
        res["narrow_resolve"] = t(
            lambda: noop(
                fused(
                    incumbent.select(*narrow_cols),
                    evt.select(*narrow_cols),
                )
            ),
            args.repeat,
        )
        # narrow incumbent, full batch payload (the two-stream job-1 shape):
        # union requires matching schemas, so null out the non-key payload
        # columns on the incumbent side instead of dropping them
        nulled = incumbent.select(
            PART_COL,
            *[
                F.col(c) if c in ("conv_id", "turn_idx", "ts") else F.lit(None).cast(dict((f.name, f.dataType) for f in logical.fields)[c]).alias(c)
                for c in payload_cols
            ],
            "_lsn",
            "_op",
            "_src",
        )
        sc.setJobDescription("probe mixed_resolve")
        res["mixed_resolve"] = t(lambda: noop(fused(nulled, evt)), args.repeat)
        # survivors: broadcast anti-join of incumbent against batch keys
        bkeys = good.withColumn(PART_COL, partition_expr(num_buckets)).select(
            PART_COL, "conv_id", "turn_idx"
        )
        surv = incumbent.join(
            F.broadcast(bkeys), [PART_COL, "conv_id", "turn_idx"], "left_anti"
        ).withColumn("_h", _live_row_hash(incumbent, checksum_cols))
        sc.setJobDescription("probe survivors")
        res["survivors"] = t(lambda: noop(surv), args.repeat)
        # real write of the fused output (throwaway dirs)
        sc.setJobDescription("probe fused_write")

        def do_write():
            merged = fused(incumbent, evt)
            to_write = merged.withColumn(
                "_h", _live_row_hash(merged, checksum_cols)
            ).select(PART_COL, *payload_cols, "_lsn", "_op", "_h")
            eng.table.write_partition_files(
                to_write, 999, pre_partitioned=True, dir_label=f"probe-{uuid.uuid4().hex[:6]}"
            )

        res["fused_write"] = t(do_write, args.repeat)
        sc.setJobDescription("probe apply_batch")
        t0 = time.monotonic()
        eng.apply_batch(raw, 4)
        res["apply_batch_real"] = [round(time.monotonic() - t0, 3)]
        print(json.dumps({k: {"min": min(v), "all": v} for k, v in res.items()}))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
