"""Measure the COW append fast-path on a time-ordered-arrival CDC stream.

The default bench workload (`benchgen arrival="shuffled"`) interleaves
insert keys across the whole id range every batch — the shape the
zone maps cannot prove and the merge-proven two-stream tier covers. This
harness runs the OTHER canonical CDC shape: inserts arriving in key
order (auto-increment PKs / snowflake ids / event time;
``arrival="sorted"``), where the zone-map metadata tier proves
disjointness for free and insert batches append instead of rewriting.

ABBA-interleaved fast-path on/off legs in one warm JVM, identical
seeded input per leg; digests must be equal across all legs.

Usage: python BENCH/append_bench.py [n_events_per_batch] [n_batches] [reps]
Prints one JSON line per leg; appends to BENCH/append_bench.jsonl.
"""

import json
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _data_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(os.path.join(root, "data")):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def run_leg(
    spark, fastpath: bool, n_events: int, n_batches: int, seed: int,
    inserts_only: bool = False, arrival: str = "sorted",
) -> dict:
    from image_report_spark.benchgen import write_bench_log
    from image_report_spark.config import EngineConfig
    from image_report_spark.engine import CdcEngine

    scratch = os.path.join("/dev/shm", f"irs-append-bench-{uuid.uuid4().hex[:8]}")
    try:
        log = os.path.join(scratch, "log")
        kw = dict(update_frac=0.0, delete_frac=0.0) if inserts_only else {}
        write_bench_log(
            log, n_events * n_batches, n_batches=n_batches, seed=seed,
            arrival=arrival, **kw,
        )
        tbl = os.path.join(scratch, "tbl")
        eng = CdcEngine.init(
            spark,
            tbl,
            os.path.join(scratch, "cp"),
            config=EngineConfig(
                num_buckets=128, shuffle_partitions=64,
                cow_append_fastpath=fastpath,
            ),
        )
        t0 = time.monotonic()
        reports = eng.run(log)
        wall = time.monotonic() - t0
        phases: dict[str, int] = {}
        for r in reports:
            for k, v in (r.phase_ms or {}).items():
                phases[k] = phases.get(k, 0) + v
        return {
            "fastpath": fastpath,
            "apply_sec": round(wall, 3),
            "events_per_sec": round(n_events * n_batches / wall, 1),
            "bytes_written": _data_bytes(tbl),
            "partitions_appended": [r.partitions_appended for r in reports],
            "phase_ms": phases,
            "digest": reports[-1].table_digest,
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 250_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    # bulk-load mode: pure sorted inserts — every post-first batch appends,
    # so the off-leg's O(N²) rewrite vs the on-leg's O(N) append shows up
    # directly in wall clock as the table outgrows the batch size
    inserts_only = "--inserts-only" in sys.argv
    arrival = "shuffled" if "--arrival-shuffled" in sys.argv else "sorted"
    from bench import build_spark

    spark = build_spark(32)
    # JIT warm-up leg so no timed leg pays codegen
    run_leg(spark, True, 50_000, 2, seed=99)
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "append_bench.jsonl")
    legs = []
    with open(out_path, "a") as out:
        for rep in range(reps):
            # ABBA: alternate which arm goes first to cancel weather drift
            order = (True, False) if rep % 2 == 0 else (False, True)
            for fp in order:
                leg = run_leg(spark, fp, n_events, n_batches, seed=7,
                              inserts_only=inserts_only, arrival=arrival)
                leg["inserts_only"] = inserts_only
                leg["arrival"] = arrival
                legs.append(leg)
                print(json.dumps(leg), flush=True)
                out.write(json.dumps(leg) + "\n")
                out.flush()
        summary = {
            "digests_equal": len({l["digest"] for l in legs}) == 1,
            "n_events": n_events, "n_batches": n_batches,
            "arrival": arrival, "inserts_only": inserts_only,
        }
        print(json.dumps(summary), flush=True)
        out.write(json.dumps(summary) + "\n")


if __name__ == "__main__":
    main()
