#!/usr/bin/env python3
"""CDC ingest benchmark for image_report_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):

* ``backlog_upsert``  ``CdcEngine.run()`` over an 8-batch backlog into an
  empty copy-on-write table, repeated on fresh tables while whole
  backlogs fit in the run time;
* ``mor_read_mix``    a preloaded merge-on-read table takes small
  update/delete batches one ``apply_batch`` at a time (closed loop, one
  producer), with a reader after every commit (full scan,
  ``changes_between``, point lookup) and a ``compact()`` at the end;
* ``operator_queries`` the 11 headline queries of ``bench.py`` over
  synthesized star-schema tables.

Inputs are generated from ``--seed``. Every run checks its outputs (batch
conservation ledgers, the final table against a pandas last-writer-wins
reference, every read's row count, every query against its DuckDB
oracle) outside the timed region.

Standard output: one ``metric <name> <value> <unit>`` line per
measurement (the end-to-end figures the issue names per workload, such as
``batch_commit_p75_ms``, ``write_amp``, ``read_scan_p50_ms``,
``compact_s``, ``query_suite_s`` and ``ops_failed_frac``, with sample
counts), the effective engine configuration, then, as the last line, the
JSON result. With ``--trace 0`` its metrics are the end-to-end ones that
apply to every workload:

* ``setup_s``        session start + warm-up + preload;
* ``work_per_s``     events applied per second of the timed loop (CDC
  workloads; in ``mor_read_mix`` the loop includes the reader), or query
  executions per second (``operator_queries``);
* ``op_p50_ms``      median latency of the foreground operation: a batch
  commit (``read_batch`` + ``apply_batch``) or one pass over the query
  suite;
* ``cpu_ms_per_op``  CPU time of this process, the JVM and its Python
  workers over the timed loop, per foreground operation;
* ``peak_rss_mb``    peak resident memory of this process plus its JVM.

With ``--trace 1`` the engine's public functions are wrapped with spans
during the timed loop and the metrics are the per-layer ones
(``trace.layer_metrics``) plus the traced run's own ``work_per_s`` and
``op_p50_ms``; their difference from an untraced run of the same seed is
the tracing overhead (``perfbench/repeat.py --overhead`` prints it). Spans
are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: end-to-end metrics and their units, in declaration order
END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "op_p50_ms": "ms",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}
#: the traced run's own end-to-end figures, reported next to the layers
TRACED = {"traced.work_per_s": "1/s", "traced.op_p50_ms": "ms"}


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS  # imports no engine code

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the smoke test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [
        p for p in ("image_report_spark", "__spark_entry__.py", "tools/check_parity.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: program files not found next to perfbench/: {missing}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import session

    cleared = session.pin_environment(work)
    from perfbench import trace, workloads

    cpus = session.host_cpus()
    t0 = time.monotonic()
    spark = session.build_spark(cpus, work)
    session_s = time.monotonic() - t0
    try:
        tracer = None
        if args.trace:
            tracer = trace.Tracer()
            tracer.meter = trace.SparkStageMeter(spark)
        ctx = workloads.Ctx(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            size=workloads.SIZES[args.size], cpus=cpus, tracer=tracer,
        )
        res = workloads.Result()
        workloads.WORKLOADS[args.workload](ctx, res)
        rss = session.peak_rss_mb(spark)
    finally:
        session.stop_spark(spark)

    e2e = {
        "setup_s": session_s + res.warmup_s + res.preload_s,
        "work_per_s": res.work_units / res.loop_s,
        "op_p50_ms": workloads.pct(res.op_ms, 50),
        "cpu_ms_per_op": res.loop_cpu_s * 1000.0 / len(res.op_ms),
        "peak_rss_mb": rss,
    }
    print(f"env_cleared {json.dumps(cleared)}")
    print(f"engine_config {json.dumps(res.config, sort_keys=True, default=str)}")
    print(f"session local[{cpus}] driver_memory={session.DRIVER_MEMORY}")
    for name, (value, unit) in {
        "session_start_s": (session_s, "s"),
        "warmup_s": (res.warmup_s, "s"),
        "preload_s": (res.preload_s, "s"),
        "op_samples": (len(res.op_ms), "count"),
        "op_p75_ms": (workloads.pct(res.op_ms, 75), "ms"),
        **res.report,
        **{k: (v, END_TO_END[k]) for k, v in e2e.items()},
        "ops_failed_frac": (res.failed / res.attempted, "ratio"),
    }.items():
        print(f"metric {name} {value} {unit}")
    print(f"op_ms_samples {json.dumps([round(x, 1) for x in res.op_ms])}")
    for what in res.failures:
        print(f"check_failed {what}")

    if args.trace:
        layers = trace.layer_metrics(tracer.spans, workloads.HEADLINE)
        layers["traced.work_per_s"] = e2e["work_per_s"]
        layers["traced.op_p50_ms"] = e2e["op_p50_ms"]
        metrics = {
            k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()
        }
        out = os.path.join(ROOT, ".perfbench_out",
                           f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(out)
        print(f"spans {len(tracer.spans)} written to {os.path.relpath(out, ROOT)}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


def _layer_unit(name: str) -> str:
    if name in TRACED:
        return TRACED[name]
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
