#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarize each metric.

    python3 perfbench/repeat.py --workload mor_read_mix --seeds 1-10
    python3 perfbench/repeat.py --workload backlog_upsert --seeds 1-3 --overhead

For every end-to-end metric it prints the median over the seeds and the
spread: the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, which is
what each metric's ``bound`` in BENCHMARK.json is compared with. With
``--overhead`` each seed also runs traced, and the tracing overhead
(traced minus untraced median of ``work_per_s`` and ``op_p50_ms``) is
printed. Runs are sequential; each is a separate process.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed} trace {trace} failed:\n{proc.stderr[-2000:]}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    res["wall_s"] = round(time.monotonic() - t0, 1)
    return res


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        res = run_once(args.workload, seed, args.seconds, 0)
        print(json.dumps({"seed": seed, **res}), flush=True)
        if not res["correct"]:
            print(f"seed {seed}: {res['failed']} of {res['attempted']} checks failed")
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        if args.overhead:
            res = run_once(args.workload, seed, args.seconds, 1)
            for k in ("work_per_s", "op_p50_ms"):
                traced.setdefault(k, []).append(res["metrics"][f"traced.{k}"]["value"])
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        s = spread(v) if len(v) > 1 else float("nan")
        print(f"{args.workload} {m['name']}: median {statistics.median(v):.4g} "
              f"{m['unit']}, spread {s:.3f} (bound {m['bound']})")
    for k, v in traced.items():
        diff = statistics.median(v) - statistics.median(values[k])
        print(f"{args.workload} tracing overhead {k}: {diff:+.4g} "
              f"(traced median {statistics.median(v):.4g})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
