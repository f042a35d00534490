"""The workloads. Each one sets up (warm-up, preload), runs its timed loop
for the requested number of seconds, then checks its outputs outside the
timed region.

A workload returns a ``Result``: the timed samples, the correctness
tally, and the named measurements printed for a reader. ``run.py`` turns
it into the contract's JSON line.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.session import cpu_seconds

#: Workload sizes. "full" is what the benchmark measures; "tiny" is the
#: smoke test's. On a 4-core host a commit costs one to two seconds
#: whatever its size (a dozen Spark jobs, a file per touched bucket), so
#: the sizes keep several commits inside a run; 8 buckets hold about
#: 2.6 k rows each in the 21 k-row merge-on-read table.
SIZES = {
    "full": {
        "backlog_events": 60_000, "backlog_batches": 8,
        "mor_events": 30_000, "mor_batch": 300, "warm_batches": 2,
        "query_scale": 0.02, "warm_passes": 2, "min_passes": 3, "num_buckets": 8,
    },
    "tiny": {
        "backlog_events": 4_000, "backlog_batches": 4,
        "mor_events": 3_000, "mor_batch": 100, "warm_batches": 1,
        "query_scale": 0.004, "warm_passes": 1, "min_passes": 1, "num_buckets": 8,
    },
}

HEADLINE = [
    "cdc_lww_window",
    "q1_pricing_summary",
    "q2_broadcast_dim_join",
    "q3_multi_join_topk",
    "q4_range_self_join",
    "q9_lag_delta",
    "q13_rle",
    "d1_exact_dedup",
    "d2_minhash_neardup",
    "t2_source_token_stats",
    "e1_knn_bruteforce",
]


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    size: dict
    cpus: int
    tracer: object | None = None
    #: True inside the timed region; spans are recorded only there
    active: bool = False

    @contextmanager
    def timed(self):
        """The timed region. In a traced run the engine's public functions
        are wrapped with spans while it lasts."""
        from perfbench.trace import instrument

        self.active = True
        try:
            if self.tracer is None:
                yield
            else:
                with instrument(self.tracer):
                    yield
        finally:
            self.active = False


@dataclass
class Result:
    #: latency samples of the workload's foreground operation, ms
    op_ms: list[float] = field(default_factory=list)
    #: units of work completed in the timed loop and the loop's wall time
    work_units: float = 0.0
    loop_s: float = 0.0
    #: CPU seconds of this process, the JVM and its workers over the loop
    loop_cpu_s: float = 0.0
    warmup_s: float = 0.0
    preload_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    #: every named measurement for the reader: name -> (value, unit)
    report: dict = field(default_factory=dict)
    config: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation (``statistics.quantiles`` with
    the inclusive method, which needs no sample beyond the extremes)."""
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return float(cuts[int(q) - 1])


def _engine_config(ctx: Ctx, write_mode: str):
    from image_report_spark.config import EngineConfig

    return EngineConfig(
        num_buckets=ctx.size["num_buckets"],
        shuffle_partitions=max(ctx.cpus * 2, 8),
        write_mode=write_mode,
    )


def _config_dict(cfg) -> dict:
    d = dataclasses.asdict(cfg)
    d.pop("selected_metrics", None)
    return d


def _data_bytes(table_root: str) -> int:
    total = 0
    for dp, _, files in os.walk(os.path.join(table_root, "data")):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in files)
    return total


def _lineage_ok(eng, reference: pd.DataFrame) -> bool:
    got = (
        eng.table.read(with_lineage=True)
        .select("conv_id", "turn_idx", "_lsn")
        .toPandas()
    )
    return len(got) == len(reference) and inputs.lineage_set(
        got, "_lsn") == inputs.lineage_set(reference, "lsn")


class _Stopwatch:
    """Times each call of a bound method (installed on one engine
    instance, so ``run()``'s internal calls are timed too)."""

    def __init__(self, fn):
        self.fn = fn
        self.ms: list[float] = []

    def __call__(self, *args, **kwargs):
        t0 = time.perf_counter()
        out = self.fn(*args, **kwargs)
        self.ms.append((time.perf_counter() - t0) * 1000.0)
        return out


def _span(ctx: Ctx, name: str):
    if ctx.tracer is None or not ctx.active:
        return nullcontext()
    return ctx.tracer.span(name)


# ----------------------------------------------------------------- warm-up

def _warm_backlog(ctx: Ctx, cfg) -> None:
    """Half a backlog (same batch size, another seed) through ``run()``
    on a throwaway table, so the timed backlog does not pay first-use JVM
    compilation."""
    from image_report_spark.engine import CdcEngine

    nb = ctx.size["backlog_batches"] // 2
    ev = inputs.synth_stream(ctx.size["backlog_events"] // 2, ctx.seed + 7919)
    root = os.path.join(ctx.work, "warm")
    log = os.path.join(root, "log")
    inputs.write_batches(log, ev, [len(ev) * b // nb for b in range(nb + 1)])
    CdcEngine.init(
        ctx.spark, os.path.join(root, "table"), os.path.join(root, "cp"), config=cfg,
    ).run(log)


# ------------------------------------------------------------ the reader

def _scan_agg(df):
    from pyspark.sql import functions as F

    # hashing every column forces every column to be read and decoded
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
    ).collect()[0]


def _reader_ops(eng, prev_sid: int, conv: str) -> tuple[list[float], list[int]]:
    """Full scan, incremental read since ``prev_sid``, point lookup.
    Returns per-op ms and row counts."""
    from pyspark.sql import functions as F

    ms, rows = [], []
    t0 = time.perf_counter()
    rows.append(int(_scan_agg(eng.read())["n"]))
    ms.append((time.perf_counter() - t0) * 1000.0)
    t0 = time.perf_counter()
    rows.append(int(_scan_agg(eng.table.changes_between(prev_sid))["n"]))
    ms.append((time.perf_counter() - t0) * 1000.0)
    t0 = time.perf_counter()
    rows.append(len(eng.read().filter(F.col("conv_id") == conv).collect()))
    ms.append((time.perf_counter() - t0) * 1000.0)
    return ms, rows


# ------------------------------------------------------- backlog_upsert

def backlog_upsert(ctx: Ctx, res: Result) -> None:
    from image_report_spark.engine import CdcEngine

    n, nb = ctx.size["backlog_events"], ctx.size["backlog_batches"]
    ev = inputs.synth_stream(n, ctx.seed)
    log = os.path.join(ctx.work, "log")
    bounds = [len(ev) * b // nb for b in range(nb + 1)]
    paths = inputs.write_batches(log, ev, bounds)
    log_bytes = sum(os.path.getsize(p) for p in paths)
    reference = inputs.lww_reference(ev)

    cfg = _engine_config(ctx, "cow")
    res.config = _config_dict(cfg)
    t0 = time.monotonic()
    _warm_backlog(ctx, cfg)
    res.warmup_s = time.monotonic() - t0

    reports, rep, written, rep_s = [], 0, 0, 0.0
    eng = None
    deadline = time.monotonic() + ctx.seconds
    t_loop, c_loop = time.monotonic(), cpu_seconds()
    with ctx.timed():
        # whole backlogs only: start another if it should end in time
        while rep == 0 or time.monotonic() + rep_s <= deadline:
            t_rep = time.monotonic()
            root = os.path.join(ctx.work, f"rep{rep}")
            eng = CdcEngine.init(
                ctx.spark, os.path.join(root, "table"), os.path.join(root, "cp"),
                config=cfg,
            )
            watch = _Stopwatch(eng.apply_batch)
            eng.apply_batch = watch
            with _span(ctx, "bench.backlog_run"):
                reports.extend(eng.run(log))
            res.op_ms.extend(watch.ms)
            written += _data_bytes(os.path.join(root, "table"))
            rep += 1
            rep_s = time.monotonic() - t_rep
    res.loop_s = time.monotonic() - t_loop
    res.loop_cpu_s = cpu_seconds() - c_loop
    events = sum(r.events_read for r in reports)
    res.work_units = events

    for r in reports:
        res.check(r.conservation_ok(), f"conservation b{r.batch_id}")
    res.check(_lineage_ok(eng, reference), "final lineage set != LWW reference")

    res.report.update({
        "apply_events_per_s": (events / res.loop_s, "1/s"),
        "batch_commit_p50_ms": (pct(res.op_ms, 50), "ms"),
        "batch_commit_p75_ms": (pct(res.op_ms, 75), "ms"),
        "write_amp": (written / (log_bytes * rep), "ratio"),
        "batches_timed": (len(res.op_ms), "count"),
        "backlog_repetitions": (rep, "count"),
    })


# ------------------------------------------------------- mor_read_mix

def mor_read_mix(ctx: Ctx, res: Result) -> None:
    from image_report_spark.engine import CdcEngine
    from image_report_spark.sources.changelog import ChangeLogSource

    ev = inputs.synth_stream(ctx.size["mor_events"], ctx.seed)
    n_ins = int((ev["op"] == "I").sum())
    if not (ev["op"].iloc[:n_ins] == "I").all():
        raise RuntimeError("the generated stream must lead with its inserts")
    b = ctx.size["mor_batch"]
    bounds = [0, n_ins] + list(range(n_ins + b, len(ev), b)) + [len(ev)]
    paths = inputs.write_batches(os.path.join(ctx.work, "log"), ev, bounds)
    rng = np.random.default_rng(ctx.seed)
    cfg = _engine_config(ctx, "mor")
    res.config = _config_dict(cfg)

    t0 = time.monotonic()
    eng = CdcEngine.init(
        ctx.spark, os.path.join(ctx.work, "table"), os.path.join(ctx.work, "cp"),
        config=cfg,
    )
    src = ChangeLogSource(ctx.spark, os.path.join(ctx.work, "log"))
    reports = [eng.apply_batch(src.read_batch(paths[0]), 0)]
    res.preload_s = time.monotonic() - t0

    read_ms, read_rows, probes = [[], [], []], [], []

    def cycle(k: int) -> None:
        """Commit batch ``k``, then read the table three ways."""
        prev = eng.table.current_version()
        with _span(ctx, "bench.commit"):
            t0 = time.perf_counter()
            reports.append(eng.apply_batch(src.read_batch(paths[k]), k))
            res.op_ms.append((time.perf_counter() - t0) * 1000.0)
        batch = ev.iloc[bounds[k]:bounds[k + 1]]
        probes.append(batch["conv_id"].iloc[int(rng.integers(0, len(batch)))])
        with _span(ctx, "bench.read"):
            ms, rows = _reader_ops(eng, prev, probes[-1])
        for i in range(3):
            read_ms[i].append(ms[i])
        read_rows.append(rows)

    # warm-up on the table itself: the first update batches with their
    # reads, and a compaction; none of it is timed
    t0 = time.monotonic()
    warm = ctx.size["warm_batches"]
    for k in range(1, warm + 1):
        cycle(k)
    eng.compact()
    res.warmup_s = time.monotonic() - t0
    for samples in (res.op_ms, *read_ms):
        samples.clear()
    bytes_before = _data_bytes(os.path.join(ctx.work, "table"))

    deadline = time.monotonic() + ctx.seconds
    t_loop, c_loop = time.monotonic(), cpu_seconds()
    k = warm + 1
    with ctx.timed():
        while k < len(paths) and (k == warm + 1 or time.monotonic() < deadline):
            cycle(k)
            k += 1
        res.loop_s = time.monotonic() - t_loop
        res.loop_cpu_s = cpu_seconds() - c_loop
        with _span(ctx, "bench.compact"):
            t0 = time.perf_counter()
            comp = eng.compact()
            compact_s = time.perf_counter() - t0
    n_batches = k - 1
    timed = range(warm + 1, k)
    res.work_units = sum(r.events_read for r in reports[warm + 1:])
    written = _data_bytes(os.path.join(ctx.work, "table")) - bytes_before
    log_bytes = sum(os.path.getsize(paths[j]) for j in timed)

    # ---- checks (untimed) ----
    res.check(comp["table_digest"] is not None, "compact left no table digest")
    for r in reports:
        res.check(r.conservation_ok(), f"conservation b{r.batch_id}")
    cur = inputs.lww_reference(ev.iloc[:bounds[1]]).set_index(["conv_id", "turn_idx"])
    for i in range(n_batches):
        bw = inputs.lww_reference(ev.iloc[bounds[i + 1]:bounds[i + 2]]).set_index(
            ["conv_id", "turn_idx"])
        # a later batch's events all have higher lsns, so ts decides
        old_ts = cur["ts"].reindex(bw.index)
        won = bw[old_ts.isna() | (bw["ts"] >= old_ts)]
        cur = pd.concat([cur.drop(won.index, errors="ignore"), won])
        live = cur[cur["op"] != "D"]
        expect = [
            len(live),
            len(won),
            int((live.index.get_level_values(0) == probes[i]).sum()),
        ]
        for what, got, exp in zip(("scan", "changes", "point"), read_rows[i], expect):
            res.check(got == exp, f"b{i + 1} {what} rows {got} != {exp}")
    res.check(_lineage_ok(eng, cur.reset_index()), "final lineage set != LWW reference")

    res.report.update({
        "apply_events_per_s": (res.work_units / res.loop_s, "1/s"),
        "batch_commit_p50_ms": (pct(res.op_ms, 50), "ms"),
        "batch_commit_p75_ms": (pct(res.op_ms, 75), "ms"),
        "write_amp": (written / log_bytes, "ratio"),
        "read_scan_p50_ms": (pct(read_ms[0], 50), "ms"),
        "read_scan_p75_ms": (pct(read_ms[0], 75), "ms"),
        "read_changes_p50_ms": (pct(read_ms[1], 50), "ms"),
        "read_point_p50_ms": (pct(read_ms[2], 50), "ms"),
        "compact_s": (compact_s, "s"),
        "batches_timed": (len(timed), "count"),
        "reads_timed": (3 * len(timed), "count"),
        "table_rows_preloaded": (n_ins, "count"),
    })


# ----------------------------------------------------- operator_queries

def operator_queries(ctx: Ctx, res: Result) -> None:
    import __spark_entry__ as entry
    import duckdb

    from tools.check_parity import _canon

    sf_dir = os.path.join(ctx.work, "sf")
    inputs.write_query_tables(sf_dir, ctx.seed, ctx.size["query_scale"])
    qs = entry.queries()

    def execute(name: str) -> float:
        t0 = time.perf_counter()
        with _span(ctx, f"queries.{name}"):
            qs[name](ctx.spark, sf_dir).write.format("noop").mode("overwrite").save()
        return (time.perf_counter() - t0) * 1000.0

    t0 = time.monotonic()
    for _ in range(ctx.size["warm_passes"]):  # plans, codegen, Python workers
        for name in HEADLINE:
            execute(name)
    res.warmup_s = time.monotonic() - t0

    # the foreground operation is one pass over the suite: a single
    # query's latency depends on which query it is, a pass's does not
    per_query: dict[str, list[float]] = {n: [] for n in HEADLINE}
    deadline = time.monotonic() + ctx.seconds
    t_loop, c_loop = time.monotonic(), cpu_seconds()
    with ctx.timed():
        # whole passes only: start another if it should end in time
        while len(res.op_ms) < ctx.size["min_passes"] or (
            time.monotonic() + res.op_ms[-1] / 1000.0 <= deadline
        ):
            t0 = time.perf_counter()
            for name in HEADLINE:
                per_query[name].append(execute(name))
            res.op_ms.append((time.perf_counter() - t0) * 1000.0)
    res.loop_s = time.monotonic() - t_loop
    res.loop_cpu_s = cpu_seconds() - c_loop
    res.work_units = len(HEADLINE) * len(res.op_ms)

    con = duckdb.connect()
    for t in os.listdir(sf_dir):
        con.execute(
            f"CREATE VIEW {t[:-8]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}')")
    oracles = entry.oracle_sql()
    for name in HEADLINE:
        got = qs[name](ctx.spark, sf_dir).toPandas()
        exp = con.execute(oracles[name]).fetchdf()
        ok = sorted(got.columns) == sorted(exp.columns) and len(got) == len(exp)
        if ok:
            try:
                pd.testing.assert_frame_equal(
                    _canon(got), _canon(exp), check_dtype=False,
                    check_exact=False, rtol=0, atol=1e-9)
            except AssertionError:
                ok = False
        # a wrong answer fails every timed execution of that query
        for _ in per_query[name]:
            res.check(ok, f"{name} != oracle")
        res.report[f"queries.{name}_p50_ms"] = (pct(per_query[name], 50), "ms")
        res.report[f"queries.{name}_rows"] = (len(got), "count")
    con.close()
    res.report["query_suite_s"] = (
        sum(statistics.median(v) for v in per_query.values()) / 1000.0, "s")
    res.report["query_passes_timed"] = (len(res.op_ms), "count")


WORKLOADS = {
    "backlog_upsert": backlog_upsert,
    "mor_read_mix": mor_read_mix,
    "operator_queries": operator_queries,
}
