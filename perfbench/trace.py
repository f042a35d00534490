"""In-memory span recorder for the traced run.

Spans are recorded around calls into the engine's public functions by
wrapping those functions from here (``instrument``); nothing inside the
program changes. A span keeps its name, start, end, thread, the span open
on the same thread when it started (its parent) and any counts recorded
at that boundary. Spans started on a thread with no open span (``run()``'s
prefetch thread, the seen-LSN writer thread) have no parent; they also
note the top-level span open on the main thread when they started
(``cause``) so they can be attributed.

The per-layer numbers are derived from the spans after the run
(``layer_metrics``); the spans themselves are written to a JSON file.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

#: Spark per-stage fields summed per top-level span, by metric name.
_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_ms": "executorRunTime",
    "jvm_gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_bytes": "inputBytes",
    "spill_bytes": "diskBytesSpilled",
}


class SparkStageMeter:
    """Reads finished-stage metrics from the Spark status store, which
    keeps them with the UI disabled (up to ``spark.ui.retainedStages``)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._last_stage = self._max_stage()
        self._last_job = self._max_job()

    def _max_stage(self) -> int:
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return stages.apply(0).stageId() if stages.size() else -1

    def _max_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def take(self) -> dict[str, int]:
        """Totals over the stages and jobs that started since the last
        call (both lists are newest first)."""
        out = dict.fromkeys(["jobs", *_STAGE_FIELDS], 0)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        top = self._last_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            for name, getter in _STAGE_FIELDS.items():
                out[name] += int(getattr(s, getter)())
        self._last_stage = top
        jobs = self._store.jobsList(None)
        top = self._last_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self._last_job:
                break
            out["jobs"] += 1
            top = max(top, jid)
        self._last_job = top
        return out


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread().ident
        self._main_stack: list[dict] = []
        self._next_id = 0
        self.meter: SparkStageMeter | None = None

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.current_thread().name,
            "counts": {},
        }
        if not stack and threading.get_ident() != self._main:
            top = self._main_stack[:1]  # one atomic read of the other stack
            if top:
                rec["cause"] = top[0]["id"]
        top_level = not stack and threading.get_ident() == self._main
        if top_level and self.meter is not None:
            self.meter.take()  # drop work from before this span
        stack.append(rec)
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            if top_level and self.meter is not None:
                rec["spark"] = self.meter.take()
            with self._lock:
                self.spans.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


def _wrap(tracer: Tracer, fn, name: str, counter=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            result = fn(*args, **kwargs)
            if counter is not None:
                rec["counts"].update(counter(args, result))
            return result

    return wrapper


def _written_files(args, result) -> dict:
    table = args[0]
    paths = [os.path.join(table.root, f) for fl in result.values() for f in fl]
    return {
        "data_files_written": len(paths),
        "data_bytes_written": sum(os.path.getsize(p) for p in paths),
    }


def _manifest(args, result) -> dict:
    table = args[0]
    return {"manifest_bytes": os.path.getsize(
        os.path.join(table.meta_dir, f"v{result}.json"))}


def _batch_counts(args, result) -> dict:
    out = {
        f"partitions_{k}": getattr(result, f"partitions_{k}")
        for k in ("touched", "appended", "two_stream", "carried")
    }
    out.update({f"phase.{k}": v for k, v in result.phase_ms.items()})
    return out


@contextmanager
def instrument(tracer: Tracer):
    """Wrap the engine's public functions with spans for the duration of
    the block, restoring the originals afterwards."""
    from image_report_spark.engine import CdcEngine
    from image_report_spark.plans.checkpoint import Checkpoint
    from image_report_spark.plans.icelite import IceliteTable
    from image_report_spark.sources.changelog import ChangeLogSource

    targets = [
        (CdcEngine, "run", "engine.run", None),
        (CdcEngine, "apply_batch", "engine.apply_batch", _batch_counts),
        (CdcEngine, "compact", "engine.compact", None),
        (IceliteTable, "read", "plans.icelite.read", None),
        (IceliteTable, "changes_between", "plans.icelite.changes_between", None),
        (IceliteTable, "write_partition_files", "plans.icelite.write_partition_files",
         _written_files),
        (IceliteTable, "commit", "plans.icelite.commit", _manifest),
        (Checkpoint, "write_seen_lsns", "plans.checkpoint.write_seen_lsns", None),
        # the engine commits through mark_committed; commit_batch is the
        # composite used for empty batches — both are the checkpoint commit
        (Checkpoint, "mark_committed", "plans.checkpoint.commit_batch", None),
        (Checkpoint, "commit_batch", "plans.checkpoint.commit_batch", None),
        (Checkpoint, "recent_lsns_df", "plans.checkpoint.recent_lsns", None),
        (ChangeLogSource, "read_batch", "sources.changelog.read_batch", None),
    ]
    saved = [(cls, attr, cls.__dict__[attr]) for cls, attr, _, _ in targets]
    try:
        for cls, attr, name, counter in targets:
            setattr(cls, attr, _wrap(tracer, cls.__dict__[attr], name, counter))
        yield tracer
    finally:
        for cls, attr, fn in saved:
            setattr(cls, attr, fn)


def self_ms(span: dict, children: list[dict]) -> float:
    """Duration minus the part of it covered by child spans."""
    ivs = sorted((c["start"], c["end"]) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        s, e = max(s, span["start"]), min(e, span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"] - covered) * 1000.0


PHASES = ("prepass", "plan", "write_merge", "survivors", "partstats", "ledger",
          "commit_seen", "write_delta", "classify")
PARTITION_ROUTES = ("touched", "appended", "two_stream", "carried")
SPARK_FIELDS = ("jobs", *_STAGE_FIELDS)
_TIMED_CALLS = {
    "plans.icelite.write_partition_files_ms": "plans.icelite.write_partition_files",
    "plans.icelite.commit_ms": "plans.icelite.commit",
    "plans.icelite.read_ms": "plans.icelite.read",
    "plans.icelite.changes_between_ms": "plans.icelite.changes_between",
    "plans.checkpoint.write_seen_lsns_ms": "plans.checkpoint.write_seen_lsns",
    "plans.checkpoint.commit_batch_ms": "plans.checkpoint.commit_batch",
    "plans.checkpoint.recent_lsns_ms": "plans.checkpoint.recent_lsns",
    "sources.changelog.read_batch_ms": "sources.changelog.read_batch",
    "engine.compact_ms": "engine.compact",
}


def layer_metrics(spans: list[dict], queries: list[str]) -> dict[str, float]:
    """Per-layer values from the spans of the timed region.

    * ``*_ms`` of a function: mean duration per call;
    * ``engine.phase.*`` and ``engine.partitions_*``: mean per batch, from
      each batch's ``BatchReport``; bytes and files written: per batch;
    * ``spark.*``: mean per top-level span of the benchmark loop;
    * ``queries.<name>_p50_ms``: median execution time.
    A layer the workload does not reach reads 0.
    """
    by_id = {s["id"]: s for s in spans}
    # a span nested in one of the same name (commit_batch -> mark_committed)
    # is the same checkpoint commit; count the outer one only
    outer = [
        s for s in spans
        if s["parent"] is None or by_id[s["parent"]]["name"] != s["name"]
    ]
    named: dict[str, list[dict]] = {}
    for s in outer:
        named.setdefault(s["name"], []).append(s)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def dur(s):
        return (s["end"] - s["start"]) * 1000.0

    batches = named.get("engine.apply_batch", [])
    out: dict[str, float] = {}
    for p in PHASES:
        # BatchReport.phase_ms names use "+" ("write+merge"); metric names may not
        key = p.replace("_", "+") if p in ("write_merge", "commit_seen", "write_delta") else p
        out[f"engine.phase.{p}_ms"] = mean(
            [b["counts"].get(f"phase.{key}", 0) for b in batches])
    for r in PARTITION_ROUTES:
        out[f"engine.partitions_{r}"] = mean(
            [b["counts"][f"partitions_{r}"] for b in batches])
    out["engine.apply_batch_self_ms"] = mean(
        [self_ms(b, children.get(b["id"], [])) for b in batches])
    for metric, name in _TIMED_CALLS.items():
        out[metric] = mean([dur(s) for s in named.get(name, [])])
    writes = named.get("plans.icelite.write_partition_files", [])
    commits = named.get("plans.icelite.commit", [])
    n_b = max(len(batches), 1)
    out["plans.icelite.data_bytes_written"] = sum(
        s["counts"]["data_bytes_written"] for s in writes) / n_b
    out["plans.icelite.data_files_written"] = sum(
        s["counts"]["data_files_written"] for s in writes) / n_b
    out["plans.icelite.manifest_bytes"] = mean(
        [s["counts"]["manifest_bytes"] for s in commits])
    tops = [s for s in spans if "spark" in s]
    for f in SPARK_FIELDS:
        out[f"spark.{f}"] = mean([s["spark"][f] for s in tops])
    for q in queries:
        runs = sorted(dur(s) for s in named.get(f"queries.{q}", []))
        out[f"queries.{q}_p50_ms"] = (
            (runs[(len(runs) - 1) // 2] + runs[len(runs) // 2]) / 2 if runs else 0.0)
    return out
