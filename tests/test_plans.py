"""Physical-plan assertions — the scale claims, checked against Catalyst.

These tests pin the plan *shape*, not timings: the fused merge moves data
across the network exactly once; pruned reads list only manifest-selected
files; filters and column pruning reach the Parquet scan.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine
from image_report_spark.fixtures import ChangeLogGenerator


def _explain(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_merge_pipeline_has_single_exchange(spark, tmp_path):
    """Incumbent ∪ events → the engine's own merge ranking
    (``build_merge_ranking``) → winner filter: ONE Exchange on the cold
    path, the salted hot path and the two-stream ``_inc_any`` variant —
    the windows run inside the repartition's clustering."""
    from image_report_spark.engine import _event_rows, build_merge_ranking

    gen = ChangeLogGenerator(seed=50, n_convs=30, max_turns=5, n_batches=1)
    log = str(tmp_path / "log")
    gen.write_log(log)
    ev = spark.read.parquet(f"{log}/batch-00000.parquet")
    payload = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    rows = _event_rows(ev, 8, payload, "0 AS _src").unionByName(
        _event_rows(ev, 8, payload, "1 AS _src")
    )
    # cold: salt is lit(0) → repartition on the bucket alone (a literal in
    # hashpartitioning would defeat the window's clustering-subset
    # satisfaction and buy a second Exchange); hot: salted buckets;
    # two-stream: the extra `_inc_any` aggregate on the same frame
    for hot, inc_any in (([], False), ([0, 3, 5], False), ([], True)):
        ranked = build_merge_ranking(
            rows, hot, 16, incumbent=True, inc_any=inc_any
        ).filter(F.col("_rn") == 1)
        assert ("_inc_any" in ranked.columns) == inc_any
        plan = _explain(ranked)
        # formatted explain lists each physical node once in the tree and
        # once in the detail section — count distinct Exchange NODES
        n_exchanges = len(set(re.findall(r"\(\d+\) Exchange", plan)))
        assert n_exchanges == 1, (hot, inc_any, plan)
        # only the hot path hashes on the salt
        parts = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
        assert parts and all(("_salt" in ln) == bool(hot) for ln in parts), plan


def test_pruned_read_lists_only_touched_files(spark, tmp_path):
    gen = ChangeLogGenerator(seed=51, n_convs=60, max_turns=5, n_batches=2)
    log = str(tmp_path / "log")
    gen.write_log(log)
    eng = CdcEngine.init(spark, str(tmp_path / "t"), str(tmp_path / "cp"),
                         config=EngineConfig(num_buckets=8))
    eng.run(log)
    all_files = set(eng.read().inputFiles())
    pruned = eng.table.read(partitions=[0, 1], with_lineage=True)
    pruned_files = set(pruned.inputFiles())
    assert pruned_files < all_files  # strictly fewer files even reach the scan
    manifest = {e["partition"]: e for e in eng.table.snapshot()["manifest"]}
    expected = {f for p in (0, 1) for f in manifest[p]["files"]}
    assert len(pruned_files) == len(expected)
    for f in pruned_files:
        assert any(f.endswith(rel) for rel in expected), f


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = df.filter(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity")
    plan = _explain(q)
    assert "PushedFilters" in plan and "l_orderkey" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: the scan reads only the two referenced columns
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_quantity" in read_schema and "l_extendedprice" not in read_schema


def test_broadcast_join_chosen_for_small_dim(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _explain(j)


def test_resolution_plan_stays_jvm_side(spark):
    """LWW expressions: no Python nodes; rank-1 filter gets the partial
    WindowGroupLimit pushdown (pre-shuffle top-k per key)."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").selectExpr(
        "user_id as conv_id", "cast(event_id % 8 as int) as turn_idx",
        "ts", "event_id as lsn"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id", "turn_idx").orderBy(F.desc("ts"), F.desc("lsn"))
    q = ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    plan = _explain(q)
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # Spark 4 pushes a partial top-k below the shuffle for rank-1 filters
    assert "WindowGroupLimit" in plan


def test_range_self_join_is_bucket_bounded(spark):
    """q4's interval self-join must key the join on (user_id, bkt) — the
    time bucket bounds pairs per task, so one hot user can't quadratically
    explode a single task at scale."""
    import __spark_entry__ as entry_mod

    q = entry_mod.q4_range_self_join(spark, "/root/testdata/sf0.001")
    plan = _explain(q)
    # the equi-join keys include BOTH user_id and the time bucket; the
    # interval predicate is a post-join filter, not a nested-loop condition
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    keys_section = plan.split("Left keys")[1].split("Right keys")[0] if "Left keys" in plan else plan
    assert "bkt" in keys_section and "user_id" in keys_section


def _merge_write_plans(spark, root, persist=False, **cfg) -> tuple[list[str], object]:
    """Apply the fused-route batches of tests/test_job_counts.py to a
    fresh table and return the formatted plan of every frame batch 1
    writes (the merge write first) and batch 1's report. ``persist``
    hands batch 1 over as a persisted frame, which reads no input files,
    as the streaming tail does."""
    from tests.test_job_counts import ROUTES, _batch_df

    _, b0, b1 = ROUTES["fused"]
    eng = CdcEngine.init(spark, f"{root}/t", f"{root}/cp",
                         config=EngineConfig(num_buckets=8, **cfg))
    eng.apply_batch(_batch_df(spark, f"{root}/b0.parquet", b0), 0)
    plans, write = [], eng.table.write_partition_files

    def spy(df, *a, **kw):
        plans.append(_explain(df))
        return write(df, *a, **kw)

    eng.table.write_partition_files = spy
    batch = _batch_df(spark, f"{root}/b1.parquet", b1)
    if persist:
        batch = batch.persist()
    rpt = eng.apply_batch(batch, 1)
    batch.unpersist()
    return plans, rpt


def _exchanges(plan: str) -> list[str]:
    """Arguments of each distinct Exchange node of a formatted plan."""
    return re.findall(r"\(\d+\) Exchange\n(?:Input.*\n)?Arguments: (.*)", plan)


def _normalized(plan: str, root: str) -> str:
    """A plan with expression and plan ids, the table root and the data
    files' attempt ids masked."""
    plan = plan.replace(root, "<root>")
    return re.sub(r"#\d+|plan_id=\d+|-[0-9a-f]{8}\.parquet", "#", plan)


def test_small_merge_reduce_stage_gets_one_task_per_bucket(spark, tmp_path):
    """A merge of at most ``HOT_EVENTS`` rows without a hot bucket gets an
    explicit exchange count — one task per touched bucket, up to the slot
    count — which AQE leaves as is. COW and MOR alike, and a persisted
    batch, whose size is known from the pre-pass, like a file-backed one."""
    slots = spark.sparkContext.defaultParallelism
    for mode, persist in (("cow", False), ("mor", False), ("cow", True)):
        plans, rpt = _merge_write_plans(
            spark, str(tmp_path / f"{mode}-{persist}"), persist, write_mode=mode
        )
        (ex,) = _exchanges(plans[0])
        n = min(rpt.partitions_touched, slots)
        assert re.fullmatch(rf"hashpartitioning\(_p#\d+, {n}\), REPARTITION_BY_NUM, .*", ex), ex
        assert n > 1


def test_merge_above_gate_or_hot_keeps_aqe_sizing(spark, tmp_path, monkeypatch):
    """Above the gate, or with a hot bucket, the merge write's plan equals
    the plan built with no reduce-task count at all — for a persisted
    batch too."""
    import image_report_spark.engine as engine_mod

    build = engine_mod.build_merge_ranking

    def countless(*a, tasks=None, **kw):
        return build(*a, **kw)

    for case in ("above_gate", "above_gate_persisted", "hot"):
        persist = case.endswith("persisted")
        with monkeypatch.context() as m:
            # batch 1 holds 8 events, so at 8 no bucket is hot, yet the
            # merge, which also scans the touched buckets' incumbent
            # rows, holds more than 8 rows
            m.setattr(engine_mod, "HOT_EVENTS", 0 if case == "hot" else 8)
            got, _ = _merge_write_plans(spark, str(tmp_path / case / "a"), persist)
            m.setattr(engine_mod, "build_merge_ranking", countless)
            want, _ = _merge_write_plans(spark, str(tmp_path / case / "b"), persist)
        (ex,) = _exchanges(got[0])
        assert "REPARTITION_BY_COL" in ex and ("_salt" in ex) == (case == "hot"), ex
        assert _normalized(got[0], str(tmp_path / case / "a")) == _normalized(
            want[0], str(tmp_path / case / "b")
        )


def test_changes_between_filters_with_one_expression(spark, tmp_path):
    """The per-partition high-water-mark filter of ``changes_between`` is
    one column expression: its plan holds no Python-built frame and no
    broadcast, and its rows equal the broadcast-joined mark table's on a
    table with a partition the older snapshot did not hold."""
    from pyspark.sql.functions import broadcast

    from image_report_spark.plans.icelite import PART_COL
    from tests.test_job_counts import _batch_df, _row

    eng = CdcEngine.init(spark, str(tmp_path / "t"), str(tmp_path / "cp"),
                         config=EngineConfig(num_buckets=8))
    eng.apply_batch(_batch_df(spark, str(tmp_path / "b0.parquet"),
                              [_row(i, i) for i in range(3)]), 0)
    eng.apply_batch(_batch_df(spark, str(tmp_path / "b1.parquet"),
                              [_row(100 + i, i, op="U", text="u", ts_off_s=60) for i in range(40)]), 1)
    t = eng.table
    old, new = t.snapshot(1), t.snapshot()
    old_entries = {e["partition"]: e for e in old["manifest"]}
    assert {e["partition"] for e in new["manifest"]} - set(old_entries)  # unmarked

    got = t.changes_between(old["snapshot_id"])
    plan = got._jdf.queryExecution().optimizedPlan().toString() + _executed_plan(got)
    assert "LogicalRDD" not in plan and "BroadcastExchange" not in plan
    # the previous form: the changed partitions' rows joined to a
    # Python-built mark table by broadcast
    changed = [e["partition"] for e in new["manifest"]
               if old_entries.get(e["partition"], {}).get("files") != e["files"]]
    marks = spark.createDataFrame(
        [(p, e["last_applied_lsn"]) for p, e in old_entries.items() if p in changed],
        f"{PART_COL} int, _hwm long",
    )
    want = (
        t.read(partitions=changed, with_lineage=True)
        .join(broadcast(marks), PART_COL, "left")
        .filter(F.col("_hwm").isNull() | (F.col("_lsn") > F.col("_hwm")))
        .drop("_hwm")
    )
    assert want.count() > 0
    assert sorted(got.collect()) == sorted(want.select(*got.columns).collect())
