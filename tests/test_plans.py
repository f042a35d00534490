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
