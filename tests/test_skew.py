"""Skew handling: zipf-hot conv_ids stay correct under salting and the
grouped (applyInPandas) resolver fan-out is bounded (SURVEY.md §5.2-6)."""

from __future__ import annotations

from pyspark.sql import functions as F

import image_report_spark.engine as engine_mod
from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine
from image_report_spark.fixtures import ChangeLogGenerator, apply_oracle
from image_report_spark.operators.skew import detect_hot_keys, salt_hot_keys


def test_detect_and_salt_hot_keys(spark):
    rows = [("hot", i % 50) for i in range(2000)] + [(f"c{i}", 0) for i in range(50)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    hot = detect_hot_keys(df, threshold=1000)
    assert hot == ["hot"]
    salted = salt_hot_keys(df, hot, n_salt=8)
    # hot key fans out over >1 salt; cold keys all salt 0
    fan = salted.filter("conv_id = 'hot'").select("_salt").distinct().count()
    assert fan > 1
    assert salted.filter("conv_id != 'hot'").select("_salt").distinct().count() == 1
    # same turn always lands in the same salted group (resolution stays per-key)
    per_turn = (salted.filter("conv_id = 'hot'")
                .groupBy("turn_idx").agg(F.countDistinct("_salt").alias("n")))
    assert per_turn.filter("n > 1").count() == 0


def test_skewed_log_correct_under_both_resolvers(spark, tmp_path, monkeypatch):
    gen = ChangeLogGenerator(seed=30, n_convs=80, max_turns=6, n_batches=4,
                             hot_keys=2, hot_frac=0.3, dup_frac=0.02, late_frac=0.1)
    log = str(tmp_path / "log")
    gen.write_log(log)
    expected = apply_oracle(gen.events())

    for name, cfg in {
        "window": EngineConfig(num_buckets=8),
        "grouped": EngineConfig(num_buckets=8, grouped_resolve=True),
    }.items():
        if name == "grouped":
            # force the grouped path to actually salt: tiny hot threshold
            monkeypatch.setattr(engine_mod, "HOT_EVENTS", 50)
            monkeypatch.setattr(engine_mod, "SKEW_SALT", 4)
        eng = CdcEngine.init(spark, str(tmp_path / f"t-{name}"),
                             str(tmp_path / f"cp-{name}"), config=cfg)
        reports = eng.run(log)
        assert all(r.conservation_ok() for r in reports), name
        got = (eng.read().toPandas()
               .sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True))
        assert len(got) == len(expected), name
        assert list(got["text"]) == list(expected["text"]), name


def test_no_partition_grossly_oversized_after_bucketing(spark, tmp_path):
    """Bucket partitioning spreads conversations; a hot conversation lands in
    ONE bucket (co-location) but buckets stay bounded vs the mean."""
    gen = ChangeLogGenerator(seed=31, n_convs=200, max_turns=10, n_batches=2)
    log = str(tmp_path / "log")
    gen.write_log(log)
    eng = CdcEngine.init(spark, str(tmp_path / "t"), str(tmp_path / "cp"),
                         config=EngineConfig(num_buckets=16))
    eng.run(log)
    entries = eng.table.snapshot()["manifest"]
    counts = [e["live_rows"] for e in entries]
    assert sum(counts) == eng.read().count()
    mean = sum(counts) / len(counts)
    assert max(counts) < mean * 3  # uniform-ish spread over buckets
