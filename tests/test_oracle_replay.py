"""Randomized replay vs the pure-pandas oracle — graft of the reference's
randomized-vs-naive-loop property test (tests/test_hashing_config.py:11-30).

The seeded generator emits a change log with duplicates, bounded
out-of-order arrival, late updates and malformed rows; the engine's final
table must equal the oracle's exactly (per-turn text equality under stable
turn ordering — BASELINE.json:15) across multiple micro-batches."""

from __future__ import annotations

import pandas as pd
import pytest

from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine
from image_report_spark.fixtures import ChangeLogGenerator, apply_oracle, oracle_ledger


def _run_and_compare(spark, tmp_path, gen: ChangeLogGenerator, fmt="parquet", **cfg):
    log_dir = str(tmp_path / "log")
    gen.write_log(log_dir, fmt=fmt)
    eng = CdcEngine.init(
        spark,
        str(tmp_path / "table"),
        str(tmp_path / "checkpoint"),
        config=EngineConfig(num_buckets=8, **cfg),
    )
    reports = eng.run(log_dir)
    assert all(r.conservation_ok() for r in reports if not r.skipped), [
        r.ledger({"events_read", "applied", "deduped", "superseded", "quarantined",
                  "rows_before", "inserts", "updates", "deletes", "rows_after"})
        for r in reports
    ]
    got = (
        eng.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )
    expected = apply_oracle(gen.events())
    return eng, reports, got, expected


def _assert_tables_equal(got: pd.DataFrame, expected: pd.DataFrame):
    assert len(got) == len(expected), f"{len(got)} rows vs oracle {len(expected)}"
    exp = expected.copy()
    # normalize pandas dtypes for comparison
    got = got[["conv_id", "turn_idx", "role", "text", "tool", "ts"]].reset_index(drop=True)
    exp = exp[["conv_id", "turn_idx", "role", "text", "tool", "ts"]].reset_index(drop=True)
    exp["turn_idx"] = exp["turn_idx"].astype("int32")
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@pytest.mark.parametrize("seed", [0, 1])
def test_clean_replay_matches_oracle(spark, tmp_path, seed):
    gen = ChangeLogGenerator(seed=seed, n_convs=60, max_turns=10, n_batches=5)
    _, _, got, expected = _run_and_compare(spark, tmp_path, gen)
    _assert_tables_equal(got, expected)


def test_faulty_replay_matches_oracle(spark, tmp_path):
    gen = ChangeLogGenerator(
        seed=2, n_convs=60, max_turns=10, n_batches=6,
        dup_frac=0.05, ooo_window=10, late_frac=0.15, malformed_frac=0.01,
    )
    eng, reports, got, expected = _run_and_compare(spark, tmp_path, gen)
    _assert_tables_equal(got, expected)
    # the full-log ledger totals match the oracle's global accounting
    led = oracle_ledger(gen.events())
    totals = {
        k: sum(getattr(r, k) for r in reports)
        for k in ("events_read", "quarantined", "deduped")
    }
    assert totals["events_read"] == led["events_read"]
    assert totals["quarantined"] == led["quarantined"]
    assert totals["deduped"] == led["deduped"]
    assert reports[-1].rows_after == led["rows_after"]
    assert eng.verify()["ok"]


def test_jsonl_codec_matches_oracle(spark, tmp_path):
    gen = ChangeLogGenerator(seed=3, n_convs=30, max_turns=6, n_batches=3)
    _, _, got, expected = _run_and_compare(spark, tmp_path, gen, fmt="jsonl")
    _assert_tables_equal(got, expected)


def test_grouped_resolver_matches_oracle(spark, tmp_path):
    """applyInPandas per-conversation ordered apply ≡ window resolver."""
    gen = ChangeLogGenerator(seed=4, n_convs=40, max_turns=8, n_batches=4,
                             dup_frac=0.03, late_frac=0.1)
    _, _, got, expected = _run_and_compare(
        spark, tmp_path, gen, grouped_resolve=True
    )
    _assert_tables_equal(got, expected)


def test_single_batch_ledger_matches_oracle_exactly(spark, tmp_path):
    """With the whole log as ONE batch, per-batch applied/superseded match
    the oracle's global winner accounting."""
    gen = ChangeLogGenerator(seed=5, n_convs=40, max_turns=8, n_batches=1,
                             dup_frac=0.04, late_frac=0.1, malformed_frac=0.02)
    _, reports, got, expected = _run_and_compare(spark, tmp_path, gen)
    _assert_tables_equal(got, expected)
    led = oracle_ledger(gen.events())
    r = reports[0]
    assert r.events_read == led["events_read"]
    assert r.quarantined == led["quarantined"]
    assert r.deduped == led["deduped"]
    assert r.applied == led["applied"]
    assert r.superseded == led["superseded"]
    assert r.rows_after == led["rows_after"]
