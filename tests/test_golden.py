"""Golden unit tests: tiny hand-written change logs with hand-computed
expected tables — graft of the reference's hand-computed projection-profile
vectors (tests/test_analysis.py:20-30).

Covers: dedup (duplicate lsn), LWW tie-break (equal ts → higher lsn wins),
late update loses, delete-then-reinsert ordering, update-of-missing-key
(upsert default), delete of missing key."""

from __future__ import annotations

import pandas as pd
import pytest

from image_report_spark.engine import CdcEngine, TRANSCRIPT_SCHEMA
from image_report_spark.config import EngineConfig

T0 = pd.Timestamp("2026-01-01T00:00:00")


def _ev(lsn, op, conv, turn, ts_s, text=None, role="user", tool=None):
    return {
        "lsn": lsn,
        "op": op,
        "conv_id": conv,
        "turn_idx": turn,
        "role": role if op != "D" else None,
        "text": text if op != "D" else None,
        "tool": tool,
        "ts": T0 + pd.Timedelta(seconds=ts_s),
    }


def _apply(spark, tmp_table, events, **cfg):
    table_root, cp_root = tmp_table
    eng = CdcEngine.init(
        spark, table_root, cp_root, config=EngineConfig(num_buckets=4, **cfg)
    )
    pdf = pd.DataFrame(events)
    pdf["lsn"] = pdf["lsn"].astype("Int64")
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    df = spark.createDataFrame(pdf, schema="lsn long, op string, conv_id string, "
                               "turn_idx int, role string, text string, tool string, ts timestamp")
    rpt = eng.apply_batch(df, 0)
    rows = {
        (r.conv_id, r.turn_idx): r.asDict()
        for r in eng.read().collect()
    }
    return eng, rpt, rows


def test_insert_then_update_lww(spark, tmp_table):
    events = [
        _ev(0, "I", "a", 0, 10, "v1"),
        _ev(1, "U", "a", 0, 20, "v2"),
    ]
    _, rpt, rows = _apply(spark, tmp_table, events)
    assert rows[("a", 0)]["text"] == "v2"
    assert rpt.applied == 1 and rpt.superseded == 1
    assert rpt.inserts == 1 and rpt.updates == 0  # single winner lands as insert
    assert rpt.conservation_ok()


def test_duplicate_lsn_dropped(spark, tmp_table):
    e = _ev(0, "I", "a", 0, 10, "v1")
    _, rpt, rows = _apply(spark, tmp_table, [e, dict(e)])
    assert rows[("a", 0)]["text"] == "v1"
    assert rpt.deduped == 1 and rpt.applied == 1
    assert rpt.conservation_ok()


def test_lww_tie_higher_lsn_wins(spark, tmp_table):
    events = [
        _ev(0, "I", "a", 0, 10, "first"),
        _ev(1, "U", "a", 0, 50, "tie-low"),
        _ev(2, "U", "a", 0, 50, "tie-high"),  # same ts as lsn 1 → lsn wins
    ]
    _, rpt, rows = _apply(spark, tmp_table, events)
    assert rows[("a", 0)]["text"] == "tie-high"
    assert rpt.conservation_ok()


def test_late_update_loses(spark, tmp_table):
    events = [
        _ev(0, "I", "a", 0, 100, "current"),
        _ev(1, "U", "a", 0, 50, "stale"),  # older ts, higher lsn → loses LWW
    ]
    _, rpt, rows = _apply(spark, tmp_table, events)
    assert rows[("a", 0)]["text"] == "current"
    assert rpt.superseded == 1
    assert rpt.conservation_ok()


def test_delete_wins_over_older_insert(spark, tmp_table):
    events = [
        _ev(0, "I", "a", 0, 10, "v1"),
        _ev(1, "D", "a", 0, 20),
        _ev(2, "I", "a", 0, 15, "resurrect-attempt"),  # older than the delete
    ]
    _, rpt, rows = _apply(spark, tmp_table, events)
    assert ("a", 0) not in rows  # tombstone wins: ts=20 beats ts=15
    assert rpt.rows_after == 0
    assert rpt.conservation_ok()


def test_reinsert_after_delete(spark, tmp_table):
    events = [
        _ev(0, "I", "a", 0, 10, "v1"),
        _ev(1, "D", "a", 0, 20),
        _ev(2, "I", "a", 0, 30, "v2"),  # newer than the delete → live again
    ]
    _, rpt, rows = _apply(spark, tmp_table, events)
    assert rows[("a", 0)]["text"] == "v2"
    assert rpt.conservation_ok()


def test_update_of_missing_key_upserts_by_default(spark, tmp_table):
    _, rpt, rows = _apply(spark, tmp_table, [_ev(0, "U", "ghost", 7, 10, "hello")])
    assert rows[("ghost", 7)]["text"] == "hello"
    assert rpt.inserts == 1
    assert rpt.conservation_ok()


def test_update_of_missing_key_quarantined_when_configured(spark, tmp_table):
    events = [
        _ev(0, "I", "a", 0, 10, "v1"),
        _ev(1, "U", "a", 0, 20, "v2"),      # key exists in-batch → fine
        _ev(2, "U", "ghost", 7, 10, "bad"),  # no incumbent, no insert → quarantine
    ]
    eng, rpt, rows = _apply(spark, tmp_table, events, update_missing="quarantine")
    assert ("ghost", 7) not in rows
    assert rows[("a", 0)]["text"] == "v2"
    assert rpt.quarantined == 1
    assert rpt.conservation_ok()
    q = eng.quarantine_df()
    assert q is not None
    missing = q.filter("_status = 'failed:update_of_missing_key'").collect()
    assert len(missing) == 1 and missing[0]["_batch_id"] == 0


def test_delete_of_missing_key_is_tombstone_only(spark, tmp_table):
    _, rpt, rows = _apply(spark, tmp_table, [_ev(0, "D", "ghost", 1, 10)])
    assert rows == {}
    assert rpt.deletes == 0 and rpt.applied == 1  # tombstone recorded, no row removed
    assert rpt.conservation_ok()


def test_malformed_quarantined(spark, tmp_table):
    events = [
        _ev(0, "I", "a", 0, 10, "ok"),
        {"lsn": None, "op": "I", "conv_id": "a", "turn_idx": 1, "role": "user",
         "text": "no-lsn", "tool": None, "ts": T0},
        {"lsn": 5, "op": "X", "conv_id": "a", "turn_idx": 2, "role": "user",
         "text": "bad-op", "tool": None, "ts": T0},
    ]
    eng, rpt, rows = _apply(spark, tmp_table, events)
    assert list(rows) == [("a", 0)]
    assert rpt.quarantined == 2
    assert rpt.conservation_ok()
    q = eng.quarantine_df()
    statuses = {r["_status"] for r in q.select("_status").collect()}
    assert statuses == {"failed:null_lsn", "failed:bad_op:X"}


def test_on_error_fail_aborts_without_commit(spark, tmp_table):
    from image_report_spark.engine import BatchAborted

    table_root, cp_root = tmp_table
    eng = CdcEngine.init(
        spark, table_root, cp_root, config=EngineConfig(num_buckets=4, on_error="fail")
    )
    pdf = pd.DataFrame([
        {"lsn": None, "op": "I", "conv_id": "a", "turn_idx": 0, "role": "u",
         "text": "x", "tool": None, "ts": T0},
    ])
    df = spark.createDataFrame(pdf, schema="lsn long, op string, conv_id string, "
                               "turn_idx int, role string, text string, tool string, ts timestamp")
    before = eng.table.current_version()
    with pytest.raises(BatchAborted):
        eng.apply_batch(df, 0)
    assert eng.table.current_version() == before  # atomicity: nothing committed
    assert not eng.checkpoint.is_applied(0)
