"""Batch routing (``plan_batch``) without a Spark session.

``plan_batch`` decides, from the bucket pre-pass rows and the loaded
manifest alone, which touched partition appends on its zone map, which
takes the merge-proven two-stream tier and which is rewritten by the fused
merge, plus which buckets are salted and whether partition stats ride the
write job. Each case below changes one input of an otherwise
two-stream-eligible partition.
"""

from __future__ import annotations

import pytest

import image_report_spark.engine as engine_mod
from image_report_spark.config import EngineConfig
from image_report_spark.engine import APPEND, FUSED, TWO_STREAM, plan_batch
from image_report_spark.plans.icelite import PART_COL

CK = "0123abcd:typed"


def _row(p=0, n=10, bad=0, noni=0, nullk=0, klo="c05", khi="c07") -> dict:
    return {PART_COL: p, "n": n, "bad": bad, "noni": noni, "nullk": nullk,
            "klo": klo, "khi": khi}


def _entry(row_count=1000, files=1, lo="c00", hi="c09", ck_id=CK, **kw) -> dict:
    return {"files": [f"f{i}" for i in range(files)], "row_count": row_count,
            "live_rows": row_count, "checksum": "00" * 8, "key_lo": lo,
            "key_hi": hi, "ck_id": ck_id, **kw}


def _route(row=None, entry=None, ck_id=CK, **cfg) -> str:
    row = row or _row()
    entries = {row[PART_COL]: entry or _entry()}
    plan = plan_batch([row], entries, EngineConfig(**cfg), ck_id)
    return plan.route[row[PART_COL]]


def test_disjoint_zone_map_appends():
    assert _route(_row(klo="c10", khi="c12")) == APPEND
    assert _route(_row(klo="a", khi="b")) == APPEND


def test_overlapping_zone_map_takes_two_stream():
    assert _route() == TWO_STREAM


def test_unknown_zone_map_takes_two_stream():
    assert _route(_row(klo="c10", khi="c12"), _entry(lo=None)) == TWO_STREAM


@pytest.mark.parametrize("row", [
    _row(klo="c10", khi="c12", noni=1),   # an update/delete in the bucket
    _row(klo="c10", khi="c12", nullk=1),  # a null merge key in the bucket
    _row(noni=1),
    _row(nullk=1),
])
def test_non_insert_or_null_key_bucket_is_fused(row):
    assert _route(row) == FUSED


def test_ck_id_mismatch_is_fused():
    assert _route(_row(klo="c10", khi="c12"), ck_id="other") == FUSED
    assert _route(ck_id="other") == FUSED


@pytest.mark.parametrize("entry", [
    None,
    {"files": [], "row_count": 0, "live_rows": 0, "checksum": None},
    _entry(checksum=None),
    _entry(delta_files=["d0"]),
])
def test_missing_dirty_or_unchecksummed_entry_is_fused(entry):
    row = _row(klo="c10", khi="c12")
    plan = plan_batch([row], {0: entry} if entry else {}, EngineConfig(), CK)
    assert plan.route[0] == FUSED


def test_file_count_bound_is_fused(monkeypatch):
    monkeypatch.setattr(engine_mod, "TWO_STREAM_MAX_FILES", 8)
    assert _route(entry=_entry(files=7)) == TWO_STREAM
    assert _route(entry=_entry(files=8)) == FUSED


def test_below_min_ratio_is_fused():
    # incumbent rows must be >= ratio × the bucket's valid events
    assert _route(_row(n=10), _entry(row_count=80)) == TWO_STREAM
    assert _route(_row(n=10), _entry(row_count=79)) == FUSED
    # malformed events do not count toward the ratio
    assert _route(_row(n=12, bad=2), _entry(row_count=80)) == TWO_STREAM


def test_two_stream_events_above_broadcast_limit_are_fused(monkeypatch):
    rows = [_row(p=0, n=10), _row(p=1, n=10), _row(p=2, klo="c10", khi="c12")]
    entries = {p: _entry() for p in (0, 1, 2)}
    monkeypatch.setattr(engine_mod, "BROADCAST_KEY_LIMIT", 30)
    at = plan_batch(rows, entries, EngineConfig(), CK)
    assert at.parts(TWO_STREAM) == [0, 1]
    # the limit covers ALL two-stream candidates together; appends are
    # not candidates and keep their route
    monkeypatch.setattr(engine_mod, "BROADCAST_KEY_LIMIT", 19)
    over = plan_batch(rows, entries, EngineConfig(), CK)
    assert over.parts(TWO_STREAM) == [] and over.parts(FUSED) == [0, 1]
    assert over.parts(APPEND) == [2]


def test_fastpath_off_forces_fused():
    disjoint = _row(klo="c10", khi="c12")
    assert _route(disjoint, cow_append_fastpath=False) == FUSED
    assert _route(cow_append_fastpath=False) == FUSED


def test_touched_skips_all_malformed_buckets():
    rows = [_row(p=3, n=5, bad=5), _row(p=1, n=4, bad=1), _row(p=0, n=1)]
    plan = plan_batch(rows, {}, EngineConfig(), CK)
    assert plan.touched == [0, 1]
    assert plan.valid == {3: 0, 1: 3, 0: 1}
    assert plan.parts(FUSED) == [0, 1]


def test_hot_bucket_threshold(monkeypatch):
    rows = [_row(p=0, n=100), _row(p=1, n=101), _row(p=2, n=105, bad=5)]
    monkeypatch.setattr(engine_mod, "HOT_EVENTS", 100)
    plan = plan_batch(rows, {}, EngineConfig(), CK)
    assert plan.hot_buckets == [1]


def test_observe_flag_at_limit():
    limit = engine_mod.PARTSTATS_OBSERVE_LIMIT
    assert limit == 64

    def observe(n_touched):
        rows = [_row(p=p) for p in range(n_touched)]
        return plan_batch(rows, {}, EngineConfig(), CK).observe_stats

    assert observe(64)
    assert not observe(65)
    assert not observe(0)


def test_observe_flag_follows_patched_limit(monkeypatch):
    monkeypatch.setattr(engine_mod, "PARTSTATS_OBSERVE_LIMIT", 0)
    plan = plan_batch([_row()], {}, EngineConfig(), CK)
    assert not plan.observe_stats
