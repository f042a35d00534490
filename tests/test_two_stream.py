"""COW two-stream merge — the append fast-path's merge-proven tier.

The scale argument (guide §2.2, shuffle fewer bytes): an interleaved
pure-insert batch under plain COW rewrites every touched partition even
though no incumbent row changes, because the zone-map tier cannot prove
key-disjointness for overlapping key RANGES. The two-stream tier sends
only NARROW incumbent rows (merge keys + ts/lsn/op) through the resolve
window; the merge's own observation counts winners that displaced an
incumbent key, and when that count is zero the winner file APPENDS with
the incumbent files carried forward — disjointness proven by the merge
itself, zero extra jobs. Overlapping partitions (re-insert of an
existing/tombstoned key) are rebuilt as winners + a map-only broadcast
anti-join copy of the surviving incumbent rows. Update/delete buckets
take the fused path unchanged.

Correctness contract tested here:
* digest + content + manifest + per-batch ledger equality against the
  full-rewrite engine (append fast-path off) on the same log, across mixed I/U/D workloads
  with replays, late (losing) updates, LWW ties and schema evolution,
  and under both partition-stats tiers (observe and file read-back);
* batches carrying null merge keys still match (their buckets are routed
  to the fused path, where the window's null-grouping semantics apply);
* interleaved-key insert batches append (old files carried forward
  verbatim) while a key-overlapping insert forces its partition back to
  a real rewrite;
* a two-stream partition none of whose batch events win keeps its old
  files verbatim (metadata carry-forward, nothing rewritten);
* the file-count bound routes high-file-count partitions back to the
  fused rewrite, which coalesces them to one file.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import image_report_spark.engine as engine_mod
from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine
from image_report_spark.fixtures import ChangeLogGenerator

TS0 = pd.Timestamp("2026-01-01T00:00:00")

LEDGER_KEYS = [
    "events_read", "applied", "deduped", "superseded", "quarantined",
    "rows_before", "inserts", "updates", "deletes", "rows_after",
]


@pytest.fixture
def any_ratio(monkeypatch):
    """Engage the two-stream tier at any incumbent/batch row ratio."""
    monkeypatch.setattr(engine_mod, "TWO_STREAM_MIN_RATIO", 0.0)


def _mk(spark, root, name: str, two_stream: bool, **cfg):
    """``two_stream=False`` is the full-rewrite reference engine."""
    cfg.setdefault("num_buckets", 8)
    cfg.setdefault("shuffle_partitions", 8)
    return CdcEngine.init(
        spark,
        str(root / f"tbl-{name}"),
        str(root / f"cp-{name}"),
        config=EngineConfig(
            cow_append_fastpath=two_stream,
            **cfg,
        ),
    )


def _content(eng) -> pd.DataFrame:
    cols = sorted(eng.read().columns)
    return (
        eng.read().toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


def _assert_equiv(on, off, reports_on, reports_off):
    """The two-stream engine is indistinguishable from the rewrite engine."""
    assert on.current_table_digest() == off.current_table_digest()
    pd.testing.assert_frame_equal(_content(on), _content(off))
    ma = {e["partition"]: e for e in on.table.snapshot()["manifest"]}
    mb = {e["partition"]: e for e in off.table.snapshot()["manifest"]}
    assert set(ma) == set(mb)
    for p, a in ma.items():
        b = mb[p]
        assert a["row_count"] == b["row_count"], p
        assert a["live_rows"] == b["live_rows"], p
        assert a["checksum"] == b["checksum"], p
        assert a["last_applied_lsn"] == b["last_applied_lsn"], p
        assert a.get("key_lo") == b.get("key_lo"), p
        assert a.get("key_hi") == b.get("key_hi"), p
    for ra, rb in zip(reports_on, reports_off):
        for k in LEDGER_KEYS:
            assert getattr(ra, k) == getattr(rb, k), (ra.batch_id, k)
        assert ra.table_digest == rb.table_digest, ra.batch_id


@pytest.mark.usefixtures("any_ratio")
@pytest.mark.parametrize("observe_limit", [64, 0])
def test_mixed_workload_matches_fused(spark, tmp_path, monkeypatch, observe_limit):
    """Replays, late updates, LWW ties, deletes — both partstats tiers."""
    monkeypatch.setattr(engine_mod, "PARTSTATS_OBSERVE_LIMIT", observe_limit)
    gen = ChangeLogGenerator(
        seed=11, n_convs=80, max_turns=8, n_batches=5,
        dup_frac=0.05, ooo_window=6, late_frac=0.10,
    )
    log = str(tmp_path / "log")
    gen.write_log(log)
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    reports_on = on.run(log)
    reports_off = off.run(log)
    assert all(r.conservation_ok() for r in reports_on)
    # the workload must actually exercise the two-stream split
    assert any(r.partitions_two_stream > 0 for r in reports_on)
    assert all(r.partitions_two_stream == 0 for r in reports_off)
    _assert_equiv(on, off, reports_on, reports_off)
    assert on.verify()["ok"]


@pytest.mark.usefixtures("any_ratio")
def test_schema_evolution_matches_fused(spark, tmp_path):
    gen = ChangeLogGenerator(
        seed=21, n_convs=60, max_turns=6, n_batches=6, evolve=True,
        dup_frac=0.03, late_frac=0.05,
    )
    log = str(tmp_path / "log")
    gen.write_log(log)
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    reports_on = on.run(log)
    reports_off = off.run(log)
    assert any(r.partitions_two_stream > 0 for r in reports_on)
    _assert_equiv(on, off, reports_on, reports_off)
    assert on.verify()["ok"]


def _write_batch(log_dir: str, batch_id: int, rows: list[dict]) -> None:
    os.makedirs(log_dir, exist_ok=True)
    df = pd.DataFrame(rows)
    types = {
        "lsn": pa.int64(), "op": pa.string(), "conv_id": pa.string(),
        "turn_idx": pa.int32(), "role": pa.string(), "text": pa.string(),
        "tool": pa.string(), "ts": pa.timestamp("us"),
    }
    schema = pa.schema([(c, types[c]) for c in df.columns])
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        os.path.join(log_dir, f"batch-{batch_id:05d}.parquet"),
    )


def _row(lsn, conv, turn, op="I", text="t", ts_off_s=0, conv_id=None) -> dict:
    return dict(
        lsn=lsn, op=op,
        conv_id=f"c{conv:08d}" if conv_id is None else conv_id,
        turn_idx=turn, role="user",
        text=None if op == "D" else text, tool=None,
        ts=TS0 + pd.Timedelta(seconds=ts_off_s),
    )


@pytest.mark.usefixtures("any_ratio")
def test_null_merge_keys_match_fused(spark, tmp_path):
    """Null conv_id/turn_idx events group in the resolve window; the
    two-stream router must send those buckets down the fused path (SQL
    join equality would miss them) and still match exactly."""
    log = str(tmp_path / "log")
    _write_batch(log, 0, [_row(i, i % 6, i // 6, ts_off_s=i) for i in range(24)]
                 + [dict(_row(90, 0, 0, ts_off_s=1), conv_id=None)])
    # b1: update the null-key row (groups with it in the window) + normal updates
    _write_batch(log, 1, [
        dict(_row(100, 0, 0, op="U", text="null-upd", ts_off_s=500), conv_id=None),
        _row(101, 1, 0, op="U", text="upd", ts_off_s=500),
        _row(102, 2, 0, op="D", ts_off_s=500),
    ])
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    reports_on = on.run(log)
    reports_off = off.run(log)
    _assert_equiv(on, off, reports_on, reports_off)


@pytest.mark.usefixtures("any_ratio")
def test_all_losing_batch_carries_files_forward(spark, tmp_path):
    """A pure-insert batch whose events ALL lose LWW (stale re-inserts,
    older ts than the incumbent) leaves every two-stream partition's
    files untouched."""
    log = str(tmp_path / "log")
    _write_batch(log, 0, [_row(i, i, 0, ts_off_s=1000 + i) for i in range(16)])
    # b1: re-inserts with newer lsn but strictly OLDER ts → incumbent wins
    _write_batch(log, 1, [
        _row(100 + i, i, 0, text="stale", ts_off_s=i) for i in range(16)
    ])
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    reports_on = on.run(log)
    reports_off = off.run(log)
    r1 = reports_on[1]
    assert r1.partitions_two_stream > 0
    assert r1.partitions_carried == r1.partitions_two_stream
    # files of carried partitions are byte-identical manifest entries
    snap0 = on.table.snapshot(reports_on[0].snapshot_id)
    snap1 = on.table.snapshot(reports_on[1].snapshot_id)
    f0 = {e["partition"]: e["files"] for e in snap0["manifest"]}
    f1 = {e["partition"]: e["files"] for e in snap1["manifest"]}
    assert f0 == f1
    _assert_equiv(on, off, reports_on, reports_off)


@pytest.mark.usefixtures("any_ratio")
def test_file_count_bound_routes_to_fused(spark, tmp_path, monkeypatch):
    """At the file-count bound the partition takes the fused rewrite and
    coalesces back to one file."""
    log = str(tmp_path / "log")
    # all events in ONE conversation → one partition throughout; each
    # batch inserts fresh turns (disjoint keys → appends while eligible).
    # Interleave the turn numbers so the zone-map tier cannot prove
    # disjointness — the merge-proven tier must do it.
    _write_batch(log, 0, [_row(i, 7, 2 * i, ts_off_s=i) for i in range(8)])
    _write_batch(log, 1, [
        _row(100 + i, 7, 2 * i + 1, ts_off_s=100 + i) for i in range(8)
    ])
    _write_batch(log, 2, [
        _row(200 + i, 7, 100 + 2 * i + 1, ts_off_s=200 + i) for i in range(8)
    ])
    monkeypatch.setattr(engine_mod, "TWO_STREAM_MAX_FILES", 2)
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    reports_on = on.run(log)
    reports_off = off.run(log)
    # b1: 1 incumbent file < 2 → merge-proven append (2 files after)
    assert reports_on[1].partitions_two_stream == 1
    assert reports_on[1].partitions_appended == 1
    # b2: at the bound → fused rewrite, coalesced back to one file
    assert reports_on[2].partitions_two_stream == 0
    files_after = [
        e["files"] for e in on.table.snapshot()["manifest"] if e["files"]
    ]
    assert all(len(fl) == 1 for fl in files_after)
    _assert_equiv(on, off, reports_on, reports_off)


@pytest.mark.usefixtures("any_ratio")
def test_interleaved_inserts_append_by_merge(spark, tmp_path):
    """Pure-insert batches whose key RANGES overlap the incumbent (so the
    zone-map append tier cannot prove disjointness) but whose key SETS are
    disjoint: the post-merge check appends the winner file and carries the
    old files forward — no survivor rewrite."""
    log = str(tmp_path / "log")
    # b0: even conversations; b1: odd conversations — interleaved ranges,
    # disjoint keys
    _write_batch(log, 0, [_row(i, 2 * i, 0, ts_off_s=i) for i in range(16)])
    _write_batch(log, 1, [
        _row(100 + i, 2 * i + 1, 0, ts_off_s=100 + i) for i in range(16)
    ])
    # b2: a pure-insert batch that REUSES an existing key (overlap) → that
    # partition must rewrite, not append
    _write_batch(log, 2, [
        _row(200, 0, 0, text="re-insert", ts_off_s=999),
        _row(201, 100, 0, ts_off_s=999),
    ])
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    reports_on = on.run(log)
    reports_off = off.run(log)
    r1 = reports_on[1]
    # every touched partition with an incumbent appended via the merge check
    assert r1.partitions_appended > 0
    assert r1.partitions_carried == 0
    # b1 manifest: old files are a strict prefix of the new file lists
    snap0 = on.table.snapshot(reports_on[0].snapshot_id)
    snap1 = on.table.snapshot(r1.snapshot_id)
    f0 = {e["partition"]: e["files"] for e in snap0["manifest"]}
    for e in snap1["manifest"]:
        p = e["partition"]
        if p in f0 and f0[p]:
            assert e["files"][: len(f0[p])] == f0[p], p
    # b2: the re-inserted key's partition was NOT appended (overlap)
    _assert_equiv(on, off, reports_on, reports_off)


def test_default_ratio_gate_keeps_small_incumbents_fused(spark, tmp_path):
    """With the default engagement ratio, a batch comparable in size to
    its incumbent takes the fused rewrite (the append's small-files tax
    outweighs the avoided rewrite below the breakeven)."""
    log = str(tmp_path / "log")
    _write_batch(log, 0, [_row(i, 2 * i, 0, ts_off_s=i) for i in range(16)])
    # b1 ≈ same size as incumbent → ratio ~1 < 8 → fused
    _write_batch(log, 1, [
        _row(100 + i, 2 * i + 1, 0, ts_off_s=100 + i) for i in range(16)
    ])
    eng = CdcEngine.init(
        spark,
        str(tmp_path / "tbl-ratio"),
        str(tmp_path / "cp-ratio"),
        config=EngineConfig(num_buckets=8, shuffle_partitions=8),
    )
    reports = eng.run(log)
    # (the zone-map append tier may still fire for buckets whose key
    # ranges happen to be disjoint — only the merge-proven tier is gated)
    assert all(r.partitions_two_stream == 0 for r in reports)


@pytest.mark.usefixtures("any_ratio")
@pytest.mark.parametrize("observe_limit", [64, 0])
def test_survivor_files_persist_row_hash_only_for_readback(
    spark, tmp_path, monkeypatch, observe_limit
):
    """The per-row hash ``_h`` is persisted only when a read-back tier
    consumes it. On the observe tier a batch that rewrites a two-stream
    partition through the survivor pass writes no ``_h`` in either its
    winner or its survivor files; with the observe tier off, both carry
    it. The table matches the rewrite engine either way."""
    monkeypatch.setattr(engine_mod, "PARTSTATS_OBSERVE_LIMIT", observe_limit)
    log = str(tmp_path / "log")
    _write_batch(log, 0, [_row(i, 2 * i, 0, ts_off_s=i) for i in range(16)])
    # b1: a re-insert of an existing key forces its partition through the
    # survivor pass
    _write_batch(log, 1, [
        _row(100, 0, 0, text="re-insert", ts_off_s=999),
        _row(101, 2, 1, ts_off_s=999),
    ])
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    reports_on = on.run(log)
    reports_off = off.run(log)
    r1 = reports_on[1]
    assert r1.partitions_two_stream > 0
    assert "survivors" in r1.phase_ms
    assert r1.partitions_appended < r1.partitions_touched
    written = [
        f
        for e in on.table.snapshot()["manifest"]
        for f in e["files"]
        if f.startswith(os.path.join("data", "b00001"))
    ]
    # the rewritten partition holds a winner file and at least one
    # survivor file
    assert len(written) >= 2
    has_h = {f: "_h" in pq.read_schema(os.path.join(on.table.root, f)).names
             for f in written}
    assert all(v == (observe_limit == 0) for v in has_h.values()), has_h
    _assert_equiv(on, off, reports_on, reports_off)
