"""Merge-on-read write mode (EngineConfig.write_mode='mor').

The scale argument: at 100 TB an update-heavy CDC batch that touches a few
rows per partition must not rewrite terabytes of text payloads (COW's
trade); MOR writes per-partition DELTA files and defers the merge to read
time / compaction — the Iceberg-v2 / Hudi positional-delete analog on the
engine's own table format.

Correctness contract tested here:
* the MOR ledger equals the COW ledger batch-for-batch (the touched
  partitions' narrow incumbent rows ride COW's own union window, and the
  ledger its observation), on the observe tier and on the read-back tier
  above ``PARTSTATS_OBSERVE_LIMIT``;
* batch rows that lose to the incumbent are never written as deltas;
* the MOR resolved read equals the COW table and the pandas oracle at
  every batch point;
* base files are REUSED (appended-to, never rewritten) by MOR batches;
* compact() folds deltas into base, after which the table digest is
  defined again and EQUALS the COW digest for the same log;
* idempotent re-apply beyond the dedup window classifies as replays
  (dups), leaving the table unchanged;
* a crash between the snapshot swap and the checkpoint marker re-applies
  the batch with COW's ledger, read and post-compaction digest;
* reads of a fully-compacted table are scan-only (no resolve window).
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import image_report_spark.engine as engine_mod
from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine
from image_report_spark.fixtures import ChangeLogGenerator, apply_oracle

LEDGER_KEYS = [
    "events_read", "applied", "deduped", "superseded", "quarantined",
    "rows_before", "inserts", "updates", "deletes", "rows_after",
]


def _mk(spark, root, mode: str):
    return CdcEngine.init(
        spark,
        str(root / f"table-{mode}"),
        str(root / f"cp-{mode}"),
        config=EngineConfig(num_buckets=8, write_mode=mode),
    )


def _sorted_read(eng):
    return (
        eng.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
    )


@pytest.fixture(scope="module")
def gen():
    # duplicates, out-of-order arrival, late updates, malformed rows —
    # the full generator adversarial surface, across 4 micro-batches
    return ChangeLogGenerator(
        n_convs=40, max_turns=6, n_batches=4, seed=7,
        dup_frac=0.05, late_frac=0.1, malformed_frac=0.02,
    )


def test_mor_ledger_and_read_match_cow_and_oracle(spark, tmp_path, gen):
    log_dir = str(tmp_path / "log")
    gen.write_log(log_dir)
    cow = _mk(spark, tmp_path, "cow")
    mor = _mk(spark, tmp_path, "mor")
    cow_reports = cow.run(log_dir)
    mor_reports = mor.run(log_dir)
    assert len(cow_reports) == len(mor_reports)
    for cr, mr in zip(cow_reports, mor_reports):
        assert mr.conservation_ok(), mr.ledger(set(LEDGER_KEYS))
        got = {k: getattr(mr, k) for k in LEDGER_KEYS}
        want = {k: getattr(cr, k) for k in LEDGER_KEYS}
        assert got == want, f"batch {mr.batch_id}: MOR ledger {got} != COW {want}"
    got = _sorted_read(mor)
    want = _sorted_read(cow)
    pd.testing.assert_frame_equal(got, want)
    exp = apply_oracle(gen.events())
    assert len(got) == len(exp)
    exp = exp.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    assert got["text"].tolist() == exp["text"].tolist()


def test_mor_appends_deltas_without_rewriting_base(spark, tmp_path, gen):
    log_dir = str(tmp_path / "log")
    gen.write_log(log_dir)
    mor = _mk(spark, tmp_path, "mor")
    mor.run(log_dir, max_batches=1)
    snap1 = mor.table.snapshot()
    base_files = {e["partition"]: list(e["files"]) for e in snap1["manifest"]}
    mor.run(log_dir, max_batches=2)
    snap2 = mor.table.snapshot()
    assert snap2["snapshot_id"] > snap1["snapshot_id"]
    with_deltas = [e for e in snap2["manifest"] if e.get("delta_files")]
    assert with_deltas, "batch 1 wrote no delta files"
    for e in snap2["manifest"]:
        p = e["partition"]
        if p in base_files:
            # the batch APPENDED deltas; the base file list is untouched
            assert e["files"] == base_files[p], f"partition {p} base rewritten"
    for e in with_deltas:
        # checksum undefined while deltas pend
        assert e["checksum"] is None
    assert snap2.get("table_digest") is None


def test_mor_compaction_restores_cow_digest(spark, tmp_path, gen):
    log_dir = str(tmp_path / "log")
    gen.write_log(log_dir)
    cow = _mk(spark, tmp_path, "cow")
    mor = _mk(spark, tmp_path, "mor")
    cow.run(log_dir)
    mor.run(log_dir)
    before = _sorted_read(mor)
    out = mor.compact()
    assert out["compacted_partitions"] > 0
    assert out["table_digest"] is not None
    # THE equivalence: same log, different physical strategy, same digest
    assert out["table_digest"] == cow.current_table_digest()
    # content unchanged by compaction; manifest fully clean
    pd.testing.assert_frame_equal(_sorted_read(mor), before)
    snap = mor.table.snapshot()
    assert all(not (e.get("delta_files") or []) for e in snap["manifest"])
    assert all(e["checksum"] is not None for e in snap["manifest"])
    # compaction is idempotent / a no-op when clean
    again = mor.compact()
    assert again["compacted_partitions"] == 0
    assert again["table_digest"] == out["table_digest"]


def test_mor_auto_compaction_policy(spark, tmp_path):
    """``mor_compact_delta_ratio``: a batch whose delta bytes cross
    ratio × base bytes triggers partition-local compaction inside the same
    apply call — no manual compact() anywhere — and the table ends fully
    clean: scan-only read plan, defined digest EQUAL to COW's (VERDICT r4
    #6; motivated by round 3's 2.4 s-dirty vs 0.7 s-compacted read)."""
    gen2 = ChangeLogGenerator(n_convs=10, max_turns=4, n_batches=2, seed=5)
    log_dir = str(tmp_path / "log")
    gen2.write_log(log_dir)
    cow = _mk(spark, tmp_path, "cow")
    cow.run(log_dir)
    auto = CdcEngine.init(
        spark,
        str(tmp_path / "table-auto"),
        str(tmp_path / "cp-auto"),
        config=EngineConfig(
            num_buckets=8, write_mode="mor", mor_compact_delta_ratio=0.2
        ),
    )
    reports = auto.run(log_dir)
    # similarly-sized batches against a small base cross a 0.2 ratio every
    # time — the policy must fire, and say so in the report
    assert all(r.auto_compacted_partitions > 0 for r in reports)
    assert all("auto_compact" in r.phase_ms for r in reports)
    assert all(r.conservation_ok() for r in reports)
    snap = auto.table.snapshot()
    assert all(not (e.get("delta_files") or []) for e in snap["manifest"])
    # reads return to scan-only plans (no MOR resolve window)
    plan = auto.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # digest defined again and COW-equal WITHOUT any manual compact()
    assert auto.current_table_digest() is not None
    assert auto.current_table_digest() == cow.current_table_digest()


def test_mor_auto_compaction_below_ratio_leaves_deltas(spark, tmp_path):
    """A generous ratio must NOT fire on a small delta — the policy is a
    threshold, not an always-compact: deltas stay pending and the read
    still resolves through the window."""
    gen2 = ChangeLogGenerator(n_convs=40, max_turns=6, n_batches=2, seed=9)
    log_dir = str(tmp_path / "log")
    gen2.write_log(log_dir)
    eng = CdcEngine.init(
        spark,
        str(tmp_path / "table-hi"),
        str(tmp_path / "cp-hi"),
        config=EngineConfig(
            num_buckets=8, write_mode="mor", mor_compact_delta_ratio=1e9
        ),
    )
    # batch 0 fills empty partitions (base bytes 0 → any delta crosses);
    # batch 1's delta against the established base is far below 1e9×
    reports = eng.run(log_dir)
    assert reports[0].auto_compacted_partitions > 0
    assert reports[1].auto_compacted_partitions == 0
    snap = eng.table.snapshot()
    assert any(e.get("delta_files") for e in snap["manifest"])
    plan = eng.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan


def test_mor_reapply_beyond_window_is_replay(spark, tmp_path):
    gen = ChangeLogGenerator(n_convs=10, max_turns=4, n_batches=1, seed=3)
    log_dir = str(tmp_path / "log")
    gen.write_log(log_dir)
    mor = _mk(spark, tmp_path, "mor")
    [rpt0] = mor.run(log_dir)
    before = _sorted_read(mor)
    rows_before = rpt0.rows_after
    # replay the identical events as a far-future batch id — outside the
    # dedup window, so only the vs-incumbent classification can catch them
    from image_report_spark.sources.changelog import ChangeLogSource

    src = ChangeLogSource(mor.spark, log_dir)
    [(_, path)] = src.list_batches()
    rpt = mor.apply_batch(src.read_batch(path), batch_id=99)
    assert rpt.conservation_ok()
    assert rpt.applied == 0 and rpt.inserts == 0 and rpt.deletes == 0
    assert rpt.rows_after == rows_before
    pd.testing.assert_frame_equal(_sorted_read(mor), before)


def test_compacted_read_is_scan_only(spark, tmp_path):
    gen = ChangeLogGenerator(n_convs=10, max_turns=4, n_batches=2, seed=5)
    log_dir = str(tmp_path / "log")
    gen.write_log(log_dir)
    mor = _mk(spark, tmp_path, "mor")
    mor.run(log_dir)
    dirty_plan = mor.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" in dirty_plan  # pending deltas resolve through the window
    mor.compact()
    clean_plan = mor.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in clean_plan  # clean partitions are scan-only


def test_expire_snapshots_retains_referenced_delta_files(spark, tmp_path):
    gen = ChangeLogGenerator(n_convs=10, max_turns=4, n_batches=2, seed=13)
    log_dir = str(tmp_path / "log")
    gen.write_log(log_dir)
    mor = _mk(spark, tmp_path, "mor")
    mor.run(log_dir)
    before = _sorted_read(mor)
    # keep only the newest snapshot: batch-0's delta files are still
    # referenced by the current manifest and must survive the sweep
    mor.table.expire_snapshots(keep_last=1)
    pd.testing.assert_frame_equal(_sorted_read(mor), before)


def test_mor_changes_between_sees_delta_commits(spark, tmp_path):
    gen = ChangeLogGenerator(n_convs=10, max_turns=4, n_batches=2, seed=11)
    log_dir = str(tmp_path / "log")
    gen.write_log(log_dir)
    mor = _mk(spark, tmp_path, "mor")
    reports = mor.run(log_dir)
    s0, s1 = reports[0].snapshot_id, reports[1].snapshot_id
    ch = mor.table.changes_between(s0, s1)
    # every change row carries an LSN above batch 0's high-water mark
    hwm = max(
        e["last_applied_lsn"]
        for e in mor.table.snapshot(s0)["manifest"]
        if e["last_applied_lsn"] is not None
    )
    assert ch.count() > 0
    assert ch.filter(f"_lsn <= {hwm}").count() == 0


def _ledger(r) -> dict:
    return {k: getattr(r, k) for k in LEDGER_KEYS}


def _assert_matches_cow(cow, mor, cow_reports, mor_reports) -> None:
    """Batch-for-batch ledger, resolved read and post-compaction digest
    of a MOR run equal to the COW run over the same log."""
    assert len(cow_reports) == len(mor_reports)
    for cr, mr in zip(cow_reports, mor_reports):
        assert mr.conservation_ok(), _ledger(mr)
        assert _ledger(mr) == _ledger(cr), f"batch {mr.batch_id}"
    pd.testing.assert_frame_equal(_sorted_read(mor), _sorted_read(cow))
    out = mor.compact()
    assert out["table_digest"] is not None
    assert out["table_digest"] == cow.current_table_digest()


TS0 = pd.Timestamp("2026-01-01T00:00:00")
_BATCH_SCHEMA = pa.schema([
    ("lsn", pa.int64()), ("op", pa.string()), ("conv_id", pa.string()),
    ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def _write_batch(log_dir: str, batch_id: int, rows: list[tuple]) -> None:
    """``rows``: (lsn, op, conv, turn, text, ts offset in seconds)."""
    os.makedirs(log_dir, exist_ok=True)
    df = pd.DataFrame(
        [
            dict(lsn=lsn, op=op, conv_id=f"c{conv:03d}", turn_idx=turn,
                 role="user", text=text, tool=None,
                 ts=TS0 + pd.Timedelta(seconds=off))
            for lsn, op, conv, turn, text, off in rows
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(df, schema=_BATCH_SCHEMA, preserve_index=False),
        os.path.join(log_dir, f"batch-{batch_id:05d}.parquet"),
    )


def _data_files(eng) -> set[str]:
    root = os.path.join(eng.table.root, "data")
    return {
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    }


def test_mor_losing_rows_write_no_delta(spark, tmp_path):
    """A batch whose every event is older than its key's incumbent row
    (late updates, late deletes, a late re-insert) loses every key in the
    merge window: it writes no delta file and leaves each manifest entry
    byte-identical, while its ledger, read and post-compaction digest
    equal COW's."""
    log = str(tmp_path / "log")
    _write_batch(log, 0, [(i, "I", i, t, f"v{i}", 60) for i in range(12) for t in (0, 1)])
    # batch 1 updates a key batch 0 left pending, so the incumbent of
    # batch 2 is base + an older base row + a delta
    _write_batch(log, 1, [(100 + i, "U", i, 0, f"u{i}", 120) for i in range(0, 12, 3)])
    _write_batch(
        log, 2,
        [(200 + i, "U", i, 0, f"late{i}", 30) for i in range(12)]
        + [(220 + i, "D", i, 1, None, 30) for i in range(0, 12, 2)]
        + [(240 + i, "I", i, 1, f"re{i}", 10) for i in range(1, 12, 2)],
    )
    cow, mor = _mk(spark, tmp_path, "cow"), _mk(spark, tmp_path, "mor")
    cow_reports = cow.run(log)
    mor_reports = mor.run(log, max_batches=2)
    mor.compact(partitions=[0, 1, 2, 3])  # some incumbents in base, some in deltas
    before = mor.table.snapshot()["manifest"]
    files_before = _data_files(mor)
    mor_reports += [r for r in mor.run(log) if not r.skipped]
    assert mor_reports[2].applied == 0
    assert mor_reports[2].superseded == 12 + 6 + 6
    assert _data_files(mor) == files_before, "a losing row was written"
    after = mor.table.snapshot()["manifest"]
    dump = lambda m: sorted(json.dumps(e, sort_keys=True) for e in m)  # noqa: E731
    assert dump(after) == dump(before)
    _assert_matches_cow(cow, mor, cow_reports, mor_reports)


def test_mor_crash_between_swap_and_marker_matches_cow(spark, tmp_path):
    """A batch whose snapshot committed but whose checkpoint marker did
    not (a crash between the two) is re-applied by the next run(). Its
    events now meet their own delta rows as incumbents: each pairs with
    its key's NEWEST incumbent row only, so the re-applied ledger, the
    read and the post-compaction digest equal COW's in the same crash."""
    gen = ChangeLogGenerator(
        n_convs=30, max_turns=5, n_batches=3, seed=17,
        dup_frac=0.05, late_frac=0.15,
    )
    log = str(tmp_path / "log")
    gen.write_log(log)
    runs = {}
    for mode in ("cow", "mor"):
        eng = _mk(spark, tmp_path, mode)
        first = eng.run(log, max_batches=2)
        os.remove(os.path.join(str(tmp_path / f"cp-{mode}"), "batches", "batch-00001.json"))
        rest = eng.run(log)
        assert [r.skipped for r in rest] == [True, False, False]
        assert rest[1].applied == 0 and rest[1].rows_after == first[1].rows_after
        runs[mode] = (eng, first + rest[1:])
    (cow, cow_reports), (mor, mor_reports) = runs["cow"], runs["mor"]
    _assert_matches_cow(cow, mor, cow_reports, mor_reports)


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory, gen):
    """COW and default-tier MOR runs over ``gen``'s log."""
    root = tmp_path_factory.mktemp("mor-reference")
    log = str(root / "log")
    gen.write_log(log)
    cow, mor = _mk(spark, root, "cow"), _mk(spark, root, "mor")
    mor.run(log)
    return log, cow, cow.run(log), mor


@pytest.mark.parametrize(
    "patch",
    [
        {"HOT_EVENTS": 2},
        {"PARTSTATS_OBSERVE_LIMIT": 0},
        {"PARTSTATS_OBSERVE_LIMIT": 0, "BROADCAST_KEY_LIMIT": 0},
    ],
    ids=["salted_hot", "readback", "readback_shuffled"],
)
def test_mor_tiers_match_cow(spark, tmp_path, monkeypatch, reference, patch):
    """Salted hot buckets and the read-back delta-stats tier (broadcast
    and shuffled joins) reach COW's ledger batch for batch, and manifest
    entries whose row counts, live rows and last-applied LSNs equal the
    default tier's."""
    log, cow, cow_reports, ref = reference
    for name, value in patch.items():
        monkeypatch.setattr(engine_mod, name, value)
    salted = []
    salt_expr = engine_mod._salt_expr

    def spy(hot_buckets, n_salt):
        salted.extend(hot_buckets)
        return salt_expr(hot_buckets, n_salt)

    monkeypatch.setattr(engine_mod, "_salt_expr", spy)
    mor = _mk(spark, tmp_path, "mor")
    mor_reports = mor.run(log)
    # the batches really took the tier the case is named for
    assert bool(salted) == ("HOT_EVENTS" in patch)
    readback = "PARTSTATS_OBSERVE_LIMIT" in patch
    assert all(("partstats" in r.phase_ms) == readback for r in mor_reports)

    def stats(eng) -> dict:
        return {
            e["partition"]: (
                e["row_count"], e["live_rows"], e["last_applied_lsn"],
                len(e["delta_files"]),
            )
            for e in eng.table.snapshot()["manifest"]
        }

    assert stats(mor) == stats(ref)
    _assert_matches_cow(cow, mor, cow_reports, mor_reports)
