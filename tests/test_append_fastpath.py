"""Copy-on-write APPEND fast-path (EngineConfig.cow_append_fastpath).

The scale argument: an insert-heavy stream (bulk load, event-log append,
new-conversation traffic) under plain COW rewrites every touched
partition every batch — a load of N batches re-encodes each row ~N/2
times. The fast-path detects, per partition, "pure inserts + zero key
overlap with the incumbent" (zone maps, or the merge-proven two-stream
tier for interleaved keys; tombstones count as overlap) and APPENDS: new
file, incumbent files carried forward, lineage stats xor-combined (the
partition checksum is an order-independent bit_xor of per-row hashes, so
old ⊕ new is exactly the full-rewrite checksum).

Correctness contract tested here:
* digest + content + per-batch ledger equality against the fast-path-OFF
  engine on the same log (the oracle for every scenario below);
* append batches leave incumbent files byte-identical in the manifest
  (no rewrite) and add exactly the new file(s);
* ANY key overlap — a re-insert via op 'I', or a tombstone for the key —
  forces the normal rewrite path for that partition;
* the ck_id guard: after an additive schema evolution changes the
  checksum column set, or a type promotion widens a checksum column,
  stale entries are not xor-combined (they take one full rewrite, then
  regain appendability).
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import FloatType, IntegerType, StructField, StructType

import image_report_spark.engine as engine_mod
from image_report_spark.config import EngineConfig
from image_report_spark.engine import TRANSCRIPT_SCHEMA, CdcEngine
from image_report_spark.fixtures import ChangeLogGenerator, apply_oracle

TS0 = pd.Timestamp("2026-01-01T00:00:00")


def _write_batch(log_dir: str, batch_id: int, rows: list[dict], **types) -> None:
    os.makedirs(log_dir, exist_ok=True)
    df = pd.DataFrame(rows)
    types = {
        "lsn": pa.int64(), "op": pa.string(), "conv_id": pa.string(),
        "turn_idx": pa.int32(), "role": pa.string(), "text": pa.string(),
        "tool": pa.string(), "ts": pa.timestamp("us"), "meta": pa.string(),
        **types,
    }
    schema = pa.schema([(c, types[c]) for c in df.columns])
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False),
        os.path.join(log_dir, f"batch-{batch_id:05d}.parquet"),
    )


def _ins(lsn, conv, turn, text, ts_off_s=0, **extra) -> dict:
    return dict(
        lsn=lsn, op="I", conv_id=f"c{conv:08d}", turn_idx=turn, role="user",
        text=text, tool=None, ts=TS0 + pd.Timedelta(seconds=ts_off_s), **extra,
    )


def _mk(spark, root, name: str, fastpath: bool, schema=TRANSCRIPT_SCHEMA):
    return CdcEngine.init(
        spark,
        str(root / f"tbl-{name}"),
        str(root / f"cp-{name}"),
        schema=schema,
        config=EngineConfig(
            num_buckets=8, shuffle_partitions=8, cow_append_fastpath=fastpath,
        ),
    )


def _content(eng) -> pd.DataFrame:
    cols = sorted(eng.read().columns)
    return (
        eng.read().toPandas()[cols]
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


def _assert_equiv(on, off):
    """The fast-path engine is indistinguishable from the rewrite engine."""
    assert on.current_table_digest() == off.current_table_digest()
    pd.testing.assert_frame_equal(_content(on), _content(off))
    ma = {e["partition"]: e for e in on.table.snapshot()["manifest"]}
    mb = {e["partition"]: e for e in off.table.snapshot()["manifest"]}
    assert set(ma) == set(mb)
    for p, a in ma.items():
        b = mb[p]
        assert a["live_rows"] == b["live_rows"], p
        assert a["checksum"] == b["checksum"], p
        assert a["last_applied_lsn"] == b["last_applied_lsn"], p


LEDGER_KEYS = [
    "events_read", "applied", "deduped", "superseded", "quarantined",
    "rows_before", "inserts", "updates", "deletes", "rows_after",
]


def test_insert_only_batches_append_and_match_rewrite(spark, tmp_path):
    log = str(tmp_path / "log")
    # b0: convs 0-15; b1: convs 16-31 (all-I, disjoint); b2: updates+delete
    _write_batch(log, 0, [_ins(i, i, 0, f"t{i}") for i in range(16)])
    _write_batch(log, 1, [_ins(100 + i, 16 + i, 0, f"t{16+i}") for i in range(16)])
    _write_batch(log, 2, [
        dict(_ins(200, 3, 0, "updated", ts_off_s=60), op="U"),
        dict(_ins(201, 5, 0, None, ts_off_s=60), op="D"),
        _ins(202, 40, 0, "t40", ts_off_s=60),
    ])
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)

    r0 = on.run(log, max_batches=1)[0]
    snap1 = on.table.snapshot()
    b0_files = {e["partition"]: list(e["files"]) for e in snap1["manifest"]}
    # batch 0 lands on an empty table: nothing to append TO
    assert r0.partitions_appended == 0

    r1 = on.run(log, max_batches=2)[1]
    assert r1.partitions_appended == r1.partitions_touched > 0
    # monotonic keys: the zone-map METADATA tier proves disjointness from
    # the prepass + manifest alone — no classify scan job ran
    assert "classify" not in r1.phase_ms
    snap2 = on.table.snapshot()
    grew = 0
    for e in snap2["manifest"]:
        p = e["partition"]
        if p in b0_files:
            # incumbent files carried forward VERBATIM; partitions that
            # received batch-1 rows appended new file(s), the rest carried
            # forward untouched — NO partition was rewritten
            assert e["files"][: len(b0_files[p])] == b0_files[p]
            grew += len(e["files"]) > len(b0_files[p])
    assert grew == r1.partitions_appended > 0

    r2 = on.run(log)[2]
    # batch 2's U/D buckets take the rewrite path; its lone all-insert
    # bucket (conv 40) may still append — gating is per BUCKET
    assert r2.partitions_appended < r2.partitions_touched
    r_on = [r0, r1, r2]

    r_off = off.run(log)
    for a, b in zip(r_on, r_off):
        assert a.conservation_ok(), a.ledger(set(LEDGER_KEYS))
        got = {k: getattr(a, k) for k in LEDGER_KEYS}
        want = {k: getattr(b, k) for k in LEDGER_KEYS}
        assert got == want, f"batch {a.batch_id}: {got} != {want}"
    _assert_equiv(on, off)


def test_reinsert_collision_forces_rewrite(spark, tmp_path, monkeypatch):
    log = str(tmp_path / "log")
    _write_batch(log, 0, [_ins(i, i, 0, f"old{i}") for i in range(8)])
    # b1 is ALL-I but re-inserts conv 0 turn 0 (later ts wins) + new convs
    _write_batch(log, 1, [_ins(100, 0, 0, "new0", ts_off_s=60)]
                 + [_ins(101 + i, 20 + i, 0, f"t{20+i}", ts_off_s=60) for i in range(8)])
    # the colliding bucket's ranges overlap, so the zone maps can't
    # decide — the merge-proven tier must see the displaced key and route
    # the bucket to the rewrite path
    monkeypatch.setattr(engine_mod, "TWO_STREAM_MIN_RATIO", 0.0)
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    r_on = on.run(log)
    off.run(log)
    assert r_on[1].partitions_two_stream > 0
    # some partitions appended, but NOT all: the conv-0 bucket was rewritten
    assert 0 < r_on[1].partitions_appended < r_on[1].partitions_touched
    got = _content(on)
    winner = got[(got.conv_id == "c00000000") & (got.turn_idx == 0)]
    assert winner["text"].tolist() == ["new0"]
    _assert_equiv(on, off)


def test_scan_tier_appends_interleaved_disjoint_keys(spark, tmp_path, monkeypatch):
    """Key ranges overlap (evens then odds) so the metadata tier can't
    prove disjointness — the merge-proven tier must still discover that
    the key SETS are disjoint and append."""
    log = str(tmp_path / "log")
    _write_batch(log, 0, [_ins(i, 2 * i, 0, f"e{i}") for i in range(16)])
    _write_batch(log, 1, [_ins(100 + i, 2 * i + 1, 0, f"o{i}", ts_off_s=60)
                          for i in range(16)])
    monkeypatch.setattr(engine_mod, "TWO_STREAM_MIN_RATIO", 0.0)
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    on.run(log, max_batches=1)
    b0_parts = {e["partition"] for e in on.table.snapshot()["manifest"]}
    r1 = on.run(log)[1]
    off.run(log)
    assert r1.partitions_appended > 0
    assert r1.partitions_two_stream > 0  # the merge-proven tier ran
    # every bucket with BOTH an incumbent and b1 rows appended (2 files);
    # incumbent-less buckets are plain new-partition writes
    snap = {e["partition"]: e for e in on.table.snapshot()["manifest"]}
    assert r1.partitions_appended == sum(
        1 for p, e in snap.items() if p in b0_parts and len(e["files"]) > 1
    )
    _assert_equiv(on, off)


def test_tombstone_counts_as_overlap(spark, tmp_path, monkeypatch):
    log = str(tmp_path / "log")
    _write_batch(log, 0, [_ins(i, i, 0, f"old{i}") for i in range(8)])
    _write_batch(log, 1, [dict(_ins(100, 0, 0, None, ts_off_s=60), op="D")])
    # b2 is all-I and re-inserts the DELETED key: its bucket holds only a
    # tombstone, which must still count as overlap (else the partition
    # would carry two physical rows for one key)
    _write_batch(log, 2, [_ins(200, 0, 0, "resurrected", ts_off_s=120)]
                 + [_ins(201 + i, 30 + i, 0, f"t{30+i}", ts_off_s=120) for i in range(8)])
    monkeypatch.setattr(engine_mod, "TWO_STREAM_MIN_RATIO", 0.0)
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    r_on = on.run(log)
    off.run(log)
    assert r_on[2].partitions_two_stream > 0
    assert r_on[2].partitions_appended < r_on[2].partitions_touched
    got = _content(on)
    winner = got[(got.conv_id == "c00000000") & (got.turn_idx == 0)]
    assert winner["text"].tolist() == ["resurrected"]
    _assert_equiv(on, off)


def test_schema_evolution_keeps_appending_under_frozen_checksum_cols(
    spark, tmp_path
):
    """CdcEngine.init freezes checksum_columns at creation, so an additive
    evolution does NOT change the hash column set — insert-only batches
    keep appending right through it, and evolved-schema files coexist
    with pre-evolution files inside one partition's file list."""
    log = str(tmp_path / "log")
    _write_batch(log, 0, [_ins(i, i, 0, f"t{i}") for i in range(16)])
    # b1 and b2: insert-only, evolved schema (adds `meta`)
    _write_batch(log, 1, [_ins(100 + i, 16 + i, 0, f"t{16+i}", meta="m")
                          for i in range(16)])
    _write_batch(log, 2, [_ins(200 + i, 32 + i, 0, f"t{32+i}", meta="m")
                          for i in range(16)])
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    r_on = on.run(log)
    off.run(log)
    assert r_on[1].partitions_appended > 0
    assert r_on[2].partitions_appended > 0
    _assert_equiv(on, off)
    # the mixed-schema partition reads pre-evolution rows with NULL meta
    got = _content(on)
    assert got[got.conv_id == "c00000000"]["meta"].isna().all()
    assert (got[got.conv_id == "c00000016"]["meta"] == "m").all()


def test_ck_id_guard_on_checksum_column_set_change(spark, tmp_path):
    """Changing the digest column set mid-life (set_checksum_columns)
    invalidates every stored entry checksum for xor-combination: the next
    insert-only batch must full-rewrite (one re-hash under the new set),
    after which appendability is restored."""
    log = str(tmp_path / "log")
    _write_batch(log, 0, [_ins(i, i, 0, f"t{i}") for i in range(16)])
    _write_batch(log, 1, [_ins(100 + i, 16 + i, 0, f"t{16+i}")
                          for i in range(16)])
    _write_batch(log, 2, [_ins(200 + i, 32 + i, 0, f"t{32+i}")
                          for i in range(16)])
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    narrowed = ["conv_id", "turn_idx", "text"]
    for eng in (on, off):
        eng.run(log, max_batches=1)
        eng.table.set_checksum_columns(narrowed)
    r1 = on.run(log, max_batches=2)[1]
    r2 = on.run(log)[2]
    off.run(log)
    assert r1.partitions_appended == 0   # stale ck_id → rewrite
    assert r2.partitions_appended > 0    # restored under the new set
    _assert_equiv(on, off)


@pytest.mark.parametrize("promotion", ["int_bigint", "float_double"])
def test_type_promotion_then_append_matches_rewrite(spark, tmp_path, promotion):
    """A type promotion of a checksum column changes every row hash of
    that column, so an entry hashed under the narrow type must not be
    xor-combined with rows hashed under the wide one: the promoted batch
    rewrites, and the batch after it appends again."""
    log = str(tmp_path / "log")
    if promotion == "int_bigint":
        col, field, narrow, wide = "n", IntegerType(), pa.int32(), pa.int64()
    else:
        col, field, narrow, wide = "score", FloatType(), pa.float32(), pa.float64()
    schema = StructType(list(TRANSCRIPT_SCHEMA.fields) + [StructField(col, field)])
    for b, typ in enumerate((narrow, wide, wide)):
        # 0.1 is inexact in binary, so a widened float is not the double
        # a double column would have held
        _write_batch(
            log, b,
            [_ins(100 * b + i, 16 * b + i, 0, f"t{b}-{i}", ts_off_s=60 * b,
                  **{col: i if col == "n" else i + 0.1}) for i in range(16)],
            **{col: typ},
        )
    on = _mk(spark, tmp_path, "on", True, schema)
    off = _mk(spark, tmp_path, "off", False, schema)
    r_on = on.run(log)
    r_off = off.run(log)
    for a, b in zip(r_on, r_off):
        assert a.conservation_ok()
        assert a.table_digest == b.table_digest, a.batch_id
    assert r_on[2].partitions_appended > 0
    _assert_equiv(on, off)


@pytest.mark.parametrize("fault", ["mixed", "pure_inserts"])
def test_generator_stream_equivalence(spark, tmp_path, fault):
    if fault == "mixed":
        gen = ChangeLogGenerator(
            n_convs=40, max_turns=6, n_batches=4, seed=7,
            dup_frac=0.05, late_frac=0.1, malformed_frac=0.02,
        )
    else:
        gen = ChangeLogGenerator(
            n_convs=60, max_turns=5, n_batches=4, seed=9,
            update_frac=0.0, delete_frac=0.0,
        )
    log = str(tmp_path / "log")
    gen.write_log(log)
    on = _mk(spark, tmp_path, "on", True)
    off = _mk(spark, tmp_path, "off", False)
    r_on = on.run(log)
    r_off = off.run(log)
    for a, b in zip(r_on, r_off):
        assert a.conservation_ok(), a.ledger(set(LEDGER_KEYS))
        got = {k: getattr(a, k) for k in LEDGER_KEYS}
        want = {k: getattr(b, k) for k in LEDGER_KEYS}
        assert got == want, f"batch {a.batch_id}: {got} != {want}"
    if fault == "pure_inserts":
        # a pure-insert stream appends every batch after the first
        assert all(r.partitions_appended > 0 for r in r_on[1:])
    _assert_equiv(on, off)
    # content still matches the row-wise pandas oracle
    exp = apply_oracle(gen.events())
    got = _content(on)
    assert len(got) == len(exp)
    exp = exp.sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    assert got["text"].tolist() == exp["text"].tolist()
