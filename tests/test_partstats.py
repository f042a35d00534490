"""Partition-lineage stats tiers (round 5).

The per-row checksum hash ``_h`` is computed INSIDE the merge pipeline and
persisted in the written files (alongside ``_salt``). Three ways to turn it
into per-partition lineage (row counts / live rows / last LSN /
order-independent checksum):

* tier 1 (default): conditional ``observe()`` aggregates riding the write
  job itself — zero extra Spark job, zero read-back bytes;
* tier 2 (more than ``engine.PARTSTATS_OBSERVE_LIMIT`` touched partitions;
  the tests force it by patching the constant to 0): a narrow
  fixed-width-column scan of the freshly written files;
* ``partstats_mode="reverify"``: re-hash the on-disk payload bytes — the
  bit-level end-to-end write-integrity check (pre-round-5 behavior).

All three must produce IDENTICAL manifest entries and table digest, and the
engine's own reapply/digest machinery must keep working on each.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

import image_report_spark.engine as engine_mod
from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine

T0 = pd.Timestamp("2026-01-01T00:00:00")


def _events_df(spark, n=60):
    """A batch with inserts, updates, LWW losers, and deletes spread over
    several partitions (num_buckets=4): exercises tombstone-NULL hashing
    (deletes contribute nothing to the checksum) and max-LSN per partition."""
    rows = []
    lsn = 0
    for i in range(n):
        rows.append(
            {
                "lsn": lsn,
                "op": "I",
                "conv_id": f"c{i % 17}",
                "turn_idx": i // 17,
                "role": "user",
                "text": f"text-{i}",
                "tool": None,
                "ts": T0 + pd.Timedelta(seconds=i),
            }
        )
        lsn += 1
    for i in range(0, n, 5):  # updates (win by later ts)
        rows.append(
            {
                "lsn": lsn,
                "op": "U",
                "conv_id": f"c{i % 17}",
                "turn_idx": i // 17,
                "role": "user",
                "text": f"rev-{i}",
                "tool": "edit",
                "ts": T0 + pd.Timedelta(seconds=1000 + i),
            }
        )
        lsn += 1
    for i in (3, 11):  # deletes -> tombstone rows in the files
        rows.append(
            {
                "lsn": lsn,
                "op": "D",
                "conv_id": f"c{i}",
                "turn_idx": 0,
                "role": None,
                "text": None,
                "tool": None,
                "ts": T0 + pd.Timedelta(seconds=2000 + i),
            }
        )
        lsn += 1
    pdf = pd.DataFrame(rows)
    pdf["lsn"] = pdf["lsn"].astype("Int64")
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    return spark.createDataFrame(
        pdf,
        schema="lsn long, op string, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp",
    )


def _run(spark, tmp_path, name, **cfg):
    eng = CdcEngine.init(
        spark,
        str(tmp_path / name / "tbl"),
        str(tmp_path / name / "cp"),
        config=EngineConfig(num_buckets=4, **cfg),
    )
    rpt = eng.apply_batch(_events_df(spark), 0)
    return eng, rpt, eng.table.snapshot()


def _force_readback_tier(monkeypatch):
    monkeypatch.setattr(engine_mod, "PARTSTATS_OBSERVE_LIMIT", 0)


def _lineage(snap):
    return {
        e["partition"]: (
            e["row_count"],
            e["live_rows"],
            e["checksum"],
            e["last_applied_lsn"],
        )
        for e in snap["manifest"]
    }


def test_all_three_tiers_identical(spark, tmp_path, monkeypatch):
    _, r1, s1 = _run(spark, tmp_path, "observe")  # tier 1 (default)
    _force_readback_tier(monkeypatch)
    _, r2, s2 = _run(spark, tmp_path, "narrow")
    _, r3, s3 = _run(spark, tmp_path, "reverify", partstats_mode="reverify")
    assert _lineage(s1) == _lineage(s2) == _lineage(s3)
    assert s1["table_digest"] == s2["table_digest"] == s3["table_digest"]
    assert r1.table_digest == r2.table_digest == r3.table_digest
    assert len(_lineage(s1)) >= 2  # actually spread over partitions
    for rc, live, cks, lsn in _lineage(s1).values():
        assert rc >= live and len(cks) == 16


def test_observe_tier_skips_readback_and_narrow_uses_it(spark, tmp_path, monkeypatch):
    calls = []
    real = engine_mod._written_partition_stats

    def spy(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(engine_mod, "_written_partition_stats", spy)
    _run(spark, tmp_path, "observe")
    assert calls == []  # tier 1: stats rode the write job, no read-back
    _force_readback_tier(monkeypatch)
    _run(spark, tmp_path, "narrow")
    assert len(calls) == 1  # tier 2: exactly one read-back


def test_row_hash_persisted_only_on_readback_tier(spark, tmp_path, monkeypatch):
    """Tier 1 (observe) must NOT pay the ~8 incompressible bytes/row for a
    stored ``_h`` nobody reads back; tier 2 (narrow read-back) needs it in
    the files. Logical reads never surface the stats columns either way."""
    eng1, _, snap1 = _run(spark, tmp_path, "observe")
    f1 = next(e["files"][0] for e in snap1["manifest"] if e["files"])
    cols1 = spark.read.parquet(os.path.join(eng1.table.root, f1)).columns
    assert "_h" not in cols1 and "_salt" in cols1

    _force_readback_tier(monkeypatch)
    eng2, _, snap2 = _run(spark, tmp_path, "narrow")
    f2 = next(e["files"][0] for e in snap2["manifest"] if e["files"])
    cols2 = spark.read.parquet(os.path.join(eng2.table.root, f2)).columns
    assert "_h" in cols2 and "_salt" in cols2
    assert "_h" not in eng2.read().columns


def test_reverify_checksum_comes_from_disk_bytes(spark, tmp_path, monkeypatch):
    """reverify recomputes the hash from on-disk payloads: corrupt one
    written file's payload (rewrite the text values, keeping the stored
    per-row hashes ``_h`` as originally computed) and the reverify
    read-back must disagree with the committed checksum, while the stored
    tier (trusting ``_h``) does not. Runs under the narrow tier — the only
    tier that persists ``_h``."""
    F = engine_mod.F

    _force_readback_tier(monkeypatch)
    eng, _, snap = _run(spark, tmp_path, "narrow")
    entry = next(e for e in snap["manifest"] if e["live_rows"] > 0)
    path = os.path.join(eng.table.root, entry["files"][0])
    df = spark.read.parquet(path)
    corrupted = df.withColumn(
        "text", F.when(F.col("text").isNotNull(), F.lit("CORRUPTED"))
    )
    tmp = str(tmp_path / "corrupt")
    corrupted.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.replace(os.path.join(tmp, part), path)

    logical = eng.table.logical_schema()
    cols = snap.get("checksum_columns") or [f.name for f in logical.fields]
    files = {entry["partition"]: entry["files"]}
    stored = engine_mod._written_partition_stats(
        spark, eng.table.root, files, logical, cols, "stored"
    )
    reverified = engine_mod._written_partition_stats(
        spark, eng.table.root, files, logical, cols, "reverify"
    )
    assert stored[0]["checksum"] == entry["checksum"]
    assert reverified[0]["checksum"] != entry["checksum"]


def test_mor_compaction_digest_equal_across_partstats_modes(spark, tmp_path):
    """MOR compaction routes its stats through the same tiered path: a
    compacted table must land on the identical digest whether the hash is
    persisted+aggregated ("stored") or re-derived from the on-disk payloads
    ("reverify") — and reverify-mode compacted files must NOT carry the
    unread ``_h`` column (8 incompressible bytes/row for nothing)."""
    digests, h_cols = {}, {}
    for mode in ("stored", "reverify"):
        eng = CdcEngine.init(
            spark,
            str(tmp_path / mode / "tbl"),
            str(tmp_path / mode / "cp"),
            config=EngineConfig(
                num_buckets=4, write_mode="mor", partstats_mode=mode
            ),
        )
        eng.apply_batch(_events_df(spark), 0)
        out = eng.compact()
        assert out["compacted_partitions"] > 0
        digests[mode] = out["table_digest"]
        snap = eng.table.snapshot()
        f = next(e["files"][0] for e in snap["manifest"] if e["files"])
        h_cols[mode] = "_h" in spark.read.parquet(
            os.path.join(eng.table.root, f)
        ).columns
    assert digests["stored"] == digests["reverify"] is not None
    assert h_cols == {"stored": True, "reverify": False}


def test_second_batch_and_reapply_stable_under_observe_tier(spark, tmp_path):
    """Digest carry-forward + crash-resume idempotence hold on the default
    (observe) tier: re-applying batch 1 must be a no-op with the same
    digest, and partition entries must stay self-consistent."""
    eng, _, _ = _run(spark, tmp_path, "observe")
    ev2 = _events_df(spark).withColumn("lsn", engine_mod.F.col("lsn") + 1000)
    rpt2 = eng.apply_batch(ev2, 1)
    d2 = eng.table.snapshot()["table_digest"]
    eng2 = CdcEngine.init(
        spark,
        str(tmp_path / "observe" / "tbl"),
        str(tmp_path / "observe" / "cp"),
        config=EngineConfig(num_buckets=4),
    )
    eng2.apply_batch(ev2, 1)  # idempotent re-apply of the same batch
    assert eng2.table.snapshot()["table_digest"] == d2
    assert rpt2.conservation_ok()


def test_driver_tier_matches_spark_readback_with_null_keys(
    spark, tmp_path, monkeypatch
):
    """Null merge keys are legal and produce files whose conv_id column
    chunk can be all-null (no footer min/max) — the driver tier's
    footer-statistics shortcut must fall back to reading the column and
    still match the Spark read-back exactly."""
    rows = _events_df(spark).toPandas()
    extra = rows.iloc[:3].copy()
    extra["conv_id"] = None
    extra["lsn"] = extra["lsn"] + 5000
    pdf = pd.concat([rows, extra], ignore_index=True)
    ev = spark.createDataFrame(
        pdf,
        schema="lsn long, op string, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp",
    )
    _force_readback_tier(monkeypatch)
    eng = CdcEngine.init(
        spark,
        str(tmp_path / "nullk" / "tbl"),
        str(tmp_path / "nullk" / "cp"),
        config=EngineConfig(num_buckets=4),
    )
    eng.apply_batch(ev, 0)
    snap = eng.table.snapshot()
    logical = eng.table.logical_schema()
    cols = snap.get("checksum_columns") or [f.name for f in logical.fields]
    files = {
        e["partition"]: e["files"] for e in snap["manifest"] if e["files"]
    }
    via_job = engine_mod._written_partition_stats(
        spark, eng.table.root, files, logical, cols, "stored", 0,
        snap.get("rowhash_mode") or "canonical",
    )
    via_driver = engine_mod._driver_partition_stats(eng.table.root, files)
    key = lambda r: int(r["_p"])
    for a, b in zip(sorted(via_job, key=key), sorted(via_driver, key=key)):
        for f in ("row_count", "live_rows", "last_applied_lsn", "checksum",
                  "key_lo", "key_hi"):
            assert a[f] == b[f], (a["_p"], f, a[f], b[f])


def test_driver_tier_matches_spark_readback(spark, tmp_path, monkeypatch):
    """The driver-side arrow read-back (PARTSTATS_DRIVER_BYTES_LIMIT)
    produces byte-identical stats to the Spark-job read-back on the same
    files, including tombstone skip-nulls, unsigned hex checksums and the
    string zone map."""
    _force_readback_tier(monkeypatch)
    eng, _, snap = _run(spark, tmp_path, "narrow")
    logical = eng.table.logical_schema()
    cols = snap.get("checksum_columns") or [f.name for f in logical.fields]
    files = {
        e["partition"]: e["files"] for e in snap["manifest"] if e["files"]
    }
    via_job = engine_mod._written_partition_stats(
        spark, eng.table.root, files, logical, cols, "stored", 0
    )
    via_driver = engine_mod._driver_partition_stats(eng.table.root, files)
    key = lambda r: int(r["_p"])
    for a, b in zip(sorted(via_job, key=key), sorted(via_driver, key=key)):
        for f in ("row_count", "live_rows", "last_applied_lsn", "checksum",
                  "key_lo", "key_hi"):
            assert a[f] == b[f], (a["_p"], f, a[f], b[f])
