"""Partition-lineage stats tiers (round 5), and ``CdcEngine.verify``.

The per-row checksum hash ``_h`` is computed INSIDE the merge pipeline.
Three ways turn it into per-partition lineage (row counts / live rows /
last LSN / order-independent checksum / key zone map):

* tier 1 (default): conditional ``observe()`` aggregates riding the write
  job itself — zero extra Spark job, zero read-back bytes, no ``_h`` in
  the files;
* tier 2 (more than ``engine.PARTSTATS_OBSERVE_LIMIT`` touched partitions;
  the tests force it by patching the constant to 0): ``_h`` is persisted
  and a narrow scan of the freshly written files aggregates it — on the
  driver with arrow below ``engine.PARTSTATS_DRIVER_BYTES_LIMIT``, else in
  a Spark job.

All three must produce IDENTICAL manifest entries and table digest, and the
engine's own reapply/digest machinery must keep working on each.
``verify`` re-hashes the payloads on disk and compares them with the
manifest; the corruption tests rewrite one file's payload values while
keeping every other column, ``_h`` included, as written.
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
    e1, r1, s1 = _run(spark, tmp_path, "observe")  # tier 1 (default)
    _force_readback_tier(monkeypatch)
    e2, r2, s2 = _run(spark, tmp_path, "narrow")  # driver read-back
    monkeypatch.setattr(engine_mod, "PARTSTATS_DRIVER_BYTES_LIMIT", 0)
    e3, r3, s3 = _run(spark, tmp_path, "spark")  # Spark read-back
    for eng in (e1, e2, e3):
        assert eng.verify()["ok"]
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


def _corrupt(spark, path: str, scratch: str) -> None:
    """Rewrite one data file with every non-NULL ``text`` value replaced,
    keeping all other columns (``_h`` included) as written."""
    F = engine_mod.F
    df = spark.read.parquet(path)
    df.withColumn(
        "text", F.when(F.col("text").isNotNull(), F.lit("CORRUPTED"))
    ).coalesce(1).write.mode("overwrite").parquet(scratch)
    part = next(f for f in os.listdir(scratch) if f.endswith(".parquet"))
    os.replace(os.path.join(scratch, part), path)


def _flags_only(report: dict, partition: int) -> None:
    assert not report["ok"], report
    assert {(m["partition"], m["field"]) for m in report["mismatches"]} == {
        (partition, "checksum")
    }, report


def test_verify_flags_corrupted_partition(spark, tmp_path, monkeypatch):
    """Corrupt one written file's payload (rewrite the text values,
    keeping the stored per-row hashes ``_h`` as originally computed):
    the stored read-back, trusting ``_h``, still matches the entry, and
    verify, re-hashing the payloads, flags that partition's checksum and
    nothing else. Runs under the narrow tier — the one that persists
    ``_h``."""
    _force_readback_tier(monkeypatch)
    eng, _, snap = _run(spark, tmp_path, "narrow")
    assert eng.verify()["ok"]
    entry = next(e for e in snap["manifest"] if e["live_rows"] > 0)
    path = os.path.join(eng.table.root, entry["files"][0])
    _corrupt(spark, path, str(tmp_path / "corrupt"))

    files = {entry["partition"]: entry["files"]}
    stored = engine_mod._written_partition_stats(spark, eng.table.root, files)
    assert stored[0]["checksum"] == entry["checksum"]
    report = eng.verify()
    _flags_only(report, entry["partition"])
    assert report["checked"] == sorted(e["partition"] for e in snap["manifest"])
    assert report["skipped"] == []
    assert report["snapshot_id"] == snap["snapshot_id"]


def test_verify_runs_one_aggregation_query(spark, tmp_path, monkeypatch):
    """verify submits exactly the jobs of the Spark read-back tier's one
    scan-and-aggregate query (with AQE, its shuffle-map stage and its
    result), and none when no partition is checked."""
    _force_readback_tier(monkeypatch)
    eng, _, snap = _run(spark, tmp_path, "narrow")
    files = {e["partition"]: e["files"] for e in snap["manifest"]}
    tracker = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs(call) -> int:
        before = tracker.nextJobId()
        call()
        return tracker.nextJobId() - before

    readback = jobs(
        lambda: engine_mod._written_partition_stats(spark, eng.table.root, files)
    )
    assert 1 <= jobs(eng.verify) == readback <= 2
    empty = CdcEngine.init(
        spark, str(tmp_path / "empty" / "tbl"), str(tmp_path / "empty" / "cp"),
        config=EngineConfig(num_buckets=4),
    )
    assert jobs(empty.verify) == 0 and empty.verify()["ok"]


def _route_rows(lsn0: int, convs, text="t", ts_off_s=0) -> pd.DataFrame:
    """Inserts of keys ``c{conv:08d}``, LSNs from ``lsn0``."""
    return pd.DataFrame(
        [
            dict(lsn=lsn0 + i, op="I", conv_id=f"c{c:08d}", turn_idx=0,
                 role="user", text=text, tool=None,
                 ts=T0 + pd.Timedelta(seconds=ts_off_s))
            for i, c in enumerate(convs)
        ]
    )


def _apply_pdfs(spark, tmp_path, name, pdfs, **cfg):
    eng = CdcEngine.init(
        spark, str(tmp_path / name / "tbl"), str(tmp_path / name / "cp"),
        config=EngineConfig(num_buckets=8, **cfg),
    )
    schema = (
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp"
    )
    reports = [
        eng.apply_batch(spark.createDataFrame(pdf, schema=schema), b)
        for b, pdf in enumerate(pdfs)
    ]
    return eng, reports


def test_verify_flags_older_file_of_appended_partition(spark, tmp_path):
    """A zone-map-appended partition's entry xor-combines its files'
    stats; corrupting the OLDER file (written by batch 0, carried forward
    by the append) is flagged on that partition alone."""
    eng, (_, r1) = _apply_pdfs(
        spark, tmp_path, "append",
        [_route_rows(0, range(16)), _route_rows(100, range(16, 32), ts_off_s=60)],
    )
    assert r1.partitions_appended > 0
    assert eng.verify()["ok"]
    entry = next(
        e for e in eng.table.snapshot()["manifest"] if len(e["files"]) >= 2
    )
    assert "/b00000/" in entry["files"][0]
    path = os.path.join(eng.table.root, entry["files"][0])
    _corrupt(spark, path, str(tmp_path / "corrupt"))
    _flags_only(eng.verify(), entry["partition"])


def test_verify_flags_two_stream_survivor_file(spark, tmp_path, monkeypatch):
    """A two-stream partition whose batch re-inserted an existing key
    copies its surviving incumbent rows into a new file; corrupting that
    survivor file is flagged on that partition alone."""
    monkeypatch.setattr(engine_mod, "TWO_STREAM_MIN_RATIO", 0.0)
    b1 = pd.concat(
        [
            _route_rows(100, [0], text="new0", ts_off_s=60),
            _route_rows(101, range(1, 32, 2), ts_off_s=60),
        ],
        ignore_index=True,
    )
    eng, (_, r1) = _apply_pdfs(
        spark, tmp_path, "survivors", [_route_rows(0, range(0, 32, 2)), b1]
    )
    assert r1.partitions_two_stream > 0
    assert eng.verify()["ok"]
    snap = eng.table.snapshot()
    survivor = None
    for e in snap["manifest"]:
        for f in e["files"]:
            path = os.path.join(eng.table.root, f)
            lsns = [r["_lsn"] for r in spark.read.parquet(path).select("_lsn").collect()]
            if "/b00001/" in f and lsns and max(lsns) < 100:
                survivor = (e["partition"], path)
    assert survivor is not None
    _corrupt(spark, survivor[1], str(tmp_path / "corrupt"))
    _flags_only(eng.verify(), survivor[0])


def test_compacted_files_carry_h_and_verify_passes(spark, tmp_path):
    """MOR compaction keeps the read-back tier: its files persist ``_h``,
    its digest equals a copy-on-write apply of the same batch, and verify
    checks every compacted partition (skipping none)."""
    eng = CdcEngine.init(
        spark, str(tmp_path / "mor" / "tbl"), str(tmp_path / "mor" / "cp"),
        config=EngineConfig(num_buckets=4, write_mode="mor"),
    )
    eng.apply_batch(_events_df(spark), 0)
    out = eng.compact()
    assert out["compacted_partitions"] > 0
    _, cow_rpt, _ = _run(spark, tmp_path, "cow")
    assert out["table_digest"] == cow_rpt.table_digest is not None
    snap = eng.table.snapshot()
    f = next(e["files"][0] for e in snap["manifest"] if e["files"])
    assert "_h" in spark.read.parquet(os.path.join(eng.table.root, f)).columns
    report = eng.verify()
    assert report["ok"] and report["skipped"] == [], report
    assert report["checked"] == sorted(e["partition"] for e in snap["manifest"])


def test_verify_flags_corrupted_compacted_partition(spark, tmp_path):
    eng = CdcEngine.init(
        spark, str(tmp_path / "mor" / "tbl"), str(tmp_path / "mor" / "cp"),
        config=EngineConfig(num_buckets=4, write_mode="mor"),
    )
    eng.apply_batch(_events_df(spark), 0)
    eng.compact()
    entry = next(
        e for e in eng.table.snapshot()["manifest"] if e["live_rows"] > 0
    )
    _corrupt(
        spark, os.path.join(eng.table.root, entry["files"][0]),
        str(tmp_path / "corrupt"),
    )
    _flags_only(eng.verify(), entry["partition"])


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
    files = {
        e["partition"]: e["files"] for e in snap["manifest"] if e["files"]
    }
    via_job = engine_mod._written_partition_stats(
        spark, eng.table.root, files, 0,
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
    files = {
        e["partition"]: e["files"] for e in snap["manifest"] if e["files"]
    }
    via_job = engine_mod._written_partition_stats(
        spark, eng.table.root, files, 0
    )
    via_driver = engine_mod._driver_partition_stats(eng.table.root, files)
    key = lambda r: int(r["_p"])
    for a, b in zip(sorted(via_job, key=key), sorted(via_driver, key=key)):
        for f in ("row_count", "live_rows", "last_applied_lsn", "checksum",
                  "key_lo", "key_hi"):
            assert a[f] == b[f], (a["_p"], f, a[f], b[f])
