"""CLI validation (graft of reference tests/test_parse_args.py:5-13 —
rejection via SystemExit, derived defaults) and change-log listing
(canonical-path dedup + ordering, graft of ir:549-557). No Spark needed."""

from __future__ import annotations

import os

import pytest

from image_report_spark.cli import parse_args
from image_report_spark.sources.changelog import ChangeLogSource, CODECS, _BATCH_RE


def test_apply_defaults():
    a = parse_args(["apply", "--table", "t", "--log", "l", "--checkpoint", "c"])
    assert a.metrics == "basic" and a.on_error == "quarantine"
    assert a.update_missing == "upsert" and a.buckets == 32
    assert a.dedup_window == 4 and not a.grouped_resolve


def test_bad_buckets_rejected():
    with pytest.raises(SystemExit):
        parse_args(["init", "--table", "t", "--checkpoint", "c", "--buckets", "0"])


def test_bad_metrics_rejected():
    with pytest.raises(SystemExit):
        parse_args(["apply", "--table", "t", "--log", "l", "--checkpoint", "c",
                    "--metrics", "not_a_metric"])


def test_bad_on_error_rejected():
    with pytest.raises(SystemExit):
        parse_args(["apply", "--table", "t", "--log", "l", "--checkpoint", "c",
                    "--on-error", "explode"])


def test_partstats_mode_flag_is_gone():
    with pytest.raises(SystemExit):
        parse_args(["apply", "--table", "t", "--log", "l", "--checkpoint", "c",
                    "--partstats-mode", "stored"])


def test_missing_subcommand_rejected():
    with pytest.raises(SystemExit):
        parse_args([])


def test_gen_flags_roundtrip():
    a = parse_args(["gen", "--out", "o", "--seed", "7", "--evolve",
                    "--dup-frac", "0.1", "--hot-keys", "3"])
    assert a.seed == 7 and a.evolve and a.dup_frac == 0.1 and a.hot_keys == 3


# --------------------------------------------------------------- source
class _FakeSpark:
    pass


def test_list_batches_orders_and_dedupes(tmp_path):
    log = tmp_path / "log"
    log.mkdir()
    # out-of-order creation, mixed formats, a non-batch file, a symlink dup
    (log / "batch-00002.parquet").write_bytes(b"x")
    (log / "batch-00000.parquet").write_bytes(b"x")
    (log / "batch-00001.jsonl").write_text("{}")
    (log / "README.txt").write_text("ignore me")
    os.symlink(log / "batch-00000.parquet", log / "batch-00009.parquet")

    src = ChangeLogSource(_FakeSpark(), str(log))
    got = src.list_batches()
    ids = [b for b, _ in got]
    assert ids == [0, 1, 2]  # symlink duplicate collapsed, README ignored


def test_list_batches_empty_and_missing(tmp_path):
    src = ChangeLogSource(_FakeSpark(), str(tmp_path / "nope"))
    assert src.list_batches() == []


def test_codec_registry():
    assert set(CODECS) == {"parquet", "jsonl", "json"}
    assert _BATCH_RE.search("batch-00042.parquet").group(1) == "00042"
    assert _BATCH_RE.search("not-a-batch.parquet") is None


def test_unsupported_format_raises(tmp_path):
    src = ChangeLogSource(_FakeSpark(), str(tmp_path))
    with pytest.raises(ValueError):
        src.read_batch("batch-00000.csv")


def test_sql_history_changes_cli(tmp_path, capsys):
    """End-to-end CLI query surface: apply a log, then sql / history /
    changes against the committed table."""
    import json

    from image_report_spark.cli import main

    log = str(tmp_path / "log")
    assert main(["gen", "--out", log, "--seed", "3", "--convs", "10",
                 "--max-turns", "4", "--batches", "2"]) == 0
    capsys.readouterr()
    args = ["--master", "local[2]", "--shuffle-partitions", "4"]
    assert main(args + ["apply", "--table", str(tmp_path / "t"),
                        "--log", log, "--checkpoint", str(tmp_path / "cp"),
                        "--buckets", "4"]) == 0
    capsys.readouterr()

    assert main(args + ["sql", "--table", str(tmp_path / "t"),
                        "SELECT conv_id, COUNT(*) AS n FROM t GROUP BY conv_id"]) == 0
    rows = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert rows and all("conv_id" in r and "n" in r for r in rows)

    assert main(args + ["history", "--table", str(tmp_path / "t")]) == 0
    hist = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert [h["snapshot_id"] for h in hist] == sorted(h["snapshot_id"] for h in hist)
    assert len(hist) >= 3  # v0 + 2 batches

    assert main(args + ["changes", "--table", str(tmp_path / "t"),
                        "--from-snapshot", str(hist[-2]["snapshot_id"])]) == 0
    ch = [json.loads(l) for l in capsys.readouterr().out.splitlines()]
    assert ch and all("_lsn" in r and "_op" in r for r in ch)


def test_verify_cli_exit_code_follows_report(spark, tmp_path, capsys):
    """``cli verify`` prints verify's report and exits 0 on a fresh table,
    1 once a sealed partition's file is corrupted."""
    import json

    from image_report_spark.cli import main
    from image_report_spark.plans.icelite import IceliteTable
    from tests.test_partstats import _corrupt

    log, tbl = str(tmp_path / "log"), str(tmp_path / "t")
    assert main(["gen", "--out", log, "--seed", "3", "--convs", "10",
                 "--max-turns", "4", "--batches", "2"]) == 0
    args = ["--master", "local[2]", "--shuffle-partitions", "4"]
    assert main(args + ["apply", "--table", tbl, "--log", log,
                        "--checkpoint", str(tmp_path / "cp"), "--buckets", "4"]) == 0
    capsys.readouterr()
    assert main(args + ["verify", "--table", tbl]) == 0
    ok = json.loads(capsys.readouterr().out)
    assert ok["ok"] and ok["checked"] and ok["mismatches"] == []

    manifest = IceliteTable(spark, tbl).snapshot()["manifest"]
    entry = next(e for e in manifest if e["live_rows"] > 0)
    _corrupt(spark, os.path.join(tbl, entry["files"][0]), str(tmp_path / "bad"))
    assert main(args + ["verify", "--table", tbl]) == 1
    bad = json.loads(capsys.readouterr().out)
    assert not bad["ok"]
    assert {m["partition"] for m in bad["mismatches"]} == {entry["partition"]}


def test_compact_cli_needs_no_checkpoint(spark, tmp_path, capsys):
    """Constructing an engine creates no checkpoint directory, and ``cli
    compact`` folds a merge-on-read table's deltas without
    ``--checkpoint``, which it no longer accepts."""
    import json

    from image_report_spark.cli import main
    from image_report_spark.engine import CdcEngine

    log, tbl = str(tmp_path / "log"), str(tmp_path / "t")
    assert main(["gen", "--out", log, "--seed", "4", "--convs", "10",
                 "--max-turns", "4", "--batches", "2"]) == 0
    args = ["--master", "local[2]", "--shuffle-partitions", "4"]
    assert main(args + ["apply", "--table", tbl, "--log", log, "--write-mode", "mor",
                        "--checkpoint", str(tmp_path / "cp"), "--buckets", "4"]) == 0
    CdcEngine(spark, tbl, str(tmp_path / "cp2"))
    assert not os.path.exists(tmp_path / "cp2")
    with pytest.raises(ValueError, match="no checkpoint root"):
        CdcEngine(spark, tbl).checkpoint
    with pytest.raises(SystemExit):
        parse_args(["compact", "--table", tbl, "--checkpoint", "cp"])
    capsys.readouterr()
    assert main(args + ["compact", "--table", tbl]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["compacted_partitions"] > 0 and out["table_digest"]


def test_footer_schema_matches_spark_inference(spark, tmp_path):
    """The driver-side pyarrow footer read must produce the SAME schema the
    Spark parquet scan would infer — including the timestamp variant
    (tz-aware → TIMESTAMP LTZ, naive → NTZ under the default
    inferTimestampNTZ=true) — or batches read through the fast path would
    silently change types vs the fallback path."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from image_report_spark.sources.changelog import ChangeLogSource

    # (a) Spark-written batch dir (UTC-adjusted timestamps, nested dir form)
    sp = str(tmp_path / "batch-0.parquet")
    spark.createDataFrame(
        [(1, "I", "c1", 0, datetime.datetime(2026, 1, 1, 12, 0, 0))],
        "lsn long, op string, conv_id string, turn_idx int, ts timestamp",
    ).coalesce(1).write.parquet(sp)
    # (b) pyarrow-written single file with a NAIVE timestamp + evolved col
    py = str(tmp_path / "batch-1.parquet")
    pq.write_table(
        pa.table(
            {
                "lsn": pa.array([2], pa.int64()),
                "op": ["U"],
                "conv_id": ["c1"],
                "turn_idx": pa.array([0], pa.int32()),
                "ts": pa.array(
                    [datetime.datetime(2026, 1, 1, 12, 0, 0)],
                    pa.timestamp("us"),
                ),
                "tool": ["grep"],
            }
        ),
        py,
    )
    from image_report_spark.sources.changelog import _footer_schema, _read_parquet

    src = ChangeLogSource(spark, str(tmp_path))
    for path in (sp, py):
        assert _footer_schema(spark, path) is not None, path  # fast path taken
        fast = _read_parquet(spark, path)
        inferred = spark.read.parquet(path)
        assert [(f.name, f.dataType) for f in fast.schema.fields] == [
            (f.name, f.dataType) for f in inferred.schema.fields
        ], path
        assert fast.count() == 1
        # normalize_header then lands both variants on the canonical LTZ
        assert dict(src.read_batch(path).dtypes)["ts"] == "timestamp"
    # the fast path must not hide the evolved column
    assert "tool" in src.read_batch(py).columns


def test_footer_schema_falls_back_on_remote_paths(spark):
    from image_report_spark.sources.changelog import _footer_schema

    assert _footer_schema(spark, "s3://bucket/batch-0.parquet") is None
    assert _footer_schema(spark, "hdfs://nn/batch-0.parquet") is None
