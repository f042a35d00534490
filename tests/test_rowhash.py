"""The one per-row checksum hash (functions/digests.py:row_digest, named
"typed" in every snapshot ``IceliteTable.create`` writes): internally
consistent digests, digest values pinned as literals, the null-position
property the typed sentinels exist for, and the refusal of a snapshot
that names no hash definition."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql.types import ByteType, ShortType, StructField, StructType

from image_report_spark.config import EngineConfig
from image_report_spark.engine import TRANSCRIPT_SCHEMA, CdcEngine, _checksum_cols_id
from image_report_spark.fixtures import ChangeLogGenerator
from image_report_spark.functions.digests import row_digest

from tests.test_partstats import T0, _events_df


def _build(spark, tmp_path, name, **cfg):
    eng = CdcEngine.init(
        spark,
        str(tmp_path / name / "tbl"),
        str(tmp_path / name / "cp"),
        config=EngineConfig(num_buckets=4, **cfg),
    )
    eng.apply_batch(_events_df(spark), 0)
    return eng


def test_typed_mode_reverify_matches_stored(spark, tmp_path):
    # reverify recomputes from disk with the same row hash — it must agree
    # with the stored-tier checksums
    a = _build(spark, tmp_path, "stored")
    r = _build(spark, tmp_path, "reverify", partstats_mode="reverify")
    la = {
        e["partition"]: (e["row_count"], e["live_rows"], e["checksum"])
        for e in a.table.snapshot()["manifest"]
    }
    lr = {
        e["partition"]: (e["row_count"], e["live_rows"], e["checksum"])
        for e in r.table.snapshot()["manifest"]
    }
    assert la == lr


def test_typed_digest_null_position_distinct(spark):
    # typed sentinels make a NULL contribute at its position: swapping a
    # value across adjacent nullable columns must change the hash (a bare
    # xxhash64 over the raw columns would skip the NULL and collide)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"x": ["v", None], "y": [None, "v"]},
        ),
        schema="x string, y string",
    )
    h = [
        r["h"]
        for r in df.select(row_digest(df, ["x", "y"]).alias("h")).collect()
    ]
    assert h[0] != h[1]


def test_ck_id_tags_mode():
    # 8 hex chars over the column set (and their types, given a schema),
    # tagged with the hash definition; the literals are the ids typed
    # manifests already carry, so those stay appendable
    cols = ["conv_id", "text"]
    assert _checksum_cols_id(cols) == "5290496d:typed"
    assert _checksum_cols_id(cols, TRANSCRIPT_SCHEMA) == "caf08242:typed"
    all_cols = [f.name for f in TRANSCRIPT_SCHEMA.fields]
    assert _checksum_cols_id(all_cols, TRANSCRIPT_SCHEMA) == "6c315943:typed"


_SMALL_SCHEMA = StructType(
    list(TRANSCRIPT_SCHEMA.fields)
    + [StructField("s", ShortType(), True), StructField("b", ByteType(), True)]
)


def _small_int_batch(spark, batch_id: int):
    """Inserts (batch 0), then updates, deletes and fresh inserts (batch 1)
    over smallint/tinyint columns that are NULL on every third row."""
    rows = []
    for i in range(24):
        lsn = batch_id * 100 + i
        op = "I"
        if batch_id == 1 and i < 6:
            op = "U"
        elif batch_id == 1 and i < 9:
            op = "D"
        conv = i if op != "I" or batch_id == 0 else 100 + i
        null = i % 3 == 0
        rows.append((
            lsn, op, f"c{conv:04d}", 0, "user", f"t{lsn}", None,
            (T0 + pd.Timedelta(seconds=lsn)).to_pydatetime(),
            None if null else (i * 1000 - 12000), None if null else (i * 5 - 60),
        ))
    return spark.createDataFrame(
        rows,
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts timestamp, s smallint, b tinyint",
    )


def _manifest(eng) -> dict:
    return {
        e["partition"]: (e["row_count"], e["live_rows"], e["checksum"])
        for e in eng.table.snapshot()["manifest"]
    }


def test_typed_hash_smallint_tinyint_with_nulls(spark, tmp_path):
    """Typed mode hashes smallint/tinyint columns holding NULLs (their NULL
    sentinel used to overflow under ANSI casts), and the stored checksums
    agree with a reverify re-hash of the on-disk bytes."""
    engines = {}
    for mode in ("stored", "reverify"):
        eng = CdcEngine.init(
            spark,
            str(tmp_path / mode / "tbl"),
            str(tmp_path / mode / "cp"),
            schema=_SMALL_SCHEMA,
            config=EngineConfig(num_buckets=4, partstats_mode=mode),
        )
        reports = [eng.apply_batch(_small_int_batch(spark, b), b) for b in (0, 1)]
        assert eng.table.snapshot()["rowhash_mode"] == "typed"
        assert all(r.conservation_ok() for r in reports)
        engines[mode] = (eng, reports)
    (st, rs), (rv, rr) = engines["stored"], engines["reverify"]
    keys = {"applied", "inserts", "updates", "deletes", "rows_after", "table_digest"}
    assert [r.ledger(keys) for r in rs] == [r.ledger(keys) for r in rr]
    assert rs[1].updates == 6 and rs[1].deletes == 3
    assert st.current_table_digest() == rv.current_table_digest()
    assert _manifest(st) == _manifest(rv)
    # a NULL must hash differently from a real zero in both widths
    df = spark.createDataFrame(
        [(None, 0), (0, 0), (0, None)], "s smallint, b tinyint"
    )
    h = [r["h"] for r in df.select(row_digest(df, ["s", "b"]).alias("h")).collect()]
    assert len(set(h)) == 3


def _run_log(spark, tmp_path):
    gen = ChangeLogGenerator(seed=5, n_convs=20, max_turns=4, n_batches=2)
    log = str(tmp_path / "log")
    gen.write_log(log)
    tbl, cp = str(tmp_path / "tbl"), str(tmp_path / "cp")
    eng = CdcEngine.init(spark, tbl, cp, config=EngineConfig(num_buckets=4))
    return eng, log


def test_snapshot_without_hash_definition_is_refused(spark, tmp_path):
    """A snapshot that names no row-hash definition holds checksums of a
    retired form: apply_batch, compact() and replay_verify refuse the
    table, name its root and say how to rebuild it, and commit nothing."""
    eng, log = _run_log(spark, tmp_path)
    eng.run(log, max_batches=1)
    snap = eng.table.snapshot()
    del snap["rowhash_mode"]
    eng.table._write_snapshot(snap)
    sid = snap["snapshot_id"]
    scratch = tmp_path / "scratch"
    for call in (
        lambda: eng.run(log),
        lambda: eng.apply_batch(_events_df(spark), 7),
        eng.compact,
        lambda: eng.replay_verify(log, str(scratch)),
    ):
        with pytest.raises(ValueError) as err:
            call()
        msg = str(err.value)
        assert eng.table.root in msg and "typed row hash" in msg, msg
        assert "CdcEngine.init" in msg and ".run(log_dir)" in msg, msg
    assert eng.table.snapshot()["snapshot_id"] == sid
    assert not scratch.exists()


def test_replay_verify_without_checksum_columns(spark, tmp_path):
    """A typed table whose snapshot has no frozen checksum_columns hashes
    every logical column; replay_verify's scratch table hashes the same
    set, so a content-identical replay verifies."""
    eng, log = _run_log(spark, tmp_path)
    snap = eng.table.snapshot()
    del snap["checksum_columns"]
    eng.table._write_snapshot(snap)
    eng.run(log)
    assert "checksum_columns" not in eng.table.snapshot()
    assert eng.table.snapshot()["rowhash_mode"] == "typed"
    report = eng.replay_verify(log, str(tmp_path / "scratch"))
    assert report["ok"], report


def test_typed_digests_pinned(spark, tmp_path):
    """The row hash's values, pinned as literals: table digest and every
    partition's (row_count, live_rows, checksum, ck_id) of a fixed log.
    Manifests already written hold these values, and the append tiers
    xor-extend them, so any change to row_digest, typed_cols or
    _checksum_cols_id must show up here."""
    gen = ChangeLogGenerator(
        seed=11, n_convs=24, max_turns=5, n_batches=3, dup_frac=0.05,
        late_frac=0.1,
    )
    log = str(tmp_path / "log")
    gen.write_log(log)
    eng = CdcEngine.init(
        spark, str(tmp_path / "tbl"), str(tmp_path / "cp"),
        config=EngineConfig(num_buckets=4),
    )
    eng.run(log)
    snap = eng.table.snapshot()
    assert snap["table_digest"] == (
        "88fd01b0a256de73d3276485c7f4299c34c615dbe95539c2f58e84f44ad375ab"
    )
    assert {
        e["partition"]: (e["row_count"], e["live_rows"], e["checksum"], e["ck_id"])
        for e in snap["manifest"]
    } == {
        0: (9, 9, "1B0768F1BFEE1B35", "6c315943:typed"),
        1: (20, 20, "961C50B786BDBD16", "6c315943:typed"),
        2: (13, 12, "0166F547B27EC2BD", "6c315943:typed"),
        3: (28, 26, "49922A215D584A9A", "6c315943:typed"),
    }


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
