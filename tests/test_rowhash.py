"""The typed row-hash mode (the snapshot's ``rowhash_mode``, frozen to
"typed" by ``CdcEngine.init``; round-6 GC optimization): same table
content as canonical mode, internally consistent digests, and the
null-position property the typed sentinels exist for."""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql.types import ByteType, ShortType, StructField, StructType

from image_report_spark.config import EngineConfig
from image_report_spark.engine import TRANSCRIPT_SCHEMA, CdcEngine, _checksum_cols_id
from image_report_spark.fixtures import ChangeLogGenerator
from image_report_spark.functions.digests import typed_row_digest

from tests.test_partstats import T0, _events_df


def _build(spark, tmp_path, name, rowhash_mode="typed", **cfg):
    eng = CdcEngine.init(
        spark,
        str(tmp_path / name / "tbl"),
        str(tmp_path / name / "cp"),
        config=EngineConfig(num_buckets=4, **cfg),
    )
    if rowhash_mode != "typed":
        eng.table.set_rowhash_mode(rowhash_mode)
    eng.apply_batch(_events_df(spark), 0)
    return eng


def test_typed_and_canonical_same_content_consistent_digests(spark, tmp_path):
    a = _build(spark, tmp_path, "typed", rowhash_mode="typed")
    b = _build(spark, tmp_path, "canon", rowhash_mode="canonical")
    # identical table content
    cols = sorted(set(a.read().columns) & set(b.read().columns))
    assert a.read().select(cols).exceptAll(b.read().select(cols)).count() == 0
    assert b.read().select(cols).exceptAll(a.read().select(cols)).count() == 0
    # each table is internally consistent: a from-scratch replay under the
    # SAME frozen mode reproduces the digest
    assert a.table.snapshot()["rowhash_mode"] == "typed"
    assert b.table.snapshot()["rowhash_mode"] == "canonical"
    # the two definitions produce different manifests (the mode is real)
    da = a.table.snapshot()["table_digest"]
    db = b.table.snapshot()["table_digest"]
    assert da is not None and db is not None and da != db


def test_typed_mode_reverify_matches_stored(spark, tmp_path):
    # reverify recomputes from disk under the snapshot's frozen mode — it
    # must agree with the stored-tier checksums of a typed table
    a = _build(spark, tmp_path, "stored", rowhash_mode="typed")
    r = _build(
        spark, tmp_path, "reverify", rowhash_mode="typed",
        partstats_mode="reverify",
    )
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
        for r in df.select(typed_row_digest(df, ["x", "y"]).alias("h")).collect()
    ]
    assert h[0] != h[1]


def test_ck_id_tags_mode(spark):
    cols = ["conv_id", "text"]
    assert _checksum_cols_id(cols, "canonical") == _checksum_cols_id(cols)
    assert _checksum_cols_id(cols, "typed") != _checksum_cols_id(cols, "canonical")
    # canonical keeps the pre-mode id format (8 hex chars, no tag)
    assert len(_checksum_cols_id(cols)) == 8


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
    h = [r["h"] for r in df.select(typed_row_digest(df, ["s", "b"]).alias("h")).collect()]
    assert len(set(h)) == 3


def test_replay_verify_propagates_mode_without_checksum_columns(spark, tmp_path):
    """A canonical table whose snapshot predates both frozen fields
    (no checksum_columns, no rowhash_mode), reopened by an engine whose
    default is typed: the replay table must hash canonically too."""
    gen = ChangeLogGenerator(seed=5, n_convs=20, max_turns=4, n_batches=2)
    log = str(tmp_path / "log")
    gen.write_log(log)
    tbl, cp = str(tmp_path / "tbl"), str(tmp_path / "cp")
    eng = CdcEngine.init(spark, tbl, cp, config=EngineConfig(num_buckets=4))
    eng.table.set_rowhash_mode("canonical")
    snap = eng.table.snapshot()
    del snap["checksum_columns"], snap["rowhash_mode"]
    eng.table._write_snapshot(snap)
    eng.run(log)
    eng = CdcEngine.init(spark, tbl, cp, config=EngineConfig(num_buckets=4))
    assert "checksum_columns" not in eng.table.snapshot()
    report = eng.replay_verify(log, str(tmp_path / "scratch"))
    assert report["ok"], report


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-x", "-q"]))
