"""TableSink interface (SURVEY §7 M2, VERDICT r2 #6): the engine writes
through a narrow surface with two backends — IceliteTable (jar-free
default) and the documented IcebergSink stub — so the cluster swap is an
injection, not a rewrite."""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import image_report_spark.engine as engine_mod
from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine
from image_report_spark.plans.icelite import IceliteTable
from image_report_spark.plans.sink import IcebergSink, TableSink


def test_icelite_satisfies_the_protocol(spark, tmp_path):
    from image_report_spark.engine import TRANSCRIPT_SCHEMA

    t = IceliteTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, 4)
    assert isinstance(t, TableSink)


def test_iceberg_stub_covers_the_protocol_and_refuses_cleanly(spark):
    # every protocol method exists with a compatible signature
    for name, member in inspect.getmembers(TableSink):
        if name.startswith("_") or not callable(member):
            continue
        assert hasattr(IcebergSink, name), f"IcebergSink missing {name}"
        assert (
            inspect.signature(getattr(IcebergSink, name)).parameters.keys()
            == inspect.signature(member).parameters.keys()
        ), name
    # and construction refuses cleanly without the jar (this sandbox)
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergSink(spark, "catalog.db.tbl")


def _engine_sink_calls() -> list[tuple[str, int, list[str], int]]:
    """(method, positional count, keywords, line) of every
    ``self.table.<method>(...)`` call in engine.py."""
    tree = ast.parse(Path(engine_mod.__file__).read_text())
    calls = []
    for node in ast.walk(tree):
        f = getattr(node, "func", None)
        if (
            isinstance(node, ast.Call)
            and isinstance(f, ast.Attribute)
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "table"
            and isinstance(f.value.value, ast.Name)
            and f.value.value.id == "self"
        ):
            calls.append(
                (f.attr, len(node.args), [k.arg for k in node.keywords], node.lineno)
            )
    return calls


def test_protocol_binds_every_engine_call():
    """Every call the engine makes on its sink is a TableSink method, and
    the Protocol's signature (hence every backend's) accepts its
    arguments — positional count and keywords alike."""
    calls = _engine_sink_calls()
    assert any(m == "write_partition_files" for m, *_ in calls)
    for method, n_pos, kws, line in calls:
        assert hasattr(TableSink, method), f"engine.py:{line} calls {method}"
        for backend in (TableSink, IcebergSink, IceliteTable):
            sig = inspect.signature(getattr(backend, method))
            try:
                sig.bind(None, *[None] * n_pos, **dict.fromkeys(kws))
            except TypeError as e:
                pytest.fail(f"{backend.__name__}.{method} (engine.py:{line}): {e}")


def test_engine_runs_through_injected_sink(spark, tmp_path):
    """The engine accepts a pre-created TableSink and applies a batch
    through it unchanged — the injection point the Iceberg swap uses."""
    from image_report_spark.engine import TRANSCRIPT_SCHEMA

    root = str(tmp_path / "tbl")
    sink = IceliteTable.create(spark, root, TRANSCRIPT_SCHEMA, num_buckets=4)
    sink.set_checksum_columns([f.name for f in TRANSCRIPT_SCHEMA.fields])
    eng = CdcEngine.init(
        spark, root, str(tmp_path / "cp"),
        config=EngineConfig(num_buckets=4), table=sink,
    )
    assert eng.table is sink
    changes = spark.createDataFrame(
        [(1, "I", "c1", 0, "user", "hello", None, "2024-01-01 00:00:00")],
        "lsn long, op string, conv_id string, turn_idx int, role string, "
        "text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rpt = eng.apply_batch(changes, 0)
    assert rpt.applied == 1 and rpt.rows_after == 1
    assert eng.read().count() == 1


def test_injected_sink_must_be_precreated(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="create it via"):
        CdcEngine.init(
            spark, str(tmp_path / "none"), str(tmp_path / "cp"),
            table=IceliteTable(spark, str(tmp_path / "none")),
        )
