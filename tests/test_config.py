"""Config-algebra tests — graft of the reference's selector identities
(tests/test_hashing_config.py:43-64)."""

import glob
import os
import re

import pyarrow.parquet as pq
import pytest

from image_report_spark.config import (
    ALL_METRICS,
    BASIC_METRICS,
    METRIC_CATEGORIES,
    EngineConfig,
    get_selected_metrics,
)
from image_report_spark.engine import CdcEngine


def test_defaults():
    assert get_selected_metrics(None) == BASIC_METRICS
    assert get_selected_metrics("") == BASIC_METRICS
    assert get_selected_metrics("basic") == BASIC_METRICS


def test_all_none():
    assert get_selected_metrics("all") == ALL_METRICS
    assert get_selected_metrics("none") == set()


def test_union_of_categories():
    got = get_selected_metrics("counts,timing")
    assert got == METRIC_CATEGORIES["counts"] | METRIC_CATEGORIES["timing"]


def test_single_metric_and_exclusion():
    assert get_selected_metrics("wall_ms") == {"wall_ms"}
    got = get_selected_metrics("counts,-applied")
    assert "applied" not in got and "deduped" in got


def test_all_negative_complements_from_all():
    got = get_selected_metrics("-histogram")
    assert got == ALL_METRICS - METRIC_CATEGORIES["histogram"]


def test_unknown_token_raises():
    with pytest.raises(ValueError):
        get_selected_metrics("nonexistent_metric")


def test_exclusion_of_category_after_union():
    got = get_selected_metrics("all,-checksum")
    assert got == ALL_METRICS - METRIC_CATEGORIES["checksum"]


def test_engine_config_validation():
    with pytest.raises(ValueError):
        EngineConfig(on_error="explode")
    with pytest.raises(ValueError):
        EngineConfig(update_missing="nope")
    with pytest.raises(ValueError):
        EngineConfig(num_buckets=0)
    assert EngineConfig(metrics="all").selected_metrics == ALL_METRICS


#: environment variables that once overrode production defaults; none of
#: them may change behaviour any more
_RETIRED_ENV = {
    "SPARK_GRAFT_COW_TWO_STREAM": "0",
    "SPARK_GRAFT_MERGE_SHARDS": "4",
    "SPARK_GRAFT_ROWHASH": "canonical",
    "SPARK_GRAFT_ZSTD_LEVEL": "9",
    "SPARK_GRAFT_DATA_CODEC": "snappy",
    "SPARK_GRAFT_PARQUET_DICT": "true",
    "SPARK_GRAFT_PAGE_CRC": "false",
    "IRS_TIMING": "1",
}


def test_environment_does_not_change_defaults(spark, tmp_path, monkeypatch, capsys):
    from tests.test_partstats import _events_df

    for k, v in _RETIRED_ENV.items():
        monkeypatch.setenv(k, v)
    cfg = EngineConfig(num_buckets=4)
    assert cfg.rowhash_mode == "typed" and cfg.cow_two_stream is True
    eng = CdcEngine.init(
        spark, str(tmp_path / "tbl"), str(tmp_path / "cp"), config=cfg
    )
    eng.apply_batch(_events_df(spark), 0)
    assert eng.table.snapshot()["rowhash_mode"] == "typed"
    files = glob.glob(os.path.join(str(tmp_path / "tbl"), "data", "*", "*.parquet"))
    assert files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                col = meta.row_group(rg).column(c)
                assert col.compression == "ZSTD", (f, col.path_in_schema)
                if col.path_in_schema == "text":
                    assert not any("DICT" in e for e in col.encodings), col.encodings
    # no per-phase timing echo on stderr
    assert not re.search(r"^# b\d+ \S+:", capsys.readouterr().err, re.M)
