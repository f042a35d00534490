"""Spark jobs per batch, pinned for every COW/MOR route.

A route's job count is part of its cost model: the zone-map append and
the zero-displaced two-stream tier exist because they add no job to the
fused merge, and the survivor pass adds only its keys semi-join and its
write. Each case applies a seeding batch 0 and then a batch 1 that takes
one route, and counts every job submitted while ``apply_batch`` runs —
the background seen-LSN write and AQE's shuffle-map stages included. Job
groups are thread-local, so the count comes from the DAG scheduler's
job-id counter, which every submission from any thread advances.
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
from image_report_spark.sources.changelog import ChangeLogSource

TS0 = pd.Timestamp("2026-01-01T00:00:00")


def _row(lsn, conv, op="I", text="t", ts_off_s=0) -> dict:
    return dict(
        lsn=lsn, op=op, conv_id=f"c{conv:08d}", turn_idx=0, role="user",
        text=text, tool=None, ts=TS0 + pd.Timedelta(seconds=ts_off_s),
    )


def _batch_df(spark, path: str, rows: list[dict]):
    schema = pa.schema([
        ("lsn", pa.int64()), ("op", pa.string()), ("conv_id", pa.string()),
        ("turn_idx", pa.int32()), ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us")),
    ])
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame(rows), schema=schema,
                             preserve_index=False),
        path,
    )
    return ChangeLogSource(spark, os.path.dirname(path)).read_batch(path)


def _jobs_submitted(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


# route -> (config overrides, batch 0 rows, batch 1 rows)
ROUTES = {
    "fused": (
        {},
        [_row(i, i) for i in range(16)],
        [_row(100 + i, i, op="U", text="u", ts_off_s=60) for i in range(0, 16, 2)],
    ),
    "zone_map_append": (
        {},
        [_row(i, i) for i in range(16)],
        [_row(100 + i, 16 + i, ts_off_s=60) for i in range(16)],
    ),
    "two_stream_zero_displaced": (
        {},
        [_row(i, 2 * i) for i in range(16)],
        [_row(100 + i, 2 * i + 1, ts_off_s=60) for i in range(16)],
    ),
    "two_stream_survivors": (
        {},
        [_row(i, 2 * i) for i in range(16)],
        [_row(100, 0, text="new0", ts_off_s=60)]
        + [_row(101 + i, 2 * i + 1, ts_off_s=60) for i in range(16)],
    ),
    "mor": (
        {"write_mode": "mor"},
        [_row(i, i) for i in range(16)],
        [_row(100 + i, i, op="U", text="u", ts_off_s=60) for i in range(0, 16, 2)],
    ),
    # the fused route plus the missing-key probe: one update of a key the
    # table never held is quarantined
    "quarantine_missing": (
        {"update_missing": "quarantine"},
        [_row(i, i) for i in range(16)],
        [_row(100 + i, i, op="U", text="u", ts_off_s=60) for i in range(0, 16, 2)]
        + [_row(200, 99, op="U", text="u", ts_off_s=60)],
    ),
}

#: route -> engine constants patched for it
CONSTANTS = {
    "two_stream_zero_displaced": {"TWO_STREAM_MIN_RATIO": 0.0},
    "two_stream_survivors": {"TWO_STREAM_MIN_RATIO": 0.0},
}

#: route -> (jobs for batch 0, jobs for batch 1)
EXPECTED_JOBS = {
    "fused": (5, 7),
    "zone_map_append": (5, 7),
    "two_stream_zero_displaced": (5, 7),
    "two_stream_survivors": (5, 12),
    "mor": (7, 13),
    "quarantine_missing": (11, 25),
}


@pytest.mark.parametrize("route", sorted(ROUTES))
def test_jobs_per_batch(spark, tmp_path, monkeypatch, route):
    cfg, b0, b1 = ROUTES[route]
    for name, value in CONSTANTS.get(route, {}).items():
        monkeypatch.setattr(engine_mod, name, value)
    eng = CdcEngine.init(
        spark, str(tmp_path / "tbl"), str(tmp_path / "cp"),
        config=EngineConfig(num_buckets=8, **cfg),
    )
    counts, reports = [], []
    for batch_id, rows in enumerate((b0, b1)):
        df = _batch_df(spark, str(tmp_path / f"b{batch_id}.parquet"), rows)
        before = _jobs_submitted(spark)
        reports.append(eng.apply_batch(df, batch_id))
        counts.append(_jobs_submitted(spark) - before)
    r1 = reports[1]
    assert r1.conservation_ok()
    # the batch really took the route it is named for
    if route == "fused":
        assert r1.partitions_appended == r1.partitions_two_stream == 0
    elif route == "zone_map_append":
        assert r1.partitions_appended == r1.partitions_touched > 0
        assert r1.partitions_two_stream == 0
    elif route == "two_stream_zero_displaced":
        assert r1.partitions_two_stream > 0
        assert "survivors" in r1.phase_ms
    elif route == "two_stream_survivors":
        assert r1.partitions_two_stream > 0
        assert r1.partitions_appended < r1.partitions_touched
    elif route == "quarantine_missing":
        assert r1.quarantined == 1
        assert r1.partitions_appended == r1.partitions_two_stream == 0
    assert tuple(counts) == EXPECTED_JOBS[route], counts
