"""Range pruning of the recent-LSN anti-join (plans/checkpoint.py).

Each commit records the [min, max] LSN of its batch's valid events. A
later batch's anti-join reads only the seen-LSN sets of the window batches
whose range meets its own; a record written before ranges were recorded
is always read.
"""

from __future__ import annotations

import json
import re

import pytest

from image_report_spark.config import EngineConfig
from image_report_spark.engine import CdcEngine
from tests.test_job_counts import _batch_df, _row


def _engine(spark, tmp_path, write_mode="cow") -> tuple[CdcEngine, list]:
    """An engine whose recent-LSN frames (None when nothing is read) are
    collected, batch by batch, into the returned list."""
    eng = CdcEngine.init(spark, str(tmp_path / "t"), str(tmp_path / "cp"),
                         config=EngineConfig(num_buckets=8, write_mode=write_mode))
    frames, recent = [], eng.checkpoint.recent_lsns_df

    def spy(*a):
        frames.append(recent(*a))
        return frames[-1]

    eng.checkpoint.recent_lsns_df = spy
    return eng, frames


def _apply(eng, spark, tmp_path, batch_id: int, rows: list[dict]):
    path = str(tmp_path / f"b{batch_id}.parquet")
    return eng.apply_batch(_batch_df(spark, path, rows), batch_id)


def _scanned_batches(df) -> set[int]:
    """Ids of the batches whose seen-LSN sets a recent-LSN frame scans."""
    return {int(re.search(r"batch-(\d+)\.parquet", f).group(1)) for f in df.inputFiles()}


@pytest.mark.parametrize("write_mode", ["cow", "mor"])
def test_anti_join_reads_only_window_batches_whose_range_meets(spark, tmp_path, write_mode):
    eng, frames = _engine(spark, tmp_path, write_mode)
    for b in range(3):
        _apply(eng, spark, tmp_path, b, [_row(100 * b + i, 10 * b + i) for i in range(4)])
    # in-order batches: each lies above every earlier range, so none reads
    assert frames == [None, None, None]
    recs = [eng.checkpoint.batch_record(b) for b in range(3)]
    assert [(r["lsn_lo"], r["lsn_hi"]) for r in recs] == [(0, 3), (100, 103), (200, 203)]

    # LSN 102 re-sent under a key the table never held: only the anti-join
    # can drop it. [102, 152] meets batch 1's range only
    rows = [_row(102, 50)] + [_row(150 + i, 60 + i) for i in range(3)]
    rpt = _apply(eng, spark, tmp_path, 3, rows)
    assert _scanned_batches(frames[-1]) == {1}
    assert (rpt.deduped, rpt.applied) == (1, 3)
    assert rpt.conservation_ok()
    seen = spark.read.parquet(str(tmp_path / "cp" / "recent" / "batch-00003.parquet"))
    assert sorted(r.lsn for r in seen.collect()) == [150, 151, 152]


def test_record_without_range_is_always_joined(spark, tmp_path):
    eng, frames = _engine(spark, tmp_path)
    _apply(eng, spark, tmp_path, 0, [_row(i, i) for i in range(4)])
    # batch 0's marker as written before ranges were recorded
    path = tmp_path / "cp" / "batches" / "batch-00000.json"
    rec = json.loads(path.read_text())
    del rec["lsn_lo"], rec["lsn_hi"]
    path.write_text(json.dumps(rec))

    _apply(eng, spark, tmp_path, 1, [_row(100 + i, 10 + i) for i in range(4)])
    rpt = _apply(eng, spark, tmp_path, 2, [_row(200 + i, 20 + i) for i in range(4)])
    # batch 0 has no range and is read; batch 1's range lies below batch 2's
    assert [_scanned_batches(f) for f in frames[1:]] == [{0}, {0}]
    assert (rpt.deduped, rpt.applied) == (0, 4)
