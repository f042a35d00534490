"""Change-event resolution: LSN dedup + last-writer-wins.

Graft of the reference's NMS greedy ordered dedup (reference
``utils.py:270-319``): sort candidates by a priority key, keep the winner,
suppress the dominated rest — here per transcript key ``(conv_id,
turn_idx)`` with priority ``(ts, lsn)`` (LWW on event time, LSN breaks
ties; reference analog of the deterministic reading-order id assignment,
``docs/report-schema-v2.md:93-96``).

Two interchangeable implementations (tested equal):

* :func:`resolve_lww_window` — a single ``row_number()`` window; the fast
  path (whole-stage-codegen window exec, one shuffle on the key hash).
* :func:`resolve_lww_grouped` — ``applyInPandas`` per-conversation ordered
  apply (BASELINE.json:6 mandates this path exists); vectorized pandas
  inside each group, Arrow-batched. Use for stateful per-conversation
  extensions; semantically identical for plain LWW.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ["conv_id", "turn_idx"]


def resolve_lww_window(df: DataFrame, extra_tiebreak: list[str] | None = None) -> DataFrame:
    """Keep, per key, the event with max ``(ts, lsn)``.

    ``extra_tiebreak`` columns are appended ascending after the ordering
    columns (used by the merge to prefer the incumbent row on exact ties).
    Shuffles once on ``hash(conv_id, turn_idx)`` — well distributed even
    for hot conversations because the key includes ``turn_idx``.
    """
    order = [F.col("ts").desc_nulls_last(), F.col("lsn").desc_nulls_last()]
    for c in extra_tiebreak or []:
        order.append(F.col(c).asc())
    w = Window.partitionBy(*KEY).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def resolve_lww_grouped(df: DataFrame) -> DataFrame:
    """Per-conversation ordered apply via ``applyInPandas``.

    Groups by ``conv_id`` (the natural session key), sorts the group by
    ``(turn_idx, ts, lsn)`` and keeps the last row per ``turn_idx`` —
    vectorized pandas ``drop_duplicates``, no per-row Python
    (BASELINE.json:15). Hot conversations are the skew concern here (the
    group key excludes ``turn_idx``); the engine salts hot keys before
    calling this (operators/skew.py) — resolution stays correct under
    salting because the dedup key still includes ``turn_idx``.
    """
    schema = df.schema

    def _apply(pdf):
        # na_position='first': a NULL ts must LOSE to any non-null ts, matching
        # the window path's ts.desc_nulls_last() (pandas puts NaT last by
        # default, which would invert the winner for null-ts events)
        pdf = pdf.sort_values(
            ["turn_idx", "ts", "lsn"], kind="stable", na_position="first"
        )
        return pdf.drop_duplicates(subset=["turn_idx"], keep="last")

    group_cols = ["conv_id"] + (["_salt"] if "_salt" in df.columns else [])
    return df.groupBy(*group_cols).applyInPandas(_apply, schema=schema)
