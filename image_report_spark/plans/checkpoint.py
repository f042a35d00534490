"""Checkpoint store: per-batch ledger + bounded LSN-dedup window state.

The checkpoint is the engine's state store (graft of the reference's
stateful progress counters + duration attributes, ir:508-513,606-613, and
of the conservation ledger, docs/report-schema-v2.md:116-137):

* ``batches/batch-{id}.json`` — the commit *marker* for a batch: ledger
  row, committed snapshot id, cumulative ``max_lsn_seen``. Written last
  (after the table snapshot swap), atomically; a batch whose marker exists
  is never re-processed. A crash between snapshot-swap and marker-write
  re-applies the batch on resume — safe because the LWW merge is
  idempotent (same winners → identical rows → identical checksums).
* ``recent/batch-{id}.parquet`` — the LSNs of valid events seen in that
  batch; the last ``dedup_window_batches`` of these form the bounded
  recent-LSN set used for cross-batch replay detection.

Dedup rule for a new batch: an event is a duplicate iff
``lsn <= boundary`` (the cumulative max LSN as of ``dedup_window_batches``
ago — everything that old has certainly been seen, by the bounded
out-of-order assumption) OR ``lsn ∈ recent set`` (anti-join). This keeps
driver/manifest state O(window), not O(stream) — at 10^10 events the
recent set is a few batches of longs in Parquet, joined executor-side;
nothing proportional to history lives on the driver. Events older than
the window that are NOT replays violate the window contract and are
(documented, tested) dropped — size ``dedup_window_batches`` to the
source's real replay/out-of-order horizon.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


class Checkpoint:
    def __init__(self, spark: SparkSession, root: str, dedup_window_batches: int = 4):
        self.spark = spark
        self.root = root
        self.window = dedup_window_batches
        self.batches_dir = os.path.join(root, "batches")
        self.recent_dir = os.path.join(root, "recent")
        os.makedirs(self.batches_dir, exist_ok=True)
        os.makedirs(self.recent_dir, exist_ok=True)

    # ---------------------------------------------------------------- state
    def _batch_path(self, batch_id: int) -> str:
        return os.path.join(self.batches_dir, f"batch-{batch_id:05d}.json")

    def is_applied(self, batch_id: int) -> bool:
        return os.path.exists(self._batch_path(batch_id))

    def applied_batches(self) -> list[int]:
        out = []
        for name in os.listdir(self.batches_dir):
            if name.startswith("batch-") and name.endswith(".json"):
                out.append(int(name[6:-5]))
        return sorted(out)

    def batch_record(self, batch_id: int) -> dict:
        with open(self._batch_path(batch_id)) as f:
            return json.load(f)

    # ------------------------------------------------------------ dedup state
    def boundary_lsn(self, batch_id: int) -> int:
        """Cumulative max LSN as of ``dedup_window_batches`` before
        ``batch_id`` — events at-or-below it are replays by contract."""
        eligible = [b for b in self.applied_batches() if b <= batch_id - self.window]
        if not eligible:
            return -1
        return int(self.batch_record(max(eligible))["max_lsn_seen"])

    def recent_lsns_df(self, batch_id: int) -> DataFrame | None:
        """Union of seen-LSN sets for applied batches inside the window."""
        paths = [
            os.path.join(self.recent_dir, f"batch-{b:05d}.parquet")
            for b in self.applied_batches()
            if batch_id - self.window < b < batch_id
        ]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return None
        # explicit schema: these files are written by write_seen_lsns with
        # exactly one BIGINT column — skipping footer schema inference
        # saves a driver round-trip per batch
        return self.spark.read.schema("lsn BIGINT").parquet(*paths).select("lsn")

    # ---------------------------------------------------------------- commit
    def write_seen_lsns(self, batch_id: int, seen_lsns: DataFrame) -> None:
        """Persist the batch's dedup-window LSN set (executor-side Parquet,
        never collected — the set scales with batch size). Independent of
        the merge output, so the engine submits it on a driver I/O thread
        just before the batch's write job and overlaps the two; the marker
        (``mark_committed``) is only written after BOTH complete, so crash
        semantics are unchanged: marker exists ⇒ dedup state is on disk."""
        rp = os.path.join(self.recent_dir, f"batch-{batch_id:05d}.parquet")
        seen_lsns.select("lsn").write.mode("overwrite").parquet(rp)

    def mark_committed(
        self,
        batch_id: int,
        ledger: dict,
        snapshot_id: int,
        max_lsn_seen_batch: int,
    ) -> None:
        """Write the atomic commit marker (must be LAST: its existence
        asserts the snapshot AND the dedup state are both durable)."""
        prev = self.applied_batches()
        prev_max = int(self.batch_record(prev[-1])["max_lsn_seen"]) if prev else -1
        rec = {
            "batch_id": batch_id,
            "snapshot_id": snapshot_id,
            "ledger": ledger,
            "max_lsn_seen": max(prev_max, int(max_lsn_seen_batch)),
        }
        path = self._batch_path(batch_id)
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
        os.replace(tmp, path)  # atomic marker: exists ⇒ batch fully committed

    def commit_batch(
        self,
        batch_id: int,
        ledger: dict,
        snapshot_id: int,
        seen_lsns: DataFrame,
        max_lsn_seen_batch: int,
    ) -> None:
        """Persist dedup state then the commit marker (marker last) —
        the serial composition of ``write_seen_lsns`` + ``mark_committed``
        for paths with nothing to overlap (empty batches, tests)."""
        self.write_seen_lsns(batch_id, seen_lsns)
        self.mark_committed(batch_id, ledger, snapshot_id, max_lsn_seen_batch)
