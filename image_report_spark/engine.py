"""CdcEngine — the apply/merge core.

Per micro-batch (SURVEY.md §3.4 lifecycle):

1. quarantine malformed events (per-item error isolation — graft of
   reference ir:208-216: record the failure, never abort the record set);
2. reconcile the batch schema with the table schema (additive evolution);
3. cross-batch exactly-once: boundary filter + bounded recent-LSN
   anti-join (the dedup window);
4. FUSED resolve + copy-on-write MERGE: union the batch with the touched
   partitions' incumbent rows, ONE shuffle on ``(bucket, salt)``, then a
   single window sort serves (a) within-batch exact-replay detection via
   ``lag`` (replicas sort adjacently), (b) the last-writer-wins
   ``row_number`` ranking on ``(ts, lsn, src)``, and (c) the per-key
   incumbent-liveness aggregate. Untouched partitions carry forward in the
   manifest metadata-only. Hot buckets are salted; the optional
   ``applyInPandas`` per-conversation ordered pre-resolve (grouped mode,
   BASELINE.json:6) plugs in before the union;
5. conservation ledger + per-partition lineage (counts, last-applied LSN,
   order-independent checksum) from the same cached ranking;
6. write data files (inheriting the shuffle's partitioning — no second
   exchange), commit the table snapshot (atomic pointer swap), then the
   checkpoint marker — crash at any boundary resumes cleanly because
   markers are written last and the merge is idempotent.

Everything is DataFrame ops + window functions + Arrow-vectorized pandas
(grouped path); no per-row Python anywhere (BASELINE.json:15).
"""

from __future__ import annotations

import os
import time
import zlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from image_report_spark.config import EngineConfig
from image_report_spark.functions.digests import row_digest, table_digest
from image_report_spark.operators.evolution import reconcile_schema
from image_report_spark.operators.resolve import resolve_lww_grouped
from image_report_spark.operators.skew import detect_hot_keys, salt_hot_keys
from image_report_spark.plans.checkpoint import Checkpoint
from image_report_spark.plans.icelite import (
    PART_COL,
    IceliteTable,
    partition_expr,
    physical_schema,
)
from image_report_spark.plans.sink import TableSink
from image_report_spark.sources.changelog import ChangeLogSource

#: the transcript table schema (BASELINE.json:15, input_hint)
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)


#: narrow schema of the partition-stats read-back tiers — the stats
#: aggregation needs only these few columns; payload bytes stay on disk
#: (parquet schema projection skips their column chunks)
_PARTSTATS_SCHEMA = StructType(
    [
        StructField(PART_COL, IntegerType(), False),
        StructField("conv_id", StringType(), True),
        StructField("_lsn", LongType(), True),
        StructField("_op", StringType(), True),
        StructField("_h", LongType(), True),
    ]
)


#: partition-stats tier 1 gate: when a batch touches at most
#: this many partitions, the per-partition stats ride the WRITE JOB ITSELF
#: as conditional ``observe()`` aggregates (6 per touched partition) —
#: zero extra Spark job, zero read-back bytes, and no persisted ``_h``.
#: Above it (wide tables with thousands of buckets, where per-partition
#: observe expressions would bloat the plan) the narrow fixed-width file
#: read-back runs instead, which stays O(partitions). The tier earns its
#: place in bytes, not time: with this gate at 0, perfbench's
#: backlog_upsert (8 buckets, 4-vCPU VM) kept its throughput within noise
#: but its write_amp rose from 1.98 to 3.02, because the read-back tier
#: persists ``_h``, 8 incompressible bytes per row. The 64-vs-128
#: boundary A/B is in BENCH/partstats_ab.jsonl (BENCH/BASELINE.md).
PARTSTATS_OBSERVE_LIMIT = 64

#: read-back size gate: when a batch's freshly written data
#: files total at most this many bytes, the narrow stats read-back runs
#: DRIVER-side with arrow (a few MB of fixed-width column chunks — the same
#: magnitude of driver I/O as the per-commit file renames and manifest
#: JSON) instead of paying a Spark job's fixed scheduling latency
#: (~0.2-0.3 s/batch) to read it. Above it — cluster-scale batches — the
#: distributed read-back runs. All tiers produce identical stats
#: (tests/test_partstats.py).
PARTSTATS_DRIVER_BYTES_LIMIT = 128 * 1024 * 1024


def _checksum_cols_id(
    checksum_cols: list[str], schema: StructType | None = None
) -> str:
    """Short stable id of the checksum column SET and their types a
    partition entry's ``checksum`` was computed over. The append tiers may
    only xor-combine an old entry's checksum with fresh per-row hashes
    when both were computed over the same columns and types. After an
    additive schema evolution on a table without frozen
    ``checksum_columns`` the set changes; after a type promotion
    (int→bigint, float→double) the hash of every value of that column
    changes. Either way old entries stop matching, and those partitions
    fall back to one full rewrite (which re-hashes them under the new
    definition and restores appendability). ``schema`` supplies the column
    types; without it the id covers names only. The ``:typed`` suffix
    names the row-hash definition (functions/digests.py:row_digest); it
    stays so the ids of manifests already written still match."""
    types = {f.name: f.dataType.simpleString() for f in schema.fields} if schema else {}
    desc = [f"{c}:{types[c]}" if c in types else c for c in checksum_cols]
    return format(zlib.crc32("\x1f".join(desc).encode()), "08x") + ":typed"


def _live_row_hash(df: DataFrame, checksum_cols: list[str]):
    """Per-row content hash of LIVE rows — NULL for tombstones so the
    partition ``bit_xor`` skips them. This is the unit of the
    order-independent partition checksum (functions/digests.py)."""
    return F.when(F.col("_op") != "D", row_digest(df, checksum_cols))


def _driver_partition_stats(root: str, files: dict[int, list[str]]) -> list:
    """Driver-side arrow read-back of the narrow stats columns.

    Semantically identical to the Spark read-back (same skip-null max/min,
    same unsigned-64 hex checksum, and UTF-8 byte order == code-point
    order, so python string min/max matches Spark's binary collation);
    pinned against the other tiers in tests/test_partstats.py. Bounded by
    ``PARTSTATS_DRIVER_BYTES_LIMIT``, so the driver reads a few MB of
    fixed-width column chunks — the same magnitude of driver I/O as the
    file renames and manifest JSON it already performs per commit —
    instead of paying a Spark job's fixed scheduling latency to do it."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def one(item):
        p, rels = item
        n = live = 0
        mx = None
        x = 0
        lo = hi = None
        for rel in rels:
            # Only `_h` is READ: `_h` is NULL exactly for tombstones
            # (xxhash64 over coalesced/concat inputs is never null for a
            # live row), so its non-null count IS the live-row count and
            # its values feed the xor checksum. Everything else comes
            # from file metadata: row_count from the footer, conv_id
            # min/max and _lsn max from the row-group statistics our own
            # writer just wrote (no truncation configured ⇒ exact;
            # parquet's unsigned-byte string order == Spark's binary
            # collation == python str comparison — the same equivalence
            # the full-column path relied on). A chunk without min/max
            # (all-null conv_id — null merge keys are legal) falls back
            # to reading that column for that file.
            pf = pq.ParquetFile(os.path.join(root, rel))
            md = pf.metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            n += md.num_rows
            need_read: set = set()
            f_lo = f_hi = None
            f_mx = None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                s_c = rg.column(idx["conv_id"]).statistics
                s_l = rg.column(idx["_lsn"]).statistics
                if s_c is not None and s_c.has_min_max:
                    f_lo = s_c.min if f_lo is None else min(f_lo, s_c.min)
                    f_hi = s_c.max if f_hi is None else max(f_hi, s_c.max)
                else:
                    need_read.add("conv_id")
                if s_l is not None and s_l.has_min_max:
                    f_mx = s_l.max if f_mx is None else max(f_mx, s_l.max)
                else:
                    need_read.add("_lsn")
            t = pf.read(columns=["_h"] + sorted(need_read))
            if "conv_id" in need_read:
                mm = pc.min_max(t.column("conv_id")).as_py()
                f_lo, f_hi = mm["min"], mm["max"]
            if "_lsn" in need_read:
                f_mx = pc.max(t.column("_lsn")).as_py()
            if f_mx is not None:
                mx = f_mx if mx is None else max(mx, f_mx)
            if f_lo is not None:
                lo = f_lo if lo is None else min(lo, f_lo)
                hi = f_hi if hi is None else max(hi, f_hi)
            hv = t.column("_h").drop_null().to_numpy(zero_copy_only=False)
            live += len(hv)
            if len(hv):
                x ^= int(np.bitwise_xor.reduce(hv.astype(np.int64).view(np.uint64)))
        return {
            PART_COL: p,
            "row_count": n,
            "live_rows": int(live),
            "last_applied_lsn": mx,
            "checksum": format(x & 0xFFFFFFFFFFFFFFFF, "016X"),
            "key_lo": lo,
            "key_hi": hi,
        }

    # arrow releases the GIL for decode/IO, so threads scale to real
    # parallelism; 16 ≈ one file-open round-trip amortized per ~8 files
    # at the bench's 128 partitions
    with ThreadPoolExecutor(max_workers=min(16, max(len(files), 1))) as ex:
        return list(ex.map(one, list(files.items())))


def _written_partition_stats(
    spark: SparkSession,
    root: str,
    files: dict[int, list[str]],
    driver_bytes_limit: int = 0,
) -> list:
    """Per-partition lineage (row counts, live rows, last applied LSN,
    order-independent checksum) aggregated from freshly WRITTEN files.

    The per-row hash ``_h`` was computed INSIDE the merge pipeline and
    persisted in the files, so the read-back is a narrow scan that never
    re-reads the payload bytes just written (at sf0.1 / 2 M x 8 such a
    re-read was 15-25% of apply wall, BENCH/BASELINE.md round 5)."""
    if driver_bytes_limit and files:
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for fl in files.values()
            for f in fl
        )
        if total <= driver_bytes_limit:
            return _driver_partition_stats(root, files)
    written_paths = [os.path.join(root, f) for fl in files.values() for f in fl]
    wdf = spark.read.schema(_PARTSTATS_SCHEMA).parquet(*written_paths)
    return _partition_stats(wdf.withColumn("h", F.col("_h")))


def _partition_stats(df: DataFrame) -> list:
    """Per-partition lineage rows of table rows whose live-row hash is the
    column ``h`` (NULL for tombstones), in one aggregation job."""
    return (
        df.groupBy(PART_COL)
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.sum(F.when(F.col("_op") != "D", 1).otherwise(0)).alias("live_rows"),
            F.max("_lsn").alias("last_applied_lsn"),
            F.lpad(F.hex(F.coalesce(F.expr("bit_xor(h)"), F.lit(0))), 16, "0").alias("checksum"),
            # zone map for the append fast-path's metadata tier
            F.min("conv_id").alias("key_lo"),
            F.max("conv_id").alias("key_hi"),
        )
        .collect()
    )


class BatchAborted(RuntimeError):
    """Raised under ``on_error='fail'`` — no snapshot/marker is committed."""


@dataclass
class BatchReport:
    batch_id: int
    snapshot_id: int | None = None
    skipped: bool = False
    events_read: int = 0
    quarantined: int = 0
    deduped: int = 0
    superseded: int = 0
    applied: int = 0
    inserts: int = 0
    updates: int = 0
    deletes: int = 0
    rows_before: int = 0
    rows_after: int = 0
    partitions_touched: int = 0
    #: touched partitions taken by the copy-on-write append fast-path
    #: (all-insert batch slice, zero key overlap with the incumbent —
    #: incumbent files carried forward, stats xor-combined)
    partitions_appended: int = 0
    #: rewrite partitions merged via the COW two-stream split (narrow
    #: incumbent through the resolve window; survivors carried by a
    #: map-only broadcast anti-join instead of the merge shuffle)
    partitions_two_stream: int = 0
    #: two-stream partitions where no batch event won — old files kept
    #: verbatim (metadata carry-forward, nothing rewritten)
    partitions_carried: int = 0
    wall_ms: int = 0
    table_digest: str | None = None
    #: partitions auto-compacted by ``mor_compact_delta_ratio`` after this
    #: batch's commit (0 when the policy is off or nothing crossed)
    auto_compacted_partitions: int = 0
    op_histogram: dict = field(default_factory=dict)
    phase_ms: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._t0 = self._last = time.monotonic()

    def tick(self, phase: str) -> None:
        """Charge the time since the previous tick to ``phase``: per-phase
        durations land in the ledger as a selectable metric (graft of the
        reference's per-section duration_sec attributes,
        ir:218-221,347-353)."""
        now = time.monotonic()
        self.phase_ms[phase] = self.phase_ms.get(phase, 0) + int(
            (now - self._last) * 1000
        )
        self._last = now

    def elapsed_ms(self) -> int:
        return int((time.monotonic() - self._t0) * 1000)

    def ledger(self, selected: set[str]) -> dict:
        base = {
            "batch_id": self.batch_id,
            "partitions_touched": self.partitions_touched,
            "format_version": 1,
        }
        if self.partitions_appended:
            base["partitions_appended"] = self.partitions_appended
        if self.partitions_two_stream:
            base["partitions_two_stream"] = self.partitions_two_stream
        if self.partitions_carried:
            base["partitions_carried"] = self.partitions_carried
        for k in (
            "events_read applied deduped superseded quarantined "
            "rows_before inserts updates deletes rows_after".split()
        ):
            if k in selected:
                base[k] = getattr(self, k)
        if "wall_ms" in selected:
            base["wall_ms"] = self.wall_ms
        if "phase_ms" in selected:
            base["phase_ms"] = self.phase_ms
        if "table_digest" in selected:
            base["table_digest"] = self.table_digest
        if "op_histogram" in selected:
            base["op_histogram"] = self.op_histogram
        return base

    def conservation_ok(self) -> bool:
        return (
            self.applied + self.deduped + self.superseded + self.quarantined
            == self.events_read
            and self.rows_before + self.inserts - self.deletes == self.rows_after
        )


def build_mor_classification(
    dback: DataFrame,
    inc_scan: DataFrame,
    key_cols: list[str],
    broadcast_keys: bool,
) -> DataFrame:
    """Join the batch's written delta rows against the incumbent's latest
    row per key, for the per-partition delta stats of a MOR batch above
    ``PARTSTATS_OBSERVE_LIMIT`` touched partitions (``_mor_delta_stats``).

    Two regimes, chosen by the caller from the batch's size:

    * ``broadcast_keys=True`` (small batch): the delta's distinct keys are
      BROADCAST into the incumbent keys-only scan's semi-join, and the
      pruned one-row-per-key incumbent is BROADCAST back into the outer
      join — the incumbent never wide-shuffles and the classification
      adds zero Exchanges over the scan.
    * ``broadcast_keys=False`` (10–100 M-event batch / initial load): the
      same joins run SHUFFLED (sort-merge / shuffled-hash under AQE) —
      a GB-sized key set must degrade to a shuffle, not blow the 8 GB
      broadcast limit or driver memory. The incumbent side is still
      keys-only column-pruned and semi-joined down to batch-touched keys
      before its resolve window, so the shuffle carries narrow rows only.

    Kept as a module function so tests pin BOTH plan regimes against the
    exact production code path (tests/test_mor_plans.py).
    """
    iw = Window.partitionBy(PART_COL, *key_cols).orderBy(
        F.col("ts").desc_nulls_last(), F.col("_lsn").desc_nulls_last()
    )
    keyset = dback.select(*key_cols).distinct()
    if broadcast_keys:
        keyset = F.broadcast(keyset)
    inc1 = (
        inc_scan
        # keys-only prune: incumbent rows whose key the batch didn't
        # touch never reach the resolve window
        .join(keyset, key_cols, "left_semi")
        .withColumn("_rn", F.row_number().over(iw))
        .filter(F.col("_rn") == 1)
        .select(
            PART_COL,
            *key_cols,
            F.col("ts").alias("_i_ts"),
            F.col("_lsn").alias("_i_lsn"),
            (F.col("_op") != "D").cast("int").alias("_i_live"),
        )
    )
    if broadcast_keys:
        inc1 = F.broadcast(inc1)
    return dback.join(inc1, [PART_COL] + key_cols, "left")


#: per-partition routes of a COW batch (``BatchPlan.route``)
APPEND, TWO_STREAM, FUSED = "append", "two_stream", "fused"

#: hot threshold, read in three places. ``plan_batch`` counts a batch's
#: valid events per BUCKET: a bucket above it is hot, and the merge window
#: (``build_merge_ranking``) spreads its rows over ``SKEW_SALT`` sub-keys
#: by ``pmod(xxhash64(conv_id, turn_idx), SKEW_SALT)``. The grouped
#: pre-resolve (``grouped_resolve``) counts events per CONV_ID
#: (``detect_hot_keys``): a conversation above it is salted by
#: ``pmod(xxhash64(turn_idx), SKEW_SALT)`` (``salt_hot_keys``) before its
#: applyInPandas groups. Either salt keeps every event of one key in one
#: salted group, so per-key resolution is unchanged. ``_merge_tasks``
#: counts a merge's rows: at or below it the merge exchange gets an
#: explicit reduce-task count (``build_merge_ranking``), above it AQE's.
HOT_EVENTS = 100_000

#: number of salt values a hot bucket or hot conversation fans out over
SKEW_SALT = 16

# The merge-proven tier of the append fast-path (TWO_STREAM, guide §2.2:
# shuffle fewer bytes). A rewrite partition whose batch slice is PURE
# INSERTS contributes only NARROW incumbent rows (merge keys + ts/lsn/op;
# payload column chunks never leave the parquet scan) to the resolve
# window, and the merge's own observation counts winners that displaced
# an incumbent key. Zero displaced ⇒ the winner file is provably
# key-disjoint from the incumbent, so it APPENDS and the incumbent files
# carry forward — the append fast-path outcome for the interleaved key
# ranges the zone-map tier cannot prove, with no extra per-batch job.
# Non-zero (an insert re-used an existing or tombstoned key) ⇒ one narrow
# keys semi-join pinpoints the overlapping partitions, which are rebuilt
# as written winners + a map-only broadcast anti-join copy of the
# surviving incumbent rows (payload read once, written once, never
# shuffled). Buckets with update/delete events take the fused path
# unchanged: their targets overlap by construction, and the
# survivor-rewrite detour measures SLOWER than the fused shuffle at
# transcript payload widths (A/B in OPTIMIZATION_r06.md). Row set, ledger
# and partition checksums are identical to the fused path by construction
# — the whole narrow incumbent flows through the same LWW window, so every
# stat observes the same rows (pinned by the digest-equality tests in
# tests/test_two_stream.py). A two-stream partition none of whose batch
# events win keeps its old files verbatim (metadata carry-forward — a
# stale re-insert flood rewrites nothing). The tier is on whenever
# ``cow_append_fastpath`` is; False there forces full rewrites.

#: a partition is two-stream-eligible only while its incumbent file count
#: is below this bound; at/above it the batch takes the fused rewrite,
#: which coalesces the partition back to one file. This is the
#: small-files backstop: each appended batch adds a file per partition, so
#: without the bound an endless interleaved-insert stream would accumulate
#: files monotonically (the round-5 verdict's append-path concern — this
#: tier self-bounds). 8 ≈ Iceberg-style "compact every few commits"
#: amortization.
TWO_STREAM_MAX_FILES = 8

#: per-partition engagement ratio: a partition is two-stream-eligible only
#: when its incumbent rows are at least this multiple of the batch rows
#: landing in it. Appending necessarily produces one small file per
#: partition per batch; when the incumbent is only 1-4× the batch (early
#: bulk-load batches, small tables) the avoided rewrite is worth less than
#: the small-files tax every subsequent scan of that partition pays —
#: measured at bench shape (2 M × 8, 128 buckets): appends with ratio ≤ 4
#: cost +2-4 s per apply vs fused (OPTIMIZATION_r06.md). At ratio ≥ 8 the
#: rewrite is ≥ 8× the bytes of the append and the trade flips — the
#: long-running insert-stream case (growing table, steady batch size)
#: where each batch would otherwise rewrite the whole partition. A
#: data-shape breakeven, not a core-count constant.
TWO_STREAM_MIN_RATIO = 8.0

#: broadcast gate on a batch's VALID event count (an upper bound on its
#: distinct key count, free from the bucket pre-pass), read by two joins.
#: MOR delta-stats read-back (``build_mor_classification``), which serves
#: only batches touching more than ``PARTSTATS_OBSERVE_LIMIT`` partitions
#: (below that the stats ride the delta write's observation): at or below
#: the gate the delta key set and the pruned incumbent are broadcast (zero
#: wide shuffles); above it the join falls back to a shuffled semi-join +
#: sort-merge join — a 10–100 M-event initial load must degrade to a
#: shuffle, not hit the 8 GB broadcast wall. Two-stream
#: survivors (``plan_batch``): the events
#: of all two-stream candidates together must fit it, because the survivor
#: pass broadcasts the written winners' keys into its anti-join; above it
#: the candidates take the fused rewrite. 2 M keys ≈ 100–150 MB broadcast
#: of (conv_id, turn_idx) rows — comfortably inside executor memory at
#: either scale.
BROADCAST_KEY_LIMIT = 2_000_000


@dataclass
class BatchPlan:
    """Routing decision for one batch, made on the driver from the bucket
    pre-pass and the manifest alone (``plan_batch``). MOR ignores
    ``route`` and ``observe_stats``: it reads ``touched`` (whose
    incumbent rows enter its window, and whose count gates its stats
    observation), ``hot_buckets``, and ``valid`` (the broadcast gate of
    its above-limit read-back)."""

    #: buckets holding at least one valid event, ascending
    touched: list[int]
    #: buckets whose valid events exceed ``HOT_EVENTS`` (salted)
    hot_buckets: list[int]
    #: valid (non-malformed) events per bucket
    valid: dict[int, int]
    #: touched bucket -> APPEND | TWO_STREAM | FUSED
    route: dict[int, str]
    #: partition stats ride the write job's ``observe()`` (tier 1)
    observe_stats: bool

    def parts(self, route: str) -> list[int]:
        return [p for p in self.touched if self.route[p] == route]


def _appendable(entry: dict | None, row, ck_id: str) -> bool:
    """Eligibility shared by both append tiers: a pure-insert bucket slice
    without null merge keys (SQL equality never matches them, yet the
    merge window groups them) over a clean, checksummed entry whose
    checksum was computed under the same ``ck_id``."""
    return (
        entry is not None
        and bool(entry.get("files"))
        and not entry.get("delta_files")
        and entry.get("checksum") is not None
        and entry.get("ck_id") == ck_id
        and int(row["noni"] or 0) == 0
        and int(row["nullk"] or 0) == 0
    )


def plan_batch(bucket_rows: list, old_entries: dict, cfg: EngineConfig, ck_id: str) -> BatchPlan:
    """Route every touched partition of a COW batch; pure Python, no Spark.

    * APPEND (zone-map METADATA tier): an appendable slice whose key range
      is strictly disjoint from the entry's stored [key_lo, key_hi] zone
      map appends with zero extra jobs — its incumbent never enters the
      union (no read, no re-sort, no re-encode). Monotonic insert keys
      append here.
    * TWO_STREAM (merge-proven tier): an appendable slice with
      overlapping ranges sends only NARROW incumbent rows through the
      merge, which itself proves key-disjointness (its ``displaced``
      counter). Gated by ``TWO_STREAM_MAX_FILES``,
      ``TWO_STREAM_MIN_RATIO`` and — over all such partitions —
      ``BROADCAST_KEY_LIMIT``, the survivor pass's anti-join broadcast.
    * FUSED: everything else — update/delete buckets (their targets
      overlap by construction, and the survivor-rewrite detour measured
      slower than the fused shuffle at this payload width), null-key
      buckets, stale ``ck_id`` entries and new partitions.
    """
    rows = {int(r[PART_COL]): r for r in bucket_rows}
    valid = {p: int(r["n"]) - int(r["bad"] or 0) for p, r in rows.items()}
    # an all-replay bucket still rewrites identically — harmless
    touched = sorted(p for p, v in valid.items() if v > 0)
    hot = [p for p, v in valid.items() if v > HOT_EVENTS]
    route = dict.fromkeys(touched, FUSED)
    ts_cand = []
    for p in touched:
        r, e = rows[p], old_entries.get(p)
        if not (cfg.cow_append_fastpath and _appendable(e, r, ck_id)):
            continue
        if (
            e.get("key_lo") is not None
            and e.get("key_hi") is not None
            and (r["khi"] < e["key_lo"] or r["klo"] > e["key_hi"])
        ):
            route[p] = APPEND
        elif (
            len(e["files"]) < TWO_STREAM_MAX_FILES
            and int(e["row_count"]) >= TWO_STREAM_MIN_RATIO * max(valid[p], 1)
        ):
            ts_cand.append(p)
    if sum(valid[p] for p in ts_cand) <= BROADCAST_KEY_LIMIT:
        route.update(dict.fromkeys(ts_cand, TWO_STREAM))
    observe = 0 < len(touched) <= PARTSTATS_OBSERVE_LIMIT
    return BatchPlan(touched, hot, valid, route, observe)


def _salt_expr(hot_buckets: list[int], n_salt: int):
    """Hot buckets spread over ``n_salt`` sub-keys by the merge-key hash;
    every other row (and every row of a cold batch) gets salt 0."""
    if not hot_buckets:
        return F.lit(0)
    return F.when(
        F.col(PART_COL).isin(hot_buckets),
        F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx")), F.lit(n_salt)).cast("int"),
    ).otherwise(F.lit(0))


def _event_rows(events: DataFrame, num_buckets: int, payload_cols: list[str], *extra: str) -> DataFrame:
    """Batch events in the table's physical row shape (bucket, payload,
    ``_lsn``, ``_op``), plus ``extra`` SQL expressions. One selectExpr
    instead of withColumn+select: the merge construction repeats per
    batch, so driver round-trips are a per-batch tax (the SQL text parses
    to partition_expr's pmod/xxhash64/cast)."""
    return events.selectExpr(
        f"cast(pmod(xxhash64(conv_id), {num_buckets}) as int) AS {PART_COL}",
        *[f"`{c}`" for c in payload_cols],
        "lsn AS _lsn",
        "op AS _op",
        *extra,
    )


def _narrow_incumbent(scan: DataFrame, evolved: StructType) -> DataFrame:
    """Incumbent rows as the merge window needs them when their payload
    is not rewritten: the merge keys and the LWW order columns, every
    other payload column a typed NULL literal (which prunes its column
    chunks out of the parquet ``scan``), tagged ``_src`` 0. Feeds COW's
    two-stream partitions and every MOR batch."""
    key_or_order = {"conv_id", "turn_idx", "ts"}
    return scan.select(
        F.col(PART_COL),
        *[
            F.col(f.name)
            if f.name in key_or_order
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in evolved.fields
        ],
        "_lsn",
        "_op",
        F.lit(0).alias("_src"),
    )


def build_merge_ranking(
    rows: DataFrame,
    hot_buckets: list[int],
    n_salt: int,
    incumbent: bool = False,
    inc_any: bool = False,
    unresolved: bool = False,
    tasks: int | None = None,
) -> DataFrame:
    """The merge's ONE shuffle and ONE window sort, shared by COW and MOR.

    Rows repartition on (bucket, salt); within a key, rows sharing an LSN
    (exact replays — byte-identical; an idempotent re-apply pairs the
    event with its incumbent) sort adjacently, so replay detection
    (``_replay``) is a lag() in the SAME (partition, order) spec as the
    last-writer-wins ``_rn`` — a single WindowExec, a single sort (graft
    of the NMS duplicate suppression, utils.py:270-319). ``incumbent``:
    ``rows`` is a union of incumbent (``_src`` 0) and batch (``_src`` 1)
    rows — exact ties go to the incumbent, and ``_inc_live`` flags keys
    with a live incumbent row. ``inc_any`` adds ``_inc_any``, "did ANY
    incumbent row (live OR tombstone) share this key", for the
    merge-proven append: tombstones must count as overlap so an appended
    partition never holds two physical rows for one key. The per-key
    max() aggregates need only the clustering prefix, so they ride the
    same sort.

    ``unresolved``: the incumbent holds several rows per key (MOR base
    plus pending deltas), and only the NEWEST one — the row a read
    resolves to — counts. ``_inc_live`` is that row's liveness, not a
    max() over all of them, and a batch row is a replay only when it
    pairs with another batch row or with that newest row, never with an
    older, superseded incumbent row. Both are full-frame ``first()``
    aggregates over the same order spec, so they too ride the one sort.

    ``tasks``: the exchange's reduce-task count, which AQE does not
    coalesce. ``CdcEngine._merge_tasks`` passes min(touched buckets, task
    slots) when the merge has no hot bucket and holds at most
    ``HOT_EVENTS`` rows (valid batch events plus the incumbent rows it
    scans). Below that size AQE coalesces the exchange onto fewer tasks
    than slots — at perfbench's ``backlog_upsert`` shape (7.5 k-event
    batches, 8 buckets, 4 slots) onto one task that ran the window, the
    observations and all 8 file writes. With the count, that workload's
    ``op_p50_ms`` fell 1680 → 1254 ms (10 of 10 pairs, together with the
    dedup window's range pruning). Above it AQE sizes the exchange by
    bytes and wins, because the count hashes 8 buckets unevenly onto 4
    tasks. Measured on a 4-vCPU VM (COW, 8 buckets, 7 order-alternated
    pairs per shape): the count won at 60 k and 85 k merge rows (7/7,
    6/7) and lost by 13–38 % at 105 k, 125 k and every shape from 180 k
    to 1.5 M rows (at most 1/7). A 2 M-event batch has hot buckets and
    keeps AQE's plan with #buckets × salt parallelism; an explicit
    per-bucket placement lost to it there (OPTIMIZATION_r06.md).

    Built as SQL text: one py4j round-trip for the whole window block;
    the single-Exchange plans are pinned in tests/test_plans.py and
    tests/test_mor_plans.py.
    """
    # repartition on _salt only when it's a real column: a lit(0) salt
    # constant-folds OUT of the window's required clustering but NOT out of
    # hashpartitioning, which would defeat the subset-satisfaction rule and
    # buy a second Exchange
    keys = [F.col(PART_COL), *([F.col("_salt")] if hot_buckets else [])]
    u = rows.withColumn("_salt", _salt_expr(hot_buckets, n_salt))
    u = u.repartition(tasks, *keys) if tasks else u.repartition(*keys)
    part = f"PARTITION BY {PART_COL}, _salt, conv_id, turn_idx"
    order = f"{part} ORDER BY ts DESC NULLS LAST, _lsn DESC NULLS LAST"
    if incumbent:
        order += ", _src ASC"  # exact tie → incumbent wins
    replay = f"lag(_lsn) OVER ({order}) <=> _lsn"
    inc_live = f"max(if(_src = 0 AND _op <> 'D', 1, 0)) OVER ({part})"
    if unresolved:
        full = f"{order} ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING"
        replay += (
            f" AND (lag(_src) OVER ({order}) = 1"
            f" OR first(if(_src = 0, _lsn, null), true) OVER ({full}) = _lsn)"
        )
        inc_live = f"coalesce(cast(first(if(_src = 0, _op <> 'D', null), true) OVER ({full}) AS int), 0)"
    exprs = [
        f"row_number() OVER ({order}) AS _rn",
        f"if({replay}, 1, 0) AS _replay",
    ]
    if incumbent:
        exprs.append(f"{inc_live} AS _inc_live")
    if inc_any:
        exprs.append(f"max(if(_src = 0, 1, 0)) OVER ({part}) AS _inc_any")
    return u.selectExpr("*", *exprs)


#: per-partition lineage aggregates of a written COW frame, keyed by the
#: ``_observed_partition_stats`` field letter; ``{in_p}`` is the
#: partition predicate: row count, live rows, max LSN, bit_xor checksum
#: and the key zone map
_COW_PSTATS = {
    "n": "sum(if({in_p}, 1, 0))",
    "l": "sum(if({in_p} and _op <> 'D', 1, 0))",
    "m": "max(if({in_p}, _lsn, null))",
    "x": "bit_xor(if({in_p}, _h, null))",
    "a": "min(if({in_p}, conv_id, null))",
    "b": "max(if({in_p}, conv_id, null))",
}

#: the same over a MOR batch's delta rows, which carry no checksum: rows
#: written, the live DELTA (inserts − deletes, judged against the newest
#: incumbent row by the merge window's ``_inc_live``) and the max LSN
_MOR_PSTATS = {
    "n": _COW_PSTATS["n"],
    "l": (
        "sum(if({in_p}, case when _op IN ('I', 'U') AND _inc_live = 0 then 1 "
        "when _op = 'D' AND _inc_live = 1 then -1 else 0 end, 0))"
    ),
    "m": _COW_PSTATS["m"],
}


#: the ledger aggregates of a merge window's observation, shared by COW
#: and MOR: one parsed SQL expression per aggregate (vs ~6 py4j
#: round-trips per Column build); `_src = 1 AND _rn = 1` is the "winning
#: event row" predicate throughout
_LEDGER_OBS = (
    "sum(if(_src = 1 AND _rn = 1, 1, 0)) AS applied",
    "sum(if(_src = 1 AND _replay = 1, 1, 0)) AS dups",
    "sum(if(_src = 1 AND _replay = 0 AND _rn > 1, 1, 0)) AS superseded",
    "sum(if(_src = 1 AND _rn = 1 AND _op IN ('I', 'U') AND _inc_live = 0, 1, 0)) AS ins",
    "sum(if(_src = 1 AND _rn = 1 AND _op IN ('I', 'U') AND _inc_live = 1, 1, 0)) AS upd",
    "sum(if(_src = 1 AND _rn = 1 AND _op = 'D' AND _inc_live = 1, 1, 0)) AS `del`",
    "sum(if(_rn = 1 AND _op <> 'D', 1, 0)) AS live_after",
    "max(if(_src = 1, _lsn, null)) AS mx",
    # op histogram folded into the SAME observation (3 more conditional
    # sums on the one pipeline execution) — a groupBy recompute would
    # re-run the entire uncached merge
    *[
        f"sum(if(_src = 1 AND _replay = 0 AND _op = '{o}', 1, 0)) AS op_{o}"
        for o in ("I", "U", "D")
    ],
)


def _observe_partition_stats(
    df: DataFrame, parts: list[int], name: str, aggs: dict = _COW_PSTATS
):
    """Per-partition lineage aggregates (``aggs``, by default count, live,
    max LSN, bit_xor checksum and key zone map) riding ``df``'s own job
    as ONE named_struct observation (single py4j call, parsed JVM-side) —
    6 aggregates per partition as Column objects would add ~100s of py4j
    round-trips per batch to the plan phase. Returns the observed frame
    and the Observation; ``_observed_partition_stats`` folds the
    results."""
    obs = Observation(name)
    entries = ", ".join(
        f"'{k}_{p}', {agg.format(in_p=f'{PART_COL} = {p}')}"
        for p in parts
        for k, agg in aggs.items()
    )
    return df.observe(obs, F.expr(f"named_struct({entries})").alias("pstats")), obs


def _observed_partition_stats(observations: list, parts: list[int]) -> list[dict]:
    """One stats row per partition in ``parts`` (the ``_written_partition_stats``
    shape) from the observations of every job that wrote its files: counts
    add, max/min compose, and bit_xor checksums xor-combine
    (order-independent by construction). Fields an observation did not
    aggregate fold to their empty value (checksum of nothing, no zone
    map)."""
    vals = [o.get["pstats"].asDict() for o in observations]
    out = []
    for p in parts:
        def got(fld: str) -> list:
            k = f"{fld}_{p}"
            return [v[k] for v in vals if v.get(k) is not None]

        x = 0
        for h in got("x"):
            x ^= h
        out.append(
            {
                PART_COL: p,
                "row_count": sum(got("n")),
                "live_rows": sum(got("l")),
                "last_applied_lsn": max(got("m"), default=None),
                # match F.lpad(F.hex(bigint)): unsigned 64-bit, uppercase,
                # zero-padded to 16
                "checksum": format(x & 0xFFFFFFFFFFFFFFFF, "016X"),
                "key_lo": min(got("a"), default=None),
                "key_hi": max(got("b"), default=None),
            }
        )
    return out


def _stats_columns(
    df: DataFrame,
    checksum_cols: list[str],
    observe: list[int] | None = None,
    name: str = "",
) -> tuple[DataFrame, Observation | None]:
    """Ready a frame that is about to be written for its partition stats:
    the per-row checksum hash ``_h`` is computed in the pipeline, and
    either rides an ``observe()`` over the ``observe`` partitions and is
    dropped before the write, or, without ``observe``, is persisted for
    the narrow read-back tiers. Dropping it matters: ``_h`` is 8
    incompressible bytes per row that only a read-back would consume.
    Returns the frame to write and the observation, if any."""
    df = df.withColumn("_h", _live_row_hash(df, checksum_cols))
    if not observe:
        return df, None
    df, obs = _observe_partition_stats(df, observe, name)
    return df.drop("_h"), obs


def _manifest_entry(stats, files: list[str], ck_id: str, old: dict | None = None) -> dict:
    """Manifest entry of a partition whose freshly written ``files`` carry
    lineage ``stats`` (a ``_written_partition_stats`` row). With ``old``
    (both append tiers) the incumbent files carry forward and the stats
    combine: counts add, checksums xor-combine (order-independent bit_xor
    over live-row hashes — old ⊕ new is EXACTLY what a full rewrite of the
    disjoint-key union would have stored, ck_id-guarded by
    ``_appendable``), and the zone map takes the envelope of both sides
    (None = unknown poisons it)."""
    lal = stats["last_applied_lsn"]
    entry = {
        "files": files,
        "row_count": int(stats["row_count"]),
        "live_rows": int(stats["live_rows"]),
        "checksum": stats["checksum"],
        "last_applied_lsn": int(lal) if lal is not None else None,
        "key_lo": stats["key_lo"],
        "key_hi": stats["key_hi"],
        "ck_id": ck_id,
    }
    if old is None:
        return entry
    olo, ohi, nlo, nhi = old.get("key_lo"), old.get("key_hi"), entry["key_lo"], entry["key_hi"]
    lsns = (old.get("last_applied_lsn"), entry["last_applied_lsn"])
    return {
        **entry,
        "files": list(old["files"]) + files,
        "row_count": int(old["row_count"]) + entry["row_count"],
        "live_rows": int(old["live_rows"]) + entry["live_rows"],
        "checksum": format(int(old["checksum"], 16) ^ int(entry["checksum"], 16), "016X"),
        "last_applied_lsn": max((v for v in lsns if v is not None), default=None),
        "key_lo": min(olo, nlo) if olo is not None and nlo is not None else None,
        "key_hi": max(ohi, nhi) if ohi is not None and nhi is not None else None,
    }


def _manifest_digest(entries: dict) -> str:
    """Table digest over a full manifest (partition -> entry)."""
    return table_digest([(p, e["live_rows"], e["checksum"]) for p, e in entries.items()])


def _lsn_range(bucket_rows: list) -> tuple[int, int] | None:
    """[min, max] LSN of a batch's valid events from the bucket pre-pass,
    or None when it has none."""
    rows = [r for r in bucket_rows if r["llo"] is not None]
    if not rows:
        return None
    return min(int(r["llo"]) for r in rows), max(int(r["lhi"]) for r in rows)


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        checkpoint_root: str | None = None,
        config: EngineConfig | None = None,
        dedup_window_batches: int = 4,
        table: "TableSink | None" = None,
    ):
        self.spark = spark
        self.config = config or EngineConfig()
        # the engine writes through the narrow TableSink surface
        # (plans/sink.py); IceliteTable is the jar-free default backend,
        # IcebergSink the documented cluster swap
        self.table: "TableSink" = table or IceliteTable(spark, table_root)
        # no root: the engine serves only commands that read no checkpoint
        # state (compact, verify, reads)
        self._checkpoint = (
            Checkpoint(spark, checkpoint_root, dedup_window_batches)
            if checkpoint_root is not None
            else None
        )

    @property
    def checkpoint(self) -> Checkpoint:
        if self._checkpoint is None:
            raise ValueError(
                "this engine has no checkpoint root; applying, running or "
                "replaying batches needs one"
            )
        return self._checkpoint

    # ----------------------------------------------------------------- setup
    @classmethod
    def init(
        cls,
        spark: SparkSession,
        table_root: str,
        checkpoint_root: str,
        schema: StructType = TRANSCRIPT_SCHEMA,
        config: EngineConfig | None = None,
        dedup_window_batches: int = 4,
        table: "TableSink | None" = None,
    ) -> "CdcEngine":
        config = config or EngineConfig()
        eng = cls(
            spark, table_root, checkpoint_root, config, dedup_window_batches,
            table=table,
        )
        if not eng.table.exists():
            if table is not None:
                raise FileNotFoundError(
                    "injected TableSink has no table yet — create it via "
                    "its own backend (e.g. IceliteTable.create / Iceberg "
                    "CREATE TABLE) before CdcEngine.init"
                )
            IceliteTable.create(
                spark, table_root, schema, num_buckets=config.num_buckets
            )
            # the checksum column set is frozen at creation so partition
            # digests stay comparable across schema evolution (evolved
            # columns are verified by full-content replay diff, not by the
            # rolling digest); the hash definition itself is fixed by
            # IceliteTable.create, so every tier — observe, driver and
            # Spark read-back, MOR compact, verify, replay verify — hashes
            # identically for the table's whole lifetime
            eng.table.set_checksum_columns([f.name for f in schema.fields])
        return eng

    def _checksum_columns(self, snap: dict, logical: StructType) -> list[str]:
        """The columns a partition checksum hashes, read from ``snap``
        once the snapshot is shown to name the one row-hash definition
        this engine computes (functions/digests.py:row_digest). A snapshot
        that names none predates it: its manifest checksums hash a retired
        form, so they can neither be xor-extended by the append tiers nor
        compared by replay_verify. The engine refuses such a table rather
        than mix two definitions in one digest."""
        mode = snap.get("rowhash_mode")
        if mode != "typed":
            raise ValueError(
                f"table at {self.table.root} does not use the typed row hash "
                f"(snapshot {snap.get('snapshot_id')} records {mode!r}), so "
                "its checksums cannot be extended or verified. Re-ingest "
                "its change log into a new table: CdcEngine.init(spark, "
                "<new table root>, <new checkpoint root>).run(log_dir)"
            )
        return snap.get("checksum_columns") or [f.name for f in logical.fields]

    # ------------------------------------------------------------ the merge
    def apply_batch(
        self,
        changes_raw: DataFrame,
        batch_id: int,
        prepass_rows: list | None = None,
    ) -> BatchReport:
        # Deliberately NOT cached: the raw batch is scanned ~2–3× (bucket
        # pre-pass, merge union, checkpoint lsn set), and re-running a
        # columnar parquet scan is far cheaper than materializing millions
        # of deserialized string rows in block storage — measured 8M events
        # on 32 threads: persist() cost 15 s of prepass + GC pressure across
        # every later stage; scan-again costs 1.4 s per pass. At cluster
        # scale caching a transient batch also evicts useful storage.
        # ``prepass_rows``: the bucket pre-pass result for THIS batch if a
        # caller (run()'s pipeline) already computed it concurrently with
        # the previous batch's tail — the pre-pass reads only the raw batch
        # files and no table/checkpoint state, so overlapping it is safe.
        return self._apply_batch(changes_raw, batch_id, prepass_rows)

    @staticmethod
    def _malformed_pred():
        return (
            F.col("lsn").isNull()
            | F.col("op").isNull()
            | ~F.col("op").isin("I", "U", "D")
        )

    def _prepass(self, changes_raw: DataFrame, num_buckets: int) -> list:
        """ONE pre-pass over the raw batch: total + malformed counts AND
        per-bucket sizes (touched-partition pruning + hot-bucket
        detection) fused into a single map-side-combined aggregate
        (quarantine split grafts per-item error isolation, ir:208-216).
        Reads ONLY the batch files — no table or checkpoint state — so
        run() may execute it for batch N+1 while batch N finishes."""
        malformed = self._malformed_pred()
        return (
            changes_raw.groupBy(partition_expr(num_buckets).alias(PART_COL))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(malformed, 1).otherwise(0)).alias("bad"),
                # valid non-insert events per bucket: the append fast-path
                # gate (a bucket qualifies only when this is zero) rides
                # the SAME map-side-combined prepass aggregate — no extra
                # job, no extra scan
                F.sum(
                    F.when(~malformed & (F.col("op") != "I"), 1).otherwise(0)
                ).alias("noni"),
                # per-bucket key range (zone map): lets the fast-path prove
                # key-disjointness against the manifest's stored per-
                # partition [key_lo, key_hi] WITHOUT any incumbent scan —
                # monotonic insert keys (auto-increment ids, snowflakes,
                # event time) append on metadata alone
                F.min(F.when(~malformed, F.col("conv_id"))).alias("klo"),
                F.max(F.when(~malformed, F.col("conv_id"))).alias("khi"),
                # null merge keys: SQL equality never matches them (a keys
                # semi-join would miss the overlap) yet the merge window
                # groups them — buckets carrying any null key never fast-path
                F.sum(
                    F.when(
                        ~malformed
                        & (F.col("conv_id").isNull() | F.col("turn_idx").isNull()),
                        1,
                    ).otherwise(0)
                ).alias("nullk"),
                # LSN range of the valid events: the dedup anti-join reads
                # only the window batches whose range meets it, and the
                # commit records it for later batches (plans/checkpoint.py)
                F.min(F.when(~malformed, F.col("lsn"))).alias("llo"),
                F.max(F.when(~malformed, F.col("lsn"))).alias("lhi"),
            )
            .collect()
        )

    def _apply_batch(
        self,
        changes_raw: DataFrame,
        batch_id: int,
        prepass_rows: list | None = None,
    ) -> BatchReport:
        cfg = self.config
        rpt = BatchReport(batch_id=batch_id)
        snap = self.table.snapshot()
        logical = self.table.logical_schema(snap)
        num_buckets = self.table.num_buckets(snap)
        checksum_cols = self._checksum_columns(snap, logical)

        # 1. bucket pre-pass (see _prepass) — either computed here or handed
        # in by run()'s pipeline, which overlapped it with the previous
        # batch's write/stats/commit tail
        malformed = self._malformed_pred()
        bucket_rows = (
            self._prepass(changes_raw, num_buckets)
            if prepass_rows is None
            else prepass_rows
        )
        rpt.tick("prepass")
        rpt.events_read = sum(int(r["n"]) for r in bucket_rows)
        rpt.quarantined = sum(int(r["bad"] or 0) for r in bucket_rows)
        if rpt.quarantined:
            if cfg.on_error == "fail":
                raise BatchAborted(
                    f"batch {batch_id}: {rpt.quarantined} malformed events "
                    f"(on_error=fail) — no snapshot committed"
                )
            self._write_quarantine(changes_raw.filter(malformed), batch_id)

        # 2. additive schema evolution (Arrow schema reconciliation)
        aligned, evolved = reconcile_schema(changes_raw.filter(~malformed), logical)
        payload_cols = [f.name for f in evolved.fields]

        # 3. cross-batch exactly-once filters: boundary + bounded recent-LSN
        # anti-join over the window batches whose LSN range meets this
        # batch's — an in-order log's batch meets none, and runs no join
        # (within-batch duplicate LSNs are folded into the merge window —
        # no separate dropDuplicates shuffle)
        events = aligned
        lsn_range = _lsn_range(bucket_rows)
        boundary = self.checkpoint.boundary_lsn(batch_id)
        if boundary >= 0:
            events = events.filter(F.col("lsn") > boundary)
        recent = None
        if lsn_range is not None:
            recent = self.checkpoint.recent_lsns_df(
                batch_id, max(lsn_range[0], boundary + 1), lsn_range[1]
            )
        if recent is not None:
            events = events.join(recent, "lsn", "left_anti")

        old_entries = {e["partition"]: e for e in snap["manifest"]}
        ck_id = _checksum_cols_id(checksum_cols, evolved)
        plan = plan_batch(bucket_rows, old_entries, cfg, ck_id)
        rpt.partitions_touched = len(plan.touched)
        rpt.rows_before = sum(e["live_rows"] for e in old_entries.values())

        # the default fused path consumes `events` exactly once (the union),
        # so no cache; grouped / quarantine-missing modes scan it repeatedly.
        # Keep a separate handle to the frame that was actually persisted:
        # those modes rebind `events` to derived frames below, and
        # unpersisting a derived frame is a no-op (the cache would leak
        # across batches in a long run)
        events_pinned = None
        if cfg.grouped_resolve or cfg.update_missing == "quarantine":
            events_pinned = events = events.persist()
        # the dedup-window LSN write runs on this pool, overlapping the
        # batch's write job (see _commit)
        lsn_pool = ThreadPoolExecutor(max_workers=1)
        try:
            if not plan.touched:
                # empty-batch short-circuit (graft of empty-input guards,
                # analysis.py:31-33): still commit a marker so resume sees it
                rpt.deduped = rpt.events_read - rpt.quarantined
                rpt.rows_after = rpt.rows_before
                self._commit(
                    rpt, {}, evolved, snap.get("table_digest"), events.select("lsn"),
                    lsn_range=lsn_range,
                )
                return rpt

            if cfg.update_missing == "quarantine":
                events, n_missing = self._quarantine_missing_updates(
                    events, plan.touched, batch_id
                )
                rpt.quarantined += n_missing

            pre = None
            if cfg.grouped_resolve:
                # applyInPandas per-conversation ordered apply (BASELINE.json:6)
                # — pre-resolves within the batch; the fused merge below then
                # only reconciles one winner/key against the incumbent
                pre = events.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_distinct(F.col("lsn")).alias("nd"),
                ).first()
                hot = detect_hot_keys(events, threshold=HOT_EVENTS)
                events = resolve_lww_grouped(
                    salt_hot_keys(events, hot, n_salt=SKEW_SALT)
                ).drop("_salt")

            if cfg.write_mode == "mor":
                return self._mor_tail(
                    events, evolved, payload_cols, num_buckets, plan,
                    old_entries, rpt, lsn_pool, lsn_range,
                )

            # 4-6. execute: the COW merge runs once, inside the file write
            part_rows, files, append_parts, stats, lsn_fut = self._cow_execute(
                events, plan, old_entries, evolved, payload_cols, num_buckets,
                checksum_cols, rpt, lsn_pool,
            )
            # 7. account: ledger, manifest, then snapshot + checkpoint marker.
            # Appended partitions KEEP their old live rows (incumbent files
            # carry forward), so only the partitions the merge rewrote or
            # read narrow have their old live counts displaced by its
            # live_after
            self._count_ledger(
                rpt, stats, pre,
                sum(
                    old_entries[p]["live_rows"]
                    for p in plan.touched
                    if plan.route[p] != APPEND and p in old_entries
                ),
            )
            replaced = {}
            for r in part_rows:
                p = int(r[PART_COL])
                old = old_entries[p] if p in append_parts else None
                replaced[p] = _manifest_entry(r, files.get(p, []), ck_id, old)
            self._commit(
                rpt, replaced, evolved,
                _manifest_digest({**old_entries, **replaced}), lsn_fut, stats["mx"],
                lsn_range,
            )
        finally:
            lsn_pool.shutdown(wait=True)
            if events_pinned is not None:
                events_pinned.unpersist()
        return rpt

    def _cow_execute(
        self,
        events: DataFrame,
        plan: BatchPlan,
        old_entries: dict,
        evolved: StructType,
        payload_cols: list[str],
        num_buckets: int,
        checksum_cols: list[str],
        rpt: BatchReport,
        lsn_pool: ThreadPoolExecutor,
    ):
        """Run the COW batch's jobs: the merge write, the two-stream
        survivor pass and the partition-stats read-back. Returns the
        per-partition stats rows, the written files, the partitions whose
        old files carry forward (both append tiers), the merge
        observation's values, and the in-flight seen-LSN write."""
        batch_id = rpt.batch_id
        ts_parts = plan.parts(TWO_STREAM)
        to_write, obs, pobs = self._cow_merge(
            events, plan, old_entries, evolved, payload_cols, num_buckets,
            checksum_cols, batch_id,
        )
        rpt.tick("plan")
        # the dedup-window LSN set is independent of the merge output, so
        # its (job-overhead-dominated) Parquet write is submitted BEFORE the
        # big write job and backfills idle cores during the merge's
        # stragglers/tail (guide-§2.6 overlap)
        lsn_fut = lsn_pool.submit(
            self.checkpoint.write_seen_lsns, batch_id, events.select("lsn")
        )
        # write files FIRST (unreferenced until the snapshot commit)
        files = self.table.write_partition_files(
            to_write, batch_id, pre_partitioned=True
        )
        stats = obs.get
        rpt.tick("write+merge")

        append_parts = set(plan.parts(APPEND))
        observations = [pobs] if pobs is not None else []
        if ts_parts:
            rpt.partitions_carried = sum(p not in files for p in ts_parts)
            appended, pobs2 = self._two_stream_survivors(
                ts_parts, files, int(stats["displaced"] or 0), old_entries,
                evolved, checksum_cols, plan.observe_stats,
                batch_id,
            )
            append_parts |= appended
            observations += [pobs2] if pobs2 is not None else []
            rpt.tick("survivors")
        rpt.partitions_two_stream = len(ts_parts)
        rpt.partitions_appended = len(append_parts)

        # per-partition lineage: already collected by the write jobs'
        # observations (tier 1), else a narrow scan of the written files
        if plan.observe_stats:
            part_rows = _observed_partition_stats(
                observations, [p for p in plan.touched if p in files]
            )
        else:
            part_rows = _written_partition_stats(
                self.spark, self.table.root, files, PARTSTATS_DRIVER_BYTES_LIMIT
            )
        rpt.tick("partstats")
        return part_rows, files, append_parts, stats, lsn_fut

    def _cow_merge(
        self,
        events: DataFrame,
        plan: BatchPlan,
        old_entries: dict,
        evolved: StructType,
        payload_cols: list[str],
        num_buckets: int,
        checksum_cols: list[str],
        batch_id: int,
    ) -> tuple[DataFrame, Observation, Observation | None]:
        """The COW merge pipeline, ready to write: incumbent ∪ events
        through ``build_merge_ranking`` — one wide shuffle on
        (bucket, salt); both dedup windows, the LWW ranking, the per-key
        liveness aggregate and the final write all run inside that
        partitioning (Catalyst inserts sorts, never another exchange), so
        the data moves across the network once.

        Deliberately NOT cached: caching wide string rows is a GC bomb
        (measured: 120 s GC in one 64-task stage). The pipeline runs
        exactly once, inside the file write, with the ledger collected by
        the returned observation on that same job and partition stats
        either by a second observation riding it (``plan.observe_stats``)
        or from a narrow read-back of the written files, which persist the
        pipeline-computed per-row hash ``_h`` for it.

        TWO_STREAM partitions contribute only NARROW incumbent rows; the
        pipeline writes their batch winners only, and the survivor pass
        (``_two_stream_survivors``) carries their incumbent payload.
        """
        ts_parts = plan.parts(TWO_STREAM)
        incumbent = self._read_physical(
            old_entries, plan.parts(FUSED), evolved
        ).withColumn("_src", F.lit(0))
        if ts_parts:
            incumbent = incumbent.unionByName(
                _narrow_incumbent(
                    self._read_physical(old_entries, ts_parts, evolved), evolved
                )
            )
        evt = _event_rows(events, num_buckets, payload_cols, "1 AS _src")
        ranked = build_merge_ranking(
            incumbent.unionByName(evt), plan.hot_buckets, SKEW_SALT,
            incumbent=True, inc_any=bool(ts_parts),
            tasks=self._merge_tasks(plan, old_entries, plan.parts(FUSED) + ts_parts),
        )
        obs = Observation(f"batch-{batch_id}")
        obs_exprs = list(_LEDGER_OBS)
        keep = F.col("_rn") == 1
        if ts_parts:
            # merge-proven append: count batch winners that displaced an
            # existing incumbent key in a two-stream partition. Zero ⇒
            # every two-stream winner file is key-disjoint from its
            # incumbent and appends with no further jobs; non-zero ⇒ a
            # narrow keys semi-join pinpoints which partitions overlap.
            ids = ", ".join(str(p) for p in ts_parts)
            obs_exprs.append(
                "sum(if(_src = 1 AND _rn = 1 AND _inc_any = 1 AND "
                f"{PART_COL} IN ({ids}), 1, 0)) AS displaced"
            )
            # two-stream partitions: write only the batch's winning rows;
            # narrow incumbent winners exist solely to decide per-key
            # outcomes and feed the observation
            keep = keep & ((F.col("_src") == 1) | ~F.col(PART_COL).isin(ts_parts))
        merged = ranked.observe(obs, *[F.expr(s) for s in obs_exprs]).filter(keep)
        # `_salt` rides along so the window's output ordering satisfies the
        # write sort (projecting it away would truncate the known ordering
        # and force a second full sort)
        phys_cols = [PART_COL] + payload_cols + ["_lsn", "_op", "_salt"]
        to_write, pobs = _stats_columns(
            merged.select(*phys_cols), checksum_cols,
            plan.touched if plan.observe_stats else None, f"pstats-{batch_id}",
        )
        return to_write, obs, pobs

    def _two_stream_survivors(
        self,
        ts_parts: list[int],
        files: dict[int, list[str]],
        displaced: int,
        old_entries: dict,
        evolved: StructType,
        checksum_cols: list[str],
        observe: bool,
        batch_id: int,
    ) -> tuple[set[int], Observation | None]:
        """Settle the two-stream partitions after the merge wrote their
        winners. Returns the ones that APPEND, and the survivor write's
        stats observation (None when nothing was observed).

        A two-stream partition with NO winner file is untouched by the
        batch (every event replayed/superseded): its entry carries forward
        verbatim. Of the rest, a partition where no winner key matches any
        incumbent key appends (old files carry forward, stats xor-combine).
        The merge window already counted key collisions (``displaced``):
        zero ⇒ ALL of them append with no further jobs (the common
        insert-stream case); non-zero ⇒ one narrow keys semi-join
        pinpoints which partitions overlap (re-insert of an existing or
        tombstoned key). Overlapping partitions copy their surviving
        incumbent rows forward by a map-only scan + broadcast anti-join
        on the written winners' keys — payload bytes are read once and
        written once, never shuffled or window-sorted — into ``files``.
        """
        rewrite = [p for p in ts_parts if p in files]
        if not rewrite:
            return set(), None
        phys = physical_schema(evolved)
        keys = [PART_COL, "conv_id", "turn_idx"]
        key_schema = StructType([f for f in phys.fields if f.name in keys])

        def won_keys(parts: list[int]) -> DataFrame:
            return F.broadcast(self._scan(key_schema, [f for p in parts for f in files[p]]))

        def old_files(parts: list[int]) -> list[str]:
            return [f for p in parts for f in old_entries[p]["files"]]

        if displaced == 0:
            appended = set(rewrite)
        else:
            overlapped = (
                self._scan(key_schema, old_files(rewrite))
                .join(won_keys(rewrite), keys, "left_semi")
                .select(PART_COL)
                .distinct()
                .collect()
            )
            appended = set(rewrite) - {int(r[PART_COL]) for r in overlapped}
        surv_parts = [p for p in rewrite if p not in appended]
        pobs = None
        if surv_parts:
            surv, pobs = _stats_columns(
                self._scan(phys, old_files(surv_parts)).join(
                    won_keys(surv_parts), keys, "left_anti"
                ),
                checksum_cols,
                surv_parts if observe else None, f"pstats2-{batch_id}",
            )
            written = self.table.write_partition_files(
                surv, batch_id, pre_partitioned=True
            )
            for p, fl in written.items():
                files[p] = files.get(p, []) + fl
        return appended, pobs

    def _count_ledger(self, rpt: BatchReport, stats, pre, replaced_old_live: int) -> None:
        """Fill the ledger from a merge window's observation (COW and MOR).
        ``replaced_old_live`` is the old live-row count of the partitions
        whose every key went through the window. ``pre`` is the grouped
        pre-resolve's (n, nd) row (COW only): it dropped (n − events into
        the union) events — duplicates-by-lsn first, the rest lost LWW
        in-batch."""
        applied, sup, dups = (
            int(stats[k] or 0) for k in ("applied", "superseded", "dups")
        )
        n_into_union = applied + sup + dups
        n_pre, pre_dups = n_into_union, 0
        if pre is not None:
            n_pre, pre_dups = int(pre["n"]), int(pre["n"]) - int(pre["nd"])
        rpt.applied = applied
        rpt.inserts = int(stats["ins"] or 0)
        rpt.updates = int(stats["upd"] or 0)
        rpt.deletes = int(stats["del"] or 0)
        rpt.superseded = sup + n_pre - n_into_union - pre_dups
        rpt.deduped = rpt.events_read - rpt.quarantined - n_pre + pre_dups + dups
        rpt.rows_after = (
            rpt.rows_before - replaced_old_live + int(stats["live_after"] or 0)
        )
        if "op_histogram" in self.config.selected_metrics:
            rpt.op_histogram = {
                o: int(stats[f"op_{o}"] or 0)
                for o in ("I", "U", "D")
                if int(stats[f"op_{o}"] or 0)
            }

    def _commit(
        self,
        rpt: BatchReport,
        replaced: dict,
        schema: StructType,
        digest: str | None,
        seen,
        max_lsn: int | None = None,
        lsn_range: tuple[int, int] | None = None,
    ) -> None:
        """Commit tail of every apply route, in crash-safe order: ledger,
        table snapshot (atomic pointer swap), dedup state, checkpoint
        marker — markers are written last and the merge is idempotent, so
        a crash at any boundary resumes cleanly. ``seen`` is the in-flight
        background seen-LSN write (a Future), or, for an empty batch with
        no write to overlap, the LSN frame to write now. ``lsn_range``, the
        batch's valid-event LSN range (``_lsn_range``), is recorded in the
        marker."""
        rpt.table_digest = digest
        rpt.wall_ms = rpt.elapsed_ms()
        ledger = rpt.ledger(self.config.selected_metrics)
        rpt.tick("ledger")
        sid = self.table.commit(replaced, schema, rpt.batch_id, ledger, digest)
        rpt.snapshot_id = sid
        if isinstance(seen, DataFrame):
            self.checkpoint.commit_batch(
                rpt.batch_id, ledger, sid, seen, -1, lsn_range
            )
        else:
            seen.result()  # dedup state durable before the marker
            self.checkpoint.mark_committed(
                rpt.batch_id, ledger, sid, max_lsn if max_lsn is not None else -1,
                lsn_range,
            )
        rpt.tick("commit+seen")

    # --------------------------------------------------------- merge-on-read
    def _mor_tail(
        self,
        events: DataFrame,
        evolved: StructType,
        payload_cols: list[str],
        num_buckets: int,
        plan: BatchPlan,
        old_entries: dict,
        rpt: BatchReport,
        lsn_pool: ThreadPoolExecutor,
        lsn_range: tuple[int, int] | None,
    ) -> BatchReport:
        """Merge-on-read write path (``EngineConfig.write_mode='mor'``).

        Instead of rewriting every touched partition (COW), the batch's
        winning rows are written as per-partition DELTA files; the merge of
        base ∪ deltas is deferred to read time (``IceliteTable.read``) or
        to ``compact()``. At 100 TB an update-heavy batch touching a few
        rows per partition writes kilobytes instead of rewriting terabytes
        — the Iceberg-v2 / Hudi trade, re-expressed on the engine's own
        table format.

        Classification rides the delta write. The touched partitions' base
        and pending-delta rows enter COW's union window NARROW (keys,
        ``ts``, ``_lsn``, ``_op``; payload chunks never leave the parquet
        scan), with ``unresolved=True`` so liveness and replay pairing come
        from each key's newest incumbent row. The ledger rides the write
        job's ``observe()`` with COW's expressions, so it equals COW's
        batch for batch by construction, and only batch rows that beat
        every incumbent row (``_src = 1 AND _rn = 1``) become deltas: a
        row that loses was never visible to a read, so not writing it
        changes no read. Per-partition delta stats (rows written, live
        delta, max LSN) ride a second observation on the same job when at
        most ``PARTSTATS_OBSERVE_LIMIT`` partitions are touched; above it
        they come from a read-back of the written deltas joined to the
        incumbent (``build_mor_classification``). Partition checksums and
        the table digest are undefined (None) while deltas are pending;
        ``compact()`` restores them, after which the digest EQUALS the COW
        digest for the same log (asserted in tests/test_mor.py).
        """
        cfg = self.config
        batch_id = rpt.batch_id
        phys = physical_schema(evolved)
        inc_files = [
            f
            for p in plan.touched
            if p in old_entries
            for f in old_entries[p]["files"] + (old_entries[p].get("delta_files") or [])
        ]
        rows = _event_rows(events, num_buckets, payload_cols, "1 AS _src")
        if inc_files:
            rows = _narrow_incumbent(self._scan(phys, inc_files), evolved).unionByName(rows)
        ranked = build_merge_ranking(
            rows, plan.hot_buckets, SKEW_SALT, incumbent=True, unresolved=True,
            tasks=self._merge_tasks(plan, old_entries, plan.touched),
        )
        obs = Observation(f"mor-batch-{batch_id}")
        winners = ranked.observe(obs, *[F.expr(s) for s in _LEDGER_OBS]).filter(
            "_src = 1 AND _rn = 1"
        )
        pobs = None
        if len(plan.touched) <= PARTSTATS_OBSERVE_LIMIT:
            winners, pobs = _observe_partition_stats(
                winners, plan.touched, f"mor-pstats-{batch_id}", _MOR_PSTATS
            )
        phys_cols = [PART_COL] + payload_cols + ["_lsn", "_op", "_salt"]
        rpt.tick("plan")
        # as in the COW path: the seen-LSN write is independent of the
        # delta write, so it backfills the write job's tail (guide §2.6)
        lsn_fut = lsn_pool.submit(
            self.checkpoint.write_seen_lsns, batch_id, events.select("lsn")
        )
        files = self.table.write_partition_files(
            winners.select(*phys_cols), batch_id, pre_partitioned=True
        )
        stats = obs.get
        rpt.tick("write+delta")
        if pobs is not None:
            part_rows = _observed_partition_stats(
                [pobs], [p for p in plan.touched if p in files]
            )
        else:
            part_rows = self._mor_delta_stats(files, inc_files, phys, plan)
            rpt.tick("partstats")

        self._count_ledger(
            rpt, stats, None,
            sum(old_entries[p]["live_rows"] for p in plan.touched if p in old_entries),
        )
        # a partition where no batch row won keeps its entry verbatim
        replaced = {}
        for r in part_rows:
            p = int(r[PART_COL])
            old = old_entries.get(p, {})
            lal = r["last_applied_lsn"]
            lsns = (old.get("last_applied_lsn"), int(lal) if lal is not None else None)
            replaced[p] = {
                "files": list(old.get("files") or []),
                "delta_files": list(old.get("delta_files") or []) + files[p],
                "row_count": int(old.get("row_count") or 0) + int(r["row_count"]),
                "live_rows": int(old.get("live_rows") or 0) + int(r["live_rows"]),
                # checksum/digest undefined while deltas are pending;
                # compact() restores them (and the table digest)
                "checksum": None,
                "last_applied_lsn": max((v for v in lsns if v is not None), default=None),
            }
        self._commit(rpt, replaced, evolved, None, lsn_fut, stats["mx"], lsn_range)

        # auto-compaction policy: fold deltas back into base for any
        # TOUCHED partition whose accumulated delta bytes crossed
        # ratio × base bytes — partition-local (O(dirty), schedulable per
        # partition on a cluster), AFTER the batch's own commit so apply
        # atomicity and the marker protocol are untouched. File sizes come
        # from the local manifest paths — O(files of touched partitions)
        # driver work, no Spark job.
        ratio = cfg.mor_compact_delta_ratio
        if ratio is not None:
            def _bytes(paths: list[str]) -> int:
                return sum(
                    os.path.getsize(os.path.join(self.table.root, f))
                    for f in paths
                )

            crossed = [
                p
                for p, e in replaced.items()
                if _bytes(e.get("delta_files") or [])
                > ratio * _bytes(e["files"])
            ]
            if crossed:
                self.compact(partitions=sorted(crossed))
                rpt.auto_compacted_partitions = len(crossed)
                rpt.tick("auto_compact")
        return rpt

    def _mor_delta_stats(
        self,
        files: dict[int, list[str]],
        inc_files: list[str],
        phys: StructType,
        plan: BatchPlan,
    ) -> list:
        """Per-partition delta stats of a MOR batch that touched more than
        ``PARTSTATS_OBSERVE_LIMIT`` partitions, in the ``_MOR_PSTATS``
        shape: a narrow read-back of the written deltas joined to each
        key's newest incumbent row (``build_mor_classification``). Every
        written row beat that row in the merge window, so its op and the
        incumbent's liveness alone decide the live delta."""
        if not files:
            return []
        key_cols = ["conv_id", "turn_idx"]
        narrow = [PART_COL] + key_cols + ["ts", "_lsn", "_op"]
        j = self._scan(phys, [f for fl in files.values() for f in fl]).select(*narrow)
        live = F.lit(False)
        if inc_files:
            # size-gate the broadcasts: the bucket pre-pass already
            # counted the batch's valid events — an upper
            # bound on its distinct key count, so the gate never
            # broadcasts a frame bigger than it expects
            j = build_mor_classification(
                j,
                self._scan(phys, inc_files).select(*narrow),
                key_cols,
                broadcast_keys=sum(plan.valid.values()) <= BROADCAST_KEY_LIMIT,
            )
            live = F.coalesce(F.col("_i_live"), F.lit(0)) == 1
        upsert = F.col("_op").isin("I", "U")
        return (
            j.groupBy(PART_COL)
            .agg(
                F.count(F.lit(1)).alias("row_count"),
                F.sum(
                    F.when(upsert & ~live, 1)
                    .when((F.col("_op") == "D") & live, -1)
                    .otherwise(0)
                ).alias("live_rows"),
                F.max("_lsn").alias("last_applied_lsn"),
            )
            .collect()
        )

    def compact(self, partitions: list[int] | None = None) -> dict:
        """Fold pending merge-on-read delta files back into base files.

        Reads each dirty partition MOR-resolved (base ∪ deltas through the
        LWW window), rewrites it as fresh base files, recomputes the
        partition's live-row checksum exactly as the COW write path does,
        and commits a snapshot with ``delta_files=[]``. After compacting
        every dirty partition, the table digest is defined again and EQUALS
        the digest a COW apply of the same log produces (same winning rows,
        same row-hash checksum — asserted in tests/test_mor.py). Clean
        partitions are carried forward metadata-only, so compaction cost is
        O(dirty partitions), schedulable per-partition on a cluster."""
        snap = self.table.snapshot()
        logical = self.table.logical_schema(snap)
        checksum_cols = self._checksum_columns(snap, logical)
        dirty = [
            e
            for e in snap["manifest"]
            if (e.get("delta_files") or [])
            and (partitions is None or e["partition"] in partitions)
        ]
        if not dirty:
            return {
                "compacted_partitions": 0,
                "snapshot_id": snap["snapshot_id"],
                "table_digest": snap.get("table_digest"),
            }
        parts = [e["partition"] for e in dirty]
        # compaction keeps the read-back tier: no observation
        resolved, _ = _stats_columns(
            self.table.read(partitions=parts, with_lineage=True), checksum_cols
        )
        label = f"c{snap['snapshot_id']:05d}"
        files = self.table.write_partition_files(
            resolved, batch_id=snap["snapshot_id"], dir_label=label
        )
        part_rows = _written_partition_stats(
            self.spark, self.table.root, files, PARTSTATS_DRIVER_BYTES_LIMIT
        )
        # compacted entries are clean + freshly checksummed, so they are
        # append-eligible for subsequent COW batches
        ck_id = _checksum_cols_id(checksum_cols, logical)
        replaced = {
            int(r[PART_COL]): {
                **_manifest_entry(r, files.get(int(r[PART_COL]), []), ck_id),
                "delta_files": [],
            }
            for r in part_rows
        }
        # digest is defined again only once NO entry still has a pending
        # delta or an undefined checksum
        all_entries = {e["partition"]: e for e in snap["manifest"]}
        all_entries.update(replaced)
        digest = None
        if all(
            e.get("checksum") is not None and not (e.get("delta_files") or [])
            for e in all_entries.values()
        ):
            digest = _manifest_digest(all_entries)
        ledger = {"op": "compaction", "compacted_partitions": len(parts)}
        sid = self.table.commit(replaced, logical, None, ledger, digest)
        return {
            "compacted_partitions": len(parts),
            "snapshot_id": sid,
            "table_digest": digest,
        }

    # ------------------------------------------------------------------ run
    def run(self, log_dir: str, max_batches: int | None = None) -> list[BatchReport]:
        """Tail the log directory, applying unapplied batches in order
        (crash-resume: committed markers are skipped).

        The NEXT batch's bucket pre-pass (a small scan-and-aggregate job
        over only the raw batch files — no table or checkpoint state) is
        submitted on a background thread as each batch starts, so it
        backfills idle cores during the current batch's write/stats/commit
        tail instead of serializing ~0.2-0.3 s per batch on the critical
        path (guide §2.6 overlap, same pattern as the seen-LSN write).
        Commit ordering and crash semantics are untouched: the pre-pass
        writes nothing, and each batch still commits before the next
        batch's table-dependent work begins."""
        source = ChangeLogSource(self.spark, log_dir)
        reports: list[BatchReport] = []
        todo: list[tuple[int, str]] = []
        for batch_id, path in source.list_batches():
            if max_batches is not None and len(todo) >= max_batches:
                break
            todo.append((batch_id, path))
        num_buckets = self.table.num_buckets()

        def _prefetch(path: str):
            raw = source.read_batch(path)
            return raw, self._prepass(raw, num_buckets)

        pool = ThreadPoolExecutor(max_workers=1)
        fut = None
        fut_for: int | None = None
        try:
            for i, (batch_id, path) in enumerate(todo):
                if self.checkpoint.is_applied(batch_id):
                    reports.append(BatchReport(batch_id=batch_id, skipped=True))
                    continue
                if fut is not None and fut_for == batch_id:
                    raw, rows = fut.result()
                else:
                    raw, rows = source.read_batch(path), None
                fut, fut_for = None, None
                for nb_id, nb_path in todo[i + 1 :]:
                    if not self.checkpoint.is_applied(nb_id):
                        fut = pool.submit(_prefetch, nb_path)
                        fut_for = nb_id
                        break
                reports.append(self.apply_batch(raw, batch_id, prepass_rows=rows))
        finally:
            pool.shutdown(wait=True)
        return reports

    # ------------------------------------------------------------------ read
    def read(self, snapshot_id: int | None = None) -> DataFrame:
        return self.table.read(snapshot_id)

    def current_table_digest(self) -> str | None:
        return self.table.snapshot().get("table_digest")

    # --------------------------------------------------------- replay-verify
    def replay_verify(self, log_dir: str, scratch_root: str) -> dict:
        """Rebuild from LSN 0 into a scratch table; diff against the
        incrementally-maintained table (graft of the v2 validator checklist,
        docs/report-schema-v2.md:352-368). Returns a report dict; ``ok`` is
        True iff content + digests match exactly."""
        live_snap = self.table.snapshot()
        logical = self.table.logical_schema(live_snap)
        live_ck = self._checksum_columns(live_snap, logical)
        fresh = CdcEngine.init(
            self.spark,
            os.path.join(scratch_root, "table"),
            os.path.join(scratch_root, "checkpoint"),
            schema=StructType(list(logical.fields)),
            config=self.config,
            dedup_window_batches=self.checkpoint.window,
        )
        # the live table's checksum_columns were frozen at ITS creation; the
        # scratch table just froze the current (possibly evolved) schema.
        # Copy the live set over so both digests hash the same column set —
        # otherwise replay_verify reports ok=False after any schema evolution
        # even when content is identical.
        fresh.table.set_checksum_columns(live_ck)
        fresh.run(log_dir)
        a, b = self.read(), fresh.read()
        cols = sorted(set(a.columns) & set(b.columns))
        missing_in_b = a.select(cols).exceptAll(b.select(cols)).count()
        missing_in_a = b.select(cols).exceptAll(a.select(cols)).count()
        da, db = self.current_table_digest(), fresh.current_table_digest()
        return {
            "ok": missing_in_a == 0 and missing_in_b == 0 and da == db,
            "rows_incremental": a.count(),
            "rows_replay": b.count(),
            "only_in_incremental": missing_in_b,
            "only_in_replay": missing_in_a,
            "digest_incremental": da,
            "digest_replay": db,
        }

    def verify(self) -> dict:
        """Re-hash the files of every sealed partition of the current
        snapshot with the table's row hash, in one aggregation query, and
        compare each one's stats with its manifest entry (a partition its
        files do not hold compares as empty). Deltas carry no checksum, so
        this covers what the last copy-on-write write or ``compact()``
        sealed; partitions with pending deltas, or whose checksum hashes
        older columns or types (after a type promotion, until next
        rewritten), are skipped."""
        snap = self.table.snapshot()
        logical = self.table.logical_schema(snap)
        checksum_cols = self._checksum_columns(snap, logical)
        ck_id = _checksum_cols_id(checksum_cols, logical)
        checked, skipped, found = {}, [], {}
        for e in snap["manifest"]:
            if e.get("delta_files") or e.get("checksum") is None or e.get("ck_id") != ck_id:
                reason = "pending_deltas" if e.get("delta_files") else "stale_ck_id"
                skipped.append({"partition": e["partition"], "reason": reason})
            else:
                checked[e["partition"]] = e
        files = [f for e in checked.values() for f in e["files"]]
        if files:
            df = self._scan(physical_schema(logical), files)
            rows = _partition_stats(df.withColumn("h", _live_row_hash(df, checksum_cols)))
            found = {int(r[PART_COL]): r.asDict() for r in rows}
        empty = {"row_count": 0, "live_rows": 0, "checksum": "0" * 16, "last_applied_lsn": None}
        mismatches = []
        for p, e in checked.items():
            got = found.get(p, empty)
            # a zone map is compared where the entry records one (None =
            # unknown, e.g. an append over a side without one)
            for k in (*empty, "key_lo", "key_hi"):
                if (k in empty or e.get(k) is not None) and e.get(k) != got.get(k):
                    mismatches.append(
                        {"partition": p, "field": k, "manifest": e.get(k), "files": got.get(k)}
                    )
        return {
            "ok": not mismatches,
            "snapshot_id": snap["snapshot_id"],
            "checked": sorted(checked),
            "skipped": skipped,
            "mismatches": mismatches,
        }

    # -------------------------------------------------------------- internals
    def _scan(self, schema: StructType, rel_paths: list[str]) -> DataFrame:
        """Parquet scan of table-relative data files through ``schema``."""
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.table.root, f) for f in rel_paths]
        )

    def _merge_tasks(
        self, plan: BatchPlan, old_entries: dict, scanned: list[int]
    ) -> int | None:
        """Reduce-task count of the merge exchange, or None to leave it to
        AQE (the rule and its measurement are on ``build_merge_ranking``):
        min(touched buckets, task slots) when no bucket is hot and the
        merge's rows — the batch's valid events plus the incumbent rows of
        the ``scanned`` partitions, both known before it runs — are at
        most ``HOT_EVENTS``. A bucket still lands in one task, so each
        touched partition still gets one file."""
        rows = sum(plan.valid.values()) + sum(
            int(old_entries[p]["row_count"]) for p in scanned if p in old_entries
        )
        if plan.hot_buckets or rows > HOT_EVENTS:
            return None
        return min(len(plan.touched), self.spark.sparkContext.defaultParallelism)

    def _read_physical(
        self, entries: dict, partitions: list[int], logical: StructType
    ) -> DataFrame:
        """Scan of ``partitions``' files (from the loaded manifest
        ``entries``) through the *evolved* schema projection."""
        phys = physical_schema(logical)
        files = []
        for p, e in entries.items():
            if p in partitions:
                if e.get("delta_files"):
                    # a COW merge's union window would mis-attribute
                    # incumbent liveness over unresolved delta rows —
                    # refuse rather than silently corrupt the ledger
                    raise RuntimeError(
                        f"partition {p} has pending merge-on-read "
                        "delta files; run compact() before applying "
                        "copy-on-write batches to this table"
                    )
                files.extend(e["files"])
        if not files:
            return self.spark.createDataFrame([], phys)
        return self._scan(phys, files)

    def _write_quarantine(self, bad: DataFrame, batch_id: int) -> None:
        reason = (
            F.when(F.col("lsn").isNull(), F.lit("failed:null_lsn"))
            .when(F.col("op").isNull(), F.lit("failed:null_op"))
            .otherwise(F.concat(F.lit("failed:bad_op:"), F.col("op")))
        )
        out = os.path.join(self.table.root, "_quarantine", f"b{batch_id:05d}")
        (
            bad.withColumn("_status", reason)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .parquet(out)
        )

    def _quarantine_missing_updates(
        self, events: DataFrame, touched: list[int], batch_id: int
    ) -> tuple[DataFrame, int]:
        """update_missing='quarantine': U events whose key has no live
        incumbent and no same-batch insert are quarantined pre-resolution.
        ``touched`` is the plan's touched buckets, a superset of the
        buckets ``events`` still reach after the dedup filters; the extra
        ones cannot match, because a key's bucket is a function of its
        ``conv_id``."""
        key = ["conv_id", "turn_idx"]
        live_keys = (
            self.table.read(partitions=touched).select(*key).distinct()
        )
        insert_keys = events.filter(F.col("op") == "I").select(*key).distinct()
        ok_keys = live_keys.unionByName(insert_keys).distinct()
        missing = events.filter(F.col("op") == "U").join(ok_keys, key, "left_anti")
        n = missing.count()
        if n:
            out = os.path.join(
                self.table.root, "_quarantine", f"b{batch_id:05d}-missing-updates"
            )
            missing.withColumn("_status", F.lit("failed:update_of_missing_key")).withColumn(
                "_batch_id", F.lit(batch_id)
            ).write.mode("overwrite").parquet(out)
            events = events.join(
                missing.select("lsn"), "lsn", "left_anti"
            )
        return events, n

    def quarantine_df(self) -> DataFrame | None:
        qdir = os.path.join(self.table.root, "_quarantine")
        if not os.path.isdir(qdir) or not os.listdir(qdir):
            return None
        return self.spark.read.option("mergeSchema", "true").parquet(
            os.path.join(qdir, "*")
        )
