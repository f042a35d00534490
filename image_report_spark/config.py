"""Engine configuration + metric-selector algebra.

The selector algebra grafts the reference's hash-selection grammar
(``get_selected_hashes``, reference ``hashing_config.py:531-585``): a
comma-separated spec where bare names/categories include (set union),
``-name`` excludes (set difference), ``all`` selects everything, ``none``
selects nothing, and an all-negative spec means "complement from ALL".
Here the selectable items are per-batch lineage *metrics* instead of image
hashes — cheap ledger columns the engine computes and records per batch.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# --- metric registry (analog of ALL_HASHES, reference hashing_config.py:507-509) ---

METRIC_CATEGORIES: dict[str, set[str]] = {
    # conservation-ledger counts (graft of report-schema-v2.md:116-137)
    "counts": {
        "events_read", "applied", "deduped", "superseded", "quarantined",
        "rows_before", "inserts", "updates", "deletes", "rows_after",
    },
    # content digests (graft of the reference's hash family, hashing_config.py:446-509)
    "checksum": {"partition_checksum", "table_digest"},
    # timings (graft of duration_sec attributes, reference ir:218-221,347-353)
    "timing": {"wall_ms", "phase_ms"},
    # per-batch op histogram (graft of histogram agg, hashing_config.py:71-79)
    "histogram": {"op_histogram"},
}

ALL_METRICS: set[str] = set().union(*METRIC_CATEGORIES.values())

#: the default selection ("basic") — counts + checksums + timing
BASIC_METRICS: set[str] = (
    METRIC_CATEGORIES["counts"] | METRIC_CATEGORIES["checksum"] | METRIC_CATEGORIES["timing"]
)


def get_selected_metrics(spec: str | None) -> set[str]:
    """Resolve a selector spec to a set of metric names.

    Grammar (graft of reference ``hashing_config.py:531-585``):

    - ``None`` / ``""`` / ``"basic"`` → :data:`BASIC_METRICS`
    - ``"all"`` → every registered metric
    - ``"none"`` → empty set
    - comma-separated tokens: a bare token adds a metric or a whole
      category; a ``-`` prefix removes it
    - a spec containing *only* negative tokens starts from ALL
      (complement semantics, as in the reference)

    Unknown tokens raise ``ValueError`` (the reference logs-and-ignores;
    we fail fast — config errors should not be silent in a pipeline).
    """
    if spec is None or spec.strip() in ("", "basic"):
        return set(BASIC_METRICS)
    tokens = [t.strip() for t in spec.split(",") if t.strip()]
    if tokens == ["all"]:
        return set(ALL_METRICS)
    if tokens == ["none"]:
        return set()

    positives = [t for t in tokens if not t.startswith("-")]
    negatives = [t[1:] for t in tokens if t.startswith("-")]

    def expand(token: str) -> set[str]:
        if token == "all":
            return set(ALL_METRICS)
        if token == "basic":
            return set(BASIC_METRICS)
        if token in METRIC_CATEGORIES:
            return set(METRIC_CATEGORIES[token])
        if token in ALL_METRICS:
            return {token}
        raise ValueError(f"unknown metric or category: {token!r}")

    if positives:
        selected: set[str] = set()
        for t in positives:
            selected |= expand(t)
    else:
        # all-negative spec → complement from ALL (reference semantics)
        selected = set(ALL_METRICS)
    for t in negatives:
        selected -= expand(t)
    return selected


@dataclass
class EngineConfig:
    """Tunables for the CDC apply path.

    Defaults are sized for the sandbox (``local[32]``); on a real cluster
    ``num_buckets`` and ``shuffle_partitions`` scale with executor count.
    """

    #: number of hash buckets the target table is partitioned into
    #: (partition column ``p = pmod(xxhash64(conv_id), num_buckets)``)
    num_buckets: int = 32

    #: shuffle parallelism for merge/window stages
    shuffle_partitions: int = 32

    #: failure policy (graft of continue_on_error, reference ir:500-506):
    #: "quarantine" routes malformed events to a quarantine sink and commits;
    #: "fail" aborts the batch (no manifest commit → atomicity preserved)
    on_error: str = "quarantine"

    #: how an update of a missing key is handled: "upsert" (insert it) or
    #: "quarantine"
    update_missing: str = "upsert"

    #: metric selector spec (see get_selected_metrics)
    metrics: str = "basic"

    #: change events per conv_id above which the key is considered hot and
    #: salted before wide stages (salt = pmod(xxhash64(turn_idx), skew_salt))
    hot_key_threshold: int = 100_000

    #: number of salt values for hot keys
    skew_salt: int = 16

    #: use the applyInPandas per-conversation ordered-apply resolver instead
    #: of the window-function resolver (semantically identical; the grouped
    #: path exists for stateful per-conversation extensions)
    grouped_resolve: bool = False

    #: manifest format version (graft of the v2 16-bit-ceiling escape hatch,
    #: reference docs/report-schema-v2.md:96-105)
    format_version: int = 1

    #: physical merge strategy. "cow" (copy-on-write, default): a touched
    #: partition is fully rewritten each batch — reads stay scan-only, the
    #: right trade for read-heavy tables. "mor" (merge-on-read): the batch
    #: writes only resolved DELTA files per partition and defers the merge
    #: to read time / compaction — at 100 TB an update-heavy batch touching
    #: a few rows per partition writes KBs instead of rewriting TBs (the
    #: Iceberg-v2 / Hudi trade). Ledger semantics are IDENTICAL in both
    #: modes: MOR classifies its delta winners against the incumbent via a
    #: keys-only column-pruned scan (conv_id, turn_idx, ts, lsn, op — a few
    #: %% of table bytes when payloads are text) semi-joined down to the
    #: delta's keys, so applied/superseded/deduped/ins/upd/del and the
    #: conservation equations match copy-on-write batch for batch.
    write_mode: str = "cow"

    #: copy-on-write APPEND fast-path. A touched partition whose batch
    #: slice is pure inserts (every event op == 'I') and whose keys have
    #: ZERO overlap with the incumbent's keys (live rows AND tombstones
    #: both count as overlap, so appended partitions keep the
    #: one-live-row-per-key invariant) is APPENDED instead of rewritten:
    #: the batch's resolved winners land in a new file, the incumbent
    #: files carry forward in the manifest verbatim, and the partition's
    #: lineage stats combine
    #: exactly (the checksum is an order-independent ``bit_xor`` of
    #: per-row hashes, so ``old XOR new`` equals what a full rewrite
    #: would store; guarded by a per-entry checksum-column-set id so a
    #: schema evolution can never combine hashes computed over different
    #: column sets). Insert-heavy streams go from O(table-rewrite) per
    #: batch to O(batch): a bulk load of N batches writes each row once
    #: instead of N/2 times — at 100 TB that's the difference between a
    #: load that works and one that re-encodes the table every batch.
    #: Update/delete-containing buckets take the normal merge path with
    #: zero added cost. False forces full rewrites (pre-round-5 behavior).
    #:
    #: Two detection tiers:
    #: * METADATA: per-partition key [lo, hi] zone maps stored in the
    #:   manifest vs the batch bucket's key range from the prepass —
    #:   strictly disjoint ranges prove key disjointness with ZERO extra
    #:   jobs. Monotonic insert keys (auto-increment ids, snowflakes,
    #:   event time — the classic CDC insert pattern) append on metadata
    #:   alone.
    #: * MERGE-PROVEN (``cow_two_stream``): interleaved-but-disjoint key
    #:   sets the zone maps can't prove are proven by the merge itself.
    cow_append_fastpath: bool = True

    #: COW two-stream merge — the append fast-path's MERGE-PROVEN tier
    #: (guide §2.2: shuffle fewer bytes). A rewrite partition whose batch
    #: slice is PURE INSERTS contributes only NARROW incumbent rows (merge
    #: keys + ts/lsn/op; payload column chunks never leave the parquet
    #: scan) to the resolve window, and the merge's own observation counts
    #: winners that displaced an incumbent key. Zero displaced ⇒ the
    #: winner file is provably key-disjoint from the incumbent, so it
    #: APPENDS and the incumbent files carry forward — the append
    #: fast-path outcome for the interleaved key ranges the zone-map tier
    #: cannot prove, with no extra per-batch job.
    #: Non-zero (an insert re-used an existing or tombstoned key) ⇒ one
    #: narrow keys semi-join pinpoints the overlapping partitions, which
    #: are rebuilt as written winners + a map-only broadcast anti-join
    #: copy of the surviving incumbent rows (payload read once, written
    #: once, never shuffled). Buckets with update/delete events take the
    #: fused path unchanged: their targets overlap by construction, and
    #: the survivor-rewrite detour measures SLOWER than the fused shuffle
    #: at transcript payload widths (A/B in OPTIMIZATION_r06.md). Row
    #: set, ledger and partition checksums are identical to the fused
    #: path by construction — the whole narrow incumbent flows through
    #: the same LWW window, so every stat observes the same rows (pinned
    #: by the digest-equality tests in tests/test_two_stream.py). A
    #: two-stream partition none of whose batch events win keeps its old
    #: files verbatim (metadata carry-forward — a stale re-insert flood
    #: rewrites nothing). Requires ``cow_append_fastpath`` (False must
    #: keep forcing full rewrites, as documented there).
    cow_two_stream: bool = True

    #: a partition is two-stream-eligible only while its incumbent file
    #: count is below this bound; at/above it the batch takes the fused
    #: rewrite, which coalesces the partition back to one file. This is
    #: the small-files backstop: each appended batch adds a file per
    #: partition, so without the bound an endless interleaved-insert
    #: stream would accumulate files monotonically (the round-5 verdict's
    #: append-path concern — this tier self-bounds). 8 ≈ Iceberg-style
    #: "compact every few commits" amortization.
    cow_two_stream_max_files: int = 8

    #: per-partition engagement ratio: a partition is two-stream-eligible
    #: only when its incumbent rows are at least this multiple of the
    #: batch rows landing in it. Appending necessarily produces one small
    #: file per partition per batch; when the incumbent is only 1-4× the
    #: batch (early bulk-load batches, small tables) the avoided rewrite
    #: is worth less than the small-files tax every subsequent scan of
    #: that partition pays — measured at bench shape (2 M × 8, 128
    #: buckets): appends with ratio ≤ 4 cost +2-4 s per apply vs fused
    #: (OPTIMIZATION_r06.md). At ratio ≥ 8 the rewrite is ≥ 8× the bytes
    #: of the append and the trade flips — the long-running insert-stream
    #: case (growing table, steady batch size) where each batch would
    #: otherwise rewrite the whole partition. A data-shape breakeven, not
    #: a core-count constant.
    cow_two_stream_min_ratio: float = 8.0

    #: MOR classification join strategy gate: when the batch's VALID event
    #: count (an upper bound on its distinct key count, free from the
    #: bucket pre-pass) is at or below this, the delta key set and the
    #: pruned incumbent are broadcast (tiny batches classify with zero
    #: wide shuffles); above it the classification falls back to a
    #: shuffled semi-join + sort-merge join — a 10–100 M-event initial
    #: load must degrade to a shuffle, not hit the 8 GB broadcast /
    #: driver-memory wall. 2 M keys ≈ 100–150 MB broadcast of
    #: (conv_id, turn_idx) rows — comfortably inside executor memory at
    #: either scale.
    mor_broadcast_key_limit: int = 2_000_000

    #: MOR auto-compaction policy: after a MOR batch commits, any touched
    #: partition whose accumulated delta bytes exceed this fraction of its
    #: base bytes is compacted partition-locally in the same apply call
    #: (round-3 measurement: a dirty partition read costs ~3.4× a
    #: compacted one — 2.4 s vs 0.7 s — so unbounded delta accumulation
    #: quietly converts the MOR write win into a read loss). ``None``
    #: (default) leaves compaction manual/scheduled — the right default
    #: for bulk loads where a single ``compact()`` at the end beats many
    #: incremental ones; set ~0.2–0.5 for continuously-tailed tables.
    mor_compact_delta_ratio: float | None = None

    #: how the post-write per-partition lineage stats (counts, last LSN,
    #: order-independent checksum) are computed. "stored" (default): the
    #: per-row checksum hash is computed INSIDE the merge pipeline and
    #: persisted in the written files, so the stats read-back is a narrow
    #: scan of four fixed-width columns — at 100 TB the write path does
    #: not re-read every payload byte it just wrote. "reverify": recompute
    #: the hash from the on-disk payload bytes — a bit-level end-to-end
    #: write integrity check for low-trust storage (the pre-round-5
    #: behavior; 15-25% of apply wall at sf0.1). Checksums are identical
    #: in both modes (tests/test_partstats.py).
    partstats_mode: str = "stored"

    #: in "stored" mode, when a batch touches at most this many partitions
    #: the per-partition stats ride the WRITE JOB ITSELF as conditional
    #: ``observe()`` aggregates (4 per touched partition) — zero extra
    #: Spark job, zero read-back bytes. Above the limit (wide tables with
    #: thousands of buckets, where per-partition observe expressions would
    #: bloat the plan) the narrow 4-column file read-back is used instead,
    #: which stays O(partitions) with fixed-width bytes. 0 disables the
    #: observe tier entirely.
    partstats_observe_limit: int = 64

    #: "stored"-mode read-back size gate: when a batch's freshly written
    #: data files total at most this many bytes, the narrow stats
    #: read-back runs DRIVER-side with arrow (a few MB of fixed-width
    #: column chunks — the same magnitude of driver I/O as the per-commit
    #: file renames and manifest JSON) instead of paying a Spark job's
    #: fixed scheduling latency (~0.2-0.3 s/batch) to read it. Above the
    #: limit — cluster-scale batches — the distributed read-back runs
    #: unchanged. All tiers produce identical stats
    #: (tests/test_partstats.py). 0 disables the driver tier.
    partstats_driver_bytes_limit: int = 128 * 1024 * 1024

    #: per-row checksum hash definition for NEW tables, frozen into the
    #: snapshot at create (like ``checksum_columns``) so every tier —
    #: stored/observe/driver read-back, reverify, MOR compact, replay
    #: verify — hashes identically for the table's whole lifetime.
    #: "typed" (default): xxhash64 over native typed columns with typed
    #: NULL sentinels (functions/digests.py:typed_row_digest) — no per-row
    #: cast-strings or concat buffer, removing ~200 B of garbage per
    #: written row from a merge stage measured at 46-73% JVM GC time
    #: (BENCH/merge_stage_profile.py, BENCH/rowhash_probe.py: the
    #: canonical form costs 0.25-0.3 s per 2 M rows before GC
    #: amplification). "canonical": the original string-canonicalized
    #: form — pre-existing tables (no ``rowhash_mode`` in their snapshot)
    #: always read as canonical, so their manifests remain valid and
    #: append-path xor-combines never mix definitions (the per-entry
    #: ``ck_id`` additionally tags the mode). Checksums are an internal
    #: integrity contract; no external system consumes their values.
    rowhash_mode: str = "typed"

    selected_metrics: set[str] = field(init=False, repr=False)

    def __post_init__(self) -> None:
        if self.on_error not in ("quarantine", "fail"):
            raise ValueError(f"on_error must be quarantine|fail, got {self.on_error!r}")
        if self.write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be cow|mor, got {self.write_mode!r}")
        if self.write_mode == "mor" and self.grouped_resolve:
            raise ValueError(
                "write_mode='mor' supports the window resolver only "
                "(grouped_resolve pre-drops events the MOR ledger "
                "classification would need to re-attribute)"
            )
        if self.write_mode == "mor" and self.update_missing == "quarantine":
            raise ValueError(
                "write_mode='mor' requires update_missing='upsert' (the "
                "missing-key probe reads base files only and would not see "
                "pending delta files)"
            )
        if self.update_missing not in ("upsert", "quarantine"):
            raise ValueError(
                f"update_missing must be upsert|quarantine, got {self.update_missing!r}"
            )
        if self.partstats_mode not in ("stored", "reverify"):
            raise ValueError(
                f"partstats_mode must be stored|reverify, got {self.partstats_mode!r}"
            )
        if self.partstats_observe_limit < 0:
            raise ValueError("partstats_observe_limit must be >= 0")
        if self.rowhash_mode not in ("typed", "canonical"):
            raise ValueError(
                f"rowhash_mode must be typed|canonical, got {self.rowhash_mode!r}"
            )
        if self.cow_two_stream_max_files < 1:
            raise ValueError("cow_two_stream_max_files must be >= 1")
        if self.cow_two_stream_min_ratio < 0:
            raise ValueError("cow_two_stream_min_ratio must be >= 0")
        if self.num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        if self.mor_broadcast_key_limit < 0:
            raise ValueError("mor_broadcast_key_limit must be >= 0")
        if self.mor_compact_delta_ratio is not None and not (
            self.mor_compact_delta_ratio > 0
        ):
            raise ValueError("mor_compact_delta_ratio must be > 0 or None")
        self.selected_metrics = get_selected_metrics(self.metrics)
