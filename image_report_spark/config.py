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
    """The choices a caller makes about the CDC apply path. Tuning values
    are constants in ``engine.py``, next to the code that reads them.

    Defaults are sized for the sandbox (``local[32]``); on a real cluster
    ``num_buckets`` scales with executor count.
    """

    #: number of hash buckets the target table is partitioned into
    #: (partition column ``p = pmod(xxhash64(conv_id), num_buckets)``)
    num_buckets: int = 32

    #: not read by the engine: the merge's exchange is sized by AQE and
    #: its parallelism comes from ``num_buckets`` × salt; every other
    #: stage uses the session's ``spark.sql.shuffle.partitions`` (the CLI
    #: sets that from its ``--shuffle-partitions`` flag)
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

    #: use the applyInPandas per-conversation ordered-apply resolver instead
    #: of the window-function resolver (semantically identical; the grouped
    #: path exists for stateful per-conversation extensions)
    grouped_resolve: bool = False

    #: physical merge strategy. "cow" (copy-on-write, default): a touched
    #: partition is fully rewritten each batch — reads stay scan-only, the
    #: right trade for read-heavy tables. "mor" (merge-on-read): the batch
    #: writes only resolved DELTA files per partition and defers the merge
    #: to read time / compaction — at 100 TB an update-heavy batch touching
    #: a few rows per partition writes KBs instead of rewriting TBs (the
    #: Iceberg-v2 / Hudi trade). Ledger semantics are IDENTICAL in both
    #: modes: MOR classifies the batch inside the delta write itself — the
    #: touched partitions' narrow incumbent rows (keys, ts, lsn, op from
    #: base and pending delta files; payloads as nulls) join the batch in
    #: the same union window COW's merge uses, the ledger rides that
    #: write's observation, and only rows that beat every incumbent row
    #: are written — so applied/superseded/deduped/ins/upd/del and the
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
    #: would store; guarded by a per-entry id of the checksum columns and
    #: their types so neither a schema evolution nor a type promotion can
    #: combine hashes computed over different columns or types). Insert-heavy streams go from O(table-rewrite) per
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
    #: * MERGE-PROVEN (the two-stream merge, ``engine.TWO_STREAM_*``):
    #:   interleaved-but-disjoint key sets the zone maps can't prove are
    #:   proven by the merge itself.
    #:
    #: False turns off both tiers.
    cow_append_fastpath: bool = True

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
        if self.num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        if self.mor_compact_delta_ratio is not None and not (
            self.mor_compact_delta_ratio > 0
        ):
            raise ValueError("mor_compact_delta_ratio must be > 0 or None")
        self.selected_metrics = get_selected_metrics(self.metrics)
