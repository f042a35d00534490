"""Icelite — an Iceberg-style table layer over partitioned Parquet.

No lakehouse jars exist in this sandbox (verified in SURVEY.md), so the
engine owns a minimal snapshot/manifest format with the Iceberg properties
the north rule needs:

* **ACID commits** via atomic metadata-pointer swap: data files + a new
  ``metadata/v{N}.json`` are fully written *before* ``version-hint.text``
  is atomically renamed over — readers see the old or the new snapshot,
  never a torn state (graft of the reference's write-then-close XML sink,
  ir:402-413, hardened to rename-atomicity).
* **Copy-on-write at partition granularity**: a commit replaces the file
  lists of touched partitions and carries every untouched partition's
  entry forward *by reference* (metadata-only) — at 100 TB a batch that
  touches 1% of partitions rewrites 1% of the data and zero% of the rest.
* **Partition pruning at metadata level**: ``read(partitions=...)`` builds
  the file list from the manifest, so Spark never even lists untouched
  files.
* **Time travel**: any retained ``vN.json`` is readable by snapshot id.
* **Schema evolution**: the snapshot carries the logical schema; old data
  files are read through schema projection (missing columns → NULL).

Layout::

    table/
      metadata/version-hint.text   ← atomic pointer (current N)
      metadata/v{N}.json           ← snapshot: schema, manifest, ledger
      data/b{batch}/p{part}-{i}.parquet

On a real cluster the sink swaps for ``iceberg-spark-runtime``
(``df.writeTo(tbl)`` / ``MERGE INTO``) behind the same interface; atomic
rename requires an HDFS-like FS or an Iceberg catalog there.

Physical row schema = ``_p:int`` (partition id) + logical columns +
lineage ``_lsn:long`` (winning event) + ``_op:string`` (I/U/D; ``D`` rows
are tombstones that logical reads filter out).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

LINEAGE_FIELDS = [
    StructField("_lsn", LongType(), True),
    StructField("_op", StringType(), True),
]
PART_COL = "_p"


def physical_schema(logical: StructType) -> StructType:
    return StructType(
        [StructField(PART_COL, IntegerType(), False)]
        + list(logical.fields)
        + LINEAGE_FIELDS
    )


def partition_expr(num_buckets: int):
    """``p = pmod(xxhash64(conv_id), num_buckets)`` — bucket partitioning on
    the conversation key keeps a conversation co-located (conversation-level
    scans touch one bucket) while spreading conversations uniformly."""
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(num_buckets)).cast("int")


class IceliteTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")

    # ------------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        logical_schema: StructType,
        num_buckets: int = 32,
        merge_keys: list[str] | None = None,
        partition_column: str | None = None,
    ) -> "IceliteTable":
        """``merge_keys`` is a table property (like Iceberg's identifier
        fields): the key columns the merge-on-read resolve window
        partitions by. Defaults to the transcript key ``(conv_id,
        turn_idx)``; side tables with other shapes (e.g. the signature
        store's ``doc_id``) MUST set their own, or delta-file reads
        would fail on missing columns.

        ``partition_column`` records WHICH column the writer buckets by
        (``p = pmod(xxhash64(col), num_buckets)``) in partition_spec —
        metadata a consumer may trust for bucket routing/pruning, so it
        must match the writer's actual physical layout. Defaults to
        ``merge_keys[0]``; a writer that buckets by something else (e.g.
        the band index buckets by doc_id, not its first merge key) MUST
        say so here."""
        t = cls(spark, root)
        if t.exists():
            raise FileExistsError(f"table already exists at {root}")
        keys = list(merge_keys) if merge_keys else ["conv_id", "turn_idx"]
        names = {f.name for f in logical_schema.fields}
        missing = [k for k in keys if k not in names]
        if missing:
            raise ValueError(f"merge_keys {missing} not in table schema")
        if partition_column is not None and partition_column not in names:
            raise ValueError(
                f"partition_column {partition_column!r} not in table schema"
            )
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = {
            # manifest format version (graft of the v2 16-bit-ceiling
            # escape hatch, reference docs/report-schema-v2.md:96-105)
            "format_version": 1,
            "snapshot_id": 0,
            "parent_snapshot_id": None,
            "batch_id": None,
            "schema": logical_schema.jsonValue(),
            "partition_spec": {
                "kind": "bucket",
                "column": partition_column or keys[0],
                "num_buckets": num_buckets,
            },
            "merge_keys": keys,
            "manifest": [],
            "ledger": None,
            "table_digest": None,
        }
        t._write_snapshot(snap)
        t._swap_pointer(0)
        return t

    def merge_keys(self, snap: dict | None = None) -> list[str]:
        """Merge key columns for the MOR resolve window (pre-merge_keys
        snapshots fall back to the transcript key)."""
        snap = snap or self.snapshot()
        return list(snap.get("merge_keys") or ["conv_id", "turn_idx"])

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, "version-hint.text"))

    # ------------------------------------------------------------- metadata
    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, "version-hint.text")) as f:
            return int(f.read().strip())

    def snapshot(self, snapshot_id: int | None = None) -> dict:
        sid = self.current_version() if snapshot_id is None else snapshot_id
        path = os.path.join(self.meta_dir, f"v{sid}.json")
        with open(path) as f:
            return json.load(f)

    def snapshots(self) -> list[int]:
        out = []
        for name in os.listdir(self.meta_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def logical_schema(self, snap: dict | None = None) -> StructType:
        snap = snap or self.snapshot()
        return StructType.fromJson(snap["schema"])

    def num_buckets(self, snap: dict | None = None) -> int:
        snap = snap or self.snapshot()
        return snap["partition_spec"]["num_buckets"]

    # ------------------------------------------------------------- read path
    def read(
        self,
        snapshot_id: int | None = None,
        partitions: list[int] | None = None,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Scan the table at a snapshot.

        ``partitions`` prunes at the *metadata* level: only manifest entries
        for those bucket ids contribute files. Logical reads filter
        tombstones and hide lineage columns.
        """
        snap = self.snapshot(snapshot_id)
        logical = self.logical_schema(snap)
        phys = physical_schema(logical)
        clean_files: list[str] = []
        dirty_base: list[str] = []
        dirty_delta: list[str] = []
        for e in snap["manifest"]:
            if partitions is not None and e["partition"] not in partitions:
                continue
            deltas = e.get("delta_files") or []
            if deltas:
                dirty_base.extend(os.path.join(self.root, f) for f in e["files"])
                dirty_delta.extend(os.path.join(self.root, f) for f in deltas)
            else:
                clean_files.extend(os.path.join(self.root, f) for f in e["files"])
        parts_df: list[DataFrame] = []
        if clean_files:
            # explicit schema = projection over evolved files (missing → NULL)
            parts_df.append(self.spark.read.schema(phys).parquet(*clean_files))
        if dirty_delta:
            # merge-on-read: partitions with pending delta files resolve at
            # scan time with the SAME LWW ordering as the engine's merge
            # window (ts desc nulls last, lsn desc, base wins exact ties —
            # engine.py order spec); the window shuffles ONLY the dirty
            # partitions, clean partitions stay scan-only
            base_df = (
                self.spark.read.schema(phys).parquet(*dirty_base)
                if dirty_base
                else self.spark.createDataFrame([], phys)
            )
            delta_df = self.spark.read.schema(phys).parquet(*dirty_delta)
            u = base_df.withColumn("_d", F.lit(0)).unionByName(
                delta_df.withColumn("_d", F.lit(1))
            )
            # key columns come from the snapshot's merge_keys table
            # property — NOT hard-coded to the transcript key, so side
            # tables (e.g. a doc_id-keyed signature store) resolve too;
            # ts only participates in LWW ordering where the schema has it
            keys = self.merge_keys(snap)
            phys_names = {f.name for f in phys.fields}
            order = (
                [F.col("ts").desc_nulls_last()] if "ts" in phys_names else []
            ) + [F.col("_lsn").desc_nulls_last(), F.col("_d").asc()]
            w = Window.partitionBy(PART_COL, *keys).orderBy(*order)
            parts_df.append(
                u.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_d")
            )
        if not parts_df:
            df = self.spark.createDataFrame([], phys)
        else:
            df = parts_df[0]
            for d in parts_df[1:]:
                df = df.unionByName(d)
        if not with_lineage:
            df = df.filter(F.col("_op") != F.lit("D")).drop("_lsn", "_op", PART_COL)
        return df

    # ------------------------------------------------------------ write path
    def write_partition_files(
        self,
        df_physical: DataFrame,
        batch_id: int,
        pre_partitioned: bool = False,
        sort_cols: list[str] | None = None,
        dir_label: str | None = None,
    ) -> dict[int, list[str]]:
        """Write physical rows as one-or-more Parquet files per partition.

        ``df_physical`` must carry the full physical schema. Rows are
        clustered onto their bucket and sorted within partitions by
        ``(conv_id, turn_idx)`` so files are byte-deterministic for a given
        input (graft of the reference's deterministic reading-order output,
        docs/report-schema-v2.md:94-96). With ``pre_partitioned`` the input
        is already hash-clustered on the bucket column (the engine's fused
        merge guarantees this) and no extra exchange is inserted; the
        within-partition sort is elided by RemoveRedundantSorts when the
        window output order already satisfies it. Returns partition →
        relative file paths (empty partitions yield no files).
        """
        # attempt id lands in the final file names too: a crash-resume
        # re-apply of the same batch must never os.replace() over files a
        # committed snapshot already references (the rerun's AQE coalescing
        # can split partitions differently, which would leave the committed
        # manifest pointing at mixed old/new files); orphans from a failed
        # attempt are reclaimed by expire_snapshots()
        attempt = uuid.uuid4().hex[:8]
        label = dir_label or f"b{batch_id:05d}"
        staging = os.path.join(self.root, "tmp", f"{label}-{attempt}")
        # zstd level 1 (parquet default is 3): measured on the 2M×8 bench
        # workload, level 1 writes ~4% more bytes (210 vs 202 MB) for
        # ~12% less write+merge wall — level 3's extra search buys almost
        # nothing on short transcript strings, and the encode CPU is paid
        # on every COW rewrite of every incumbent row. Still well under
        # snappy/lz4 bytes (the round-5 codec A/B), so the
        # bandwidth/storage argument for zstd holds at either scale.
        self.spark.sparkContext._jsc.hadoopConfiguration().set(
            "parquet.compression.codec.zstd.level", "1"
        )
        out_df = df_physical.withColumn("p", F.col(PART_COL))
        if not pre_partitioned:
            out_df = out_df.repartition(F.col(PART_COL))
        # if the caller kept `_salt`, the merge window's output ordering
        # (_p, _salt, conv, turn, ...) already satisfies this sort as a
        # prefix and the optimizer elides it (one less full sort per batch);
        # the extra 4-byte column in the files is RLE'd to nothing and
        # ignored by schema-projected reads
        if sort_cols is None:
            sort_cols = (
                [PART_COL, "_salt", "conv_id", "turn_idx"]
                if "_salt" in df_physical.columns
                else [PART_COL, "conv_id", "turn_idx"]
            )
        (
            out_df.sortWithinPartitions(*sort_cols)
            .write.partitionBy("p")
            # data-file codec: zstd writes ~27% fewer bytes than snappy/lz4
            # on transcript text at the same-or-better wall, and was the
            # only codec whose apply time stayed flat through host
            # congestion episodes (5-leg interleaved A/B per codec,
            # BENCH/datacodec_ab.jsonl + BENCH/BASELINE.md round 5) — on a
            # bandwidth-bound host, and at 100 TB of storage+I/O, bytes
            # are the resource. Spark's session default (snappy) was the
            # slowest of the four tested.
            .option("compression", "zstd")
            # dictionary encoding OFF by default for the payload columns:
            # transcript text/keys are near-unique, so the dictionary build
            # is a hash-probe per value that overflows its 1 MB page and
            # falls back to plain anyway — paying encode CPU AND bytes for
            # nothing. Measured (3 order-alternated pairs, 2 M × 8 bench):
            # apply 19.3 s → 16.9 s median and 210.1 → 196.7 MB written.
            # The genuinely low-cardinality columns keep their dictionary
            # via parquet's per-column keys.
            .option("parquet.enable.dictionary", "false")
            .option("parquet.enable.dictionary#role", "true")
            .option("parquet.enable.dictionary#tool", "true")
            .option("parquet.enable.dictionary#_op", "true")
            # per-page CRC32 stays on: turning it off measured a wash, and
            # the CRCs let any parquet reader that enables
            # parquet.page.verify-checksum.enabled detect corrupt pages
            # (parquet.size.statistics.enabled was A/B'd too: byte-identical
            # files both ways on this workload, so it is left at default)
            .option("parquet.page.write-checksum.enabled", "true")
            .mode("overwrite")
            .parquet(staging)
        )
        batch_dir = os.path.join(self.data_dir, label)
        os.makedirs(batch_dir, exist_ok=True)
        out: dict[int, list[str]] = {}
        for name in sorted(os.listdir(staging)):
            if not name.startswith("p="):
                continue
            part = int(name.split("=", 1)[1])
            srcs = sorted(
                f for f in os.listdir(os.path.join(staging, name)) if f.endswith(".parquet")
            )
            rels = []
            for i, src in enumerate(srcs):
                rel = os.path.join(
                    "data", label, f"p{part:05d}-{i:04d}-{attempt}.parquet"
                )
                os.replace(os.path.join(staging, name, src), os.path.join(self.root, rel))
                rels.append(rel)
            out[part] = rels
        shutil.rmtree(staging, ignore_errors=True)
        return out

    def commit(
        self,
        replaced: dict[int, dict],
        schema: StructType,
        batch_id: int | None,
        ledger: dict | None,
        table_digest: str | None = None,
    ) -> int:
        """Commit a new snapshot: replaced partition entries + carry-forward.

        ``replaced[partition]`` = ``{"files": [...], "row_count": int,
        "live_rows": int, "checksum": str, "last_applied_lsn": int}``.
        Untouched partitions keep their previous manifest entries verbatim
        (metadata-only carry-forward). Returns the new snapshot id.
        """
        prev = self.snapshot()
        new_manifest = [
            e for e in prev["manifest"] if e["partition"] not in replaced
        ]
        for part in sorted(replaced):
            entry = dict(replaced[part])
            entry["partition"] = part
            new_manifest.append(entry)
        new_manifest.sort(key=lambda e: e["partition"])
        sid = prev["snapshot_id"] + 1
        snap = {
            "format_version": prev["format_version"],
            "snapshot_id": sid,
            "parent_snapshot_id": prev["snapshot_id"],
            "batch_id": batch_id,
            "schema": schema.jsonValue(),
            "partition_spec": prev["partition_spec"],
            "manifest": new_manifest,
            "ledger": ledger,
            "table_digest": table_digest,
        }
        if "checksum_columns" in prev:
            snap["checksum_columns"] = prev["checksum_columns"]
        if "rowhash_mode" in prev:
            snap["rowhash_mode"] = prev["rowhash_mode"]
        if "merge_keys" in prev:
            snap["merge_keys"] = prev["merge_keys"]
        self._write_snapshot(snap)
        self._swap_pointer(sid)
        return sid

    # ------------------------------------------------------- incremental read
    def history(self) -> list[dict]:
        """Snapshot lineage (Iceberg ``history`` analog): one dict per
        retained snapshot with id, parent, batch and ledger."""
        out = []
        for sid in self.snapshots():
            s = self.snapshot(sid)
            out.append(
                {
                    "snapshot_id": s["snapshot_id"],
                    "parent_snapshot_id": s["parent_snapshot_id"],
                    "batch_id": s["batch_id"],
                    "table_digest": s.get("table_digest"),
                    "ledger": s.get("ledger"),
                }
            )
        return out

    def changes_between(
        self, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        """Incremental scan (Iceberg ``incremental append scan`` analog
        extended to upserts): rows whose winning event landed after
        ``from_snapshot`` — i.e. current rows with ``_lsn`` above the
        partition's high-water mark as of ``from_snapshot``, including
        tombstones (op='D' rows signal downstream deletes). Only partitions
        whose manifest entry changed are scanned, so the cost is
        O(touched-since), not O(table). The table is thus itself a change
        SOURCE: engines can chain (table → changes_between → another
        engine's apply)."""
        old = self.snapshot(from_snapshot)
        new = self.snapshot(to_snapshot)
        old_entries = {e["partition"]: e for e in old["manifest"]}
        changed_parts = []
        for e in new["manifest"]:
            o = old_entries.get(e["partition"])
            if (
                o is None
                or o["files"] != e["files"]
                or (o.get("delta_files") or []) != (e.get("delta_files") or [])
            ):
                changed_parts.append(e["partition"])
        df = self.read(
            snapshot_id=to_snapshot, partitions=changed_parts, with_lineage=True
        )
        hwm = {
            p: old_entries[p]["last_applied_lsn"]
            for p in changed_parts
            if p in old_entries and old_entries[p]["last_applied_lsn"] is not None
        }
        if hwm:
            # per-partition high-water-mark filter via a small broadcast map
            from pyspark.sql.functions import broadcast

            hwm_df = self.spark.createDataFrame(
                [(int(p), int(v)) for p, v in hwm.items()], f"{PART_COL} int, _hwm long"
            )
            df = (
                df.join(broadcast(hwm_df), PART_COL, "left")
                .filter(F.col("_hwm").isNull() | (F.col("_lsn") > F.col("_hwm")))
                .drop("_hwm")
            )
        return df

    def set_checksum_columns(self, cols: list[str]) -> None:
        """Freeze the checksum column set (a table property in Iceberg
        terms) — partition digests stay comparable across schema
        evolution because evolved columns never enter the rolling digest."""
        snap = self.snapshot()
        snap["checksum_columns"] = list(cols)
        self._write_snapshot(snap)

    def set_rowhash_mode(self, mode: str) -> None:
        """Freeze the per-row checksum hash definition (see
        ``CdcEngine.init``, which freezes "typed" into new tables).
        Snapshots without the field read as "canonical" — the definition
        that produced their manifests."""
        snap = self.snapshot()
        snap["rowhash_mode"] = mode
        self._write_snapshot(snap)

    # -------------------------------------------------------------- maintenance
    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop old snapshots and delete data files no retained snapshot
        references (Iceberg ``expireSnapshots`` analog). Returns #files
        deleted."""
        sids = self.snapshots()
        keep = set(sids[-keep_last:]) | {self.current_version()}
        referenced: set[str] = set()
        for sid in keep:
            for e in self.snapshot(sid)["manifest"]:
                referenced.update(e["files"])
                referenced.update(e.get("delta_files") or [])
        deleted = 0
        for dirpath, _, files in os.walk(self.data_dir):
            for f in files:
                rel = os.path.relpath(os.path.join(dirpath, f), self.root)
                if rel not in referenced:
                    os.remove(os.path.join(dirpath, f))
                    deleted += 1
        for sid in sids:
            if sid not in keep:
                os.remove(os.path.join(self.meta_dir, f"v{sid}.json"))
        return deleted

    # -------------------------------------------------------------- internals
    def _write_snapshot(self, snap: dict) -> None:
        path = os.path.join(self.meta_dir, f"v{snap['snapshot_id']}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    def _swap_pointer(self, sid: int) -> None:
        path = os.path.join(self.meta_dir, "version-hint.text")
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(str(sid))
        os.replace(tmp, path)  # POSIX-atomic: readers see old or new, never torn
