"""Narrow table-sink interface the engine writes through (SURVEY §7 M2).

:class:`TableSink` is the exact surface :class:`~image_report_spark.plans.
icelite.IceliteTable` exposes to the engine — snapshot metadata, pruned
reads, partition-file writes, atomic commit, incremental change reads and
snapshot expiry. The engine holds a ``TableSink``, not an IceliteTable,
so swapping the storage backend on a real cluster is an injection, not a
rewrite.

:class:`IcebergSink` is the second backend: a stub that documents the
1:1 mapping onto ``iceberg-spark-runtime`` and refuses cleanly when the
jar is absent (always, in this sandbox — no lakehouse jars exist, see
SURVEY.md).
"""

from __future__ import annotations

from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@runtime_checkable
class TableSink(Protocol):
    """What the CDC engine needs from table storage — nothing more.

    ``root`` is the table location (used for quarantine side-dirs and
    resolving manifest-relative file paths).
    """

    root: str

    def exists(self) -> bool: ...

    def snapshot(self, snapshot_id: int | None = None) -> dict: ...

    def logical_schema(self, snap: dict | None = None) -> StructType: ...

    def num_buckets(self, snap: dict | None = None) -> int: ...

    def read(
        self,
        snapshot_id: int | None = None,
        partitions: list[int] | None = None,
        with_lineage: bool = False,
    ) -> DataFrame: ...

    def write_partition_files(
        self,
        df_physical: DataFrame,
        batch_id: int,
        pre_partitioned: bool = False,
        sort_cols: list[str] | None = None,
        dir_label: str | None = None,
    ) -> dict[int, list[str]]: ...

    def commit(
        self,
        replaced: dict[int, dict],
        schema: StructType,
        batch_id: int | None,
        ledger: dict | None,
        table_digest: str | None = None,
    ) -> int: ...

    def set_checksum_columns(self, cols: list[str]) -> None: ...

    def history(self) -> list[dict]: ...

    def changes_between(
        self, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame: ...

    def expire_snapshots(self, keep_last: int = 1) -> int: ...


class IcebergSink:
    """Real-Iceberg backend stub: the drop-in swap for a cluster with
    ``iceberg-spark-runtime`` on the classpath.

    Method mapping (each TableSink method → Iceberg):

    * ``read``                → ``spark.read.format("iceberg")`` with
      ``VERSION AS OF`` for time travel; partition pruning comes free
      from Iceberg's manifest filtering on the bucket partition spec.
    * ``write_partition_files`` + ``commit`` → a single atomic
      ``MERGE INTO`` (or ``df.writeTo(tbl).overwritePartitions()``) —
      Iceberg's snapshot commit subsumes Icelite's two-phase
      write-then-pointer-swap, so the engine's merge output feeds one
      statement and the ``replaced``-manifest bookkeeping disappears.
    * ``snapshot`` / ``history`` → the ``<tbl>.snapshots`` /
      ``<tbl>.history`` metadata tables.
    * ``changes_between``     → incremental read:
      ``option("start-snapshot-id", ...).option("end-snapshot-id", ...)``.
    * ``expire_snapshots``    → ``CALL catalog.system.expire_snapshots``.
    * ``set_checksum_columns``→ a table property
      (``ALTER TABLE ... SET TBLPROPERTIES``).
    * merge-on-read mode (``EngineConfig.write_mode='mor'``) → Iceberg v2
      row-level deletes: delta files map onto equality-delete + data file
      pairs (``write.merge.mode=merge-on-read``), ``CdcEngine.compact()``
      onto ``CALL catalog.system.rewrite_data_files`` /
      ``rewrite_position_delete_files``.

    Construction probes the classpath and raises ``RuntimeError`` when
    the runtime is missing, so a misconfigured cluster fails at setup,
    not mid-merge.
    """

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier
        self.root = identifier
        try:
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.catalog.Catalog"
            )
        except Exception as e:
            raise RuntimeError(
                "IcebergSink requires iceberg-spark-runtime on the Spark "
                "classpath (spark.jars.packages="
                "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>) "
                "and a configured catalog; none found. Use IceliteTable "
                "for jar-free operation."
            ) from e

    def _unimplemented(self, what: str):
        raise NotImplementedError(
            f"IcebergSink.{what}: implemented only with the Iceberg "
            "runtime present — see the class docstring for the mapping"
        )

    def exists(self) -> bool:
        self._unimplemented("exists")

    def snapshot(self, snapshot_id: int | None = None) -> dict:
        self._unimplemented("snapshot")

    def logical_schema(self, snap: dict | None = None) -> StructType:
        self._unimplemented("logical_schema")

    def num_buckets(self, snap: dict | None = None) -> int:
        self._unimplemented("num_buckets")

    def read(
        self,
        snapshot_id: int | None = None,
        partitions: list[int] | None = None,
        with_lineage: bool = False,
    ) -> DataFrame:
        self._unimplemented("read")

    def write_partition_files(
        self,
        df_physical: DataFrame,
        batch_id: int,
        pre_partitioned: bool = False,
        sort_cols: list[str] | None = None,
        dir_label: str | None = None,
    ) -> dict[int, list[str]]:
        self._unimplemented("write_partition_files")

    def commit(
        self,
        replaced: dict[int, dict],
        schema: StructType,
        batch_id: int | None,
        ledger: dict | None,
        table_digest: str | None = None,
    ) -> int:
        self._unimplemented("commit")

    def set_checksum_columns(self, cols: list[str]) -> None:
        self._unimplemented("set_checksum_columns")

    def history(self) -> list[dict]:
        self._unimplemented("history")

    def changes_between(
        self, from_snapshot: int, to_snapshot: int | None = None
    ) -> DataFrame:
        self._unimplemented("changes_between")

    def expire_snapshots(self, keep_last: int = 1) -> int:
        self._unimplemented("expire_snapshots")
