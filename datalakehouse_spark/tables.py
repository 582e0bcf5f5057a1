"""Managed table layer — lakehouse DML without a catalog dependency.

The reference runs on Iceberg v2 + Nessie: PK-upsert sinks
(create.sql:132), retention DELETEs and compaction/GC procedures
(cleanup.sql:5-38).  This container ships no Iceberg/Delta jars, so the
engine provides one table abstraction with two backends:

- **catalog backend** (preferred, auto-detected): when an Iceberg/Delta
  catalog is configured on the session, `merge_upsert` emits real
  ``MERGE INTO``, `delete_where` real ``DELETE FROM``, `compact` the
  ``rewrite_data_files`` / ``OPTIMIZE`` procedure — the exact SURVEY.md
  §2.10 mappings.
- **parquet backend** (this environment): a
  :class:`~datalakehouse_spark.versioned.VersionedTable` at ``path``.
  Every write is an atomic manifest commit over immutable files, as an
  Iceberg snapshot commit is: readers holding an older version keep
  reading it, and a write that fails before its commit leaves the
  previous version in place.  Upserts and deletes rewrite only the
  partitions they touch (a day's upsert rewrites a day, not the table);
  compaction is a ``replace`` commit and `vacuum` is snapshot expiry.

Semantics contract (tested in tests/test_tables.py):
- append: blind insert (S4)
- merge_upsert(keys): source row replaces any target row with the same
  key, others inserted — idempotent on re-run (S6; README:136)
- delete_where(pred): retention DELETE (M1)
- compact(): rewrite small files to the target size (M2)
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from datalakehouse_spark.versioned import VersionedTable


class ManagedTable:
    """A partitioned parquet-backed table with lakehouse-style DML."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
        bloom_filter_cols: Sequence[str] = (),
        catalog_table: str | None = None,
        zorder_by: tuple[str, str] | None = None,
        compression: str = "zstd",
    ) -> None:
        """``cluster_by`` / ``zorder_by`` / ``bloom_filter_cols`` are the
        parquet backend's write options (see :class:`VersionedTable`).
        ``compression`` defaults to zstd, matching the reference's table
        properties (create.sql:53-56,160 — ZSTD for fact and raw tables;
        ddl.py emits the same for the catalog backend)."""
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by)
        self._vt = VersionedTable(
            spark,
            path,
            partition_by,
            cluster_by=cluster_by,
            zorder_by=zorder_by,
            bloom_filter_cols=bloom_filter_cols,
            compression=compression,
        )
        # catalog backend auto-detection: when `catalog_table` names a
        # table in a configured Iceberg/Delta catalog, DML routes
        # through single-statement transactional SQL (catalog_dml.py);
        # otherwise the parquet backend below is used.
        self.catalog_table = catalog_table
        self._catalog: "CatalogDML | None" = None
        if catalog_table is not None:
            from datalakehouse_spark.catalog_dml import (
                CatalogDML,
                detect_catalog_dialect,
            )

            dialect = detect_catalog_dialect(spark, catalog_table)
            if dialect is not None:
                self._catalog = CatalogDML(spark, catalog_table, dialect)

    # -- read ---------------------------------------------------------------

    @property
    def exists(self) -> bool:
        return self._vt.current_version() > 0

    def read(self, merge_schema: bool = False) -> DataFrame:
        """The head version.  ``merge_schema=True`` reconciles files
        written under evolved schemas (add-column evolution, the Iceberg
        v2 capability the reference advertises, README.md:13): old files
        surface NULL for columns added later.  Off by default — schema
        merging footer-reads every file, so it's an explicit opt-in like
        Spark's own ``mergeSchema``."""
        return self._vt.read(merge_schema=merge_schema)

    # -- write --------------------------------------------------------------

    def create(self, df: DataFrame) -> "ManagedTable":
        """Full replacement: a new version holding only ``df``'s rows."""
        self._vt.create(df)
        return self

    def append(self, df: DataFrame) -> None:
        """Blind append (the streaming/backfill sink, S4/S5)."""
        self._vt.append(df)

    def merge_upsert(self, source: DataFrame, keys: Sequence[str]) -> None:
        """MERGE: matched -> replace, not-matched -> insert.  Parquet
        backend: a copy-on-write commit that rewrites only the
        partitions the source touches.  With a catalog this is one
        ``MERGE INTO`` statement."""
        if self._catalog is not None:
            self._catalog.merge_upsert(source, keys)
            return
        self._vt.merge_upsert(source, keys)

    def delete_where(self, predicate) -> None:
        """Retention DELETE (M1) with SQL semantics: only rows where the
        predicate is TRUE are deleted — rows where it evaluates NULL are
        KEPT.  Parquet backend: a deterministic predicate on partition
        columns only (the retention shape, ``day < cutoff``) is a
        metadata-only commit that drops the matching partitions' files,
        with no Spark job; any other predicate is a copy-on-write commit
        that rewrites only the partitions holding matching rows (see
        :meth:`VersionedTable.delete_where`)."""
        if self._catalog is not None:
            if not isinstance(predicate, str):
                # Falling through to the parquet path would delete from
                # self.path, which is empty/stale when the data lives in
                # the catalog — a silent no-op. Require SQL text here.
                raise TypeError(
                    "delete_where on a catalog-backed table requires a SQL "
                    "predicate string (Column predicates cannot be rendered "
                    "to catalog DELETE statements)"
                )
            self._catalog.delete_where(predicate)
            return
        self._vt.delete_where(predicate)

    # -- maintenance --------------------------------------------------------

    def partition_file_stats(self) -> list[dict]:
        """Per-partition file count, byte size and file paths of the head
        version, from its manifest — the file stats Iceberg's
        ``rewrite_data_files`` plans from.  Partition values are the
        decoded strings the manifest records (None for NULL)."""
        stats: dict[tuple, dict] = {}
        for e in self._vt.head_files():
            s = stats.setdefault(
                tuple(e["partition"].get(k) for k in self.partition_by),
                {"partition": e["partition"], "file_count": 0, "bytes": 0, "files": []},
            )
            f = os.path.join(self._vt.data_dir, e["path"])
            s["file_count"] += 1
            s["bytes"] += os.path.getsize(f)
            s["files"].append(f)
        return list(stats.values())

    def compact(
        self,
        target_partitions: int = 1,
        min_files: int = 2,
        where: dict[str, Sequence] | None = None,
    ) -> dict:
        """Small-file compaction (M2), partition-scoped like the
        reference's per-day sweep (cleanup.sql:12-17):

        - **catalog backend**: one ``rewrite_data_files`` / ``OPTIMIZE``
          with a size threshold (256 MiB fact / 128 MiB raw per
          create.sql:54,160).
        - **parquet backend**: :meth:`VersionedTable.compact` — one
          ``replace`` commit over just the partitions holding at least
          ``min_files`` files (and matching ``where``); every other
          partition's files are left untouched.

        Returns a report of what was rewritten."""
        if self._catalog is not None:
            self._catalog.compact(target_file_size_bytes=256 * 1024 * 1024)
            return {"backend": "catalog", "compacted": None, "skipped": 0}
        report = self._vt.compact(target_partitions, min_files, where)
        return {"backend": "parquet", **report}

    def vacuum(self) -> list[str]:
        """M3/M4: expire every version but the head, delete the files
        only expired versions referenced, and remove the stage dirs of
        writes that never committed; returns those dirs.  With an
        Iceberg/Delta catalog this call maps to ``remove_orphan_files``
        + ``expire_snapshots`` / ``VACUUM`` (cleanup.sql:19-31)."""
        if self._catalog is not None:
            self._catalog.vacuum()
            return []
        return self._vt.expire_versions(keep_last=1)["stages"]

    def file_count(self) -> int:
        return len(self._vt.head_files())

    def analyze(self, register_as: str | None = None) -> dict:
        """M5: feed the planner statistics.

        - catalog backend: one ``ANALYZE TABLE`` — the catalog persists
          rowCount/sizeInBytes for the CBO.
        - parquet backend: the returned row and per-partition counts
          come from metadata, with no Spark job: the head files' parquet
          footer row counts (pyarrow, in this process), summed per
          partition and keyed through
          :meth:`VersionedTable.partition_relation`, so the keys carry
          the partition columns' read dtypes, as a ``groupBy`` over the
          scan would give them.  With ``register_as``, the head version
          is also registered as a session-catalog parquet table and
          ANALYZEd, so joins planned THROUGH that table name get CBO row
          counts in this session (verified in tests via DESC EXTENDED
          statistics).  The table's location holds hard links to the
          head's files only, so it reads — and counts — exactly the
          version current at this call.
        """
        if self._catalog is not None:
            self._catalog.analyze()
            # stats live in the catalog; nothing to recount locally
            return {"table": self.catalog_table, "analyzed": True}
        import pyarrow.parquet as pq

        version = self._vt.current_version()
        files = self._vt._load_manifest(version)["files"]
        if register_as is not None:
            snap = os.path.join(self._vt.path, "_registered", register_as)
            shutil.rmtree(snap, ignore_errors=True)
            for e in files:
                dest = os.path.join(snap, e["path"])
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.link(os.path.join(self._vt.data_dir, e["path"]), dest)
            self.spark.sql(
                f"CREATE TABLE IF NOT EXISTS {register_as} "
                f"USING parquet LOCATION '{snap}'"
            )
            self.spark.sql(f"REFRESH TABLE {register_as}")
            self.spark.sql(f"ANALYZE TABLE {register_as} COMPUTE STATISTICS")
        counts: dict[tuple, int] = {}
        for e in files:
            part = self._vt._partition_of(e)
            path = os.path.join(self._vt.data_dir, e["path"])
            counts[part] = counts.get(part, 0) + pq.read_metadata(path).num_rows
        stats = {"rows": sum(counts.values())}
        if self.partition_by:
            typed = {}
            if files:
                rel, tuples = self._vt.partition_relation(version)
                typed = {tuples[r[0]]: tuple(r[1:]) for r in rel.collect()}
            stats["partitions"] = {typed[p]: n for p, n in counts.items() if n}
        return stats
