"""Versioned table — snapshot isolation / time travel on plain parquet.

The reference runs Iceberg tables under a Nessie catalog, whose pitch is
versioned data: every write is a commit, any historical state is
readable, and experiments run on branches (reference:
config/flink/create.sql:1-13; README.md:138 "ramas / commits Nessie para
experimentos").  This container ships no Iceberg/Nessie jars, so the
engine provides the same *capability* with the same *mechanism* Iceberg
uses — an immutable-data-file + manifest design — rather than copying
table state per version:

- Data files are immutable: every commit writes NEW parquet files and
  never deletes or rewrites existing ones (copy-on-write at partition
  granularity, exactly Iceberg COW).
- A commit is one JSON manifest under ``_log/`` listing the files that
  constitute that version, each with its partition values, plus the
  next numbered refs record.  No commit step replaces an existing
  file: both are published whole under a fresh name by ``os.link``
  (:mod:`datalakehouse_spark.records`), so readers never observe a
  half-written version, and a commit never pays the data flush ext4
  runs before a rename that replaces a file.
- ``read(version=...)`` hands Spark the manifest's file list (time
  travel) with no Spark job: the session contract turns off Spark's
  job-based file listing (``session.PARALLEL_LISTING_THRESHOLD``), and
  the manifest's recorded schema skips schema inference.  ``read()``
  keeps its last DataFrame in a one-entry head-read slot, so repeated
  reads of an unchanged head are planned once.  ``rollback()`` is a
  new commit that re-points at an old file list;
  ``expire_versions()`` is snapshot GC (the
  ``expire_snapshots`` / ``remove_orphan_files`` procedures,
  cleanup.sql:19-31).
- Branches are named refs onto the commit DAG, kept as numbered,
  immutable records ``_log/refs/<seq>.json`` (the newest is the state;
  each ref move deletes the records it supersedes, so reading the heads
  costs the same at any history length):
  ``create_branch`` points a new name at any version, writes carry a
  ``branch=`` and advance only that ref, and ``merge_branch``
  fast-forwards when possible or creates a real THREE-WAY merge commit
  when the branches diverged (file-level diff vs the common ancestor,
  per-key conflict detection for recorded upserts, loud
  ``MergeConflictError`` otherwise) — the Nessie "experiment on a
  branch, promote when good" workflow.
- ``incremental_read(from_v, to_v)`` scans only the files the append
  commits between two versions added (Iceberg incremental append scan):
  the CDC-style feed a downstream consumer uses to process just the
  delta.
- ``compact()`` rewrites small files as a ``replace`` commit
  (``rewrite_data_files``), which changes no rows.
- Metadata questions are answered from the manifest:
  :meth:`VersionedTable.partition_relation` is a job-free local
  relation with one typed row per partition, so a partition-aligned
  ``delete_where`` is a metadata-only commit, as in Iceberg.

Scale posture: the manifest records partition values PER FILE, so
partition pruning happens driver-side on the file list before Spark
ever plans the scan — manifest-level pruning, which is how Iceberg
prunes too (no directory listing of a 100 TB table; the manifest IS the
index).  Reads use ``basePath`` so hive-style partition columns are
recovered from the kept directory layout.

Concurrent writers: a commit names the branch head it was derived
from, and advancing the branch is a compare-and-swap on the refs
record number.  A commit whose base is no longer the head — another
handle or process committed first — raises
:class:`CommitConflictError` and leaves the other writer's version
intact, so an update is never lost silently.  The writer re-runs the
operation; rebasing automatically (Iceberg's retry on a moved base) is
not done here, and ``expire_versions`` must still not run beside a
write in progress.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datalakehouse_spark import records

#: How many overlapping key tuples a MergeConflictError names in its
#: message / ``keys`` payload (the full overlap may be arbitrarily
#: large; the error shows a bounded, deterministic sample).
_CONFLICT_KEY_SAMPLE = 20


class CommitConflictError(ValueError):
    """A commit's branch head moved after the writer read it (another
    handle or process committed first).  Nothing of this commit is
    visible: the other writer's version stands, and this one's manifest
    and data files are orphans for ``expire_versions``."""


class MergeConflictError(ValueError):
    """Diverged-branch merge could not be resolved automatically.

    ``keys`` carries the overlapping upsert key tuples (when per-key
    detection ran), ``partitions`` the contested partition values."""

    def __init__(self, message: str, keys=None, partitions=None):
        super().__init__(message)
        self.keys = keys or []
        self.partitions = partitions or []


#: Directory name Spark/Hive writes for a NULL partition value.
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_HIVE_HEX = re.compile(r"%([0-9A-Fa-f]{2})")


def _decode_hive_value(v: str) -> str | None:
    """Invert Spark's hive-style partition-path escaping.

    Spark escapes special characters (space, ':', '%', '=', control
    chars, ... — ExternalCatalogUtils.escapePathName) as %XX in
    partition directory names and writes NULL values as
    ``__HIVE_DEFAULT_PARTITION__``.  Manifest entries store the DECODED
    value (None for NULL) so that comparisons against row values are
    exact instead of string-vs-escaped-string."""
    if v == _HIVE_NULL:
        return None
    return _HIVE_HEX.sub(lambda m: chr(int(m.group(1), 16)), v)


def _canon_value(v) -> str | None:
    """Canonical comparison form of a partition value taken from a Row
    (or user filter): None stays None, everything else is its string
    form — the same thing ``_decode_hive_value`` yields for the value's
    partition directory."""
    return None if v is None else str(v)


class VersionedTable:
    """Parquet-backed table with commit log, time travel and rollback."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: Sequence[str] = (),
        cluster_by: Sequence[str] = (),
        zorder_by: tuple[str, str] | None = None,
        bloom_filter_cols: Sequence[str] = (),
        compression: str | None = None,
    ) -> None:
        """Write options, applied to every data file a commit writes
        (compaction included, as Iceberg's ``rewrite_data_files`` keeps
        ``write.order-by`` and bloom settings):

        - ``cluster_by``: sort order within each file — the reference's
          ``'write.order-by' = 'device_id, gps_epoch'`` (create.sql:56;
          O4/X6), giving min/max row-group skipping on those columns.
        - ``zorder_by``: Morton-interleave two int columns as the sort
          key instead (Z-ORDER analog), so range predicates on EITHER
          column prune files; the caller buckets values into [0, 2^16)
          (functions/zorder.py).  Mutually exclusive with ``cluster_by``.
        - ``bloom_filter_cols``: parquet bloom filters (256 KiB cap) for
          point lookups (create.sql:60-63; X4).
        - ``compression``: parquet codec; None keeps the session codec.
        """
        if zorder_by is not None and cluster_by:
            raise ValueError("zorder_by and cluster_by are mutually exclusive")
        self.spark = spark
        self.path = path.rstrip("/")
        self.partition_by = list(partition_by)
        self.cluster_by = list(cluster_by)
        self.zorder_by = tuple(zorder_by) if zorder_by is not None else None
        self.bloom_filter_cols = list(bloom_filter_cols)
        self.compression = compression
        self.data_dir = os.path.join(self.path, "data")
        self.log_dir = os.path.join(self.path, "_log")
        #: the numbered branch-ref records (:mod:`datalakehouse_spark.records`)
        self.refs_dir = os.path.join(self.log_dir, "refs")
        #: stage dirs of writes not yet committed; removed by the commit
        #: that consumes them, so an orphan ``_stage-*`` dir marks a write
        #: that never committed (swept by ``expire_versions``)
        self._stages: list[str] = []
        #: ``read()``'s head-read slot: (key, DataFrame) of the last read
        self._read_slot: tuple[tuple, DataFrame] | None = None

    # -- commit log ---------------------------------------------------------

    DEFAULT_BRANCH = "main"

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"v{version:05d}.json")

    def _latest_version(self) -> int:
        """Highest allocated version number across ALL branches."""
        if not os.path.isdir(self.log_dir):
            return 0
        versions = [
            int(f[1:6])
            for f in os.listdir(self.log_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions, default=0)

    def _refs_record(self) -> tuple[int, dict[str, int]]:
        """(record number, branch -> head) of the newest refs record;
        (0, {}) before the first commit."""
        seq, refs = records.latest(self.refs_dir, "")
        return seq, refs or {}

    def refs(self) -> dict[str, int]:
        """branch name -> head version."""
        return self._refs_record()[1]

    def _advance_ref(self, branch: str, expected: int | None, new: int) -> None:
        """Move ``branch`` from head ``expected`` (None: the branch must
        not exist yet) to ``new`` by creating the next refs record — a
        compare-and-swap: a record number another writer took first is
        re-read, and the swap still succeeds if that writer moved only
        other branches.  Raises :class:`CommitConflictError` when
        ``branch`` is no longer at ``expected``.  The records the new
        one supersedes are deleted."""
        seq, refs = self._refs_record()
        while True:
            head = refs.get(branch) if expected is None else refs.get(branch, 0)
            if head != expected:
                raise CommitConflictError(
                    f"branch {branch!r} is at version {head}, not {expected}: "
                    f"another writer committed first; v{new} was not applied"
                )
            moved = {**refs, branch: new}
            if records.create(self.refs_dir, "", seq + 1, moved):
                records.remove_below(self.refs_dir, "", seq + 1)
                return
            seq, refs = self._refs_record()

    def current_version(self, branch: str = DEFAULT_BRANCH) -> int:
        """Head version of ``branch`` (0 = no commits)."""
        return self.refs().get(branch, 0)

    def _load_manifest(self, version: int) -> dict:
        p = self._manifest_path(version)
        if not os.path.exists(p):
            raise ValueError(
                f"version {version} does not exist (have 1..{self.current_version()})"
            )
        with open(p) as fh:
            return json.load(fh)

    def _commit(
        self,
        operation: str,
        files: list[dict],
        parent: int,
        branch: str = DEFAULT_BRANCH,
        extra: dict | None = None,
        schema_json: str | None = None,
    ) -> int:
        """Write the manifest for the next version and advance the
        branch ref.  No step replaces an existing file: the manifest
        takes the next free version number by exclusive creation, and
        the branch moves by creating the next refs record, which is the
        commit point (:meth:`_advance_ref`).  A commit whose ``parent``
        is no longer the head of ``branch`` — another writer committed
        since this one read it — raises :class:`CommitConflictError`, so
        a lost update is loud and the other writer's version stays
        intact.  Its manifest stays behind as an orphan, as a crashed
        commit's does, so a version number is never handed out twice
        (``expire_versions`` drops it).  Version numbers are
        table-global; ``parent`` pointers form the commit DAG the
        branches live on.  ``extra`` carries operation metadata
        (merge_upsert key sets, merge parents) the three-way
        ``merge_branch`` consumes.

        ``schema_json`` (round 17, guide §5 driver work): the version's
        uniform read-back schema, recorded so ``read()`` can skip
        parquet schema inference — which costs a Spark job per read on
        multi-file versions (measured: one ~0.3–0.4 s job per
        ``_read_files`` in the MV/streaming commit machinery, several
        per trigger).  Only set when every file in ``files`` is known
        to carry this schema (same rule Iceberg's manifest schema
        follows); absent → readers fall back to inference, which keeps
        schema-evolution commits behaving exactly as before."""
        os.makedirs(self.refs_dir, exist_ok=True)
        manifest = {
            "parent": parent,
            "branch": branch,
            "operation": operation,
            "files": files,
            **({"schema": schema_json} if schema_json else {}),
            **(extra or {}),
        }
        version = self._latest_version() + 1
        while not records.create_exclusive(
            self._manifest_path(version), json.dumps({"version": version, **manifest})
        ):
            version += 1  # another writer took the number
        self._advance_ref(branch, parent, version)
        for stage in self._stages:
            shutil.rmtree(stage, ignore_errors=True)
        self._stages.clear()
        return version

    def _ancestry(self, version: int) -> list[int]:
        """Parent chain from ``version`` down to the root (or to the
        oldest un-expired manifest), newest first."""
        chain = []
        v = version
        while v and os.path.exists(self._manifest_path(v)):
            chain.append(v)
            v = self._load_manifest(v)["parent"]
        return chain

    def history(self, branch: str = DEFAULT_BRANCH) -> list[dict]:
        """Commit log of ``branch``, oldest first."""
        out = []
        for v in reversed(self._ancestry(self.current_version(branch))):
            m = self._load_manifest(v)
            out.append(
                {
                    "version": m["version"],
                    "parent": m["parent"],
                    "branch": m.get("branch", self.DEFAULT_BRANCH),
                    "operation": m["operation"],
                    "n_files": len(m["files"]),
                }
            )
        return out

    # -- branches (the Nessie capability) -----------------------------------

    def create_branch(self, name: str, from_version: int | None = None) -> int:
        """Point a new branch at ``from_version`` (default: main head).
        Zero data is copied — a branch is a ref into the commit DAG."""
        if name in self.refs():
            raise ValueError(f"branch {name!r} already exists")
        base = self.current_version() if from_version is None else from_version
        self._load_manifest(base)  # must exist
        self._advance_ref(name, None, base)
        return base

    def merge_branch(self, name: str, into: str = DEFAULT_BRANCH) -> int:
        """Merge ``name`` into ``into`` (promote the experiment — the
        Nessie workflow, reference create.sql:1-13, README:138).

        Fast-forward when possible (``into``'s head is an ancestor of
        the branch head); no-op when ``into`` already contains the
        branch.  DIVERGED branches get a real three-way merge commit:

        - merge base = nearest common ancestor on the commit DAG;
        - each side's change set = file-level diff vs the base
          (manifests only — no data comparison, no scan);
        - sides that touched DISJOINT partitions (or only APPENDED —
          added files without rewriting any) merge cleanly: base files
          minus either side's removals plus both sides' additions;
        - partitions REWRITTEN by one side and modified by the other
          escalate to PER-KEY resolution when every commit involved is
          a ``merge_upsert`` with recorded key-source files (a typed
          parquet key set — any cardinality): disjoint key sets
          re-apply the branch's keyed rows on top of ``into``'s state
          for just those partitions (one partition-pruned read per
          side, typed null-safe joins); overlapping keys raise
          :class:`MergeConflictError` naming a sample of the
          offending keys;
        - anything else (delete-vs-upsert on the same partition, an
          expired common ancestor) raises :class:`MergeConflictError`
          naming the partitions — loud, never silent
          last-writer-wins.

        The merge commit's ``parent`` is ``into``'s head (history stays
        linear per branch) and ``merge_parent`` records the branch head,
        so both lineages survive for time travel."""
        refs = self.refs()
        head, target = refs[name], refs.get(into, 0)
        if target == 0 or target in self._ancestry(head):
            self._advance_ref(into, target, head)  # fast-forward
            return head
        if head in self._ancestry(target):
            return target  # already merged; nothing to do
        return self._three_way_merge(name, head, into, target)

    def _partition_of(self, entry: dict) -> tuple:
        return tuple(entry["partition"].get(k) for k in (self.partition_by or []))

    def _changes_since(self, head: int, base: int) -> tuple[dict, dict, list[int]]:
        """File-level diff of ``head`` vs ``base``: ({path: entry}
        added, {path: entry} removed, commits walked newest-first)."""
        base_files = {
            e["path"]: e for e in (self._load_manifest(base)["files"] if base else [])
        }
        head_files = {e["path"]: e for e in self._load_manifest(head)["files"]}
        added = {p: e for p, e in head_files.items() if p not in base_files}
        removed = {p: e for p, e in base_files.items() if p not in head_files}
        commits = [
            v for v in self._ancestry(head) if v not in set(self._ancestry(base))
        ]
        return added, removed, commits

    def _upsert_keys_for(
        self, commits: list[int], conflicted: set[tuple]
    ) -> tuple[list[str], DataFrame | None] | None:
        """Union (as a typed DataFrame) of recorded merge_upsert key
        sets across ``commits`` that touched a conflicted partition;
        None when any such commit is not a key-recorded upsert (per-key
        resolution impossible).  The DataFrame slot is None when NO
        commit in the list touched a conflicted partition (that side
        contributes no keyed rows).

        A commit's key set is ``merge_keys.src_files``: pointers to the
        commit's own immutable source data files, keys derived by a
        column-pruned scan at merge time (zero hot-path cost).  A
        pre-round-11 manifest (a ``merge_keys.path`` sidecar, no
        ``src_files``) is not key-recorded.  Each commit's keys are
        loaded as its OWN frame and combined with unionByName, so the
        ANALYZER widens mismatched key types across commits (int vs
        long source frames) instead of a multi-path parquet read
        failing or silently coercing."""
        columns: list[str] | None = None
        frames: list[DataFrame] = []
        for v in commits:
            m = self._load_manifest(v)
            parent_files = {
                e["path"]: e
                for e in (
                    self._load_manifest(m["parent"])["files"] if m["parent"] else []
                )
            }
            files = {e["path"]: e for e in m["files"]}
            touched = {
                self._partition_of(e)
                for p, e in files.items()
                if p not in parent_files
            } | {
                self._partition_of(e)
                for p, e in parent_files.items()
                if p not in files
            }
            if not (touched & conflicted):
                continue
            mk = m.get("merge_keys")
            if (
                m["operation"] != "merge_upsert"
                or not mk
                or mk.get("src_files") is None
            ):
                return None
            if columns is None:
                columns = mk["columns"]
            elif columns != mk["columns"]:
                return None
            if not mk["src_files"]:
                continue  # empty upsert: contributes no keys
            paths = [os.path.join(self.data_dir, p) for p in mk["src_files"]]
            frames.append(
                self.spark.read.option("basePath", self.data_dir)
                .parquet(*paths)
                .select(*mk["columns"])
            )
        if not frames:
            return (columns or [], None)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return (columns or [], out.distinct())

    def _truncated(self, chain: list[int]) -> bool:
        """True when an ancestry chain stops at an EXPIRED manifest
        (oldest surviving commit claims a parent that no longer
        exists) rather than at the table root."""
        return bool(chain) and self._load_manifest(chain[-1])["parent"] != 0

    def _three_way_merge(self, name: str, head: int, into: str, target: int) -> int:
        anc_target = self._ancestry(target)
        anc_head = self._ancestry(head)
        anc_set = set(anc_target)
        base = next((v for v in anc_head if v in anc_set), 0)
        if base == 0 and (self._truncated(anc_head) or self._truncated(anc_target)):
            # the real common ancestor was expired (expire_versions
            # with a live diverged branch): diffing against an empty
            # base would classify BOTH sides' inherited files as
            # additions and silently duplicate every shared row —
            # refuse instead (loud, never silent)
            raise MergeConflictError(
                f"cannot merge {name!r} into {into!r}: the common ancestor "
                "commit was expired (expire_versions ran while the branches "
                "were diverged), so a three-way diff is impossible; rebase "
                "the branch or resolve manually"
            )
        added_t, removed_t, commits_t = self._changes_since(target, base)
        added_h, removed_h, commits_h = self._changes_since(head, base)

        def parts(entries: dict) -> set[tuple]:
            return {self._partition_of(e) for e in entries.values()}

        rewrote_t, rewrote_h = parts(removed_t), parts(removed_h)
        modified_t, modified_h = rewrote_t | parts(added_t), rewrote_h | parts(added_h)
        conflicted = (rewrote_t & modified_h) | (rewrote_h & modified_t)

        t_files = self._load_manifest(target)["files"]
        h_files = self._load_manifest(head)["files"]
        if not conflicted:
            removed = set(removed_t) | set(removed_h)
            base_entries = self._load_manifest(base)["files"] if base else []
            files = (
                [e for e in base_entries if e["path"] not in removed]
                + list(added_t.values())
                + list(added_h.values())
            )
            return self._commit(
                "merge",
                files,
                target,
                into,
                extra={"merge_parent": head, "merge_base": base},
            )

        # per-key escalation: every commit touching a conflicted
        # partition on either side must be a key-recorded merge_upsert
        kt = self._upsert_keys_for(commits_t, conflicted)
        kh = self._upsert_keys_for(commits_h, conflicted)
        if kt is None or kh is None or (kt[0] and kh[0] and kt[0] != kh[0]):
            raise MergeConflictError(
                f"branches {into!r} and {name!r} both rewrote partitions "
                f"{sorted(conflicted)} with operations that defeat per-key "
                "resolution (non-upsert commits or mismatched key columns); "
                "rebase the branch or resolve manually",
                partitions=sorted(conflicted),
            )
        key_cols = kt[0] or kh[0]
        kt_df, kh_df = kt[1], kh[1]

        def _keyed_join(rows: DataFrame, keys_df: DataFrame, how: str) -> DataFrame:
            # typed, null-safe semi/anti join against the recorded key
            # set — Spark plans <=> equi-keys as a hash join, and the
            # key side is a small sidecar (broadcast candidate), so no
            # IN-list literals and no string canonicalization anywhere
            cond = None
            for c in key_cols:
                clause = rows[c].eqNullSafe(keys_df[c])
                cond = clause if cond is None else (cond & clause)
            return rows.join(keys_df, cond, how)

        if kt_df is not None and kh_df is not None:
            overlap = _keyed_join(kt_df, kh_df, "left_semi")
            sample = overlap.limit(_CONFLICT_KEY_SAMPLE + 1).collect()
            if sample:
                shown = sorted(
                    (tuple(r) for r in sample),
                    key=lambda t: tuple(repr(x) for x in t),
                )[:_CONFLICT_KEY_SAMPLE]
                raise MergeConflictError(
                    f"branches {into!r} and {name!r} upserted the same key(s) "
                    f"{shown}{'...' if len(sample) > _CONFLICT_KEY_SAMPLE else ''} "
                    f"(key columns {key_cols}); resolve by rebasing the branch",
                    keys=shown,
                    partitions=sorted(conflicted),
                )

        # disjoint keys: re-apply the branch's keyed rows on top of
        # into's state for just the conflicted partitions
        in_cp = lambda e: self._partition_of(e) in conflicted  # noqa: E731
        into_cp = [e for e in t_files if in_cp(e)]
        head_cp = [e for e in h_files if in_cp(e)]
        into_rows = self._read_files(into_cp)
        if kh_df is None:
            # branch side never upserted into the conflicted
            # partitions (its rewrites were pure target-side); into's
            # state stands as-is for those partitions
            merged_rows = into_rows
        else:
            branch_rows = _keyed_join(self._read_files(head_cp), kh_df, "left_semi")
            merged_rows = _keyed_join(into_rows, kh_df, "left_anti").unionByName(
                branch_rows.select(*into_rows.columns)
            )
        new_files = self._write_new_files(merged_rows)

        files = (
            [
                e
                for e in t_files
                if not in_cp(e) and e["path"] not in removed_h
            ]
            + [e for e in added_h.values() if not in_cp(e)]
            + new_files
        )
        return self._commit(
            "merge",
            files,
            target,
            into,
            extra={"merge_parent": head, "merge_base": base},
        )

    # -- write path ---------------------------------------------------------

    def _readback_schema_json(self, df: DataFrame) -> str:
        """The data-column schema a read-back of ``df``'s files reports,
        every level nullable (the parquet reader's convention —
        recording the writer's nullability would tighten the read schema
        and could change downstream plans).  Partition columns are left
        out: partition discovery appends them after the data columns
        with their INFERRED dtypes, so a version reads them with the
        same dtype whether or not its manifest recorded a schema."""
        from pyspark.sql.types import ArrayType, MapType, StructField, StructType

        def _null(dt):
            if isinstance(dt, StructType):
                return StructType(
                    [
                        StructField(f.name, _null(f.dataType), True, f.metadata)
                        for f in dt.fields
                    ]
                )
            if isinstance(dt, ArrayType):
                return ArrayType(_null(dt.elementType), True)
            if isinstance(dt, MapType):
                return MapType(_null(dt.keyType), _null(dt.valueType), True)
            return dt

        data = [f for f in df.schema.fields if f.name not in self.partition_by]
        return StructType(
            [StructField(f.name, _null(f.dataType), True) for f in data]
        ).json()

    def _write_new_files(self, df: DataFrame) -> list[dict]:
        """Write df's rows as NEW immutable data files with the table's
        write options; return their manifest entries.  Files are staged
        then moved under data/ with commit-unique names (Spark part-file
        names already embed a job uuid; the stage prefix adds
        belt-and-braces uniqueness).  Side effect: stashes the write's
        read-back schema on ``self._last_write_schema`` for commit-time
        recording."""
        stage = os.path.join(self.path, f"_stage-{uuid.uuid4().hex[:8]}")
        self._stages.append(stage)
        if self.partition_by:
            # a rewrite scoped to the NULL partition reads back its
            # partition column as VOID (all directory values are the
            # NULL sentinel); VOID cannot be a partition column on
            # write — cast to string, which round-trips to the same
            # __HIVE_DEFAULT_PARTITION__ directory
            from pyspark.sql.types import NullType

            for c in self.partition_by:
                if isinstance(df.schema[c].dataType, NullType):
                    df = df.withColumn(c, F.col(c).cast("string"))
        self._last_write_schema = self._readback_schema_json(df)
        if self.partition_by:
            # co-locate each partition value's rows in one task: one data
            # file per partition value per commit (small-files discipline
            # + compact manifests) instead of task_count x n_partitions
            df = df.repartition(*self.partition_by)
        # sort keys start with the partition columns: FileFormatWriter
        # inserts its own (non-stable) sort on them otherwise, which
        # would destroy the cluster order inside each file
        if self.cluster_by:
            df = df.sortWithinPartitions(*self.partition_by, *self.cluster_by)
        elif self.zorder_by is not None:
            from datalakehouse_spark.functions.zorder import morton32

            zk = "_zorder_key"
            df = (
                df.withColumn(zk, morton32(*self.zorder_by))
                .sortWithinPartitions(*self.partition_by, zk)
                .drop(zk)  # projection preserves per-partition order
            )
        w = df.write.mode("overwrite")
        if self.compression is not None:
            w = w.option("compression", self.compression)
        for col in self.bloom_filter_cols:
            w = w.option(f"parquet.bloom.filter.enabled#{col}", "true").option(
                f"parquet.bloom.filter.max.bytes#{col}", str(262144)
            )
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(stage)

        entries: list[dict] = []
        os.makedirs(self.data_dir, exist_ok=True)
        for root, _dirs, files in os.walk(stage):
            rel_dir = os.path.relpath(root, stage)
            partition: dict[str, str | None] = {}
            if rel_dir != ".":
                for piece in rel_dir.split(os.sep):
                    if "=" in piece:
                        k, v = piece.split("=", 1)
                        partition[k] = _decode_hive_value(v)
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                dest_dir = (
                    os.path.join(self.data_dir, rel_dir)
                    if rel_dir != "."
                    else self.data_dir
                )
                os.makedirs(dest_dir, exist_ok=True)
                os.rename(os.path.join(root, f), os.path.join(dest_dir, f))
                rel_path = os.path.join(rel_dir, f) if rel_dir != "." else f
                entries.append({"path": rel_path, "partition": partition})
        return entries

    def create(self, df: DataFrame, branch: str = DEFAULT_BRANCH) -> int:
        """First commit (or full replacement as a new version)."""
        files = self._write_new_files(df)
        return self._commit(
            "create",
            files,
            self.current_version(branch),
            branch,
            schema_json=self._last_write_schema,
        )

    def append(self, df: DataFrame, branch: str = DEFAULT_BRANCH) -> int:
        cur = self.current_version(branch)
        prev_manifest = self._load_manifest(cur) if cur else {}
        prev = prev_manifest.get("files", [])
        new_files = self._write_new_files(df)
        # the combined version's schema is uniform only when the parent
        # recorded the same one (schema-evolution appends fall back to
        # inference, exactly the old behavior)
        prev_schema = prev_manifest.get("schema")
        uniform = (
            self._last_write_schema
            if (not prev or prev_schema == self._last_write_schema)
            else None
        )
        return self._commit(
            "append", prev + new_files, cur, branch, schema_json=uniform
        )

    def merge_upsert(
        self, source: DataFrame, keys: Sequence[str], branch: str = DEFAULT_BRANCH
    ) -> int:
        """Copy-on-write MERGE: rewrite only the partitions the source
        touches; untouched partitions keep their existing (immutable)
        files in the new manifest — the reason an upsert of one day
        costs one day, not the table, at 100 TB."""
        cur = self.current_version(branch)
        if cur == 0:
            return self.create(source, branch)
        prev_manifest = self._load_manifest(cur)
        prev = prev_manifest["files"]
        prev_schema = prev_manifest.get("schema")
        # The upserted key set must be recoverable so a later THREE-WAY
        # merge_branch can do per-key conflict detection at ANY key
        # cardinality (no driver collect, no cap, typed joins — no
        # str()-vs-cast('string') canonical-form mismatch).  Round-11
        # hot-path shape (ADVICE r10 + VERDICT #7; measured in the
        # "Round-11 merge_upsert key-recording ladder" section of
        # docs/SCALING_RESULTS.md): the upserted keys are EXACTLY
        # the keys of the rows this commit writes, so instead of
        # materializing a separate key sidecar on every commit, the
        # manifest records POINTERS to the commit's own source data
        # files (``merge_keys.src_files``) and the rare merge_branch
        # derives keys from a column-pruned scan of those immutable
        # files.  Hot-path costs removed entirely: no sidecar shuffle,
        # no sidecar write, and `source` (an ARBITRARY lazy plan) is
        # computed exactly ONCE — its rows are written as their own
        # data files first, and the anti-join's key side comes from a
        # key-column scan of that just-written parquet.  Trade-off: a
        # touched partition gets two files this commit (source rows +
        # surviving target rows) instead of one; compact() absorbs
        # that.  GC safety: src_files are part of the commit's own
        # manifest file list, so expire keeps them exactly as long as
        # the manifest survives, and merges past an expired manifest
        # already refuse loudly (_truncated).
        if prev:
            anchor = self._read_files(prev, schema_json=prev_schema)
            # 0-row union keeps the OLD merged-union type coercion
            # (wider of source/target), so splitting the write into two
            # file sets cannot narrow or reorder the schema
            src_typed = anchor.limit(0).unionByName(
                source.select(*anchor.columns)
            )
        else:
            src_typed = source
        files_src = self._write_new_files(src_typed)
        src_schema = self._last_write_schema

        # Touched partitions come from the just-written files' OWN
        # manifest entries — a zero-job metadata probe (round 16, guide
        # §1.2/§5): the previous distinct+collect over `source` was a
        # second full evaluation of an arbitrary lazy plan (the MV
        # entries re-ran their whole delta rollup for it).  The entry
        # partition values are decoded from the hive directory names
        # Spark wrote from the source's own values — the same canonical
        # string space `_touched` already compares in.
        if self.partition_by:
            touched_vals = {
                tuple(e["partition"].get(k) for k in self.partition_by)
                for e in files_src
            }

            def _touched(entry: dict) -> bool:
                return (
                    tuple(entry["partition"].get(k) for k in self.partition_by)
                    in touched_vals
                )

            kept_files = [e for e in prev if not _touched(e)]
            touched_files = [e for e in prev if _touched(e)]
        else:
            kept_files, touched_files = [], prev

        if touched_files and files_src:
            target = self._read_files(touched_files, schema_json=prev_schema)
            # left_anti dedups its build side internally — no distinct
            # pass needed on the key scan
            kept_rows = target.join(
                self._read_files(files_src, schema_json=src_schema).select(*keys),
                list(keys),
                "left_anti",
            )
            files_kept = self._write_new_files(
                kept_rows.unionByName(src_typed.limit(0))
            )
        else:
            files_kept = []
        # the new file groups (src + rewritten-kept) carry the
        # anchor-coerced schema; old files survive only via kept_files,
        # so the version is uniform unless carried-over files were
        # written under a different (or unrecorded, pre-round-17)
        # schema
        uniform = (
            src_schema if not kept_files or prev_schema == src_schema else None
        )
        return self._commit(
            "merge_upsert",
            kept_files + files_src + files_kept,
            cur,
            branch,
            schema_json=uniform,
            extra={
                "merge_keys": {
                    "columns": list(keys),
                    "src_files": [e["path"] for e in files_src],
                }
            },
        )

    def delete_where(self, predicate, branch: str = DEFAULT_BRANCH) -> int:
        """Copy-on-write DELETE with SQL semantics (predicate-NULL rows
        are kept); files in untouched partitions carry over untouched.

        A deterministic predicate that reads partition columns only is
        answered from the manifest, as Iceberg runs a partition-aligned
        DELETE: it is evaluated on :meth:`partition_relation`, and the
        commit drops the matching partitions' files — no data file is
        read or written, and no Spark job runs.  Any other predicate
        scans the version and rewrites the partitions holding matching
        rows."""
        cur = self.current_version(branch)
        if cur == 0:
            return 0
        prev_manifest = self._load_manifest(cur)
        prev, prev_schema = prev_manifest["files"], prev_manifest.get("schema")
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        pred_true = F.coalesce(pred, F.lit(False))
        if self.partition_by:
            hit = self._partitions_matching(cur, pred_true)
            if hit is not None:
                kept = [e for e in prev if self._partition_of(e) not in hit]
                return self._commit(
                    "delete", kept, cur, branch, schema_json=prev_schema
                )
            touched_vals = {
                tuple(_canon_value(r[k]) for k in self.partition_by)
                for r in self._where(
                    self._read_files(prev, schema_json=prev_schema), pred_true, cur
                )
                .select(*self.partition_by)
                .distinct()
                .collect()
            }

            def _touched(entry: dict) -> bool:
                return (
                    tuple(entry["partition"].get(k) for k in self.partition_by)
                    in touched_vals
                )

            kept_files = [e for e in prev if not _touched(e)]
            touched_files = [e for e in prev if _touched(e)]
        else:
            kept_files, touched_files = [], prev
        new_files: list[dict] = []
        new_schema = None
        if touched_files:
            remainder = self._where(
                self._read_files(touched_files, schema_json=prev_schema),
                ~pred_true,
                cur,
            )
            new_files = self._write_new_files(remainder)
            new_schema = self._last_write_schema
        uniform = (
            new_schema
            if new_files and (not kept_files or prev_schema == new_schema)
            else (prev_schema if not new_files else None)
        )
        return self._commit(
            "delete", kept_files + new_files, cur, branch, schema_json=uniform
        )

    def _partitions_matching(self, version: int, pred) -> set[tuple] | None:
        """The partition tuples (manifest form) of ``version`` on which
        ``pred`` is true, or None when ``pred`` is not a deterministic
        function of the partition columns alone.  The check analyzes
        ``pred`` against the version's scan (no job), so a predicate the
        table cannot resolve raises here as the scan would."""
        scan = self.read(version=version).where(pred)
        cond = scan._jdf.queryExecution().analyzed().condition()
        refs = cond.references().toSeq()
        names = {refs.apply(i).name() for i in range(refs.size())}
        if not cond.deterministic() or not names <= set(self.partition_by):
            return None
        rel, tuples = self.partition_relation(version)
        rows = self._where(rel, pred, version).select(self._PART_IDX).collect()
        return {tuples[r[0]] for r in rows}

    def _where(self, df: DataFrame, pred: Column, version: int) -> DataFrame:
        """``df.where(pred)`` for a predicate written against ``version``.

        A Column taken from a frame this table returned
        (``t.read()["p"] == 1``) is bound to that frame's attribute ids,
        which neither the partition relation nor a fresh scan of the
        files carries.  Such a predicate is analyzed against the
        version's read (the same frame, from the head-read slot) and
        rebuilt by column name from the SQL of the result; a predicate
        that resolves by name as it is passes through unchanged."""
        try:
            return df.where(pred)
        except AnalysisException:
            scan = self.read(version=version).where(pred)
            cond = scan._jdf.queryExecution().analyzed().condition()
            return df.where(F.expr(cond.sql()))

    #: index column of :meth:`partition_relation`
    _PART_IDX = "_partition_idx"

    def partition_relation(self, version: int) -> tuple[DataFrame, list[tuple]]:
        """One row per partition tuple of ``version``, for answering
        metadata questions from the manifest: a local relation built
        from an Arrow table, so it plans as a ``LocalRelation`` and
        filtering or collecting it runs no Spark job, whatever the
        session's Arrow setting.  Its partition columns carry the dtypes
        a read of the version infers (a string column cast to each), so
        a predicate or a typed key behaves as on the scan, NULL
        partitions included.  Returns the relation and the manifest-form
        (decoded string) tuples its ``_partition_idx`` column indexes."""
        import pyarrow as pa
        from pyspark.sql.types import NullType

        schema = self.read(version=version).schema
        files = self._load_manifest(version)["files"]
        tuples = list(dict.fromkeys(self._partition_of(e) for e in files))
        columns = {self._PART_IDX: pa.array(range(len(tuples)), pa.int64())}
        for i, c in enumerate(self.partition_by):
            columns[c] = pa.array([t[i] for t in tuples], pa.string())
        rel = self.spark.createDataFrame(pa.table(columns))
        typed = [
            (
                F.lit(None)
                if isinstance(schema[c].dataType, NullType)
                else F.col(c).cast(schema[c].dataType)
            ).alias(c)
            for c in self.partition_by
        ]
        return rel.select(self._PART_IDX, *typed), tuples

    def rollback(self, version: int, branch: str = DEFAULT_BRANCH) -> int:
        """Re-point the table at an older version's file list (Iceberg
        rollback semantics: a NEW commit, history is never rewritten)."""
        target = self._load_manifest(version)
        return self._commit(
            f"rollback_to_v{version}",
            target["files"],
            self.current_version(branch),
            branch,
            schema_json=target.get("schema"),
        )

    # -- read path ----------------------------------------------------------

    def _read_files(
        self,
        entries: list[dict],
        merge_schema: bool = False,
        schema_json: str | None = None,
    ) -> DataFrame:
        if not entries:
            raise ValueError("empty file list (empty table version)")
        paths = [os.path.join(self.data_dir, e["path"]) for e in entries]
        r = self.spark.read.option("basePath", self.data_dir)
        if merge_schema:
            r = r.option("mergeSchema", "true")
        elif schema_json:
            # manifest-recorded schema (round 17): skips parquet schema
            # inference and its per-read Spark job; only ever passed
            # when every file in the version carries this exact schema
            from pyspark.sql.types import StructType

            r = r.schema(StructType.fromJson(json.loads(schema_json)))
        return r.parquet(*paths)

    def read(
        self,
        version: int | None = None,
        partition_filter: dict[str, Sequence[str]] | None = None,
        ref: str = DEFAULT_BRANCH,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Table state at ``version`` (default: head of ``ref``).

        ``partition_filter`` ({col: allowed values}) prunes the FILE
        LIST from the manifest before Spark plans the scan — the
        manifest-level pruning that replaces directory listing at
        scale.  ``merge_schema=True`` reconciles commits written under
        evolved schemas (add-column evolution): files from older
        commits surface NULL for columns added later.

        The head-read slot: the last DataFrame built here is kept, keyed
        by (resolved version, ``partition_filter``, ``merge_schema``),
        and returned again for the same key, so serving reads of an
        unchanged head skip the manifest parse and Spark's file-index
        build.  A version's manifest and data files never change, so its
        DataFrame never goes stale; a hit still checks that the manifest
        exists (an expired version raises), and ``expire_versions``
        empties the slot.  ``registry.session_memo`` cannot carry this:
        it is keyed by fixture directory and never evicts, while a stream
        commits a new version on every trigger — one slot holds only the
        latest."""
        v = self.current_version(ref) if version is None else version
        allowed = {
            k: frozenset(_canon_value(x) for x in vs)
            for k, vs in (partition_filter or {}).items()
        }
        key = (v, frozenset(allowed.items()), merge_schema)
        slot = self._read_slot
        if slot and slot[0] == key and os.path.exists(self._manifest_path(v)):
            return slot[1]
        manifest = self._load_manifest(v)  # raises for an expired version
        entries = [
            e
            for e in manifest["files"]
            if all(e["partition"].get(k) in vs for k, vs in allowed.items())
        ]
        df = self._read_files(
            entries, merge_schema=merge_schema, schema_json=manifest.get("schema")
        )
        self._read_slot = (key, df)
        return df

    def head_files(self, branch: str = DEFAULT_BRANCH) -> list[dict]:
        """Manifest entries ({path, partition}) of ``branch``'s head;
        paths are relative to ``data_dir``.  Empty before the first
        commit."""
        cur = self.current_version(branch)
        return self._load_manifest(cur)["files"] if cur else []

    def incremental_read(self, from_version: int, to_version: int) -> DataFrame:
        """Rows APPENDED in (from_version, to_version] (Iceberg
        incremental append scan): the CDC-style delta feed, read from
        the files each append/create commit on ``to_version``'s
        ancestry added — driver-side manifest diffs, no data
        comparison.  Other commits add no appended rows: a ``replace``
        (compaction) is no logical change, and upserts/deletes are
        outside an append scan, as in Iceberg."""
        chain = self._ancestry(to_version)
        if from_version not in chain:
            raise ValueError(
                f"version {from_version} is not an ancestor of {to_version}"
            )
        added: list[dict] = []
        schemas = set()
        for v in reversed(chain[: chain.index(from_version)]):
            m = self._load_manifest(v)
            if m["operation"] not in ("append", "create"):
                continue
            parent = (
                {e["path"] for e in self._load_manifest(m["parent"])["files"]}
                if m["parent"]
                else set()
            )
            added += [e for e in m["files"] if e["path"] not in parent]
            schemas.add(m.get("schema"))
        schema = schemas.pop() if len(schemas) == 1 else None
        return self._read_files(added, schema_json=schema)

    # -- maintenance --------------------------------------------------------

    def compact(
        self,
        target_partitions: int = 1,
        min_files: int = 2,
        where: dict[str, Sequence] | None = None,
        branch: str = DEFAULT_BRANCH,
    ) -> dict:
        """Small-file compaction (M2) as one ``replace`` commit, scoped
        per partition like the reference's per-day sweep
        (cleanup.sql:12-17, cleanup_migration.sql): only partitions with
        at least ``min_files`` files at the head (and, with ``where``
        ({col: allowed values}), only those partitions) are read and
        rewritten; every other file carries over into the new manifest
        untouched.  A partitioned table compacts to one file per
        partition value; an unpartitioned one to ``target_partitions``
        files.  The rewrite goes through ``_write_new_files``, so it
        keeps the table's sort order and bloom filters.  Older versions
        keep their files until ``expire_versions``.  Returns the
        partition values rewritten and the count skipped."""
        cur = self.current_version(branch)
        if cur == 0:
            return {"compacted": [], "skipped": 0}
        manifest = self._load_manifest(cur)
        groups: dict[tuple, list[dict]] = {}
        for e in manifest["files"]:
            groups.setdefault(self._partition_of(e), []).append(e)
        allowed = {
            k: {_canon_value(x) for x in vs} for k, vs in (where or {}).items()
        }
        todo = [
            part
            for part, es in groups.items()
            if len(es) >= min_files
            and all(es[0]["partition"].get(k) in vs for k, vs in allowed.items())
        ]
        if todo:
            schema = manifest.get("schema")
            # a version without a recorded schema mixes evolved files:
            # merge their schemas so the rewrite drops no column
            df = self._read_files(
                [e for part in todo for e in groups[part]],
                merge_schema=schema is None,
                schema_json=schema,
            )
            if not self.partition_by:
                df = df.coalesce(target_partitions)
            new_files = self._write_new_files(df)
            kept = [e for part, es in groups.items() if part not in todo for e in es]
            self._commit(
                "replace",
                kept + new_files,
                cur,
                branch,
                schema_json=schema if schema == self._last_write_schema else None,
            )
        return {
            "compacted": [groups[part][0]["partition"] for part in todo],
            "skipped": len(groups) - len(todo),
        }

    def expire_versions(self, keep_last: int = 1) -> dict:
        """Snapshot GC: keep the newest ``keep_last`` commits of every
        branch (walking each branch's parent chain), drop all other
        manifests and superseded refs records, then delete data files
        referenced by no surviving manifest, and the ``_stage-*`` dirs
        and ``_log`` temp files of writes that never committed
        (expire_snapshots + remove_orphan_files).  Never run it beside
        a write in progress: it deletes that write's stage dir and
        files."""
        self._read_slot = None
        keep_versions: set[int] = set()
        for head in self.refs().values():
            keep_versions.update(self._ancestry(head)[:keep_last])
        kept_refs: set[str] = set()
        for v in keep_versions:
            kept_refs.update(e["path"] for e in self._load_manifest(v)["files"])
        removed_manifests = []
        for v in range(1, self._latest_version() + 1):
            if v in keep_versions:
                continue
            p = self._manifest_path(v)
            if os.path.exists(p):
                os.remove(p)
                removed_manifests.append(v)
        removed_files = []
        for root, _dirs, files in os.walk(self.data_dir):
            for f in files:
                rel = os.path.relpath(os.path.join(root, f), self.data_dir)
                if f.endswith(".parquet") and rel not in kept_refs:
                    os.remove(os.path.join(root, f))
                    removed_files.append(rel)
        removed_stages = []
        if os.path.isdir(self.path):
            for entry in os.scandir(self.path):
                if entry.is_dir() and entry.name.startswith("_stage-"):
                    shutil.rmtree(entry.path)
                    removed_stages.append(entry.path)
        if os.path.isdir(self.refs_dir):
            # refs records a crashed ref move left, and the temp files of
            # manifests / refs records a crashed commit never linked
            records.remove_below(self.refs_dir, "", self._refs_record()[0])
            for d in (self.log_dir, self.refs_dir):
                for entry in os.scandir(d):
                    if ".tmp-" in entry.name:
                        os.remove(entry.path)
        return {
            "versions": removed_manifests,
            "files": removed_files,
            "stages": removed_stages,
        }
