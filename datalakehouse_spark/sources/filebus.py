"""filebus — a pure-Python STREAMING DataSource with Kafka's API shape.

Closes the live half of SURVEY §2 S1 (reference create.sql:72-121):
the container ships no spark-sql-kafka jar or broker, so until now the
real ``spark.readStream.format(...)`` code path — option parsing,
offset tracking, checkpoint resume, per-partition parallel reads —
could only be *described*, never executed.  PySpark 4's Python
DataSource V2 API (``pyspark.sql.datasource``) lets the engine ship a
broker-shaped source in pure stdlib:

- a **topic** is a directory of append-only JSONL partition logs
  (``<root>/<topic>/p00000/log.jsonl``), the moral equivalent of a
  Kafka partition segment;
- the **offset** of a record is its line number in its partition log —
  monotonic, dense, replayable, exactly Kafka's offset contract;
- the source registers under ``format("filebus")`` and accepts the
  SAME option surface ``build_kafka_reader`` emits for Kafka:
  ``kafka.bootstrap.servers`` (reinterpreted as the bus root
  directory), ``subscribe``, ``startingOffsets`` (earliest/latest),
  ``maxOffsetsPerTrigger`` (proportional per-partition admission cap,
  Kafka's split rule) — so the production builder runs UNCHANGED but
  for the format name;
- the output schema is Kafka's wire schema (key/value BINARY, topic,
  partition, offset, timestamp, timestampType), so the downstream
  ``value.cast(string)`` → ``from_json`` → DLQ-split plan is
  byte-for-byte the plan a real Kafka deployment runs;
- offsets move through Spark's checkpoint like any V2 source:
  group-offsets resume (create.sql:110 ``scan.startup.mode`` =
  group-offsets) is the checkpoint restart, earliest fallback is
  ``startingOffsets=earliest`` on a fresh checkpoint.

Scale posture: a stream reads each micro-batch ONCE, on the driver.
The reader is a ``SimpleDataSourceStreamReader``: Spark's long-lived
driver-side source runner calls ``read(start)`` when it plans a
trigger (``latestOffset``), ships the records to the JVM as Arrow, and
keeps them in the block manager until the next trigger is planned, so
every action on the batch (a ``foreachBatch`` sink's table append and
DLQ write alike) scans JVM memory and starts no Python worker.  Only
the replay of a batch planned before a restart, whose prefetch died
with the old runner, reads the log again, on an executor
(``readBetweenOffsets``).  One driver process reading one batch per
trigger is the simple reader's stated use and this emulator's load
(ingest at thousands of events per second); the batch reader keeps one
executor-side InputPartition per topic-partition.  Reading a slice
scans its log file from the top (line offsets, not byte offsets); a
production log store would add segment files + a sparse byte-offset
index exactly as Kafka does.  The emulator exists to exercise the
engine's streaming contract; the 100 TB path swaps the format string
back to ``kafka``, a JVM source with executor-side partitioned reads.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from datalakehouse_spark import records

#: Kafka source wire schema — what readStream.format("kafka") yields.
KAFKA_WIRE_SCHEMA = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
    ]
)

_LOG_NAME = "log.jsonl"


def _partition_dirs(root: str, topic: str) -> list[str]:
    tdir = os.path.join(root, topic)
    if not os.path.isdir(tdir):
        raise ValueError(f"filebus topic {topic!r} does not exist under {root!r}")
    return sorted(
        os.path.join(tdir, d) for d in os.listdir(tdir) if d.startswith("p")
    )


def _end_offsets(root: str, topic: str) -> dict[str, int]:
    """Current end offset (line count) per partition id string."""
    out: dict[str, int] = {}
    for pdir in _partition_dirs(root, topic):
        pid = str(int(os.path.basename(pdir)[1:]))
        log = os.path.join(pdir, _LOG_NAME)
        n = 0
        if os.path.exists(log):
            with open(log, "rb") as fh:
                n = sum(1 for _ in fh)
        out[pid] = n
    return out


class FileBusProducer:
    """Append-only producer onto a directory-backed topic log.

    ``send`` routes by md5(key) % partitions when a key is given
    (Kafka's sticky key→partition contract, deterministic across
    processes/engines), else round-robins.  ``ts`` is the record's
    event timestamp (epoch micros); callers pass it explicitly so
    logs are replay-deterministic — there is no hidden wall clock.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        self._rr = 0

    def create_topic(self, topic: str, partitions: int = 3) -> None:
        for p in range(partitions):
            os.makedirs(os.path.join(self.root, topic, f"p{p:05d}"), exist_ok=True)

    def send(
        self,
        topic: str,
        value: str | bytes,
        key: str | bytes | None = None,
        ts_us: int = 0,
        partition: int | None = None,
    ) -> None:
        pdirs = _partition_dirs(self.root, topic)
        if partition is None:
            if key is not None:
                kb = key.encode() if isinstance(key, str) else key
                partition = int.from_bytes(
                    hashlib.md5(kb).digest()[:4], "big"
                ) % len(pdirs)
            else:
                partition = self._rr % len(pdirs)
                self._rr += 1
        vb = value if isinstance(value, bytes) else value.encode()
        kb = None if key is None else (key if isinstance(key, bytes) else key.encode())
        rec = {
            "key": None if kb is None else kb.decode("latin-1"),
            "value": vb.decode("latin-1"),
            "ts_us": ts_us,
        }
        log = os.path.join(pdirs[partition], _LOG_NAME)
        with open(log, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(rec) + "\n")


class _Slice(InputPartition):
    def __init__(self, log_path: str, topic: str, pid: int, start: int, end: int):
        self.log_path = log_path
        self.topic = topic
        self.pid = pid
        self.start = start
        self.end = end


def _read_slice(s: _Slice) -> Iterator[tuple]:
    """Yield Kafka-wire tuples for log lines [start, end)."""
    if s.end <= s.start or not os.path.exists(s.log_path):
        return
    with open(s.log_path, encoding="utf-8") as fh:
        for i, line in enumerate(fh):
            if i < s.start:
                continue
            if i >= s.end:
                break
            rec = json.loads(line)
            key = rec.get("key")
            yield (
                None if key is None else key.encode("latin-1"),
                rec["value"].encode("latin-1"),
                s.topic,
                s.pid,
                i,
                dt.datetime.fromtimestamp(
                    rec.get("ts_us", 0) / 1_000_000, dt.timezone.utc
                ).replace(tzinfo=None),
                0,
            )


def _slices(root: str, topic: str, start: dict, end: dict) -> list[_Slice]:
    """One slice per topic-partition with records in [start, end)."""
    out = []
    for pdir in _partition_dirs(root, topic):
        pid = str(int(os.path.basename(pdir)[1:]))
        s, e = int(start.get(pid, 0)), int(end.get(pid, 0))
        if e > s:
            out.append(_Slice(os.path.join(pdir, _LOG_NAME), topic, int(pid), s, e))
    return out


def _root_and_topic(options) -> tuple[str, str]:
    root = options.get("kafka.bootstrap.servers") or options.get("path")
    if not root:
        raise ValueError(
            "filebus requires kafka.bootstrap.servers (bus root dir) or path"
        )
    topic = options.get("subscribe")
    if not topic:
        raise ValueError("filebus requires subscribe=<topic>")
    return root, topic


class FileBusStreamReader(SimpleDataSourceStreamReader):
    """Offset-tracked micro-batch reader (the Kafka consumer analog).

    Offsets are dicts {partition_id_str: next_line}; Spark serializes
    them into the checkpoint, giving group-offsets resume for free.
    ``read(start)`` admits the next batch and reads it in the same call
    (see the module's scale posture): Spark's source runner hands it the
    previous batch's end, or ``initialOffset()`` on a fresh runner, and
    keys the prefetched records by that start.  So the records returned
    are always those in [start, end), and the admission rules below only
    choose ``end``.  ``maxOffsetsPerTrigger`` caps each micro-batch's
    admission, distributed across partitions proportionally to backlog —
    Kafka's own split rule.

    **Restart safety** (ADVICE r10): the admission base must never sit
    below the checkpointed start, or a capped first-post-restart batch
    would plan an end BELOW the checkpoint — the batch would be empty,
    the offset log would regress, and the next batch would re-read
    committed records.  Three defenses, layered:

    * ``commit(end)`` persists committed offsets broker-side
      (``<topic>/_consumer_offsets/<group>.<seq>.json``, a numbered
      record created under a fresh name, never a replacing rename: see
      :mod:`datalakehouse_spark.records`) — the literal Kafka
      group-offsets store; a fresh reader instance seeds its base from
      the newest record (group id from ``kafka.group.id``, Kafka's own
      option key);
    * the base is never below ``start`` (after a restart that replays
      an uncommitted batch, the runner's next ``read`` starts at that
      batch's end) nor below an in-memory floor that every ``commit``
      raises;
    * admitted offsets are clamped element-wise to ``>= base`` and the
      base itself to ``<= cur`` (a truncated/recreated log must not
      plan ends past EOF, which would skip later appends).

    **Trigger.AvailableNow analog**: Spark's PythonMicroBatchStream
    does not implement SupportsTriggerAvailableNow (passing
    ``trigger(availableNow=True)`` falls back to one uncapped batch,
    with a warning).  ``filebus.snapshot=true`` gives the same
    contract under a processing-time trigger: the first ``read``
    snapshots the topic's end offsets, every later one is clamped to
    the snapshot, so a ``query.processAllAvailable()`` drain terminates
    deterministically after ceil(backlog/cap) capped micro-batches and
    never admits records produced after the stream started."""

    def __init__(self, options) -> None:
        self.root, self.topic = _root_and_topic(options)
        self.starting = (options.get("startingOffsets") or "earliest").lower()
        cap = options.get("maxOffsetsPerTrigger")
        self.cap = int(cap) if cap else None
        self.group = options.get("kafka.group.id") or "filebus-default"
        self.snapshot_mode = (options.get("filebus.snapshot") or "").lower() in (
            "true",
            "1",
        )
        self._snapshot: dict[str, int] | None = None
        #: floor learned from group offsets and Spark's commits —
        #: admission may never end below it.  Seeded from the broker-side
        #: group offsets, so a clean restart with backlog > cap can't
        #: plan below the checkpointed start
        self._floor: dict[str, int] = self._load_committed()

    # -- broker-side committed-offset store (Kafka __consumer_offsets) --

    def _offsets_dir(self) -> str:
        return os.path.join(self.root, self.topic, "_consumer_offsets")

    def _load_committed(self) -> dict[str, int]:
        try:
            _, rec = records.latest(self._offsets_dir(), f"{self.group}.")
            return {str(k): int(v) for k, v in (rec or {}).items()}
        except (OSError, ValueError):
            return {}

    def _store_committed(self, end: dict) -> None:
        d, prefix = self._offsets_dir(), f"{self.group}."
        offs = {str(k): int(v) for k, v in end.items()}
        try:
            os.makedirs(d, exist_ok=True)
            seq = max(records.sequence_numbers(os.listdir(d), prefix), default=0) + 1
            while not records.create(d, prefix, seq, offs):
                seq += 1
            records.remove_below(d, prefix, seq)
        except OSError:
            pass  # the store is an optimization; the checkpoint is truth

    def _raise_floor(self, offs: dict) -> None:
        for p, v in offs.items():
            p = str(p)
            if int(v) > self._floor.get(p, 0):
                self._floor[p] = int(v)

    def initialOffset(self) -> dict:
        if self.starting == "latest":
            return _end_offsets(self.root, self.topic)
        return {pid: 0 for pid in _end_offsets(self.root, self.topic)}

    def _admit(self, start: dict) -> dict:
        """The end offsets of the batch that begins at ``start``."""
        cur = _end_offsets(self.root, self.topic)
        if self.snapshot_mode:
            if self._snapshot is None:
                self._snapshot = dict(cur)
            cur = {p: min(cur.get(p, 0), self._snapshot.get(p, 0)) for p in cur}
        base = {str(p): int(v) for p, v in start.items()}
        for p in cur:
            base[p] = max(base.get(p, 0), self._floor.get(p, 0))
            base[p] = min(base[p], cur[p])  # never plan past EOF
        backlog = {p: max(cur[p] - base[p], 0) for p in cur}
        total = sum(backlog.values())
        if self.cap is None or total <= self.cap:
            return {p: max(cur[p], base[p]) for p in cur}
        # proportional admission, remainder to the largest backlogs
        share = {p: base[p] + (backlog[p] * self.cap) // total for p in cur}
        left = self.cap - sum(share[p] - base[p] for p in cur)
        for p in sorted(cur, key=lambda x: backlog[x], reverse=True):
            if left <= 0:
                break
            if share[p] < cur[p]:
                share[p] += 1
                left -= 1
        return share

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        end = self._admit(start)
        # a list, not a generator: Spark's runner copies the iterator
        # each time it serves the cached batch
        rows = [
            r for s in _slices(self.root, self.topic, start, end) for r in _read_slice(s)
        ]
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        for s in _slices(self.root, self.topic, start, end):
            yield from _read_slice(s)

    def commit(self, end: dict) -> None:
        # checkpoint holds the offsets Spark trusts; mirror them into
        # the broker-side group-offset store so the NEXT reader
        # instance (query restart) seeds its admission base correctly
        self._raise_floor(end)
        self._store_committed(self._floor)


class FileBusBatchReader(DataSourceReader):
    """Batch read of a whole topic (Kafka's batch `read.format("kafka")`
    twin) — one executor-side InputPartition per topic-partition."""

    def __init__(self, options) -> None:
        self.root, self.topic = _root_and_topic(options)

    def partitions(self) -> Sequence[InputPartition]:
        end = _end_offsets(self.root, self.topic)
        # Spark requires at least one partition
        return _slices(self.root, self.topic, {}, end) or [
            _Slice(os.path.join(self.root, self.topic, "_empty"), self.topic, 0, 0, 0)
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        return _read_slice(partition)


class FileBusDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "filebus"

    def schema(self) -> StructType:
        return KAFKA_WIRE_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> FileBusStreamReader:
        return FileBusStreamReader(self.options)

    def reader(self, schema: StructType) -> FileBusBatchReader:
        return FileBusBatchReader(self.options)


def register_filebus(spark) -> None:
    """Idempotent registration of the filebus format on a session.

    The DataSource class is registered for BY-VALUE cloudpickle
    serialization first: Spark's ``python_streaming_source_runner``
    (the driver-side process that plans a Python stream's offsets and,
    for this reader, reads each micro-batch) is launched WITHOUT the
    session's addPyFile/userFiles sys.path entries, so a by-reference
    pickle of this class dies there
    with ModuleNotFoundError whenever the repo is only on the driver's
    sys.path — exactly how the correctness driver invokes us (caught by
    a /tmp-cwd vanilla-session verify, round 11).  By-value pickling
    makes the class and this module's helper functions self-contained;
    executor-side reads (batch reads, replays) need no import either."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    cloudpickle.register_pickle_by_value(records)
    spark.dataSource.register(FileBusDataSource)
