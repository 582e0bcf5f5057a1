"""SparkSession bootstrap.

The reference pins every engine to ``America/Mexico_City``
(reference: config/flink/create.sql:15, docker-compose.yml:183,232,267,281,
services/telematics_api/main.py:89) — local dates/hours are computed in
that zone at every layer.  The session factory makes the zone an explicit
parameter; correctness-gate queries run in UTC so the DuckDB oracle (which
is timezone-naive) sees identical dates, and reference-parity tests pin
Mexico City.

Scale posture (100 TB / 1000 executors):
- AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
- shuffle partitions sized to cores locally; on a real cluster AQE
  coalesces from a high initial number, so we set the initial high and let
  AQE shrink rather than hand-tuning.
- Arrow enabled for the few pandas_udf paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Session timezone of the reference deployment (create.sql:15).
REFERENCE_TZ = "America/Mexico_City"

#: Timezone used for oracle-comparable queries (DuckDB is TZ-naive).
ORACLE_TZ = "UTC"

#: ``spark.sql.sources.parallelPartitionDiscovery.threshold``: above
#: this many paths Spark lists files with a Spark job (one task per
#: path) instead of on the driver.  ``get_spark`` always runs
#: ``local[N]``, where that "parallel" listing is executor threads in
#: the same JVM calling stat on the same local disk: it adds a job to
#: every read of a VersionedTable version of more than 32 files (the
#: default) and parallelizes nothing.  Set out of reach, a version is
#: planned from its manifest's file list with no job.  On an object
#: store, where a listing call is a network round trip, the default is
#: the right one.
PARALLEL_LISTING_THRESHOLD = str(2**31 - 1)

#: Hadoop's committer writes an empty ``_SUCCESS`` marker (and its
#: ``.crc``) at the end of every file write.  An append into an existing
#: directory replaces the old marker, and on ext4 replacing a file
#: flushes its data to disk first: a 40-row append into an existing
#: directory took a median 109-133 ms with the marker and 43-52 ms
#: without (4-core VM, ext4).  Nothing in the engine reads the marker:
#: a VersionedTable version is its manifest.  Off.
#: ``get_spark`` sets it as ``spark.hadoop.<key>`` (copied into the
#: context's Hadoop conf at start); on a session built elsewhere
#: ``io._ensure_session_contract`` sets the bare key, which Spark copies
#: into each write's Hadoop conf (the ``spark.hadoop.`` form is read at
#: context start only, so setting it later does nothing).
MARK_SUCCESS_KEY = "mapreduce.fileoutputcommitter.marksuccessfuljobs"

#: The session contract: the confs every engine read and write relies
#: on, applied by ``get_spark``'s builder and, to a session built
#: elsewhere, by ``io._ensure_session_contract``.  A key without the
#: ``spark.`` prefix is a Hadoop key (see ``MARK_SUCCESS_KEY``).
SESSION_CONTRACT = {
    # events.parquet carries TIMESTAMP(NANOS), which Spark has no
    # native type for; read the physical int64 as long and decode it
    # explicitly (datalakehouse_spark.io normalizes it)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # no Spark job to list a version's files
    "spark.sql.sources.parallelPartitionDiscovery.threshold": PARALLEL_LISTING_THRESHOLD,
    # no _SUCCESS marker rewritten by each append
    MARK_SUCCESS_KEY: "false",
}


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "datalakehouse_spark",
    tz: str = ORACLE_TZ,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's config contract."""
    cores = default_parallelism()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-plan — coalesce small shuffle partitions, split
        # skewed ones, switch sort-merge->broadcast when stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in SESSION_CONTRACT.items():
        builder = builder.config(k if k.startswith("spark.") else f"spark.hadoop.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
