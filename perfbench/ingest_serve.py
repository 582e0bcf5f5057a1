"""``ingest_serve``: streaming ingest beside REST serving on one engine.

Open loop: a producer thread sends seeded events on a fixed schedule
(RATE_EPS) to a 4-partition ``filebus`` topic, each stamped with its
due time.  One streaming query reads it through
``build_kafka_reader(source_format="filebus")``; the benchmark's
``foreachBatch`` sink runs ``dlq_split`` -> ``normalize_events`` ->
``VersionedTable.append``.  Closed loop at the same time: CLIENTS
threads call ``ServingApp.handle`` with a fixed page/seek/count mix
over Zipf-skewed devices, each request reading ``VersionedTable.read()``
at head.  Per-job-overhead bound: tiny jobs per trigger and request,
and the file count at head grows with every commit.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import threading
import time

from perfbench import gen, stats
from perfbench.common import Ctx
from perfbench.trace import read_through

#: offered event rate, fixed, never scaled per run.  A thirty-second of
#: the highest rate ``rate_probe.py`` found sustained on a 4-core VM (6400
#: ev/s: lag flat at ~2.5 s; at 12800 ev/s the producer thread falls
#: behind).  A trigger admits its whole backlog, so the lag is set by the
#: trigger's fixed cost, not by the rate; a low rate keeps the producer
#: thread's share of the GIL, which the serving clients need, small
RATE_EPS = 200
PARTITIONS = 4
CLIENTS = 2
#: mean of a client's seeded exponential pause between requests: without
#: it the two closed loops and the back-to-back triggers settle into one
#: interleaving per run, and the run's latency depends on which one
THINK_S = 0.15
#: events committed before the clients start, so serving has a head
HISTORY_EVENTS = 5_000
#: seconds of load before the measured window (the phase's first
#: triggers, codegen for its plans), so the window sees a warm stream
LEAD_IN_S = 3.0
#: seconds of load, and events preloaded, in the warm-up phase
WARMUP_S = 1.0
WARMUP_HISTORY = 500
#: every CHECK_EVERY-th response is re-computed with DuckDB
CHECK_EVERY = 5
#: seconds the run waits for the stream to drain what was sent
DRAIN_TIMEOUT_S = 60
N_DEVICES = 300
TOPIC = "telematics"
TOKENS = {"bench-token": "analyst"}
RULES = {
    "catalogs": [{"user": "analyst", "catalog": "iceberg", "allow": "read-only"}],
    "tables": [
        {
            "user": "analyst",
            "catalog": "iceberg",
            "schema": "telematics",
            "table": "events",
            "privileges": ["SELECT"],
        }
    ],
}


def wire_value(row) -> str:
    """One event as the JSON payload a device would publish."""
    return json.dumps(
        {
            "event_id": int(row.event_id),
            "ts_us": int(row.ts.value // 1000),
            "user_id": int(row.user_id),
            "event_type": row.event_type,
            "value": float(row.value),
            "props": row.props,
        }
    )


def parse_wire(batch):
    """Kafka wire columns -> events fixture columns."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts_us", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    e = F.from_json(F.col("value").cast("string"), schema).alias("e")
    return batch.select(e).select(
        "e.event_id",
        F.timestamp_micros("e.ts_us").alias("ts"),
        "e.user_id",
        "e.event_type",
        "e.value",
        "e.props",
    )


class Phase:
    """One fresh topic + table + stream; run() drives the timed window."""

    def __init__(self, ctx: Ctx, tag: str, events, requests, rate: float = RATE_EPS) -> None:
        from datalakehouse_spark.sources.filebus import FileBusProducer, register_filebus
        from datalakehouse_spark.versioned import VersionedTable

        self.ctx, self.events, self.requests, self.rate = ctx, events, requests, rate
        root = ctx.path("ingest_serve", tag)
        self.bus = os.path.join(root, "bus")
        self.producer = FileBusProducer(self.bus)
        self.producer.create_topic(TOPIC, PARTITIONS)
        register_filebus(ctx.spark)
        self.vt = VersionedTable(ctx.spark, os.path.join(root, "table"))
        self.dlq_path = os.path.join(root, "dlq")
        self.ckpt = os.path.join(root, "ckpt")
        self.commits: list[tuple[int, int, float]] = []
        self.sent_at: dict[int, float] = {}
        self.late: list[float] = []
        self.responses: list[dict] = []
        self.latency: dict[str, list[tuple[float, float]]] = {"page": [], "seek": [], "count": []}
        self.statuses: list[int] = []
        self.errors: list[BaseException] = []
        self.query = None
        #: wall clock minus perf_counter, to place trigger start stamps
        self.clock_offset = time.time() - time.perf_counter()
        self.think = gen.rng_for(ctx.seed, "think").exponential(THINK_S, len(requests))

    # -- ingest -----------------------------------------------------------

    def _ingest(self, raw, epoch_id: int | None) -> None:
        from datalakehouse_spark.pipelines.ingest import dlq_split, normalize_events
        from datalakehouse_spark.streaming.jobs import PROPS_SCHEMA

        tr = self.ctx.tracer
        with tr.span("ingest.dlq_split"):
            good, dlq = dlq_split(raw, PROPS_SCHEMA, json_col="props")
        with tr.span("ingest.normalize"):
            rows = normalize_events(good.drop("k"))
        with tr.span("versioned.append"):
            if self.vt.refs().get(self.vt.DEFAULT_BRANCH):
                v = self.vt.append(rows)
            else:
                v = self.vt.create(rows)
        t = time.perf_counter()
        dlq.select("event_id", "props").write.mode("append").parquet(self.dlq_path)
        if epoch_id is not None:
            self.commits.append((epoch_id, v, t))

    def preload(self, history) -> None:
        df = self.ctx.spark.createDataFrame(history)
        self._ingest(df, None)

    def start_stream(self) -> None:
        from datalakehouse_spark.streaming.jobs import build_kafka_reader

        tr = self.ctx.tracer

        def sink(batch, epoch_id):
            # the stream thread does not inherit the caller's job group
            with tr.span("streaming.sink"):
                self._ingest(parse_wire(batch), epoch_id)

        reader = build_kafka_reader(
            self.ctx.spark, self.bus, TOPIC, source_format="filebus",
            max_offsets_per_trigger=None,
        )
        self.query = (
            reader.load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def _thread(self, target, *args, name: str) -> threading.Thread:
        """A thread whose exception is kept for run() to re-raise."""

        def body():
            try:
                target(*args)
            except BaseException as exc:  # noqa: BLE001 — re-raised by run()
                self.errors.append(exc)

        return threading.Thread(target=body, name=name)

    def _produce(self, t0: float, stop: threading.Event) -> None:
        tr = self.ctx.tracer
        for row in self.events.itertuples(index=False):
            due = t0 + len(self.sent_at) / self.rate
            now = time.perf_counter()
            if due > now:
                if stop.wait(due - now):
                    return
            a = time.perf_counter()
            with tr.span("filebus.send", group=False):
                self.producer.send(TOPIC, wire_value(row), key=str(row.user_id))
            self.late.append(a - due)
            # lag is timed from when the event was due, which charges a
            # producer stall to every event it delays
            self.sent_at[int(row.event_id)] = due
            if stop.is_set():
                return

    # -- serving ----------------------------------------------------------

    def _client(self, stop: threading.Event, nxt, lock) -> None:
        from datalakehouse_spark.pipelines.http_api import ServingApp

        tr = self.ctx.tracer
        while not stop.is_set():
            with lock:
                i = nxt[0]
                nxt[0] += 1
            req = self.requests[i % len(self.requests)]
            path = "/events/count" if req["kind"] == "count" else "/events"
            a = time.perf_counter()
            with tr.span("versioned.read"):
                v = self.vt.current_version()
                df = self.vt.read(version=v)
            app = ServingApp(
                {"events": df}, TOKENS, RULES,
                device_col="device_id", ts_col="received_ts", tiebreak_col="correlation_id",
            )
            with tr.span("http_api.handle"):
                status, body = app.handle("GET", path, req["query"], "Bearer bench-token")
            b = time.perf_counter()
            self.statuses.append(status)
            self.latency[req["kind"]].append((a, b - a))
            if i % CHECK_EVERY == 0:
                self.responses.append({"version": v, "req": req, "status": status, "body": body})
            stop.wait(self.think[i % len(self.think)])

    def run(self, seconds: float, lead_in: float) -> tuple[float, float]:
        """Producer and clients run for ``lead_in + seconds``; returns the
        measured window, which starts after the lead-in."""
        stop = threading.Event()
        t0 = time.perf_counter()
        producer = self._thread(self._produce, t0, stop, name="producer")
        nxt, lock = [0], threading.Lock()
        clients = [
            self._thread(self._client, stop, nxt, lock, name=f"client{c}")
            for c in range(CLIENTS)
        ]
        producer.start()
        for c in clients:
            c.start()
        stop.wait(lead_in + seconds)
        stop.set()
        t1 = time.perf_counter()
        producer.join()
        for c in clients:
            c.join()
        if self.errors:
            self.query.stop()
            raise RuntimeError("producer or client thread failed") from self.errors[0]
        self._wait_drained()
        self.query.stop()
        return t0 + lead_in, t1

    def _wait_drained(self) -> None:
        n_sent = len(self.sent_at)
        deadline = time.perf_counter() + DRAIN_TIMEOUT_S
        while time.perf_counter() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            last = self.query.lastProgress
            read = read_through(last) if last is not None else None
            if read is not None and read >= n_sent and not self.query.status["isTriggerActive"]:
                return
            time.sleep(0.05)
        raise RuntimeError(f"stream did not drain {n_sent} events in {DRAIN_TIMEOUT_S}s")

    # -- results ----------------------------------------------------------

    def triggers(self) -> list[tuple[float, int]]:
        """``(start, events read through it)`` of every trigger of this
        phase's query, on the ``perf_counter`` clock."""
        out = []
        for p in self.query.recentProgress:
            through = read_through(p)
            if through is not None:
                wall = dt.datetime.fromisoformat(p.timestamp).timestamp()
                out.append((wall - self.clock_offset, through))
        return out

    def version_files(self, v: int) -> list[str]:
        m = self.vt._load_manifest(v)
        return [os.path.join(self.vt.data_dir, e["path"]) for e in m["files"]]

    def lags(self, since: float) -> list[tuple[float, float]]:
        """``(due, lag)`` of every event due at or after ``since``; lag is
        send-due -> commit of the version that made the event readable."""
        import pyarrow.parquet as pq

        out = []
        prev: set[str] = set()
        first = min(v for _e, v, _t in self.commits) - 1 if self.commits else 0
        if first >= 1:
            prev = set(self.version_files(first))
        for _epoch, v, t in sorted(self.commits, key=lambda c: c[1]):
            files = self.version_files(v)
            new = [f for f in files if f not in prev]
            prev = set(files)
            for f in new:
                ids = pq.read_table(f, columns=["correlation_id"]).column(0).to_pylist()
                due = (self.sent_at.get(i) for i in ids)
                out.extend((d, t - d) for d in due if d is not None and d >= since)
        return out


def max_backlog(due: list[float], triggers: list[tuple[float, int]], t0: float, t1: float) -> int:
    """Most events due but not yet read when a trigger starting in
    ``[t0, t1]`` started.  ``due``: sorted send-due times of every event
    of the phase; ``triggers``: ``(start, events read through it)`` of
    every trigger of its query, the lead-in's too, so what they read
    counts as read."""
    read = worst = 0
    for start, through in sorted(triggers):
        if t0 <= start <= t1:
            worst = max(worst, bisect.bisect_right(due, start) - read)
        read = max(read, through)
    return worst


class IngestServe:
    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.phase: Phase | None = None
        self.n_phases = 0

    def generate(self) -> None:
        n = HISTORY_EVENTS + int(RATE_EPS * (self.ctx.notes["seconds"] + LEAD_IN_S + 5))
        ev = gen.stream_events(self.ctx.seed, n, N_DEVICES)
        self.history = ev.iloc[:HISTORY_EVENTS]
        self.stream = ev.iloc[HISTORY_EVENTS:].reset_index(drop=True)
        self.requests = gen.serve_requests(self.ctx.seed, 4000, N_DEVICES)

    def warmup(self) -> None:
        """A short phase on its own topic and table: the session's first
        stream and requests pay the JVM's class loading, JIT and Python
        worker start, which would otherwise fall into the timed phase."""
        ph = Phase(self.ctx, "warm", self.stream, self.requests)
        ph.preload(self.history.iloc[:WARMUP_HISTORY])
        ph.start_stream()
        ph.run(WARMUP_S, 0.0)

    def timed(self, seconds: float) -> dict:
        self.n_phases += 1
        ph = self.phase = Phase(self.ctx, f"run{self.n_phases}", self.stream, self.requests)
        ph.preload(self.history)
        ph.start_stream()
        t0, t1 = ph.run(seconds, LEAD_IN_S)
        serve = {k: [x for a, x in v if t0 <= a < t1] for k, v in ph.latency.items()}
        n_req = sum(len(v) for v in ph.latency.values())
        # one op per request and per trigger; a failed trigger fails the run
        self.ctx.attempted += n_req + len(ph.commits)
        return {
            "phase": ph,
            "window": (t0, t1),
            "wall_s": t1 - t0,
            "serve_s": serve,
            "lag_s": [lag for _due, lag in ph.lags(t0)],
            "requests": sum(len(v) for v in serve.values()),
        }

    def end_to_end(self, res: dict) -> dict:
        # a request's latency is bimodal (with or without a trigger's
        # write competing for the cores), so a median over ~60 requests
        # jumps between the modes; each kind's mean, weighted by its share
        # of the request cycle, moves smoothly with the mix of the two
        share = {k: gen.REQUEST_CYCLE.count(k) / len(gen.REQUEST_CYCLE) for k in res["serve_s"]}
        return {
            "latency_ms": 1000.0 * sum(
                share[k] * sum(v) / len(v) for k, v in res["serve_s"].items()
            ),
            "freshness_p50_s": stats.median(res["lag_s"]),
        }

    def report_lines(self, res: dict) -> list[str]:
        ph = res["phase"]
        pooled = [x for v in res["serve_s"].values() for x in v]
        lines = [
            f"input: open loop {RATE_EPS} events/s to {PARTITIONS} partitions "
            f"({len(ph.sent_at)} sent, {HISTORY_EVENTS} preloaded), closed loop "
            f"{CLIENTS} clients",
            stats.fmt_summary("ingest_lag_s", "s", res["lag_s"]),
        ]
        for kind in ("page", "seek", "count"):
            lines.append(stats.fmt_summary(f"serve_{kind}_ms", "ms", res["serve_s"][kind], 1000.0))
        lines += [
            stats.fmt_summary("serve_ms", "ms", pooled, 1000.0),
            f"serve_mean_ms = {1000.0 * sum(pooled) / len(pooled):.4f} ms",
            f"serve_rps = {res['requests'] / res['wall_s']:.4f} req/s",
            stats.fmt_summary("generator_late_ms", "ms", ph.late, 1000.0),
            f"commits = {len(ph.commits)}",
        ]
        return lines

    def trace_targets(self) -> list:
        from datalakehouse_spark.pipelines import http_api as H

        return [
            (H, "compile_page_request", "api.compile"),
            (H, "compile_seek_request", "api.compile"),
            (H, "compile_count_request", "api.compile"),
            (H, "require_token", "auth"),
            (H.AccessRules, "authorize", "auth"),
        ]

    def trace_extras(self, res: dict) -> None:
        pass

    def layer_extras(self, res: dict) -> dict:
        ph = res["phase"]
        t0, t1 = res["window"]
        backlog = max_backlog(sorted(ph.sent_at.values()), ph.triggers(), t0, t1)
        late = stats.summarize([x * 1000.0 for x in ph.late])
        head = ph.vt.current_version()
        return {
            "ingest.dlq_rows": float(self.ctx.spark.read.parquet(ph.dlq_path).count()),
            "versioned.commits": float(len(ph.commits)),
            "versioned.files_at_head": float(len(ph.version_files(head))),
            "filebus.backlog_max_events": float(backlog),
            "generator.late_ms": late["tail"] if late["tail"] is not None else late["p50"],
        }

    def check(self) -> None:
        import duckdb

        from perfbench.gen import REPORT_TYPES, is_malformed

        ctx, ph = self.ctx, self.phase
        sent_ids = set(ph.sent_at)
        sent = self.stream[self.stream["event_id"].isin(sent_ids)]
        allev = [self.history, sent]
        n_bad = sum(int(is_malformed(e["props"]).sum()) for e in allev)
        n_keep = sum(
            int((~is_malformed(e["props"]) & e["event_type"].isin(REPORT_TYPES)).sum())
            for e in allev
        )
        n_dlq = ctx.spark.read.parquet(ph.dlq_path).count()
        ctx.check("ingest.dlq_count", n_dlq == n_bad, f"dlq={n_dlq} planted={n_bad}")
        head = ph.vt.read().count()
        ctx.check("ingest.rows_at_head", head == n_keep, f"head={head} expected={n_keep}")
        bad = sum(1 for s in ph.statuses if s != 200)
        # each non-200 response is a failed op
        ctx.failed += bad
        if bad:
            print(f"CHECK FAILED serve.status: {bad} non-200 responses", flush=True)

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        mismatches = 0
        for r in ph.responses:
            if r["status"] != 200:
                continue
            files = ph.version_files(r["version"])
            want = con.execute(oracle_sql(r["req"], files)).fetchall()
            if r["req"]["kind"] == "count":
                got = [(r["body"]["total"],)]
            else:
                got = [(row["correlation_id"],) for row in r["body"]["rows"]]
            if got != want:
                mismatches += 1
        con.close()
        ctx.check(
            "serve.responses_vs_duckdb",
            mismatches == 0 and len(ph.responses) > 0,
            f"{mismatches} of {len(ph.responses)} sampled responses differ",
        )


def oracle_sql(req: dict, files: list[str]) -> str:
    """DuckDB twin of one serving request over a version's files."""
    q = req["query"]
    src = "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"
    where = f"device_id = '{int(q['device_id'])}'"
    if req["kind"] == "count":
        return f"SELECT count(*) FROM {src} WHERE {where}"
    order = "ORDER BY device_id ASC, received_ts DESC, correlation_id ASC"
    if req["kind"] == "seek":
        t = q["after_ts"].rstrip("Z").replace("T", " ")
        where += (
            f" AND (received_ts < TIMESTAMP '{t}' OR (received_ts = TIMESTAMP '{t}'"
            f" AND correlation_id > {int(q['after_id'])}))"
        )
        return f"SELECT correlation_id FROM {src} WHERE {where} {order} LIMIT {int(q['limit'])}"
    return (
        f"SELECT correlation_id FROM {src} WHERE {where} {order} "
        f"LIMIT {int(q['limit'])} OFFSET {int(q['offset'])}"
    )
