"""Lifecycle benchmark for the datalakehouse_spark engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 12 --trace 0

Runs one workload against the engine's public functions on
``local[<cores>]`` in this process, checks its outputs outside the
timed region, prints a human-readable report and, as the last line of
standard output, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
timed region once untraced and once traced and reports the per-layer
metrics plus the tracing overhead.  Every file it writes stays under
``.bench_work/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import metrics as M  # noqa: E402
from perfbench import stats  # noqa: E402
from perfbench.common import (  # noqa: E402
    Ctx,
    checkout_root,
    cpu_ticks,
    heap_live_mb,
    jvm_pid,
    load_1m,
    prepare_environment,
    rss_peak_mb,
    start_session,
    stop_jvm,
)
from perfbench.trace import Tracer, TriggerListener, spark_layer_counters  # noqa: E402

#: a run that has not finished by now kills its JVM and exits non-zero
WATCHDOG_S = 175


def workload_class(name: str):
    if name == "nightly_batch":
        from perfbench.nightly import Nightly

        return Nightly
    if name == "ingest_serve":
        from perfbench.ingest_serve import IngestServe

        return IngestServe
    if name == "corpus_dedup":
        from perfbench.corpus_dedup import CorpusDedup

        return CorpusDedup
    raise SystemExit(f"unknown workload {name!r}")


def _watchdog(ctx: Ctx) -> None:
    def fire():
        print(f"watchdog: run exceeded {WATCHDOG_S}s", file=sys.stderr, flush=True)
        pid = jvm_pid(ctx.spark) if ctx.spark is not None else None
        if pid:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        os._exit(3)

    t = threading.Timer(WATCHDOG_S, fire)
    t.daemon = True
    t.start()
    return t


def set_up(ctx: Ctx, wl) -> float:
    """One cold set-up, as a scheduled job or a service restart pays it:
    session start on a fresh JVM + package ship + seeded input generation
    + warm-up.  One per run: a second cold start costs ~6 s on a 4-core
    VM, which the benchmark's run budget cannot carry, and the median
    over runs steadies the figure."""
    t0 = time.perf_counter()
    ctx.notes.update(start_session(ctx))
    t1 = time.perf_counter()
    wl.generate()
    t2 = time.perf_counter()
    wl.warmup()
    t3 = time.perf_counter()
    print(f"setup: session {t1 - t0:.3f} s (get_spark {ctx.notes['get_spark_s']:.3f} s), "
          f"input generation {t2 - t1:.3f} s, warm-up {t3 - t2:.3f} s", flush=True)
    return t3 - t0


def layer_metrics(ctx: Ctx, wl, res: dict, listener: TriggerListener, overhead_pct: float) -> dict:
    tr = ctx.tracer
    out = {name: 0.0 for name, _u in M.per_layer()}
    for name, (span, scale) in M.SPAN_SUMS.items():
        out[name] = tr.total(span) * scale
    out["process.rss_peak_mb"] = ctx.notes["rss_peak_mb"]
    out["session.get_spark_s"] = ctx.notes["get_spark_s"]
    out["io.ship_package_s"] = ctx.notes["ship_package_s"]
    out["serving.collect_ms"] = max(
        out["http_api.handle_ms"] - out["api.compile_ms"] - out["auth.ms"], 0.0
    )
    t0, t1 = res["window"]
    appends = [(s.start, s.duration) for s in tr.by_name("versioned.append") if t0 <= s.start <= t1]
    if appends:
        vals = [v for _t, v in appends]
        out["versioned.append_p50_s"] = stats.median(vals)
        out["versioned.append_p90_s"] = stats.percentile(vals, 90)
        q1, q4 = stats.quarter_medians(appends, t0, t1)
        out["versioned.append_q1_s"], out["versioned.append_q4_s"] = q1 or 0.0, q4 or 0.0
    handles = [(s.start, 1000.0 * s.duration) for s in tr.by_name("http_api.handle")
               if t0 <= s.start <= t1]
    if handles:
        q1, q4 = stats.quarter_medians(handles, t0, t1)
        out["http_api.handle_q1_ms"], out["http_api.handle_q4_ms"] = q1 or 0.0, q4 or 0.0
    begin, end = res["pass"]
    trig = [p for p in listener.progress if p["rows"] > 0 and begin <= p["t"] <= end]
    if trig:
        dur = [p["duration_ms"].get("triggerExecution", 0) / 1000.0 for p in trig]
        out["streaming.trigger_p50_s"] = stats.median(dur)
        out["streaming.trigger_p90_s"] = stats.percentile(dur, 90)
        # a trigger belongs to the quarter it started in
        starts = [(p["t"] - d, d) for p, d in zip(trig, dur)]
        q1, q4 = stats.quarter_medians(starts, t0, t1)
        out["streaming.trigger_q1_s"] = q1 or 0.0
        out["streaming.trigger_q4_s"] = q4 or 0.0
        out["streaming.triggers"] = float(len(trig))
        out["streaming.rows_per_trigger"] = stats.median([p["rows"] for p in trig])
        for name, phase in M.TRIGGER_PHASES.items():
            vals = [float(p["duration_ms"].get(phase, 0)) for p in trig]
            out[name] = stats.median(vals)
    layers = sorted(set(M.SPARK_LAYERS) | {s.layer for s in tr.spans})
    counters = spark_layer_counters(ctx.sc, tr, layers)
    for layer in M.SPARK_LAYERS:
        for k, v in counters[layer].items():
            out[f"{layer}.{k}"] = float(v)
    # executor CPU of every job the traced pass ran under a layer's group
    # over the cores' wall time: near 1 when the data work keeps the cores
    # busy, low when per-job overhead sets the wall time
    cpu_s = sum(c["cpu_s"] for c in counters.values())
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out["executor.busy_frac"] = cpu_s / ((end - begin) * cores)
    print(f"executor cpu {cpu_s:.3f} s over {end - begin:.3f} s x {cores} cores "
          f"(busy {out['executor.busy_frac']:.3f})", flush=True)
    out.update(wl.layer_extras(res))
    out["trace.overhead_pct"] = overhead_pct
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["nightly_batch", "ingest_serve", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = checkout_root()
    if not os.path.isdir(os.path.join(root, "datalakehouse_spark")):
        print("datalakehouse_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    work = prepare_environment(root)
    load = load_1m()
    ticks0 = cpu_ticks()
    tracer = Tracer(False, f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Ctx(seed=args.seed, work=work, tracer=tracer)
    ctx.notes["seconds"] = args.seconds
    dog = _watchdog(ctx)
    wl = workload_class(args.workload)(ctx)
    try:
        setup_s = set_up(ctx, wl)
        listener = ctx.notes["listener"] = TriggerListener()
        ctx.spark.streams.addListener(listener.listener)
        overhead = 0.0
        if args.trace:
            # untraced, traced, untraced: the two untraced passes bracket
            # the traced one, so a drift (JIT still warming, host load)
            # cancels out of the overhead to first order
            ref_a = wl.end_to_end(wl.timed(args.seconds))["latency_ms"]
            tracer.enabled = True
            tracer.sc = ctx.sc
            begin = time.perf_counter()
            with tracer.patched(wl.trace_targets()):
                res = wl.timed(args.seconds)
            res["pass"] = (begin, time.perf_counter())
            tracer.enabled = False
            wl.trace_extras(res)
            ref_b = wl.end_to_end(wl.timed(args.seconds))["latency_ms"]
            ref_ms = (ref_a + ref_b) / 2.0
            traced_ms = wl.end_to_end(res)["latency_ms"]
            overhead = 100.0 * (traced_ms - ref_ms) / ref_ms
            print(f"tracing overhead: latency untraced {ref_a:.3f} / {ref_b:.3f} ms, "
                  f"traced {traced_ms:.3f} ms ({overhead:+.2f}%)", flush=True)
            self_time = tracer.layer_self_time()
            print("self time by layer (s): " + ", ".join(
                f"{k} {v:.3f}" for k, v in sorted(self_time.items(), key=lambda kv: -kv[1])
            ), flush=True)
        else:
            res = wl.timed(args.seconds)
        # memory before the output checks, which load their own data
        ctx.notes["rss_peak_mb"] = rss_peak_mb(ctx.spark)
        heap = heap_live_mb(ctx.spark)
        wl.check()
        e2e = wl.end_to_end(res)
        e2e["setup_s"] = setup_s
        e2e["heap_live_mb"] = heap
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        print(f"workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
              f"cores {os.environ['SPARK_GRAFT_CPUS']} load_1m_at_start {load:.2f} "
              f"cpu_steal {100.0 * steal / max(total, 1):.1f}% "
              f"rss_peak_mb {ctx.notes['rss_peak_mb']:.1f}")
        for line in wl.report_lines(res):
            print("  " + line)
        frac = ctx.failed / max(ctx.attempted, 1)
        print(f"  ops_failed_frac = {frac:.4f} ratio ({ctx.failed} of {ctx.attempted})")
        units = {n: u for n, u, _b, _bd in M.END_TO_END}
        for name, _u, _b, _bd in M.END_TO_END:
            print(f"  {name} = {e2e[name]:.4f} {units[name]}")
        if args.trace:
            lm = layer_metrics(ctx, wl, res, listener, overhead)
            tracer.write(os.path.join(work, "trace.json"))
            lunits = dict(M.per_layer())
            metrics = {n: {"value": float(lm[n]), "unit": lunits[n]} for n, _u in M.per_layer()}
        else:
            metrics = {n: {"value": float(e2e[n]), "unit": units[n]} for n in units}
        result = {
            "correct": ctx.failed == 0,
            "attempted": int(ctx.attempted),
            "failed": int(ctx.failed),
            "metrics": metrics,
        }
    finally:
        stop_jvm()
        dog.cancel()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
