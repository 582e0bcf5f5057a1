"""Measures the event rate ``ingest_serve``'s stream sustains on this host.

Usage (from the repository root)::

    python3 perfbench/rate_probe.py --seed 1 --seconds 16 --rates 200,800,1600,3200

For each offered rate it runs one ``ingest_serve`` phase as the workload
does (fresh topic and table, the same serving clients beside the
stream, the same lead-in) and prints the ingest lag in the first and
the last quarter of the window, the largest backlog a trigger met and
the producer's lateness.  A rate is sustained while the lag stays flat
over the window (last-quarter median at most ``GROWTH`` x the first's)
and the producer keeps its schedule; the workload's fixed ``RATE_EPS``
should sit well below the highest sustained rate.  Writes only under
``.bench_work/``.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, stats  # noqa: E402
from perfbench import ingest_serve as IS  # noqa: E402
from perfbench.common import (  # noqa: E402
    Ctx,
    checkout_root,
    prepare_environment,
    start_session,
    stop_jvm,
)
from perfbench.trace import Tracer  # noqa: E402

#: lag growth over the window that marks a rate as not sustained
GROWTH = 1.5
#: producer lateness (p50) that marks the producer as not keeping up
LATE_S = 0.05
#: seconds of the discarded warm-up phase
WARMUP_S = 5.0


def probe(ctx: Ctx, rate: float, seconds: float) -> dict:
    n = IS.HISTORY_EVENTS + int(rate * (seconds + IS.LEAD_IN_S + 5))
    ev = gen.stream_events(ctx.seed, n, IS.N_DEVICES)
    history = ev.iloc[: IS.HISTORY_EVENTS]
    stream = ev.iloc[IS.HISTORY_EVENTS :].reset_index(drop=True)
    requests = gen.serve_requests(ctx.seed, 4000, IS.N_DEVICES)
    ph = IS.Phase(ctx, f"rate{int(rate)}-{seconds:g}", stream, requests, rate=rate)
    ph.preload(history)
    ph.start_stream()
    try:
        t0, t1 = ph.run(seconds, IS.LEAD_IN_S)
    except RuntimeError as exc:
        if ph.query is not None and ph.query.isActive:
            ph.query.stop()
        return {"rate": rate, "error": str(exc)}
    q = (t1 - t0) / 4.0
    by_due = ph.lags(t0)
    first = [lag for due, lag in by_due if due < t0 + q]
    last = [lag for due, lag in by_due if t1 - q <= due <= t1]
    q1 = stats.median(first) if first else float("nan")
    q4 = stats.median(last) if last else float("nan")
    late = stats.median(ph.late)
    return {
        "rate": rate,
        "lag_q1_s": q1,
        "lag_q4_s": q4,
        "lag_p90_s": stats.percentile([lag for _d, lag in by_due], 90),
        "backlog_max": IS.max_backlog(sorted(ph.sent_at.values()), ph.triggers(), t0, t1),
        "late_p50_ms": 1000.0 * late,
        "sustained": q4 <= GROWTH * q1 and late <= LATE_S,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--rates", default="200,800,1600,3200")
    args = ap.parse_args(argv)
    work = prepare_environment(checkout_root())
    ctx = Ctx(seed=args.seed, work=work, tracer=Tracer(False, "rate-probe"))
    try:
        start_session(ctx)
        rates = [float(r) for r in args.rates.split(",")]
        # a discarded first phase takes the JVM's cold start off the probes
        probe(ctx, rates[0], WARMUP_S)
        best = None
        for rate in rates:
            r = probe(ctx, rate, args.seconds)
            if "error" in r:
                print(f"rate {rate:g} ev/s: not sustained ({r['error']})", flush=True)
                continue
            print(
                f"rate {rate:g} ev/s: lag p50 first quarter {r['lag_q1_s']:.3f} s, last quarter "
                f"{r['lag_q4_s']:.3f} s, p90 {r['lag_p90_s']:.3f} s, backlog max "
                f"{r['backlog_max']} events, producer late p50 {r['late_p50_ms']:.2f} ms"
                f" -> {'sustained' if r['sustained'] else 'not sustained'}",
                flush=True,
            )
            if r["sustained"]:
                best = rate
        print(f"highest sustained rate: {best if best is not None else 'none'} ev/s "
              f"(workload offers {IS.RATE_EPS} ev/s)", flush=True)
    finally:
        stop_jvm()
    return 0


if __name__ == "__main__":
    sys.exit(main())
