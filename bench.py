#!/usr/bin/env python
"""Benchmark harness: run the registry's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes end-to-end via the `noop` sink (full plan, no
collect/write overhead). A warmup pass on sf0.001 first touches every
code path so JVM/codegen warmup isn't billed to the measured run.

Baseline policy (round 9): BENCH_BASELINE.json is refreshed only via
tools/refresh_bench_baseline.py, which RATCHETS — per entry,
min(previous reference, new median) — so a slow round can never
silently loosen the regression gate; deliberate slowdowns need an
explicit --waive naming the entry, recorded in the file.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from datalakehouse_spark.registry import REGISTRY, _load_extensions, clear_memos  # noqa: E402
from datalakehouse_spark.session import get_spark  # noqa: E402

_load_extensions()

WARMUP_DIR = "/root/testdata/sf0.001"


#: Off-host absolute anchor (round 10).  Two fixed CPU microbenchmarks
#: that contain ZERO engine code — a pure-Python arithmetic loop and a
#: pure-JVM whole-stage-codegen sum — timed once per bench session.
#: Their ratio to the constants below (recorded on the BENCH_BASELINE
#: host at version 1, load_1m < 0.5) measures HOST speed independently
#: of the repo, which splits the one ambiguity machine_factor has: a
#: fleet-wide ≤1.5x CODE regression moves every entry ratio but leaves
#: the anchors flat, while a slow HOST moves both together.  Bump
#: ANCHOR_VERSION whenever the workload or constants change.
#: Version 2 (round 11, ADVICE r10): the JVM anchor now runs at a
#: PINNED parallelism (4 partitions) instead of one-task-per-core, so
#: the constant no longer encodes the baseline host's 32 cores — a
#: host with equal per-core speed but fewer cores reads the same
#: jvm_s, keeping host_factor a per-core-speed estimate (the quantity
#: calibration_alert's code-vs-host split actually needs).  Constants
#: re-recorded on the round-11 host, which the version-1 anchors
#: measured at host_factor 1.0 (i.e. ≥ the original baseline host),
#: so the re-anchor cannot loosen the gate.
ANCHOR_VERSION = 2
ANCHOR_REF = {"python_s": 0.1447, "jvm_s": 0.22, "ncpus": 32}


def cpu_anchor(spark=None) -> dict:
    """Time the fixed anchor workloads (best-of-3; JVM skipped without
    a session).  Deliberately tiny (<2 s total) — it's a speedometer,
    not a benchmark."""

    def py_once() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += (i * i) % 7
        assert acc >= 0
        return time.perf_counter() - t0

    out = {"python_s": round(min(py_once() for _ in range(3)), 4), "jvm_s": None}
    if spark is not None:

        def jvm_once() -> float:
            t0 = time.perf_counter()
            # parallelism pinned to 4 partitions: the anchor measures
            # per-core JVM speed, not how many cores the host has
            spark.range(0, 200_000_000, 1, 4).selectExpr(
                "sum(id % 7) as s"
            ).collect()
            return time.perf_counter() - t0

        jvm_once()  # codegen warmup isn't host speed
        out["jvm_s"] = round(min(jvm_once() for _ in range(3)), 4)
    return out


def host_factor(anchor: dict) -> float:
    """Geometric mean of anchor now/ref ratios — the repo-independent
    host-speed estimate (1.0 = the baseline host; floored at 1.0 like
    machine_factor so a fast host never loosens anything)."""
    ratios = [
        anchor[k] / ANCHOR_REF[k]
        for k in ("python_s", "jvm_s")
        if anchor.get(k) and ANCHOR_REF.get(k)
    ]
    if not ratios:
        return 1.0
    prod = 1.0
    for r in ratios:
        prod *= r
    return max(1.0, prod ** (1.0 / len(ratios)))


def calibration_alert(machine: float, host: float) -> str | None:
    """The divergence alarm: entry ratios claim the fleet runs
    ``machine``x slower than baseline, but the engine-free anchors say
    the host itself is only ``host``x slower.  When the gap exceeds
    15% (and the claim is non-trivial), the surplus is code, not
    silicon — exactly the fleet-wide ≤1.5x regression the
    machine_factor cap alone cannot distinguish.

    Hysteresis (round 11, VERDICT r10 #4): a hard threshold with no
    band stayed silent at machine 1.099 / host 1.0 — entries running
    ~10% slower than their ratchets for code-ambient reasons, one
    percent under the trigger.  The WARN band (machine ≥ 1.05 while
    ≥ 5% above host) surfaces exactly that regime without claiming a
    confirmed regression."""
    if machine > 1.1 and machine > 1.15 * host:
        return (
            f"machine_factor {machine:.2f} exceeds anchor host_factor "
            f"{host:.2f} by >15%: uniform slowdown not explained by host "
            "speed — suspect fleet-wide code regression"
        )
    if machine >= 1.05 and machine >= 1.05 * host:
        return (
            f"WARN machine_factor {machine:.2f} vs anchor host_factor "
            f"{host:.2f}: entries run ≥5% slower than their references "
            "for non-host reasons — inside the hysteresis band, watch "
            "for drift before it crosses the alert threshold"
        )
    return None


def machine_factor(timings: dict, refs: dict) -> float:
    """Host-speed calibration: the MEDIAN now/reference ratio over every
    entry with a reference (≥0.05 s, so codegen-compile jitter on
    near-zero entries doesn't vote).  A code regression moves a handful
    of entries; a slower host moves all ~200 — the median separates the
    two (round-9 episode: a host running a uniform 1.24x slower than the
    baseline recording pushed unchanged entries over the raw 2x line).
    Clamped to ≥1.0 so the gate only ever LOOSENS when the whole fleet
    is demonstrably slower — on a faster host the raw gate stands."""
    ratios = sorted(
        t / refs[n] for n, t in timings.items() if n in refs and refs[n] >= 0.05
    )
    if len(ratios) < 20:  # too few entries to estimate host speed
        return 1.0
    # Capped at 1.5: past that, a "uniformly slower host" is at least as
    # likely to be a fleet-wide code regression (a slowdown in a shared
    # path — tokenizer, load_table — moves every entry too), so the
    # gate refuses to loosen further and the flags surface for human
    # adjudication instead of being silently calibrated away.
    return max(1.0, min(ratios[len(ratios) // 2], 1.5))


def top_ratio_contributors(timings: dict, refs: dict, k: int = 10) -> list[dict]:
    """The top-k per-entry now/reference ratios (refs >= 0.05 s, same
    floor machine_factor uses) — the attribution a calibration WARN
    needs: which entries drag the median, by how much."""
    return sorted(
        (
            {
                "entry": n,
                "ratio": round(t / refs[n], 2),
                "delta_s": round(t - refs[n], 3),
            }
            for n, t in timings.items()
            if n in refs and refs[n] >= 0.05
        ),
        key=lambda d: -d["ratio"],
    )[:k]


def find_regressions(timings: dict, baseline: dict | None, sf) -> dict:
    """Entries >2x their HOST-CALIBRATED reference median AND >0.5 s
    absolute over it (the ambient-load guard has already filtered
    per-run noise; the absolute floor keeps scheduling jitter out; the
    machine factor keeps a uniformly slower host from flagging the
    fleet).  Baselines only apply at their own scale factor; entries
    without a reference are new and skip the gate."""
    if not baseline or baseline.get("sf") != sf:
        return {}
    refs = baseline.get("queries", {})
    calib = machine_factor(timings, refs)
    return {
        name: {"ref": refs[name], "now": t, "calib": calib}
        for name, t in timings.items()
        if name in refs
        and t > 2.0 * calib * refs[name]
        and t - calib * refs[name] > 0.5
    }


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, names) -> None:
    """Run every entry once at tiny scale so JVM/codegen warm-up isn't
    billed to the measured runs; a failing entry is named on stderr
    (stdout stays the one JSON line)."""
    for name in names:
        try:
            _run(REGISTRY[name].fn(spark, WARMUP_DIR))
        except Exception as exc:
            print(f"WARMUP FAIL {name}: {exc}", file=sys.stderr)


def time_entry(spark, name: str, sf_dir: str):
    """One end-to-end sample: build + noop-sink execution.  Returns the
    seconds and the DataFrame that ran (for its plan)."""
    t0 = time.perf_counter()
    df = REGISTRY[name].fn(spark, sf_dir)
    _run(df)
    return time.perf_counter() - t0, df


def plan_text(df, mode: str) -> str:
    """The plan text ``df.explain(mode)`` prints, as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def cold_reset(name: str) -> None:
    """Clear the session memos a build-once entry fills
    (``QuerySpec.builds``) so a quiet-JVM re-time measures a genuinely
    COLD build.  Round 15: build-once entries used to be exempt from
    the suspect re-run because a re-run would time a cache HIT for the
    one entry whose first-run build cost IS the metric — which left
    them the only entries with no defense against inherited fleet debt
    (the r15 episode: bpe_vocab_train read 13.1 s in-fleet at position
    ~230, 1.4 s in a 15-entry fleet, 1.9 s isolated — all the same
    cold code path).  Clearing the memo removes the objection: the
    re-time is cold, so the metric is unchanged and the gate keeps
    comparing first-run build cost against the settled baseline."""
    spec = REGISTRY.get(name)
    if spec is None or not spec.builds:
        raise ValueError(f"no cold-reset recipe: {name} builds no session memo")
    clear_memos(spec.builds)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    try:
        load_1m_start = round(os.getloadavg()[0], 2)
    except OSError:
        load_1m_start = None

    spark = get_spark("datalakehouse_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = list(REGISTRY)
    warm_up(spark, names)

    # Short entries are codegen-compile / scheduling-jitter dominated at
    # local scale (round-4 verdict: ivf entries swung >20% run-to-run),
    # so entries under the threshold report the median of 3 executions.
    # Long entries stay single-shot — their signal-to-jitter is fine and
    # re-running them would triple bench wall time for nothing.
    # Build-once entries (QuerySpec.builds) are timed once: the first
    # timing IS the metric, a median over memo hits would hide the build
    # cost the entry exists to measure.  Iterative multi-job entries
    # (QuerySpec.min_of_3, round 12, VERDICT r11 #5) record min-of-3.
    RERUN_THRESHOLD_S = 3.0
    # The sub-second tier (VERDICT r14 #7): entries whose BASELINE
    # reference is under this dominate warn_contributors round after
    # round on pure 0.1–0.3 s scheduling jitter — a median-of-3 still
    # keeps one contaminated vote.  Their baseline is a settled-host
    # minimum, so min-of-3 recovers the code-speed signal the ratchet
    # gate actually compares (the kmeans/pagerank precedent).
    SUB_SECOND_PIN_S = 0.5
    # Baseline loads BEFORE the timing loop: the sub-second pin keys
    # off each entry's recorded reference (gate comparisons below reuse
    # the same dict).  References only mean anything at their own sf.
    baseline_path = os.environ.get(
        "SPARK_GRAFT_BENCH_BASELINE", os.path.join(REPO_ROOT, "BENCH_BASELINE.json")
    )
    try:
        with open(baseline_path) as f:
            baseline = json.load(f)
    except (OSError, json.JSONDecodeError):
        baseline = None
    base_refs = (
        baseline.get("queries", {})
        if baseline and baseline.get("sf") == sf
        else {}
    )

    def timed(name: str) -> float:
        return time_entry(spark, name, sf_dir)[0]

    timings: dict[str, float] = {}
    t_total0 = time.perf_counter()
    for name in names:
        spec = REGISTRY[name]
        t1 = timed(name)
        if spec.builds:
            timings[name] = round(t1, 3)
        elif spec.min_of_3 or base_refs.get(name, 1.0) < SUB_SECOND_PIN_S:
            timings[name] = round(min(t1, timed(name), timed(name)), 3)
        elif t1 < RERUN_THRESHOLD_S:
            runs = sorted([t1, timed(name), timed(name)])
            timings[name] = round(runs[1], 3)
        else:
            # a slow FIRST run may be an ordering artifact (GC pause
            # inherited from a heavy predecessor — a 0.5 s rollup once
            # recorded 5.6 s this way), so confirm before believing it
            t2 = timed(name)
            if t2 < RERUN_THRESHOLD_S:  # outlier: fall back to median-of-3
                runs = sorted([t1, t2, timed(name)])
                timings[name] = round(runs[1], 3)
            elif abs(t1 - t2) / max(t1, t2) > 0.25:
                # the two long runs disagree >25% — ambient load is
                # polluting the signal (round-6 verdict: unchanged
                # entries drifted a median 1.10x from machine noise);
                # a third run, min-of-3, before recording a regression
                timings[name] = round(min(t1, t2, timed(name)), 3)
            else:  # genuinely long and stable: steady-state = best of two
                timings[name] = round(min(t1, t2), 3)
    wall = round(time.perf_counter() - t_total0, 3)
    total = round(sum(timings.values()), 3)

    try:
        load_1m = round(os.getloadavg()[0], 2)
    except OSError:
        load_1m = None

    # Regression gate (round 8): compare each entry against the
    # recorded per-entry reference median in BENCH_BASELINE.json
    # (loaded before the timing loop) — eyeballing 204 timings doesn't
    # scale (the round-6 noise episode).
    # Suspect re-run: an entry can inherit GC/scheduler debt from a
    # heavy predecessor that a median-of-3 taken in place doesn't shed
    # (round-9 episode: ntile_percent_rank recorded a 2.13 s in-fleet
    # median vs 1.27 s isolated).  Re-time each flagged entry twice in
    # the now-quiet JVM and keep the best evidence before recording a
    # regression — a real regression survives, context noise doesn't.
    # Runs to a FIXPOINT: re-timing lowers the median ratio, which can
    # newly flag borderline entries under the recalibrated gate — they
    # get their re-run too.  Build-once entries re-time COLD (session
    # memo cleared first, see cold_reset) so the re-run measures the
    # same first-run build cost the entry exists to gate — a real build
    # regression survives a cold quiet-JVM re-time, inherited fleet
    # debt doesn't (round 15; they were previously exempt and therefore
    # the only entries defenseless against a one-off GC inheritance).
    retimed: set[str] = set()
    while True:
        regressions = find_regressions(timings, baseline, sf)
        fresh = [n for n in regressions if n not in retimed]
        if not fresh:
            break
        for name in fresh:
            retimed.add(name)
            if REGISTRY[name].builds:
                runs = []
                for _ in range(2):
                    cold_reset(name)
                    runs.append(timed(name))
                timings[name] = round(min(timings[name], *runs), 3)
            else:
                timings[name] = round(min(timings[name], timed(name), timed(name)), 3)
        total = round(sum(timings.values()), 3)
    # The gate and every baseline-derived statistic only mean anything
    # at the baseline's own scale factor (ADVICE r10: an sf0.01 run
    # against an sf0.1 baseline reported a vacuous `regressions: {}`
    # and a mismatched-scale machine_factor as if it had been gated).
    gated = bool(baseline) and baseline.get("sf") == sf
    anchor = cpu_anchor(spark)
    hf = host_factor(anchor)
    if gated:
        refs = baseline.get("queries", {})
        calib = machine_factor(timings, refs)
        alert = calibration_alert(calib, hf)
        # Attribution for a WARN/alert (round 12, VERDICT r11 #5): the
        # top per-entry ratio contributors, so a drifting machine_factor
        # is immediately attributable to named entries instead of
        # demanding a 222-entry diff by hand.
        warn_contributors = top_ratio_contributors(timings, refs)
    else:
        calib = None
        alert = None
        warn_contributors = None

    payload = {
        "metric": "registry_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "wall_sec": wall,
        "load_avg_1m_start": load_1m_start,
        # a decaying load average at START is the documented
        # machine_factor contaminator (r11: 1.31 vs 1.11 back-to-back;
        # r12 mid-round: 1.24 right after a media-ladder run) — name it
        # in the payload so a hot reading is attributable at a glance
        "ambient_warning": (
            f"bench started at load_1m={load_1m_start} (>0.8): "
            "machine_factor and per-entry ratios are inflated by "
            "residual load, re-run on a settled host before trusting "
            "them"
            if load_1m_start is not None and load_1m_start > 0.8
            else None
        ),
        "load_avg_1m_end": load_1m,
        "ncpus": os.cpu_count(),
        "regressions": regressions,
        "machine_factor": round(calib, 3) if calib is not None else None,
        "gated": gated,
        "cpu_anchor": {**anchor, "version": ANCHOR_VERSION},
        "host_factor": round(hf, 3),
        "calibration_alert": alert,
        "warn_contributors": warn_contributors,
        "timing": "median-of-3 for entries <3s; pinned min-of-3 for iterative multi-job entries (kmeans_inertia_sweep, graph_pagerank) and for the sub-second tier (baseline reference <0.5s, whose warn ratios were pure scheduling jitter); min-of-2 above, escalating to min-of-3 when the two runs disagree >25% (ambient-load guard); single-shot for build-once entries; regressions = entries >2x and >0.5s over machine_factor x their BENCH_BASELINE.json reference median (machine_factor = median now/ref ratio clamped to [1, 1.5] so a slower host does not flag the fleet but a fleet-wide code regression still surfaces); flagged entries are re-timed in the quiet post-fleet JVM to a fixpoint; build-once entries re-time COLD (session memo cleared) so the re-run still measures first-run build cost",
    }
    # Compact separators keep the line short enough for tail-capture
    # harnesses; an sf0.1 run also persists the full map to the tracked
    # bench_out.json (a smoke run at another scale leaves it alone).
    line = json.dumps(payload, separators=(",", ":"))
    if sf == 0.1:
        with open(os.path.join(REPO_ROOT, "bench_out.json"), "w") as f:
            f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
