#!/usr/bin/env python
"""Refresh BENCH_BASELINE.json with a RATCHET (VERDICT r8 #7).

The regression gate in bench.py compares each entry against the
recorded per-entry reference median.  A naive refresh ("overwrite with
this round's numbers") silently LOOSENS the gate whenever a round
happens to run slow — the next regression then hides inside the new,
slower reference.  Policy instead:

    new_reference[entry] = min(old_reference[entry], new_median[entry])

unless a waiver names the entry (--waive entry [--waive entry ...]),
in which case the new median is taken verbatim and the waiver is
recorded in the file's provenance.  Waivers are for DELIBERATE
slowdowns (an entry grew a stage because its semantics grew); slow
rounds never qualify.

Ratchet ONCE per round, from the round's final settled closing bench
(round-15 lesson): element-wise minima accumulated over several
same-round runs sit below any achievable single-run median, so
machine_factor — which reads a typical run against these references —
inflates round over round (observed 1.0 -> 1.16 -> 1.22 across three
same-day settled runs with flat CPU anchors) until the calibration
alert false-positives a "fleet-wide code regression".  One ratchet per
round keeps the references near real run medians while still never
loosening.

Entries new to the registry enter at their measured median; entries no
longer in the run are dropped (they left the registry).

Usage:
    python bench.py > bench_out.json   # or the driver's BENCH_r{N}.json
    python tools/refresh_bench_baseline.py bench_out.json \
        [--waive entry]... [--tighten entry]... [--note "why"]

``--tighten`` names the round's code-changed entries: only they may
tighten, every other entry keeps its reference (see ``ratchet``).

**Host rebase** (round 14, VERDICT r13 #1): when the per-entry minima
decouple from the current host (r13 evidence: four ambient-clean
benches in one day swung fleet-median 1.26→1.50→1.61→1.32 with no code
between them; the raw-ratio leaderboard was led by code-unchanged
entries with r6/r7-era minima recorded on faster iron), the ratchet is
no longer a trustworthy 2x gate and must be RE-RECORDED on the current
host — host recalibration, not gate loosening.  Protocol:

    python bench.py > r1.json   # three settled-host runs
    python bench.py > r2.json   #   (ambient_warning must be null
    python bench.py > r3.json   #    in every run)
    python tools/refresh_bench_baseline.py --rebase r1.json r2.json \
        r3.json --note "drift evidence: docs/ROUND14_NOTES.md"

The old file is archived as BENCH_BASELINE_pre_rebase.json, the new
reference is the per-entry MIN across the three runs, and from then on
the normal ratchet applies against the rebased minima.  The rebase
refuses runs that carry an ambient_warning or mismatched sf.
"""

from __future__ import annotations

import argparse
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE_PATH = os.path.join(REPO, "BENCH_BASELINE.json")


def ratchet(
    old: dict | None,
    new_run: dict,
    waivers: set[str] | None = None,
    tighten_only: set[str] | None = None,
) -> dict:
    """Pure ratchet: per-entry min(old_ref, new_median) except waived
    entries, which take the new median; provenance records waivers.
    Raises when scale factors differ (cross-sf references are
    meaningless).

    ``tighten_only`` (round 17, ADVICE r16): when given, only entries
    in the set may TIGHTEN — everything else keeps its previous
    reference verbatim, even if this run happened to post a lucky
    minimum.  Untouched entries tightening on one fortunate run made
    the perf gate prone to spurious regressions in later rounds; code
    cannot have made them faster, so their references must not move.
    New entries (no previous reference) still enter at their measured
    median regardless."""
    waivers = waivers or set()
    old_q = (old or {}).get("queries", {})
    if old and old.get("sf") != new_run.get("sf"):
        raise ValueError(
            f"sf mismatch: baseline {old.get('sf')} vs run {new_run.get('sf')}"
        )
    queries = {}
    for name, t in new_run["queries"].items():
        if name in waivers or name not in old_q:
            queries[name] = t
        elif tighten_only is not None and name not in tighten_only:
            queries[name] = old_q[name]
        else:
            queries[name] = min(old_q[name], t)
    return {
        "sf": new_run.get("sf"),
        "queries": queries,
        "source": "ratcheted refresh: per-entry min(previous reference, new median)"
        + (
            "; tightening restricted to the round's code-changed entry set"
            if tighten_only is not None
            else ""
        ),
        "waived": sorted(waivers & set(new_run["queries"])),
        **(
            {"tighten_only": sorted(tighten_only)}
            if tighten_only is not None
            else {}
        ),
    }


def rebase(runs: list[dict], note: str) -> dict:
    """Per-entry MIN across settled-host runs — the host-recalibration
    protocol above.  Refuses ambient-contaminated or cross-sf runs."""
    sfs = {r.get("sf") for r in runs}
    if len(sfs) != 1:
        raise ValueError(f"rebase runs span scale factors {sfs}")
    for i, r in enumerate(runs):
        if r.get("ambient_warning"):
            raise ValueError(
                f"run {i + 1} carries ambient_warning "
                f"({r['ambient_warning'][:80]}...); rebase needs a "
                "settled host"
            )
    names = set(runs[0]["queries"])
    for r in runs[1:]:
        if set(r["queries"]) != names:
            raise ValueError("rebase runs disagree on the entry set")
    return {
        "sf": runs[0].get("sf"),
        "queries": {n: min(r["queries"][n] for r in runs) for n in names},
        "source": (
            f"host rebase (VERDICT r13 #1): per-entry min of "
            f"{len(runs)} settled-host runs; previous file archived as "
            "BENCH_BASELINE_pre_rebase.json"
        ),
        "waived": [],
        "note": note,
        "rebase_loads": [r.get("load_avg_1m_start") for r in runs],
    }


def rebase_ratios(
    new_queries: dict, old: dict | None
) -> tuple[dict[str, float], float | None]:
    """Per-entry new/old ratios (entries present in both files, old
    value > 0 — bench timings are rounded to 3 decimals, so an archived
    sub-millisecond entry recorded as 0.0 must not divide; ADVICE r14)
    and their fleet median."""
    import statistics

    old_q = (old or {}).get("queries", {})
    ratios = {
        n: new_queries[n] / old_q[n]
        for n in new_queries
        if n in old_q and old_q[n] > 0
    }
    med = statistics.median(ratios.values()) if ratios else None
    return ratios, med


def rebase_outliers(
    new_queries: dict, old: dict | None, ratios: dict, med: float | None
) -> dict[str, float]:
    """Entries whose rebase ratio decouples from the fleet (ADVICE r14):
    a host rebase replaces every minimum at once, so an entry-specific
    CODE regression accumulated since the old minima would be silently
    grandfathered unless its ratio is checked against the fleet median
    (which measures the host drift every entry shares).  Flag entries
    >1.5x the median ratio AND >0.25 s absolute over the host-adjusted
    old reference — the same two-sided shape bench.py's gate uses."""
    if med is None:
        return {}
    old_q = (old or {}).get("queries", {})
    return {
        n: round(r, 2)
        for n, r in ratios.items()
        if r > 1.5 * med and new_queries[n] - med * old_q[n] > 0.25
    }


def _read_run(path: str) -> dict:
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("run_json", nargs="+", help="bench.py output JSON")
    ap.add_argument("--waive", action="append", default=[])
    ap.add_argument("--rebase", action="store_true",
                    help="host rebase: per-entry min of >=3 settled runs")
    ap.add_argument(
        "--allow-outlier", action="append", default=[],
        help="rebase only: accept a named entry whose new/old ratio "
        "decouples from the fleet median (recorded in provenance); "
        "without it the rebase refuses, so host recalibration cannot "
        "silently absorb an entry-specific regression",
    )
    ap.add_argument(
        "--tighten", action="append", default=[],
        help="restrict tightening to the named entries (repeat per entry: "
        "the round's code-changed entries) — untouched entries must not "
        "ratchet tighter on one lucky minimum",
    )
    ap.add_argument("--note", default="")
    args = ap.parse_args()

    try:
        with open(BASELINE_PATH) as f:
            old = json.load(f)
    except (OSError, json.JSONDecodeError):
        old = None

    if args.rebase:
        if len(args.run_json) < 3:
            raise SystemExit("--rebase needs at least 3 run files")
        if args.waive:
            raise SystemExit("--rebase and --waive are mutually exclusive")
        runs = [_read_run(p) for p in args.run_json]
        out = rebase(runs, args.note)
        # ratio audit BEFORE any file is touched (ADVICE r14: the old
        # flow computed ratios after writing, so a ZeroDivisionError —
        # or an outlier refusal — would have left a half-done rebase)
        ratios, med = rebase_ratios(out["queries"], old)
        outliers = rebase_outliers(out["queries"], old, ratios, med)
        allowed = set(args.allow_outlier)
        refused = {n: r for n, r in outliers.items() if n not in allowed}
        if refused:
            raise SystemExit(
                "rebase refused: per-entry new/old ratio decouples from "
                f"the fleet median ({med:.3f}) for {sorted(refused.items())} "
                "— an entry-specific regression must not be grandfathered "
                "into the new reference; fix it or re-run with "
                "--allow-outlier <entry> and record why in --note"
            )
        if outliers:
            out["allowed_outliers"] = {
                n: outliers[n] for n in sorted(outliers)
            }
        if old is not None:
            archive = os.path.join(REPO, "BENCH_BASELINE_pre_rebase.json")
            with open(archive, "w") as f:
                json.dump(old, f, indent=1, sort_keys=True)
            print(f"archived previous baseline to {archive}")
        with open(BASELINE_PATH, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(
            f"wrote {BASELINE_PATH}: {len(out['queries'])} entries "
            f"rebased from {len(runs)} runs; median new/old ratio "
            f"{med:.3f}" if med else f"wrote {BASELINE_PATH}"
        )
        return

    if len(args.run_json) != 1:
        raise SystemExit("ratchet mode takes exactly one run file")
    new_run = _read_run(args.run_json[0])
    tighten_only = set(args.tighten) if args.tighten else None
    out = ratchet(old, new_run, set(args.waive), tighten_only=tighten_only)
    if args.note:
        out["note"] = args.note
    tightened = sum(
        1
        for n, t in out["queries"].items()
        if old and n in old.get("queries", {}) and t < old["queries"][n]
    )
    with open(BASELINE_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(
        f"wrote {BASELINE_PATH}: {len(out['queries'])} entries, "
        f"{tightened} tightened, waived={out['waived']}"
    )


if __name__ == "__main__":
    main()
