#!/usr/bin/env python
"""Round-16 optimization iteration harness: time a SUBSET of registry
entries with bench.py's own warm-up and timer (warmup at sf0.001,
noop sink), reporting the median over --runs — build-once entries
(``QuerySpec.builds``) are cold-reset before every run — without
paying the full 247-entry fleet.  Optionally dump the last timed run's
``explain("formatted")`` to plans/<dir>/<name>_<tag>.txt.

Usage:
    python tools/time_entries.py NAME [NAME...] [--plans TAG] [--runs N]
    python tools/time_entries.py --top 20          # top-N from bench_out.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from bench import cold_reset, plan_text, time_entry, warm_up  # noqa: E402
from datalakehouse_spark.registry import REGISTRY  # noqa: E402
from datalakehouse_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dump explain to plans/<dir>/<name>_<TAG>.txt")
    ap.add_argument("--plans-dir", default="r17", help="subdirectory of plans/ for --plans dumps")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-warmup", action="store_true")
    args = ap.parse_args()

    names = list(args.names)
    if args.top:
        with open(os.path.join(REPO_ROOT, "bench_out.json")) as f:
            prev = json.load(f)["queries"]
        names += [n for n, _ in sorted(prev.items(), key=lambda kv: -kv[1])[: args.top] if n not in names]
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown entries: {unknown}")

    spark = get_spark("time_entries")
    spark.sparkContext.setLogLevel("ERROR")

    if not args.no_warmup:
        warm_up(spark, names)

    if args.plans:
        os.makedirs(os.path.join(REPO_ROOT, "plans", args.plans_dir), exist_ok=True)

    results: dict[str, float] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"time_entries: {name}")
        runs = []
        for _ in range(args.runs):
            if REGISTRY[name].builds:
                cold_reset(name)
            t, df = time_entry(spark, name, args.sf_dir)
            runs.append(t)
        runs.sort()
        results[name] = runs[len(runs) // 2]
        print(f"{results[name]:8.3f}s  {name}   (runs: {', '.join(f'{r:.3f}' for r in runs)})", flush=True)
        if args.plans:
            with open(os.path.join(REPO_ROOT, "plans", args.plans_dir, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(plan_text(df, "formatted"))
    print(json.dumps({n: round(v, 3) for n, v in results.items()}))


if __name__ == "__main__":
    main()
