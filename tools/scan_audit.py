#!/usr/bin/env python
"""Round-17 tail sweep (VERDICT r16 #2): for every LAZY registry entry,
build the plan at sf0.001 and count, per fixture file, how many separate
``Scan parquet`` legs the physical plan contains — the repeated-subtree
disease the round-16 shingle/span fixes removed from the head entries —
plus Exchange and Python-eval node counts.  Prints entries sorted by
(max scans of one fixture, exchanges) so the sweep can start from the
worst offenders.

Plan SHAPE is scale-independent; eager-build entries are skipped by
default (building them runs real jobs) — pass --eager to include them.

Run: python tools/scan_audit.py [--eager] [--min-scans N]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--eager", action="store_true")
    ap.add_argument("--min-scans", type=int, default=2)
    ap.add_argument("--names", nargs="*", default=None)
    args = ap.parse_args()

    from bench import plan_text
    from datalakehouse_spark.registry import REGISTRY, _load_extensions
    from datalakehouse_spark.session import get_spark

    _load_extensions()
    spark = get_spark("scan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    names = args.names or list(REGISTRY)
    for name in names:
        if REGISTRY[name].eager and not args.eager:
            continue
        try:
            plan = plan_text(REGISTRY[name].fn(spark, SF), "formatted")
        except Exception as exc:
            print(f"BUILD FAIL {name}: {exc}", file=sys.stderr)
            continue
        # one "Scan parquet" detail block per scan leg; attribute each to
        # its fixture file via the Location line that follows it
        scans = Counter(
            m.group(1)
            for m in re.finditer(
                r"Location: InMemoryFileIndex[^\n]*\[[^\]]*/([a-z_0-9.]+\.parquet|[a-z_0-9]+)\]",
                plan,
            )
        )
        n_exch = len(re.findall(r"(?<!Reused)Exchange", plan)) - len(
            re.findall(r"BroadcastExchange", plan)
        )
        n_py = len(re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow)", plan))
        max_scan = max(scans.values(), default=0)
        rows.append((max_scan, n_exch, n_py, name, dict(scans)))

    rows.sort(reverse=True)
    for max_scan, n_exch, n_py, name, scans in rows:
        if max_scan < args.min_scans:
            continue
        print(f"{max_scan}x-scan  exch={n_exch:2d}  py={n_py}  {name}  {scans}")
    print(f"\n{len(rows)} lazy entries audited; "
          f"{sum(1 for r in rows if r[0] >= args.min_scans)} with >= {args.min_scans} scans of one fixture")


if __name__ == "__main__":
    main()
