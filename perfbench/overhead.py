"""Tracing overhead per workload: the median of the traced runs' end-to-end
values minus the median of the untraced runs', over the records in
``.perfbench/records`` that share the current sources:

    python3 perfbench/overhead.py
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

import harness as H
from run import END_TO_END


def main() -> int:
    revision = H.source_revision()
    runs = defaultdict(lambda: defaultdict(list))  # (workload, trace) -> metric -> values
    for path in glob.glob(os.path.join(H.RECORDS_DIR, "*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        if rec["revision"] != {**revision, "commit": rec["revision"]["commit"]}:
            continue
        for metric, value in rec["end_to_end"].items():
            runs[(rec["workload"], rec["trace"])][metric].append(value)
    workloads = sorted({w for w, _ in runs})
    if not workloads:
        print("no records for the current sources")
        return 1
    print(f"{'workload':18s} {'metric':14s} {'untraced':>12s} {'traced':>12s} {'overhead':>10s}  n0/n1")
    for w in workloads:
        plain, traced = runs.get((w, 0)), runs.get((w, 1))
        if not plain or not traced:
            print(f"{w:18s} needs both traced and untraced runs")
            continue
        for metric in END_TO_END:
            a, b = H.median(plain[metric]), H.median(traced[metric])
            print(f"{w:18s} {metric:14s} {a:12.4g} {b:12.4g} {(b - a) / a:+10.1%}"
                  f"  {len(plain[metric])}/{len(traced[metric])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
