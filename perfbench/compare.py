"""Compare two sets of benchmark records, metric by metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl [--workload W]

Each file holds ``perfbench-record`` JSON lines (``.perfbench/history.jsonl``
collects them). For every workload and end-to-end metric it prints both
medians, their quartile spreads and the change. It refuses to compare
records taken at different core counts, or mixed traced and untraced
records: raw seconds from different hosts or modes are not comparable.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

from stats import quartile_spread


def load(path: str) -> list[dict]:
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line.startswith("perfbench-record: "):
                line = line[len("perfbench-record: "):]
            if line:
                out.append(json.loads(line))
    return out


def spread(vals: list[float]) -> float:
    return quartile_spread(vals) if len(vals) > 1 and statistics.median(vals) else float("nan")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--workload")
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    recs = base + new
    cores = {r["nproc"] for r in recs}
    if len(cores) != 1:
        print(f"refusing: records were taken at different core counts {sorted(cores)}",
              file=sys.stderr)
        return 2
    if len({r["trace"] for r in recs}) != 1:
        print("refusing: traced and untraced records are mixed", file=sys.stderr)
        return 2
    n_cores = cores.pop()
    workloads = sorted({r["workload"] for r in recs})
    if args.workload:
        workloads = [args.workload]
    for w in workloads:
        b = [r for r in base if r["workload"] == w and r["correct"]]
        n = [r for r in new if r["workload"] == w and r["correct"]]
        if not b or not n:
            print(f"{w}: no correct records on one side")
            continue
        print(f"{w}: {len(b)} base runs, {len(n)} new runs, {n_cores} cores")
        for m in b[0]["metrics"]:
            bv = [r["metrics"][m] for r in b]
            nv = [r["metrics"][m] for r in n]
            bm, nm = statistics.median(bv), statistics.median(nv)
            change = (nm - bm) / bm if bm else float("nan")
            print(f"  {m:24s} {bm:12.4g} (±{spread(bv):.3f})  {nm:12.4g} "
                  f"(±{spread(nv):.3f})  {change:+.1%}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
