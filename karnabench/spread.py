"""Median and spread of each metric over the runs recorded in
karnabench/work/results/ (one file per workload, seed and trace mode).
The spread is the inter-quartile distance as a share of the median, the
figure a metric's bound in BENCHMARK.json is set against.

Usage: python3 karnabench/spread.py [results dir]
"""
import json
import sys
from pathlib import Path

import stats


def main():
    root = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).parent / "work" / "results"
    runs = {}
    for f in sorted(root.glob("*-trace0.json")):
        r = json.loads(f.read_text())
        runs.setdefault(r["workload"], []).append(r)
    for workload, rs in sorted(runs.items()):
        print(f"{workload}: {len(rs)} runs, seeds {sorted(r['seed'] for r in rs)}")
        names = [k for k, v in rs[0]["metrics"].items() if isinstance(v, (int, float))]
        for k in names:
            vals = [r["metrics"][k] for r in rs if isinstance(r["metrics"].get(k), (int, float))]
            if len(vals) < 2:
                continue
            med = stats.median(vals)
            sp = stats.spread(vals) if med and len(vals) >= 2 else float("nan")
            print(f"  {k:18s} median {med:12.4f}  spread {sp:7.3f}  "
                  f"min {min(vals):.4f} max {max(vals):.4f}")


if __name__ == "__main__":
    main()
